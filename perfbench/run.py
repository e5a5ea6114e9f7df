#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (`perfbench/build.py`). Inputs are generated from the
seed (`perfbench/gen.py`) and cached per (seed, size) in `.bench_cache/`;
so are the verified result digests: the first run of a (seed, size)
writes every query result and checks it against the engine's DuckDB
oracle SQL (`perfbench/oracle.py`), later runs compare digests with the
verified ones. Each run's raw results, spans and summary are kept in
`.bench_runs/`.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). Lines before it print every metric
the workload defines, by name with its unit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout holds no build output outside .bench_*
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

CORES = 4
HEAP = "3g"
SETUP_REPS = 5
# untimed passes after the verification pass, so the measured passes
# start past most of the JIT's warm-up
WARM_PASSES = 1
# A run must end within 180 s; the JVM gets what is left of this budget
# after input generation, and the oracle check runs after it.
RUN_BUDGET_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(root, classes, spec, run_dir, budget_s):
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={v}\n")
    tmp = os.path.join(spec["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and a stop-the-world collector: fewer JVM threads
    # competing with the four task threads, so timings vary less
    # (-XX:-UsePerfData: no hsperfdata file outside the checkout)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
            "graftbench.Harness", spec_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(spec["work"], "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=root, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=max(budget_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness exceeded {budget_s:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        raise RuntimeError(f"harness exited with {code}; see {run_dir}/jvm.log")
    with open(spec["out"]) as f:
        return json.load(f)


def end_to_end(res, wl):
    untraced = [r for r in res["ops"] if not r["traced"]]
    walls = [p["s"] for p in res["pass_wall"] if not p["traced"]]
    m = {"setup_s": median(res["setup_s"]),
         "wall_s": median(walls),
         "live_heap_gb": max(res["heap_gb"])}
    # printed by name but not in the JSON line: a median over one pass's
    # few operations moves more from run to run than the benchmark's
    # bounds allow, and the workload-specific figures exist on one
    # workload only
    lat = sorted(r["s"] for r in untraced)
    more = {"op_p50_s": (median(lat), "s")}
    if wl["kind"] == "batch":
        if len(lat) >= 100:
            more["query_p90_s"] = (statistics.quantiles(lat, n=10)[-1], "s")
    else:
        def of(prefix):
            return [r for r in untraced if r["op"].startswith(prefix)]
        batches, states = of("ingest_batch_"), of("state_batch_")
        more["ingest_rows_per_s"] = (sum(r["rows"] for r in batches) /
                                     sum(r["s"] for r in batches), "1/s")
        more["batch_p50_s"] = (median([r["s"] for r in batches]), "s")
        more["read_s"] = (median([r["s"] for r in of("read") if r["op"] == "read"]), "s")
        more["compact_s"] = (median([r["s"] for r in of("compact")]), "s")
        more["stored_bytes_per_input_byte"] = (
            res["extra"]["stored_bytes"] / res["extra"]["input_bytes"], "ratio")
        more["state_rows_per_s"] = (sum(r["rows"] for r in states) /
                                    sum(r["s"] for r in states), "1/s")
    return m, more


def per_layer(res):
    traced = [r for r in res["ops"] if r["traced"]]
    walls = {t: [p["s"] for p in res["pass_wall"] if p["traced"] == t] for t in (True, False)}
    n = len(walls[True])

    def total(key, rs=traced):
        return sum(r.get(key, 0.0) for r in rs) / n

    def layers(rs):
        run_s = total("task_run_s", rs)
        wall = total("s", rs)
        return {"construct_s": total("construct_s", rs), "plan_s": total("plan_s", rs),
                "exec_s": total("exec_s", rs), "jobs": total("jobs", rs),
                "tasks": total("tasks", rs), "task_cpu_s": total("task_cpu_s", rs),
                "shuffle_write_bytes": total("shuffle_write_bytes", rs),
                "serial_stage_s": total("serial_stage_s", rs),
                "gc_s": total("gc_s", rs),
                "core_util": run_s / (wall * res["cores"]) if wall else 0.0}

    m = layers(traced)
    by_module = {mod: layers([r for r in traced if r["module"] == mod])
                 for mod in workloads.MODULES}
    for mod, lm in by_module.items():
        for k in ("jobs", "tasks", "shuffle_write_bytes"):
            m[f"{mod}.{k}"] = lm[k]
    m["streaming.state_rows"] = max([r.get("state_rows", 0.0) for r in traced] + [0.0])
    m["llmops.segments_open"] = total("segments_open")
    m["llmops.bytes_written"] = total("bytes_written")
    m["trace_overhead_s"] = median(walls[True]) - median(walls[False])
    more = {"streaming.add_batch_ms": (total("add_batch_ms"), "ms"),
            "streaming.wal_commit_ms": (total("wal_commit_ms"), "ms"),
            "streaming.state_commit_ms": (total("state_commit_ms"), "ms"),
            "llmops.segment_open_s": (total("segment_open_s"), "s")}
    return m, by_module, more


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = workloads.check_tags()
    if problems:
        log("tag table: " + "; ".join(problems))
        return 2
    try:
        classes = build.build(root)
    except (RuntimeError, OSError) as e:
        log(f"build failed: {e}")
        return 2
    started = time.monotonic()
    wl = workloads.WORKLOADS[args.workload]

    ident = json.dumps({k: wl.get(k) for k in ("sizes", "ops", "ingest")}, sort_keys=True)
    key = f"{args.workload}-s{args.seed}-{hashlib.sha256(ident.encode()).hexdigest()[:10]}"
    cache = os.path.join(root, ".bench_cache")
    run_dir = os.path.join(root, ".bench_runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    work = os.path.join(cache, "work", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(work)

    manifest = None
    inputs = ""
    if wl["kind"] == "batch":
        sizes = wl["sizes"]
        size_tag = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
        inputs = os.path.join(cache, "inputs", f"s{args.seed}-{size_tag}")
        manifest = gen.generate(inputs, args.seed, sizes)
    verified_path = os.path.join(cache, "verified", f"{key}.json")
    verified = None
    if os.path.exists(verified_path):
        with open(verified_path) as f:
            verified = json.load(f)
    verify_dir = os.path.join(cache, "verify", key)
    reference = ""
    if verified is not None:
        reference = os.path.join(run_dir, "reference.properties")
        with open(reference, "w") as f:
            for op, d in verified["digests"].items():
                f.write(f"{op}={d}\n")
    else:
        shutil.rmtree(verify_dir, ignore_errors=True)
        os.makedirs(verify_dir)

    spec = {"workload": args.workload, "kind": wl["kind"], "seed": args.seed,
            "inputs": inputs, "seconds": args.seconds, "trace": args.trace,
            "cores": CORES, "setup_reps": SETUP_REPS, "work": work,
            "warm_passes": WARM_PASSES,
            "reference": reference,
            "verify_out": verify_dir if verified is None else "",
            "ops": ",".join(f"{q}:{workloads.TAGS[q]}" for q in wl.get("ops", [])),
            "tagged": ",".join(sorted(workloads.TAGS)),
            "out": os.path.join(run_dir, "result.json"),
            "trace_out": os.path.join(run_dir, "spans.jsonl")}
    for k, v in wl.get("ingest", {}).items():
        spec[f"ingest.{k}"] = v
    phases = {"inputs_s": time.monotonic() - started}
    try:
        res = run_jvm(root, classes, spec, run_dir,
                      RUN_BUDGET_S - (time.monotonic() - started))
    except RuntimeError as e:
        log(str(e))
        return 1
    errors = list(res["errors"])
    phases["jvm_s"] = time.monotonic() - started - phases["inputs_s"]

    # First run of this (seed, size): check the written results against
    # the oracle, then keep the digests of the verified results.
    if verified is None:
        bad = {}
        if wl["kind"] == "batch":
            diffs = oracle.check(inputs, verify_dir, res["extra"]["oracle"])
            bad = {q: d for q, d in diffs.items() if d}
        pass0_failed = {r["op"] for r in res["pass0"] if not r["ok"]}
        verified = {"digests": {op: d for op, d in res["digests"].items()
                                if op not in bad and op not in pass0_failed},
                    "oracle_failures": bad,
                    "oracle_checked": sorted(res["extra"].get("oracle", {}))}
        os.makedirs(os.path.dirname(verified_path), exist_ok=True)
        with open(verified_path, "w") as f:
            json.dump(verified, f, indent=1, sort_keys=True)
        shutil.rmtree(verify_dir, ignore_errors=True)
    phases["total_s"] = time.monotonic() - started
    bad_ops = set(verified["oracle_failures"])
    errors += [f"oracle {q}: {d}" for q, d in verified["oracle_failures"].items()]

    runs = res["pass0"] + res["warm"] + res["ops"]
    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"] or r["op"] in bad_ops)

    if manifest:
        inputs_used = manifest["tables"]
    else:
        ing = wl["ingest"]
        inputs_used = {
            "documents": {"rows": ing["batches"] * ing["rows_per_batch"],
                          "bytes": res["extra"]["input_bytes"]},
            "task_events": {"rows": ing["state_batches"] * ing["state_rows"]}}
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "inputs": inputs_used,
               "phases": phases, "pass0_s": sum(r["s"] for r in res["pass0"]),
               "warmup_wall_s": res["warmup_wall_s"],
               "jvm_start_s": res["jvm_start_s"], "setup_s": res["setup_s"],
               "passes": len(res["pass_wall"]), "attempted": attempted,
               "failed": failed, "errors": errors}
    if args.trace:
        metrics, summary["modules"], more = per_layer(res)
    else:
        metrics, more = end_to_end(res, wl)
        more["failed_ratio"] = (failed / attempted, "ratio")
    listed = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if set(listed) != set(metrics):
        log(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(listed)}")
        return 1
    summary["metrics"] = dict(metrics, **{k: v for k, (v, _) in more.items()})
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    for e in errors[:20]:
        log(e)
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {listed[k]}")
    for k, (v, unit) in more.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": listed[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
