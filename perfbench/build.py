"""Builds the engine and the benchmark harness from source.

Compiles `src/main/scala` together with `perfbench/src` into
`.bench_build/classes` with the Scala compiler that ships among Spark's
jars, the jar directory `build.sbt` compiles against. A stamp of the source
contents skips the compile when nothing changed. Run directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SCALA_VERSION = "2.13.17"


def spark_jars(root):
    """The jar directory build.sbt compiles against (its `unmanagedBase`),
    or `$SPARK_HOME/jars`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise RuntimeError("no Spark jars: build.sbt sets no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def classes_dir(root):
    return os.path.join(root, BUILD_DIR, "classes")


def build(root, log=sys.stderr):
    """Compiles if the sources changed; returns the classes directory."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no src/main/scala here: run from the repository root")
    srcs = sources(root)
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = classes_dir(root)
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars(root)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
