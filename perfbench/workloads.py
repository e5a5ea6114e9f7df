"""Workload definitions and the query -> module tag table.

Each batch workload is a fixed list of `SparkEntry.queries` entries run in
order; each query is tagged with the repo module (`src/main/scala/graft/<m>`)
that holds its headline operator, and per-layer metrics are grouped by
that tag. Sizes are the generator's (see gen.py): `sf` scales the TPC-H-like
tables and `events`, `docs` and `embeddings` are row counts.
"""

MODULES = ["graph", "llmops", "functions", "catalog", "trajectory",
           "spatial", "operators", "sources", "streaming"]

# query -> module of its headline operator
TAGS = {
    "q_bfs_hops": "graph",
    "q_bpe_encode": "llmops",
    "q_kmeans_train": "llmops",
    "q_filter_exclusion": "operators",
    "q_scd2": "catalog",
    "q_grid_density_argmax": "spatial",
    "q_behavior_trajectory": "trajectory",
    "q_bcecmd_parse": "sources",
    "q_path_functions": "functions",
    "q_cusum": "streaming",
}

SMALL = {"sf": 0.001, "docs": 500, "embeddings": 500}

WORKLOADS = {
    # Engine queries at sf 0.001 where construction, planning and job
    # launch dominate: the job-barrier-bound loops (graph rounds, BPE
    # merges, Lloyd rounds), where cutting jobs per round shows, and one
    # short reference query per remaining module (catalog, filter,
    # spatial, trajectory, source, scalar function, batch streaming).
    "batch": {
        "kind": "batch",
        "sizes": SMALL,
        "ops": ["q_bfs_hops", "q_bpe_encode", "q_kmeans_train",
                "q_filter_exclusion", "q_scd2", "q_grid_density_argmax",
                "q_behavior_trajectory", "q_bcecmd_parse", "q_path_functions",
                "q_cusum"],
    },
    # The write path: micro-batches into a segmented registry, retrieval
    # before and after compaction, and a RocksDB-backed state stream.
    "ingest": {
        "kind": "ingest",
        "sizes": {},
        "ingest": {"batches": 2, "rows_per_batch": 200, "queries": 20,
                   "state_batches": 2, "state_rows": 20000,
                   "state_keys": 25000},
    },
}


def check_tags():
    """Every workload query is tagged, and every tag names a module."""
    problems = []
    for name, w in WORKLOADS.items():
        problems += [f"{name}: {q} has no module tag"
                     for q in w.get("ops", []) if q not in TAGS]
    problems += [f"{q}: unknown module {m}" for q, m in TAGS.items()
                 if m not in MODULES]
    return problems
