"""Size budget-0 BM25 queries on a large synthetic index: the distributed
executor against whatever distributed tiers the checked-out tree has.

Every query runs with ``driver_local_max_postings=0``, the way every query
runs at 10^12 turns. On a tree whose ``scorer.search`` still takes a
``prune`` argument the modes are ``prune=True``, ``prune=False`` and a
one-query ``search_many``; on a tree without it they are ``search`` and a
one-query ``search_many``. Modes alternate within each repetition, so host
weather hits them alike. Two query shapes: six single-term queries (the
first six distinct analyzed terms of the reference set) and the first six
multi-term reference queries.

The index is built once into ``index_dir`` (skipped when it already
holds one), so two trees can be sized on the same index:

    PYTHONPATH=<tree> python scripts/executor_crossover.py INDEX_DIR \\
        [n_convs=175000] [reps=5] [cores=4]

175,000 conversations (seed 7, burstiness 0.3) are ~1.02M turns. Prints
one JSON line: p50/mean seconds per (shape, mode), the tier each mode
reported, and whether every mode returned the same rows, scores included.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import sys
import time


def main() -> None:
    index_dir = sys.argv[1]
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 175_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.functions.analyzer import analyze_query
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import (IndexReader, search,
                                                        search_many)
    from research_engine_spark.reference_queries import REFERENCE_QUERIES
    from research_engine_spark.session import get_spark

    spark = get_spark(app_name="executor_crossover", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    build_sec = None
    if not os.path.exists(os.path.join(index_dir, "corpus_stats.json")):
        t0 = time.monotonic()
        build_index(synth_transcripts(spark, n_convs=n_convs, seed=7,
                                      burstiness=0.3), index_dir,
                    n_buckets=8)
        build_sec = round(time.monotonic() - t0, 1)
    reader = IndexReader(spark, index_dir, driver_local_max_postings=0)

    def run(q, **kw):
        return [tuple(r) for r in search(reader, q, k=10, with_text=False,
                                         **kw).collect()]

    def run_batch(q):
        return [tuple(r)[1:] for r in search_many(reader, [q], k=10)
                .collect()]

    if "prune" in inspect.signature(search).parameters:
        modes = {"pruned": lambda q, st: run(q, prune=True, prune_stats=st),
                 "plain": lambda q, st: run(q, prune=False, prune_stats=st)}
    else:
        modes = {"search": lambda q, st: run(q, prune_stats=st)}
    modes["batch1"] = lambda q, st: run_batch(q)

    single = list(dict.fromkeys(
        t for q in REFERENCE_QUERIES for t, _ in analyze_query(q)))[:6]
    shapes = {"single_term": single, "multi_term": REFERENCE_QUERIES[:6]}
    for q in single + shapes["multi_term"]:  # warm listings and workers
        for mode in modes.values():
            mode(q, {})

    out: dict = {"n_turns": reader.stats["n_docs"], "build_sec": build_sec,
                 "cores": cores, "reps": reps, "shapes": {}}
    for shape, queries in shapes.items():
        secs = {m: [] for m in modes}
        paths = {m: {} for m in modes}
        identical = True
        for _ in range(reps):
            for q in queries:
                rows = {}
                for m, fn in modes.items():
                    st: dict = {}
                    t0 = time.monotonic()
                    rows[m] = fn(q, st)
                    secs[m].append(time.monotonic() - t0)
                    p = st.get("path", "-")
                    paths[m][p] = paths[m].get(p, 0) + 1
                identical &= all(r == rows["batch1"] for r in rows.values())
        out["shapes"][shape] = {
            "queries": queries, "identical": identical,
            "p50_ms": {m: round(1e3 * statistics.median(v), 1)
                       for m, v in secs.items()},
            "mean_ms": {m: round(1e3 * statistics.fmean(v), 1)
                        for m, v in secs.items()},
            "paths": paths}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
