"""Round-6 optimization profiling harness (guide §1: measure first).

Builds the bench-sized synthetic index ONCE into /dev/shm (reused across
profiling invocations — this is a measurement tool, never the graded
bench), then times individual query paths with prune_stats/job-count
observability so each optimization's before/after is attributable.

Usage: python scripts/profile_r06.py [build|search|local|explain|q NAME]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

IDX = "/dev/shm/r06_idx"
POS_IDX = "/dev/shm/r06_posidx"
SRC = "/dev/shm/r06_src"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session():
    from research_engine_spark.session import get_spark
    return get_spark(app_name="profile_r06", cores=CORES,
                     shuffle_partitions=max(CORES, 16),
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def ensure_built(spark):
    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.indexer import build_index
    if not os.path.exists(os.path.join(SRC, "_SUCCESS")):
        synth_transcripts(spark, n_convs=200_000, seed=42,
                          n_partitions=max(CORES * 2, 16)
                          ).write.mode("overwrite").parquet(SRC)
    tx = spark.read.parquet(SRC)
    if not os.path.exists(os.path.join(IDX, "corpus_stats.json")):
        t0 = time.monotonic()
        st = build_index(tx, IDX, n_buckets=max(CORES, 16),
                         n_partitions=max(CORES * 2, 16))
        print("build_sec", round(time.monotonic() - t0, 3),
              json.dumps(st.get("timings", {})))
    if not os.path.exists(os.path.join(POS_IDX, "corpus_stats.json")):
        t0 = time.monotonic()
        st = build_index(tx, POS_IDX, n_buckets=max(CORES, 16),
                         n_partitions=max(CORES * 2, 16),
                         with_positions=True)
        print("posbuild_sec", round(time.monotonic() - t0, 3),
              json.dumps(st.get("timings", {})))
    return tx


def njobs(spark):
    st = spark.sparkContext.statusTracker()
    return len(st.getJobIdsForGroup(None) or [])


def time_search(spark, reps=3):
    from research_engine_spark.operators.scorer import IndexReader, search
    from research_engine_spark.reference_queries import REFERENCE_QUERIES
    reader = IndexReader(spark, IDX, driver_local_max_postings=0,
                         driver_local_max_vocab=0)
    search(reader, "architecture", k=1, with_text=False).collect()
    for i, q in enumerate(REFERENCE_QUERIES):
        times = []
        for _ in range(reps):
            t0 = time.monotonic()
            search(reader, q, k=10, with_text=False).collect()
            times.append(round(time.monotonic() - t0, 3))
        print(f"bm25_q{i+1:02d} dist {times}")
    local = IndexReader(spark, IDX)
    search(local, "architecture", k=1, with_text=False).collect()
    for i, q in enumerate(REFERENCE_QUERIES):
        times, paths = [], []
        for _ in range(reps):
            st: dict = {}
            t0 = time.monotonic()
            search(local, q, k=10, with_text=False, prune_stats=st).collect()
            times.append(round(time.monotonic() - t0, 3))
            paths.append(st.get("path"))
        print(f"bm25l_q{i+1:02d} {times} path={paths[-1]} "
              f"stats={ {k: v for k, v in st.items() if k != 'path'} }")


def term_dfs(spark):
    from research_engine_spark.functions.analyzer import analyze_query
    from research_engine_spark.operators.scorer import (IndexReader,
                                                        _term_meta)
    reader = IndexReader(spark, IDX)
    from research_engine_spark.reference_queries import REFERENCE_QUERIES
    for i, q in enumerate(REFERENCE_QUERIES):
        meta = _term_meta(reader, analyze_query(q), 1.2, 0.75)
        tot = int(meta["df"].sum())
        print(f"q{i+1:02d} sum_df={tot:>8d} "
              + " ".join(f"{t}:{d}" for t, d in
                         zip(meta['term'], meta['df'])))


def main():
    spark = get_session()
    ensure_built(spark)
    mode = sys.argv[1] if len(sys.argv) > 1 else "search"
    if mode == "search":
        time_search(spark)
    elif mode == "dfs":
        term_dfs(spark)
    spark.stop()


if __name__ == "__main__":
    main()
