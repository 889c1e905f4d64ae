"""spark-submit payload for the N vs 4N scaling measurement.

Usage:  spark-submit --master local[N] --py-files pkg.zip \
            scripts/scaling_job.py <n_convs> <shuffle_partitions>

Builds the full index over the deterministic synthetic corpus and prints
one JSON line with build wall time and turns/sec. Cores come from the
master; everything else (input, partitioning) is held constant so the two
legs differ ONLY in parallelism — the sandbox proxy for N vs 4N executors.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    shuffle = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    src_arg = sys.argv[3] if len(sys.argv) > 3 else None

    spark = (
        SparkSession.builder.appName("scaling_job")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import IndexReader, search
    from research_engine_spark.reference_queries import REFERENCE_QUERIES

    # materialize the corpus FIRST: the metric is index-build throughput
    # over an existing table (north star input is an Iceberg table), not
    # data generation. A pre-generated shared path (arg 3) lets all legs
    # reuse one corpus instead of regenerating per leg.
    if src_arg and os.path.exists(src_arg):
        src, src_owned = src_arg, False
    else:
        src = tempfile.mkdtemp(prefix="scaling_src_")
        src_owned = True
        synth_transcripts(
            spark, n_convs=n_convs, seed=42,
            n_partitions=shuffle).write.mode("overwrite").parquet(src)
    tx = spark.read.parquet(src)

    # Warm the JVM before the timed section: the first jobs of a fresh
    # session pay one-time JIT/codegen/shuffle-machinery costs (~10s
    # measured) that a long-running cluster amortizes away. The warmup
    # build exercises the same code paths (scan, agg, shuffle, Arrow UDF,
    # parquet write) on a sliver of the corpus, then is discarded.
    warm_dir = tempfile.mkdtemp(prefix="scaling_warm_")
    warm_src = tx.limit(20_000).cache()
    warm_src.count()
    build_index(warm_src, warm_dir, n_buckets=8, n_partitions=cores)
    warm_src.unpersist()
    shutil.rmtree(warm_dir, ignore_errors=True)

    out = tempfile.mkdtemp(prefix="scaling_idx_")
    t0 = time.monotonic()
    stats = build_index(tx, out, n_buckets=64, n_partitions=shuffle)
    build_sec = time.monotonic() - t0

    reader = IndexReader(spark, out)
    queries = REFERENCE_QUERIES[:5]
    qt0 = time.monotonic()
    for q in queries:
        search(reader, q, k=10, with_text=False).collect()
    query_sec = time.monotonic() - qt0

    print(json.dumps({
        "cores": cores,
        "n_convs": n_convs,
        "n_turns": stats["n_docs"],
        "timings": stats.get("timings", {}),
        "build_sec": round(build_sec, 3),
        "turns_per_sec": round(stats["n_docs"] / build_sec, 1),
        "query_total_sec": round(query_sec, 3),
        "query_mean_sec": round(query_sec / len(queries), 3),
        "shuffle_partitions": shuffle,
    }))
    shutil.rmtree(out, ignore_errors=True)
    if src_owned:
        shutil.rmtree(src, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
