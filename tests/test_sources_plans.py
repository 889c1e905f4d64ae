"""Typed sources round-trips + physical-plan guardrails (the plan shape IS
the scale story — assert it doesn't regress)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from research_engine_spark.operators.scorer import search
from research_engine_spark.sources.io import (
    CHUNKS_SCHEMA,
    read_csv,
    read_jsonl,
    read_transcripts,
    write_csv,
    write_jsonl,
)


def test_csv_roundtrip(spark):
    df = spark.createDataFrame(
        [("p1", "T", "A; B", "abs", "cs.CL cs.LG", "2024-01-01")],
        "id string, title string, authors string, abstract string, "
        "categories string, created string")
    d = tempfile.mkdtemp()
    try:
        write_csv(df, d)
        back = read_csv(spark, d)
        assert back.collect() == df.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_jsonl_roundtrip(spark):
    df = spark.createDataFrame(
        [("p1", 0, "T", "A", 120, "text body")], CHUNKS_SCHEMA)
    d = tempfile.mkdtemp()
    try:
        write_jsonl(df, d)
        back = read_jsonl(spark, d)
        assert back.collect() == df.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_transcript_scan_schema(spark, transcripts_df):
    d = tempfile.mkdtemp()
    try:
        transcripts_df.write.mode("overwrite").parquet(d)
        back = read_transcripts(spark, d)
        assert [f.name for f in back.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts"]
        assert back.count() == transcripts_df.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


from research_engine_spark.plans.inspect import (  # noqa: E402
    assert_scan_efficient,
    formatted_plan as _formatted_plan,
)


def _collected_plan(reader, monkeypatch, run, group):
    """(the DataFrames that ``run`` collects with toPandas, the rows it
    returns, its Spark job count, the job count of collecting its
    result): the executor's plan is the collected frame's, since search
    and search_many return a local relation."""
    spark = reader.spark
    collected = []
    cls = type(spark.range(1))
    to_pandas = cls.toPandas

    def capture(self):
        collected.append(self)
        return to_pandas(self)

    monkeypatch.setattr(cls, "toPandas", capture)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "probe")
    try:
        out = run()
        n_run = len(tracker.getJobIdsForGroup(group))
        rows = out.collect()
        n_collect = len(tracker.getJobIdsForGroup(group)) - n_run
    finally:
        sc.setJobGroup(None, None)
        monkeypatch.setattr(cls, "toPandas", to_pandas)
    return collected, rows, n_run, n_collect


def test_search_plan_shape(reader, monkeypatch):
    """The distributed search's scoring job must prune postings
    partitions by bucket, push the term filter to parquet and attach
    the query-term weights WITHOUT an exchange (they ride in the decode
    closure); its fold is a per-partition numpy top-k, not a global
    sort."""
    search(reader, "neural networks", k=10, with_text=False).collect()
    collected, rows, _, _ = _collected_plan(
        reader, monkeypatch,
        lambda: search(reader, "neural networks", k=10, with_text=False),
        "search_plan_probe")
    assert len(rows) == 10 and len(collected) == 1
    plan = _formatted_plan(collected[0])
    assert "PartitionFilters: [bucket" in plan
    assert "In(term, " in plan  # pushed to row groups
    assert "BroadcastExchange" not in plan
    assert "Sort " not in plan
    facts = assert_scan_efficient(collected[0],
                                  require_partition_pruning=True)
    assert facts.broadcast_joins == 0


def test_filter_pushdown_documents(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = df.filter(F.col("n_chars") >= 200).select("doc_id", "n_chars")
    plan = _formatted_plan(q)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,200)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan


def test_hits_join_is_broadcast(reader, monkeypatch):
    """J2: when the top-k's docs row groups exceed the driver-side text
    budget, the k-row hits side must broadcast against the docs
    table."""
    from research_engine_spark.operators import scorer

    monkeypatch.setattr(scorer, "DRIVER_TEXT_MAX_BYTES", 0)
    plan = _formatted_plan(search(reader, "neural networks", k=5,
                                  with_text=True))
    assert "BroadcastHashJoin" in plan


def test_iceberg_gate(spark):
    from research_engine_spark.sources.iceberg import iceberg_available

    assert iceberg_available(spark) is False  # no jar in this image


def test_batch_search_plan_shape(reader, monkeypatch):
    """The distributed search_many reads a bucket-partition-pruned
    postings scan and launches at most 2 Spark jobs per batch (the decode
    with its shuffle write, then the per-partition fold collected to the
    driver); its result is a local relation, so collecting it runs
    none."""
    from research_engine_spark.operators.scorer import search_many

    qs = ["neural networks", "machine learning"]
    search_many(reader, qs, k=5).collect()  # warm the term dictionary
    collected, rows, n_run, n_collect = _collected_plan(
        reader, monkeypatch, lambda: search_many(reader, qs, k=5),
        "batch_plan_probe")
    assert len(rows) == 10
    assert n_run <= 2, f"batch launched {n_run} jobs"
    assert n_collect == 0, f"collect launched {n_collect} jobs"
    assert len(collected) == 1
    facts = assert_scan_efficient(collected[0],
                                  require_partition_pruning=True)
    assert facts.broadcast_joins == 0  # clause weights ride in the decode
    plan = _formatted_plan(collected[0])
    assert "In(term, " in plan  # pushed to row groups
    assert "Window" not in plan


def test_single_term_search_has_no_aggregate_shuffle(reader, monkeypatch):
    """A single-term query has exactly one partial per doc, so the
    executor folds each decode partition on its own: no
    hashpartitioning(doc_id) exchange. A multi-term query on the same
    reader DOES shuffle on doc_id before the fold (regression guard for
    the shortcut's scope). A distributed search() runs at most 2 Spark
    jobs, and collecting its result runs none."""
    for q, shuffled in (("neural", False), ("neural networks", True)):
        search(reader, q, k=10, with_text=False).collect()  # warm
        collected, rows, n_run, n_collect = _collected_plan(
            reader, monkeypatch,
            lambda: search(reader, q, k=10, with_text=False),
            f"search_jobs_probe_{shuffled}")
        assert len(rows) == 10 and len(collected) == 1, q
        plan = _formatted_plan(collected[0])
        assert ("hashpartitioning(doc_id" in plan) is shuffled, q
        assert n_run <= 2, f"{q!r}: search launched {n_run} jobs"
        assert n_collect == 0, f"{q!r}: collect launched {n_collect} jobs"
