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


def test_search_plan_shape(reader):
    """The scoring job must: prune postings partitions by bucket, push the
    term filter to parquet, attach the query-term weights WITHOUT an
    exchange (r6: literal CASE columns — the r5 broadcast join cost one
    BroadcastExchange job per query), and finish with a distributed
    top-k (TakeOrderedAndProject) — not a global sort."""
    q = search(reader, "neural networks", k=10, with_text=False)
    plan = _formatted_plan(q)
    assert "PartitionFilters: [bucket" in plan
    assert "In(term, " in plan  # pushed to row groups
    # clause weights are literals now: no join, no broadcast exchange
    assert "BroadcastExchange" not in plan
    assert "CASE WHEN (term" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
    facts = assert_scan_efficient(q, require_partition_pruning=True)
    assert facts.take_ordered


def test_filter_pushdown_documents(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = df.filter(F.col("n_chars") >= 200).select("doc_id", "n_chars")
    plan = _formatted_plan(q)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,200)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan


def test_hits_join_is_broadcast(reader):
    """J2: the k-row hits side must broadcast against the docs table."""
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
    spark = reader.spark
    collected = []
    cls = type(spark.range(1))
    to_pandas = cls.toPandas

    def capture(self):
        collected.append(self)
        return to_pandas(self)

    monkeypatch.setattr(cls, "toPandas", capture)
    sc = spark.sparkContext
    sc.setJobGroup("batch_plan_probe", "probe")
    try:
        rows = search_many(reader, qs, k=5).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("batch_plan_probe")
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 10
    assert len(jobs) <= 2, f"batch launched {len(jobs)} jobs"
    assert len(collected) == 1
    facts = assert_scan_efficient(collected[0],
                                  require_partition_pruning=True)
    assert facts.broadcast_joins == 0  # clause weights ride in the decode
    plan = _formatted_plan(collected[0])
    assert "In(term, " in plan  # pushed to row groups
    assert "Window" not in plan


def test_single_term_search_has_no_aggregate_shuffle(reader):
    """A single-term query has exactly one partial per doc, so its plain
    plan must feed the decode straight into TakeOrderedAndProject — no
    per-doc sum HashAggregate and no hashpartitioning(doc_id) exchange.
    A multi-term query on the same reader DOES need the deterministic
    per-doc sum (regression guard for the shortcut's scope)."""
    single = search(reader, "neural", k=10, with_text=False, prune=False)
    plan = _formatted_plan(single)
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning(doc_id" not in plan
    multi = search(reader, "neural networks", k=10, with_text=False,
                   prune=False)
    assert "hashpartitioning(doc_id" in _formatted_plan(multi)
