"""Index-build structural tests: docID stability, corpus invariants
(ported from the reference's runtime asserts, SURVEY.md §5 item 3),
skew salting, resume, lineage.
"""

import os
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from research_engine_spark.corpus import synth_transcripts
from research_engine_spark.operators.docids import with_doc_ids
from research_engine_spark.operators.indexer import build_index, resume_index
from research_engine_spark.operators.scorer import IndexReader, search


def test_doc_ids_match_global_sort(spark, transcripts_df, transcripts_pd):
    """Distributed offset-based docIDs == the global-sort answer."""
    got = (
        with_doc_ids(transcripts_df)
        .select("conv_id", "turn_idx", "doc_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        transcripts_pd.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(range(len(want)))
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])


def test_doc_ids_gapped_turn_idx_fallback(spark):
    """Non-contiguous turn_idx triggers the window fallback and still
    yields global-sort-identical dense doc_ids."""
    rows = [("c2", 5), ("c2", 7), ("c1", 0), ("c1", 2), ("c1", 9), ("c3", 1)]
    df = spark.createDataFrame(
        [(c, t, "user", "x", None, None) for c, t in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    got = (with_doc_ids(df).select("conv_id", "turn_idx", "doc_id")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = sorted(rows)
    assert list(got["doc_id"]) == list(range(len(rows)))
    assert list(zip(got["conv_id"], got["turn_idx"])) == want


def test_docs_text_roundtrip(reader, transcripts_pd):
    """Per-turn text equality under stable ordering for EVERY turn — the
    forward table reconstructs the input exactly (input_hint invariant;
    analog of vector_store.py:76-79 alignment assert)."""
    docs = reader.docs.select("conv_id", "turn_idx", "text").toPandas()
    docs = docs.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    src = transcripts_pd.sort_values(["conv_id", "turn_idx"]).reset_index(
        drop=True)
    assert len(docs) == len(src)
    assert docs["text"].fillna("").equals(src["text"].fillna(""))


def test_postings_referential_integrity(reader):
    """Every term in postings exists in term_stats with matching df."""
    post_df = (
        reader.postings.groupBy("term")
        .agg(F.sum("posting_count").alias("n"))
    )
    ts = reader.term_stats.select("term", "df")
    joined = post_df.join(ts, "term", "full_outer").filter(
        F.col("n").isNull() | F.col("df").isNull() | (F.col("n") != F.col("df"))
    )
    assert joined.count() == 0


def test_corpus_stats_consistency(reader):
    n_docs = reader.docs.count()
    assert reader.stats["n_docs"] == n_docs
    total = reader.doc_stats.agg(F.sum("dl")).collect()[0][0]
    assert reader.stats["total_tokens"] == int(total)
    assert abs(reader.stats["avgdl"] - total / n_docs) < 1e-12
    # doc_stats dl == analyzed token count, re-derived independently
    from research_engine_spark.functions.analyzer import token_count_udf

    rederived = (reader.docs.select(
        "doc_id", token_count_udf(F.col("text")).alias("dl2"))
        .join(reader.doc_stats, "doc_id", "full_outer")
        .filter(F.coalesce("dl", F.lit(0)) != F.coalesce("dl2", F.lit(0))))
    assert rederived.count() == 0


def test_lineage_rows(reader):
    """North-rule metrics fields: partition id, term range, posting count,
    bytes, wall-time, snapshot id."""
    lin = reader.lineage.toPandas()
    assert len(lin) > 0
    for col in ["partition_id", "term_lo", "term_hi", "posting_count",
                "bytes", "wall_ms", "snapshot_id"]:
        assert col in lin.columns
    assert (lin["posting_count"] > 0).all()
    assert (lin["bytes"] > 0).all()
    assert (lin["term_lo"] <= lin["term_hi"]).all()
    # lineage covers every posting
    total = reader.postings.agg(F.sum("posting_count")).collect()[0][0]
    assert int(lin["posting_count"].sum()) == int(total)


@pytest.fixture(scope="module")
def small_tx(spark):
    return synth_transcripts(spark, n_convs=30, seed=7)


def test_salted_equals_unsalted(spark, small_tx):
    """Forcing aggressive salting (tiny max_group_postings) must not change
    any query result — salted partial runs merge losslessly because blocks
    are independently decodable (SURVEY §7 hard-part 4)."""
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        build_index(small_tx, d1, n_buckets=4, max_group_postings=10)
        build_index(small_tx, d2, n_buckets=4, max_group_postings=500_000)
        r1, r2 = IndexReader(spark, d1), IndexReader(spark, d2)
        # salting actually kicked in
        assert r1.postings.agg(F.max("salt")).collect()[0][0] > 0
        assert r2.postings.agg(F.max("salt")).collect()[0][0] == 0
        for q in ["neural networks", "machine learning", "the of and"]:
            a = search(r1, q, k=10, with_text=False).toPandas()
            b = search(r2, q, k=10, with_text=False).toPandas()
            assert list(a["doc_id"]) == list(b["doc_id"]), q
            assert np.allclose(a["score"], b["score"], rtol=0, atol=0), q
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_resume_completes_partial_build(spark, small_tx):
    """Kill/resume: build only a subset of term buckets (simulated partial
    failure at a partition boundary), resume, and verify the result equals
    a from-scratch full build — identical postings and query results."""
    d_full, d_part = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        build_index(small_tx, d_full, n_buckets=4)
        build_index(small_tx, d_part, n_buckets=4, buckets_subset=[0, 1])
        # manifest records the partial state
        r_part = IndexReader(spark, d_part)
        import json

        with open(os.path.join(d_part, "manifest.json")) as f:
            assert json.load(f)["completed_buckets"] == [0, 1]
        resume_index(small_tx, d_part)
        with open(os.path.join(d_part, "manifest.json")) as f:
            assert json.load(f)["completed_buckets"] == [0, 1, 2, 3]
        r_full = IndexReader(spark, d_full)
        r_res = IndexReader(spark, d_part)
        cols = ["term", "salt", "block_id", "first_doc_id", "posting_count"]
        a = r_full.postings.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        b = r_res.postings.select(cols).toPandas().sort_values(cols).reset_index(drop=True)
        assert a.equals(b)
        for q in ["neural networks", "transformer architecture"]:
            qa = search(r_full, q, k=10, with_text=False).toPandas()
            qb = search(r_res, q, k=10, with_text=False).toPandas()
            assert list(qa["doc_id"]) == list(qb["doc_id"])
            assert np.allclose(qa["score"], qb["score"], rtol=0, atol=0)
    finally:
        shutil.rmtree(d_full, ignore_errors=True)
        shutil.rmtree(d_part, ignore_errors=True)


def test_build_determinism(spark, small_tx):
    """Two independent builds produce identical postings bytes."""
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        build_index(small_tx, d1, n_buckets=4)
        build_index(small_tx, d2, n_buckets=4)
        cols = ["term", "salt", "block_id", "doc_gaps", "tfs", "dls",
                "max_tf", "min_dl"]
        a = (IndexReader(spark, d1).postings.select(cols).toPandas()
             .sort_values(["term", "salt", "block_id"]).reset_index(drop=True))
        b = (IndexReader(spark, d2).postings.select(cols).toPandas()
             .sort_values(["term", "salt", "block_id"]).reset_index(drop=True))
        assert a.equals(b)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_build_files_deterministic(spark, small_tx):
    """Two builds of one corpus write the same rows in the same order to
    every postings and term_stats bucket file (rows are sorted within
    the write, not left in shuffle-fetch order). wall_ms is the merge
    task's measured time and differs by construction."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    def bucket_files(d, table):
        root = IndexReader(spark, d)._path(table)
        out = {}
        for bdir in sorted(glob.glob(os.path.join(root, "bucket=*"))):
            parts = [pq.read_table(f) for f in
                     sorted(glob.glob(os.path.join(bdir, "*.parquet")))]
            t = pa.concat_tables(parts)
            out[os.path.basename(bdir)] = t.drop_columns(
                [c for c in ("wall_ms",) if c in t.column_names])
        return out

    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        build_index(small_tx, d1, n_buckets=4)
        build_index(small_tx, d2, n_buckets=4)
        for table in ("postings", "term_stats"):
            a, b = bucket_files(d1, table), bucket_files(d2, table)
            assert len(a) == 4 and list(a) == list(b), table
            for bucket in a:
                assert a[bucket].num_rows > 0
                assert a[bucket].equals(b[bucket]), (table, bucket)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_corpus_stats_deterministic_across_partitionings(spark, small_tx):
    """corpus_stats.json must be byte-identical across different input
    partitionings: total_tokens is an exact int64 sum over the pairs (the
    single distributed stats path — no driver-side shortcut remains)."""
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        build_index(small_tx, d1, n_buckets=4)
        build_index(small_tx.repartition(7), d2, n_buckets=4)
        with open(os.path.join(d1, "corpus_stats.json"), "rb") as f:
            a = f.read()
        with open(os.path.join(d2, "corpus_stats.json"), "rb") as f:
            b = f.read()
        assert a == b
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_append_lineage_scoped_per_segment(spark, small_tx):
    """append_segment must add lineage rows for the NEW segment only —
    earlier segments' blocks must not be re-aggregated (posting_count
    totals stay exact, snapshot_ids partition the rows)."""
    from research_engine_spark.operators.indexer import append_segment

    d = tempfile.mkdtemp()
    try:
        first = small_tx.filter(F.col("conv_id") < "conv_00000015")
        second = small_tx.filter(F.col("conv_id") >= "conv_00000015")
        build_index(first, d, n_buckets=4, snapshot_id="s0")
        append_segment(second, d, snapshot_id="seg1")
        r = IndexReader(spark, d)
        lin = r.lineage.toPandas()
        assert set(lin["snapshot_id"]) == {"s0", "seg1"}
        # lineage covers every posting exactly once across both segments
        total = r.postings.agg(F.sum("posting_count")).collect()[0][0]
        assert int(lin["posting_count"].sum()) == int(total)
        # per-snapshot totals match the per-snapshot postings
        per_snap = (r.postings.groupBy("snapshot_id")
                    .agg(F.sum("posting_count").alias("n")).collect())
        want = {row["snapshot_id"]: int(row["n"]) for row in per_snap}
        got = lin.groupby("snapshot_id")["posting_count"].sum().to_dict()
        assert {k: int(v) for k, v in got.items()} == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_refresh_clears_prune_caches(spark, tmp_path):
    """A pruned search warms the reader's term + block-metadata caches;
    after append_segment + refresh() a pruned search must see the new
    segment's postings (stale caches would silently score the old
    corpus)."""
    import datetime

    import pandas as pd

    from research_engine_spark.operators.indexer import (append_segment,
                                                         build_index)
    from research_engine_spark.operators.scorer import IndexReader, search

    ts = datetime.datetime(2024, 1, 1)

    def seg(prefix, n, text):
        return spark.createDataFrame(pd.DataFrame(
            [(f"{prefix}_{i:04d}", 0, "user", text, None, ts)
             for i in range(n)],
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))

    d = str(tmp_path / "refresh_idx")
    build_index(seg("a", 300, "alpha beta gamma"), d, n_buckets=4)
    reader = IndexReader(spark, d)
    before = search(reader, "alpha", k=5, prune=True,
                    with_text=False).toPandas()
    assert len(before) == 5
    # new segment where 'alpha' appears with much higher tf
    append_segment(seg("b", 50, "alpha " * 30), d)
    reader.refresh()
    stats: dict = {}
    after = search(reader, "alpha", k=5, prune=True, with_text=False,
                   prune_stats=stats).toPandas()
    plain = search(reader, "alpha", k=5, with_text=False).toPandas()
    assert list(after["doc_id"]) == list(plain["doc_id"])
    # the top hits must come from the appended high-tf segment
    assert after["doc_id"].min() >= 300
