"""Document deletion lifecycle (operators/deletes.py): tombstones exclude
docs from every search path immediately with surviving scores bit-unchanged
(ES/Lucene pre-merge semantics), compaction physically purges them with
stats recomputed exactly (bit-identical to a fresh build over the
surviving corpus), and upsert = tombstone + append.

The reference cannot do any of this — "no deletions (rebuild to delete)",
retrieval/vector_store.py:13 — so these tests define the contract.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from research_engine_spark.corpus import synth_transcripts
from research_engine_spark.operators.deletes import (
    delete_by_query,
    delete_ids,
    deleted_ids_sorted,
    n_tombstone_rows,
    upsert_turns,
)
from research_engine_spark.operators.indexer import build_index, compact_index
from research_engine_spark.operators.scorer import (
    IndexReader,
    bool_should_search,
    phrase_search,
    search,
    search_many,
)

N_CONVS = 30
SEED = 77
CUT = "conv_00000005"  # delete predicate: convs 0..4
QUERIES = ["neural networks", "machine learning", "transformer attention"]


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    """One positional build shared by every test via directory copy —
    each test mutates its own copy, never the base."""
    d = str(tmp_path_factory.mktemp("del_base"))
    tx = synth_transcripts(spark, n_convs=N_CONVS, seed=SEED)
    build_index(tx, os.path.join(d, "idx"), n_buckets=4,
                with_positions=True)
    return os.path.join(d, "idx")


@pytest.fixture()
def idx(base_index, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(base_index, d)
    return d


def _rows(df, cols=("doc_id", "score")):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def test_delete_excludes_immediately_scores_unchanged(spark, idx):
    reader = IndexReader(spark, idx)
    before = _rows(search(reader, QUERIES[0], k=8, with_text=False))
    victim = before[0][0]
    assert delete_ids(idx, [victim]) == 1
    reader = IndexReader(spark, idx)
    assert reader.has_deletes
    after = _rows(search(reader, QUERIES[0], k=8, with_text=False))
    after_ids = {r[0] for r in after}
    assert victim not in after_ids
    # surviving docs keep bit-identical scores (stats-stale semantics)
    before_by_id = dict(before)
    for doc_id, score in after:
        if doc_id in before_by_id:
            assert score == before_by_id[doc_id]
    # the freed slot is refilled up to k when matches exist
    assert len(after) >= len(before) - 1


def test_delete_by_query_all_paths_excluded(spark, idx):
    reader = IndexReader(spark, idx)
    n = delete_by_query(reader, f"conv_id < '{CUT}'")
    assert n > 0
    dead = set(np.asarray(
        reader.docs.filter(F.col("conv_id") < CUT)
        .select("doc_id").toPandas()["doc_id"]).tolist())
    for q in QUERIES:
        assert not dead & {r[0] for r in _rows(
            search(reader, q, k=50, with_text=False))}
        assert not dead & {r[0] for r in _rows(
            search(reader, q, k=50, with_text=False, fuzzy=True))}
        assert not dead & {r[0] for r in _rows(
            bool_should_search(reader, q, k=50))}
    assert not dead & {r[0] for r in _rows(
        phrase_search(reader, "neural networks", k=50))}
    many = search_many(reader, {f"q{i}": q for i, q in enumerate(QUERIES)},
                       k=50)
    assert not dead & {r["doc_id"] for r in many.collect()}


def test_prune_falls_back_and_stays_exact(spark, idx):
    """Tombstones disable the block-max tier: a query over the flat
    budget runs on the distributed executor, exact under the deletes."""
    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    plain = _rows(search(IndexReader(spark, idx, driver_local_max_postings=0),
                         QUERIES[0], k=10, with_text=False))
    from research_engine_spark.functions.analyzer import analyze_query

    terms = [t for t, _ in analyze_query(QUERIES[0])]
    sdf = int(reader.term_stats_arrow(terms)["df"].sum())
    stats: dict = {}
    pruned = _rows(search(
        IndexReader(spark, idx, driver_local_max_postings=sdf - 1),
        QUERIES[0], k=10, with_text=False, prune_stats=stats))
    assert stats["path"] == "fallback_plain", stats
    assert pruned == plain


def test_compact_purges_bit_identical_to_fresh_build(spark, idx, tmp_path):
    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    res = compact_index(spark, idx)
    assert res["compacted"] and res["n_purged"] > 0
    # tombstones applied and removed; reader sees a clean index
    assert n_tombstone_rows(idx) == 0
    assert deleted_ids_sorted(idx).size == 0

    fresh_dir = str(tmp_path / "fresh")
    tx = synth_transcripts(spark, n_convs=N_CONVS, seed=SEED)
    build_index(tx.filter(F.col("conv_id") >= CUT), fresh_dir,
                n_buckets=4, with_positions=True)

    purged = IndexReader(spark, idx)
    fresh = IndexReader(spark, fresh_dir)
    # exact stats equality: n_docs, total_tokens, avgdl
    for key in ("n_docs", "total_tokens", "avgdl"):
        assert purged.stats[key] == fresh.stats[key], key
    # docIDs differ (purge preserves them, fresh renumbers) — compare on
    # the stable (conv_id, turn_idx) identity; scores must be bit-equal
    # (same df/cf/dl/avgdl integers, same term-sorted fold)
    for q in QUERIES:
        a = _rows(search(purged, q, k=10), ("conv_id", "turn_idx", "score"))
        bzz = _rows(search(fresh, q, k=10), ("conv_id", "turn_idx", "score"))
        assert a == bzz
    # forward tables physically shrank
    assert purged.docs.filter(F.col("conv_id") < CUT).count() == 0
    assert purged.docs.count() == purged.stats["n_docs"]
    assert purged.doc_stats.count() == fresh.doc_stats.count()


def test_purge_handles_term_vanishing(spark, idx):
    """Deleting every doc of some terms must drop those terms from the
    purged term_stats entirely (df would be 0)."""
    reader = IndexReader(spark, idx)
    only_there = (
        reader.doc_stats.join(
            reader.docs.filter(F.col("conv_id") < CUT), "doc_id",
            "left_semi").count())
    assert only_there > 0
    delete_by_query(reader, f"conv_id < '{CUT}'")
    compact_index(spark, idx)
    purged = IndexReader(spark, idx)
    ts = purged.term_stats
    assert ts.filter(F.col("df") <= 0).count() == 0
    # postings and term_stats agree on df after the purge
    post_df = (purged.postings.groupBy("term")
               .agg(F.sum("posting_count").alias("df")))
    ts_df = purged.term_stats.groupBy("term").agg(
        F.sum("df").alias("df2"))
    joined = post_df.join(ts_df, "term", "full_outer")
    assert joined.filter(
        F.col("df").isNull() | F.col("df2").isNull()
        | (F.col("df") != F.col("df2"))).count() == 0


def test_double_delete_and_unknown_ids_are_noops(spark, idx):
    reader = IndexReader(spark, idx)
    top = _rows(search(reader, QUERIES[0], k=3, with_text=False))
    victim = top[0][0]
    delete_ids(idx, [victim])
    delete_ids(idx, [victim, 10**12 + 5])  # dup + nonexistent
    reader = IndexReader(spark, idx)
    n_docs_before = reader.stats["n_docs"]
    res = compact_index(spark, idx)
    assert res["n_purged"] == 1
    purged = IndexReader(spark, idx)
    assert purged.stats["n_docs"] == n_docs_before - 1


def test_upsert_replaces_turn(spark, idx):
    reader = IndexReader(spark, idx)
    row = reader.docs.orderBy("doc_id").first()
    new_rows = spark.createDataFrame(
        [(row["conv_id"], row["turn_idx"], row["role"],
          "zzreplacedtoken fresh content entirely", row["ts"])],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp")
    stats = upsert_turns(new_rows, idx)
    assert stats["n_replaced"] == 1
    reader = IndexReader(spark, idx)
    hits = _rows(search(reader, "zzreplacedtoken", k=5),
                 ("conv_id", "turn_idx", "score"))
    assert [(h[0], h[1]) for h in hits] == [(row["conv_id"],
                                            row["turn_idx"])]
    # exactly one live version of the key
    live = reader.live_only(reader.docs).filter(
        (F.col("conv_id") == row["conv_id"])
        & (F.col("turn_idx") == row["turn_idx"]))
    assert live.count() == 1
    # purge keeps the replacement searchable and drops the old version
    compact_index(spark, idx)
    purged = IndexReader(spark, idx)
    assert not purged.has_deletes
    hits2 = _rows(search(purged, "zzreplacedtoken", k=5),
                  ("conv_id", "turn_idx", "score"))
    assert [(h[0], h[1]) for h in hits2] == [(row["conv_id"],
                                             row["turn_idx"])]
    assert purged.docs.filter(
        (F.col("conv_id") == row["conv_id"])
        & (F.col("turn_idx") == row["turn_idx"])).count() == 1


def test_stale_tombstones_self_heal(spark, idx):
    """Tombstones for ids that were already purged (crash between swap
    and tombstone cleanup) are harmless: searches unaffected, the next
    compaction applies them as a no-op purge and clears them."""
    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    compact_index(spark, idx)
    purged_ids = deleted_ids_sorted(idx)
    assert purged_ids.size == 0
    before = _rows(search(IndexReader(spark, idx), QUERIES[0], k=10,
                          with_text=False))
    # resurrect tombstones pointing at ids that no longer exist
    dead = IndexReader(spark, idx)
    max_id = dead.docs.agg(F.max("doc_id")).collect()[0][0]
    delete_ids(idx, [max_id + 10, max_id + 11])
    mid = _rows(search(IndexReader(spark, idx), QUERIES[0], k=10,
                       with_text=False))
    assert mid == before
    res = compact_index(spark, idx)
    assert res["compacted"] and res["n_purged"] == 0
    assert n_tombstone_rows(idx) == 0
    after = _rows(search(IndexReader(spark, idx), QUERIES[0], k=10,
                         with_text=False))
    assert after == before


def test_delete_everything_then_compact(spark, idx):
    """Tombstoning the whole corpus leaves empty searches, and the purge
    reaches a consistent empty index (n_docs=0, avgdl=0) that still
    accepts queries and new appends."""
    import json

    reader = IndexReader(spark, idx)
    delete_by_query(reader, "doc_id >= 0")
    assert search(reader, QUERIES[0], k=5, with_text=False).count() == 0
    res = compact_index(spark, idx)
    assert res["compacted"] and res["n_purged"] > 0
    empty = IndexReader(spark, idx)
    assert empty.stats["n_docs"] == 0 and empty.stats["avgdl"] == 0.0
    assert search(empty, QUERIES[0], k=5, with_text=False).count() == 0
    # the empty index is still appendable
    from research_engine_spark.operators.indexer import append_segment

    tx = synth_transcripts(spark, n_convs=3, seed=123)
    append_segment(tx, idx)
    revived = IndexReader(spark, idx)
    from research_engine_spark.operators.generations import resolve

    with open(resolve(idx, "corpus_stats.json")) as f:
        assert json.load(f)["n_docs"] == revived.docs.count()
    assert search(revived, QUERIES[0], k=5, with_text=False).count() > 0


def test_delete_then_append_then_purge(spark, idx):
    """Tombstones on the base segment + a live appended segment: the
    purge drops only the tombstoned base docs, keeps every appended doc,
    and the merged stats equal a fresh build over (surviving base +
    appended) — the docID-preservation invariant under composition."""
    from research_engine_spark.operators.indexer import append_segment

    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    extra = synth_transcripts(spark, n_convs=4, seed=555).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    append_segment(extra, idx)
    merged = IndexReader(spark, idx)
    # appended docs are live despite the pending tombstones
    assert merged.live_only(merged.docs).filter(
        F.col("conv_id").startswith("x")).count() == extra.count()
    res = compact_index(spark, idx)
    assert res["compacted"] and res["n_purged"] > 0
    purged = IndexReader(spark, idx)
    assert not purged.has_deletes
    assert purged.docs.filter(F.col("conv_id") < CUT).count() == 0
    assert purged.docs.filter(
        F.col("conv_id").startswith("x")).count() == extra.count()
    # scores match a fresh build over the same surviving corpus
    fresh_dir = idx + "_fresh"
    fresh_src = purged.docs.select(
        "conv_id", "turn_idx", "role", "text", "ts")
    build_index(fresh_src, fresh_dir, n_buckets=4, with_positions=True)
    fresh = IndexReader(spark, fresh_dir)
    for q in QUERIES:
        got = _rows(search(purged, q, k=10),
                    ("conv_id", "turn_idx", "score"))
        want = _rows(search(fresh, q, k=10),
                     ("conv_id", "turn_idx", "score"))
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        np.testing.assert_allclose([g[2] for g in got],
                                   [w[2] for w in want], rtol=1e-12)


def test_upsert_same_key_twice_last_wins(spark, idx):
    reader = IndexReader(spark, idx)
    row = reader.docs.orderBy("doc_id").first()
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    v1 = spark.createDataFrame(
        [(row["conv_id"], row["turn_idx"], row["role"],
          "zzversionone only", row["ts"])], schema)
    v2 = spark.createDataFrame(
        [(row["conv_id"], row["turn_idx"], row["role"],
          "zzversiontwo only", row["ts"])], schema)
    upsert_turns(v1, idx)
    upsert_turns(v2, idx)
    reader = IndexReader(spark, idx)
    assert search(reader, "zzversionone", k=5).count() == 0
    hits = _rows(search(reader, "zzversiontwo", k=5),
                 ("conv_id", "turn_idx"))
    assert hits == [(row["conv_id"], row["turn_idx"])]
    assert reader.live_only(reader.docs).filter(
        (F.col("conv_id") == row["conv_id"])
        & (F.col("turn_idx") == row["turn_idx"])).count() == 1
    compact_index(spark, idx)
    purged = IndexReader(spark, idx)
    assert search(purged, "zzversionone", k=5).count() == 0
    assert search(purged, "zzversiontwo", k=5).count() == 1


def test_delete_counts_are_distinct_new(spark, idx):
    """Re-deleting already-tombstoned docs reports 0, not the re-match
    count (ES _delete_by_query semantics; r3 verdict #5 / ADVICE)."""
    reader = IndexReader(spark, idx)
    n1 = delete_by_query(reader, f"conv_id < '{CUT}'")
    assert n1 > 0
    n2 = delete_by_query(reader, f"conv_id < '{CUT}'")
    assert n2 == 0
    live = _rows(search(reader, QUERIES[0], k=1, with_text=False))
    victim = live[0][0]
    assert delete_ids(idx, [victim]) == 1
    assert delete_ids(idx, [victim]) == 0
    assert delete_ids(idx, [victim, victim + 10**9]) == 1


def test_upsert_replaced_count_is_new_only(spark, idx):
    """Upserting the same key twice replaces one live doc each time
    (the prior version), never re-counting already-tombstoned ones."""
    reader = IndexReader(spark, idx)
    row = reader.docs.orderBy("doc_id").first()
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    mk = lambda txt: spark.createDataFrame(
        [(row["conv_id"], row["turn_idx"], row["role"], txt, row["ts"])],
        schema)
    s1 = upsert_turns(mk("zzcounted one"), idx)
    assert s1["n_replaced"] == 1
    s2 = upsert_turns(mk("zzcounted two"), idx)
    assert s2["n_replaced"] == 1  # replaces v1's live doc, not the dead base


def test_purge_segment_scoped_mask_matches_broadcast(spark, idx, tmp_path):
    """max_driver_mask_ids=0 forces the executor-side range-read mask
    (no driver materialization of the deleted-id set): the purged index
    must still be bit-identical to a fresh build over the survivors."""
    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    res = compact_index(spark, idx, max_driver_mask_ids=0)
    assert res["compacted"] and res["n_purged"] > 0
    assert n_tombstone_rows(idx) == 0

    fresh_dir = str(tmp_path / "fresh")
    tx = synth_transcripts(spark, n_convs=N_CONVS, seed=SEED)
    build_index(tx.filter(F.col("conv_id") >= CUT), fresh_dir,
                n_buckets=4, with_positions=True)
    purged = IndexReader(spark, idx)
    fresh = IndexReader(spark, fresh_dir)
    for key in ("n_docs", "total_tokens", "avgdl"):
        assert purged.stats[key] == fresh.stats[key], key
    for q in QUERIES:
        a = _rows(search(purged, q, k=10), ("conv_id", "turn_idx", "score"))
        b = _rows(search(fresh, q, k=10), ("conv_id", "turn_idx", "score"))
        assert a == b
    # positional path also purged through the executor-side mask
    pa_ = _rows(phrase_search(purged, QUERIES[0], k=10),
                ("conv_id", "turn_idx", "score"))
    pb_ = _rows(phrase_search(fresh, QUERIES[0], k=10),
                ("conv_id", "turn_idx", "score"))
    assert pa_ == pb_


def test_append_after_purge_assigns_fresh_doc_ids(spark, idx):
    """ADVICE r4 (medium): append_segment must base new docIDs on the
    high-water mark (next_doc_id), not n_docs — a purging compaction
    shrinks n_docs while PRESERVING surviving docIDs, so an n_docs base
    would re-issue live ids and corrupt joins/scores."""
    import json

    from research_engine_spark.operators.fsck import verify_index
    from research_engine_spark.operators.generations import resolve
    from research_engine_spark.operators.indexer import append_segment

    reader = IndexReader(spark, idx)
    delete_by_query(reader, f"conv_id < '{CUT}'")
    res = compact_index(spark, idx)
    assert res["compacted"] and res["n_purged"] > 0
    with open(resolve(idx, "corpus_stats.json")) as f:
        st = json.load(f)
    # partial purge: surviving ids are sparse, high-water mark > n_docs
    assert st["next_doc_id"] > st["n_docs"]

    tx = synth_transcripts(spark, n_convs=N_CONVS + 5, seed=SEED)
    extra = tx.filter(F.col("conv_id") >= f"conv_{N_CONVS:08d}")
    n_extra = extra.count()
    assert n_extra > 0
    append_segment(extra, idx)

    appended = IndexReader(spark, idx)
    docs = appended.docs
    n = docs.count()
    assert n == appended.stats["n_docs"]
    # the collision the old n_docs base would have caused
    assert docs.select("doc_id").distinct().count() == n
    # appended ids sit strictly above every pre-append id
    lo = docs.filter(F.col("conv_id") >= f"conv_{N_CONVS:08d}") \
             .agg(F.min("doc_id")).first()[0]
    assert lo == st["next_doc_id"]
    # deep fsck (incl. doc_ids_distinct) green on the composed index
    rep = verify_index(spark, idx, deep=True)
    assert rep["ok"], rep
    # search over the composed index surfaces appended content
    hits = _rows(search(appended, QUERIES[0], k=10),
                 ("conv_id", "turn_idx", "score"))
    assert len(hits) == 10


def test_tombstone_footer_count_is_exact_distinct(spark, idx):
    """n_tombstone_rows (parquet-footer sum) == the distinct deleted-id
    count after an overlapping delete_ids / delete_by_query / upsert
    sequence: every writer anti-joins existing tombstones, so no id is
    ever written to two files (the broadcast/purge gates read the exact
    set size, not an inflated bound)."""
    reader = IndexReader(spark, idx)
    n1 = delete_by_query(reader, f"conv_id < '{CUT}'")
    assert n1 > 0
    # overlapping re-delete by ids: half already-tombstoned, one fresh
    dead = deleted_ids_sorted(idx)
    live = _rows(search(reader, QUERIES[1], k=1, with_text=False))
    delete_ids(idx, [int(dead[0]), int(dead[-1]), int(live[0][0])])
    # upsert a turn whose prior version is still live
    row = (reader.docs.join(
        spark.createDataFrame([(int(x),) for x in dead], "doc_id bigint"),
        "doc_id", "left_anti").orderBy("doc_id").first())
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    upsert_turns(spark.createDataFrame(
        [(row["conv_id"], row["turn_idx"], row["role"], "zzexact probe",
          row["ts"])], schema), idx)
    footer = n_tombstone_rows(idx)
    distinct = len(deleted_ids_sorted(idx))
    assert footer == distinct
    # and more than one tombstone file exists, so the invariant is
    # genuinely cross-file
    from research_engine_spark.operators.deletes import _tomb_path
    files = [f for f in os.listdir(_tomb_path(idx)) if f.endswith(".parquet")]
    assert len(files) >= 3
