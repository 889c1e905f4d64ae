"""The correctness gate (north rule): top-k docIDs AND BM25 scores from the
Spark engine must be rank-identical to the oracle on the full reference
query set, at every reference k, for default and non-default (k1, b), with
the exact block-max pruned tier agreeing with the distributed executor.
"""

import numpy as np
import pytest

from research_engine_spark.operators.scorer import search
from tests.conftest import REFERENCE_QUERIES

KS = [3, 5, 10, 15]  # es_search_final.py:66 / app.py:42 / rag_service.py:24


def _assert_rank_identical(eng, ora, label=""):
    assert list(eng["doc_id"]) == list(ora["doc_id"]), label
    assert np.allclose(eng["score"], ora["score"], rtol=0, atol=0), (
        f"{label}: scores not bit-identical")


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_reference_queries_default_params(reader, oracle, query):
    for k in KS:
        eng = search(reader, query, k=k, with_text=False).toPandas()
        ora = oracle.search(query, k=k)
        _assert_rank_identical(eng, ora, f"{query!r} k={k}")


@pytest.mark.parametrize("query", REFERENCE_QUERIES[:4])
def test_parameterized_k1_b(reader, oracle, query):
    # non-default BM25 parameters (FIXTURES.md §6: k1=0.9, b=0.4)
    eng = search(reader, query, k=10, k1=0.9, b=0.4, with_text=False).toPandas()
    ora = oracle.search(query, k=10, k1=0.9, b=0.4)
    _assert_rank_identical(eng, ora, f"{query!r} k1=0.9 b=0.4")


def _over_flat_budget(reader, query):
    """A reader whose driver-local budget is one posting short of the
    query's Σ df: the query skips the flat tier and runs the block-max
    tier, or the distributed executor when that tier declines."""
    from research_engine_spark.functions.analyzer import analyze_query
    from research_engine_spark.operators.scorer import IndexReader

    terms = [t for t, _ in analyze_query(query)]
    sdf = int(reader.term_stats_arrow(terms)["df"].sum())
    return IndexReader(reader.spark, reader.index_dir,
                       driver_local_max_postings=sdf - 1)


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_pruned_equals_unpruned(reader, query):
    """The block-max tier, wherever it serves a reference query, is
    bit-identical to the budget-0 executor."""
    stats: dict = {}
    pruned = search(_over_flat_budget(reader, query), query, k=10,
                    with_text=False, prune_stats=stats).toPandas()
    assert stats["path"] in ("driver_local_blockmax", "fallback_plain")
    full = search(reader, query, k=10, with_text=False).toPandas()
    assert list(pruned["doc_id"]) == list(full["doc_id"])
    assert np.allclose(pruned["score"], full["score"], rtol=0, atol=0)


def test_pruned_custom_params(reader, oracle):
    q = "machine learning"
    eng = search(reader, q, k=5, k1=0.9, b=0.4,
                 with_text=False).toPandas()
    ora = oracle.search(q, k=5, k1=0.9, b=0.4)
    _assert_rank_identical(eng, ora, "pruned custom params")


def test_cached_postings_rank_identity(reader, oracle):
    """cache_postings() (VERDICT r3 #7) must be a pure latency lever:
    identical rows/scores through the InMemoryTableScan, and uncache()
    releases every pinned block."""
    try:
        reader.cache_postings(include_docs=True)
        assert reader.postings.storageLevel.useMemory
        assert reader.docs.storageLevel.useMemory
        for q in REFERENCE_QUERIES[:4]:
            eng = search(reader, q, k=10, with_text=False).toPandas()
            ora = oracle.search(q, k=10)
            _assert_rank_identical(eng, ora, f"cached {q!r}")
    finally:
        reader.uncache()
    assert not reader.postings.storageLevel.useMemory
    assert not reader._pinned


def test_empty_query(reader):
    assert search(reader, "", k=5).count() == 0
    assert search(reader, "   !!! ...", k=5).count() == 0


def test_absent_term(reader, oracle):
    q = "zzzxqwyy nonexistentterm99"
    assert search(reader, q, k=5).count() == 0
    assert len(oracle.search(q, k=5)) == 0


def test_mixed_present_absent(reader, oracle):
    q = "neural zzzxqwyy"
    eng = search(reader, q, k=5, with_text=False).toPandas()
    ora = oracle.search(q, k=5)
    _assert_rank_identical(eng, ora, "mixed present/absent")


def test_hit_text_equality(reader, oracle, transcripts_pd):
    """Per-turn text equality invariant (input_hint): the text returned
    with each hit equals the input text for that (conv_id, turn_idx)."""
    src = transcripts_pd.set_index(["conv_id", "turn_idx"])["text"]
    eng = search(reader, "neural networks", k=10, with_text=True).toPandas()
    assert len(eng) > 0
    for row in eng.itertuples(index=False):
        assert row.text == src.loc[(row.conv_id, row.turn_idx)]


def test_query_determinism(reader):
    a = search(reader, "natural language processing", k=15,
               with_text=False).toPandas()
    b = search(reader, "natural language processing", k=15,
               with_text=False).toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert np.array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_prune_engages_on_skewed_tf(spark, tmp_path):
    """Block-max pruning must actually SKIP blocks when the score
    distribution allows it: a term with a cluster of high-tf docs early in
    doc_id order (so they share blocks) and tf=1 everywhere else gives
    later blocks an upper bound below θ. Asserts the block-max tier ran,
    most blocks were skipped, and results are identical to the
    distributed executor.
    """
    import datetime

    import pandas as pd

    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import IndexReader

    n_docs, n_hot = 3000, 16
    rows = []
    ts = datetime.datetime(2024, 1, 1)
    for i in range(n_docs):
        tf = 40 if i < n_hot else 1
        filler = " ".join(f"fill{j:02d}" for j in range(50 - tf))
        rows.append((f"conv_{i:06d}", 0, "user",
                     ("skewterm " * tf) + filler, None, ts))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    df = spark.createDataFrame(pdf)
    idx = str(tmp_path / "skew_idx")
    build_index(df, idx, n_buckets=4)
    reader = IndexReader(spark, idx, driver_local_max_postings=0)

    stats: dict = {}
    pruned = search(_over_flat_budget(reader, "skewterm"), "skewterm",
                    k=10, with_text=False, prune_stats=stats).toPandas()
    plain = search(reader, "skewterm", k=10, with_text=False).toPandas()
    assert stats["path"] == "driver_local_blockmax", stats
    assert stats["n_keep"] < 0.5 * stats["n_blocks"], stats
    assert list(pruned["doc_id"]) == list(plain["doc_id"])
    assert np.allclose(pruned["score"], plain["score"], rtol=0, atol=0)


def test_prune_two_phase_multi_term(spark, tmp_path):
    """Multi-term query over a skewed corpus: the block-max tier's full
    two-phase path (phase A skip + candidate rescore) must engage and
    stay bit-identical to the distributed executor."""
    import datetime

    import pandas as pd

    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import IndexReader

    n_docs, n_hot = 3000, 16
    rows = []
    ts = datetime.datetime(2024, 1, 1)
    for i in range(n_docs):
        tf = 20 if i < n_hot else 1
        filler = " ".join(f"fill{j:02d}" for j in range(50 - 2 * tf))
        rows.append((f"conv_{i:06d}", 0, "user",
                     ("alpha beta " * tf) + filler, None, ts))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    df = spark.createDataFrame(pdf)
    idx = str(tmp_path / "skew2_idx")
    build_index(df, idx, n_buckets=4)
    reader = IndexReader(spark, idx, driver_local_max_postings=0)

    stats: dict = {}
    pruned = search(_over_flat_budget(reader, "alpha beta"), "alpha beta",
                    k=10, with_text=False, prune_stats=stats).toPandas()
    plain = search(reader, "alpha beta", k=10, with_text=False).toPandas()
    assert stats["path"] == "driver_local_blockmax", stats
    assert stats["n_keep"] < 0.5 * stats["n_blocks"], stats
    assert stats["n_candidates"] > 0, stats
    assert list(pruned["doc_id"]) == list(plain["doc_id"])
    assert np.allclose(pruned["score"], plain["score"], rtol=0, atol=0)


@pytest.mark.parametrize("query", ["machine learning",
                                   "neural networks for language"])
def test_spark_metadata_gate_identical(reader, monkeypatch, query):
    """Block metadata over BLOCK_META_BUDGET: the block-max tier
    declines, and a query over the flat budget runs on the distributed
    executor, bit-identical to the budget-0 reader. A fresh reader keeps
    the per-term block-metadata cache empty, so the budget check really
    runs."""
    from research_engine_spark.operators import scorer

    monkeypatch.setattr(scorer, "BLOCK_META_BUDGET", 0)
    stats: dict = {}
    got = search(_over_flat_budget(reader, query), query, k=10,
                 with_text=False, prune_stats=stats).collect()
    assert stats == {"path": "fallback_plain"}, stats
    want = search(reader, query, k=10, with_text=False).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_prune_gate_falls_back_on_uniform_corpus(reader, oracle):
    """The budget-0 reader runs every query on the distributed executor
    and reports it as ``fallback_plain``, the tier name the benchmark's
    ``scorer.path.fallback_plain`` counter matches; its rows are the
    oracle's."""
    stats: dict = {}
    out = search(reader, "machine learning", k=10, with_text=False,
                 prune_stats=stats).toPandas()
    assert stats == {"path": "fallback_plain"}, stats
    _assert_rank_identical(out, oracle.search("machine learning", k=10),
                           "executor")


def test_batch_search_matches_single_query(reader):
    """search_many must return, for every query in the batch,
    bit-identical (doc_id, score) to the per-query search() path — same
    float64 partials, same deterministic fold, same tiebreaks — while
    issuing one Spark job for the whole batch."""
    from research_engine_spark.operators.scorer import search_many

    batch = {f"q{i}": q for i, q in enumerate(REFERENCE_QUERIES[:6])}
    got = search_many(reader, batch, k=10).toPandas()
    for qid, q in batch.items():
        single = search(reader, q, k=10, with_text=False).toPandas()
        part = got[got["qid"] == qid]
        assert list(part["doc_id"]) == list(single["doc_id"]), qid
        assert np.allclose(part["score"], single["score"],
                           rtol=0, atol=0), qid


def test_batch_search_list_and_text(reader, transcripts_pd):
    from research_engine_spark.operators.scorer import search_many

    got = search_many(reader, [REFERENCE_QUERIES[0]], k=5,
                      with_text=True).toPandas()
    assert set(got.columns) == {"qid", "doc_id", "score", "conv_id",
                                "turn_idx", "text"}
    src = transcripts_pd.set_index(["conv_id", "turn_idx"])["text"]
    for row in got.itertuples(index=False):
        assert row.text == src.loc[(row.conv_id, row.turn_idx)]
