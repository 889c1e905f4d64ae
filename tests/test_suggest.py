"""ES term suggester (operators/esdsl.py es_suggest): hand-computed
expectations over a planted vocabulary, tier identity (driver-local
vs JVM-scan), mode/sort/option semantics, error surface."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from research_engine_spark.operators.esdsl import ESQueryError, es_suggest
from research_engine_spark.operators.indexer import build_index
from research_engine_spark.operators.scorer import IndexReader


@pytest.fixture(scope="module")
def sugg_setup(spark):
    texts = [
        "grape orange apple banana band",
        "grapes range apply banana bananas band",
        "grappa strange ample banana bananas band",
        "grape orange banana banana band",
        "band band",
    ]
    rows = [(f"c{i}", 0, "user", t, None) for i, t in enumerate(texts)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    d = tempfile.mkdtemp(prefix="sugg_idx_")
    build_index(tx, d, n_buckets=2, analyzer="simple")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _readers(spark, d):
    return (IndexReader(spark, d),
            IndexReader(spark, d, driver_local_max_postings=0,
                        driver_local_max_vocab=0))


def _rows(df):
    return [(r["token"], r["candidate"], round(r["score"], 6), r["freq"])
            for r in df.collect()]


def test_suggest_hand_computed_and_tier_identical(spark, sugg_setup):
    local, dist = _readers(spark, sugg_setup)
    body = {"s": {"text": "grap oranj banan aple",
                  "term": {"size": 5, "suggest_mode": "missing"}}}
    # hand-computed: score = 1 - ed/min(|token|,|cand|), ties by freq
    # desc then candidate asc
    want = [
        # aple: ample ed1 .75 / apple ed1 .75 (tie, term asc) /
        #       apply ed2 .5
        ("aple", "ample", 0.75, 1),
        ("aple", "apple", 0.75, 1),
        ("aple", "apply", 0.5, 1),
        # banan: banana ed1 .8 df4; bananas ed2 .6 df2; band ed2 .5 df5
        ("banan", "banana", 0.8, 4),
        ("banan", "bananas", 0.6, 2),
        ("banan", "band", 0.5, 5),
        # grap: grape ed1 .75; grapes/grappa ed2 .5 (tie, term asc)
        ("grap", "grape", 0.75, 2),
        ("grap", "grapes", 0.5, 1),
        ("grap", "grappa", 0.5, 1),
        # oranj: orange ed2 .6
        ("oranj", "orange", 0.6, 2),
    ]
    a = _rows(es_suggest(local, body))
    b = _rows(es_suggest(dist, body))
    assert sorted(a) == want
    assert a == b  # bit-identical tiers, same order


def test_suggest_mode_semantics(spark, sugg_setup):
    local, _ = _readers(spark, sugg_setup)
    # 'grapes' IS in the index (df 1)
    missing = es_suggest(local, {"s": {
        "text": "grapes", "term": {"suggest_mode": "missing"}}})
    assert missing.count() == 0
    always = _rows(es_suggest(local, {"s": {
        "text": "grapes", "term": {"suggest_mode": "always",
                                   "size": 10}}}))
    assert ("grapes", "grape", round(1 - 1 / 5, 6), 2) in always
    assert all(c != "grapes" for _, c, _, _ in always)  # never itself
    # popular: only candidates with df > the token's df (grapes df=1)
    popular = _rows(es_suggest(local, {"s": {
        "text": "grapes", "term": {"suggest_mode": "popular",
                                   "size": 10}}}))
    assert all(f > 1 for *_, f in popular)
    assert any(c == "grape" for _, c, _, _ in popular)


def test_suggest_sort_frequency_and_options(spark, sugg_setup):
    local, _ = _readers(spark, sugg_setup)
    # frequency sort: band (freq 5, score .5) outranks banana (4, .8)
    rows = _rows(es_suggest(local, {"s": {
        "text": "banan", "term": {"sort": "frequency", "size": 3}}}))
    assert [c for _, c, _, _ in rows] == ["band", "banana", "bananas"]
    # prefix_length 2: band/banana keep 'ba'; size caps per token
    rows = _rows(es_suggest(local, {"s": {
        "text": "banan", "term": {"prefix_length": 2, "size": 1}}}))
    assert rows == [("banan", "banana", 0.8, 4)]
    # min_word_length excludes short tokens entirely
    assert es_suggest(local, {"s": {
        "text": "ban", "term": {"min_word_length": 4}}}).count() == 0
    # min_doc_freq floors candidates
    rows = _rows(es_suggest(local, {"s": {
        "text": "banan", "term": {"min_doc_freq": 3, "size": 5}}}))
    assert {c for _, c, _, _ in rows} == {"banana", "band"}
    # max_edits 1 drops the 2-edit candidates
    rows = _rows(es_suggest(local, {"s": {
        "text": "grap", "term": {"max_edits": 1, "size": 5}}}))
    assert [c for _, c, _, _ in rows] == ["grape"]


def test_suggest_multiple_suggesters_and_wrapper(spark, sugg_setup):
    local, _ = _readers(spark, sugg_setup)
    body = {"suggest": {
        "a": {"text": "grap", "term": {"size": 1}},
        "b": {"text": "banan", "term": {"size": 1}}}}
    rows = es_suggest(local, body).collect()
    assert {(r["suggest"], r["candidate"]) for r in rows} == \
        {("a", "grape"), ("b", "banana")}


def test_suggest_errors(spark, sugg_setup):
    local, _ = _readers(spark, sugg_setup)
    with pytest.raises(ESQueryError, match="term"):
        es_suggest(local, {"s": {"text": "x"}})
    with pytest.raises(ESQueryError, match="max_edits"):
        es_suggest(local, {"s": {"text": "grap",
                                 "term": {"max_edits": 3}}})
    with pytest.raises(ESQueryError, match="suggest_mode"):
        es_suggest(local, {"s": {"text": "grap",
                                 "term": {"suggest_mode": "top"}}})
    with pytest.raises(ESQueryError, match="unsupported term-suggester"):
        es_suggest(local, {"s": {"text": "grap",
                                 "term": {"shard_size": 10}}})
    with pytest.raises(ESQueryError, match="field"):
        es_suggest(local, {"s": {"text": "grap",
                                 "term": {"field": "title"}}})


# ---------------------------------------------------------------------------
# phrase suggester
# ---------------------------------------------------------------------------

PS_TEXTS = [
    "grape banana split",
    "grape banana bread",
    "grape banana",
    "orange banana juice",
    "grappa banana",
    "grape orange",
    "banana band",
]


@pytest.fixture(scope="module")
def psugg_setup(spark):
    rows = [(f"c{i}", 0, "user", t, None) for i, t in enumerate(PS_TEXTS)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    d = tempfile.mkdtemp(prefix="psugg_idx_")
    build_index(tx, d, n_buckets=2, analyzer="simple",
                with_positions=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _py_lm(phrase: list[str], discount: float = 0.4) -> float:
    """Pure-python recompute of the suggester's SB LM over PS_TEXTS."""
    import math

    toks = [t.split() for t in PS_TEXTS]
    flat = [w for ts in toks for w in ts]
    cf: dict[str, int] = {}
    for w in flat:
        cf[w] = cf.get(w, 0) + 1
    bi: dict[tuple, int] = {}
    for ts in toks:
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n, v = len(flat), len(cf)

    def uni(w):
        return (cf.get(w, 0) + 1.0) / (n + v)

    s = math.log(uni(phrase[0]))
    for a, b in zip(phrase, phrase[1:]):
        if bi.get((a, b), 0) > 0 and cf.get(a, 0) > 0:
            s += math.log(bi[(a, b)] / cf[a])
        else:
            s += math.log(discount * uni(b))
    return s


def test_phrase_suggest_ranking_and_tiers(spark, psugg_setup, tmp_path):
    from research_engine_spark.operators.deletes import delete_by_query
    from research_engine_spark.operators.esdsl import (
        _bigram_counts,
        es_phrase_suggest,
    )

    body = {"s": {"text": "grap banana",
                  "phrase": {"size": 3, "max_errors": 1}}}
    local, dist = _readers(spark, psugg_setup)
    got_l = [(r.phrase, round(r.score, 10), r.n_changes)
             for r in es_phrase_suggest(local, body).collect()]
    got_d = [(r.phrase, round(r.score, 10), r.n_changes)
             for r in es_phrase_suggest(dist, body).collect()]
    assert got_l == got_d  # serving == distributed, bit-identical
    # candidates for 'grap': grape (ed1), grappa (ed2) — both phrases
    # beat the absent-token input; grape banana ranks first (bigram
    # count 3, cf 4)
    want = sorted(
        [("grape banana", _py_lm(["grape", "banana"]), 1),
         ("grappa banana", _py_lm(["grappa", "banana"]), 1)],
        key=lambda x: -x[1])
    assert [(p, round(s, 10), c) for p, s, c in want] == got_l
    # tombstone a doc holding the candidate bigram (on a copy of the
    # index): both tiers count only live docs
    d = str(tmp_path / "psugg_del")
    shutil.copytree(psugg_setup, d)
    local, dist = _readers(spark, d)
    assert delete_by_query(local, "conv_id = 'c0'") == 1
    dist.refresh()
    pairs = [("grape", "banana"), ("banana", "split"), ("grappa", "banana")]
    got = _bigram_counts(local, pairs)
    assert got == _bigram_counts(dist, pairs)
    assert got == {("grape", "banana"): 2, ("banana", "split"): 0,
                   ("grappa", "banana"): 1}


def test_phrase_suggest_confidence_gate(spark, psugg_setup):
    from research_engine_spark.operators.esdsl import es_phrase_suggest

    local, _ = _readers(spark, psugg_setup)
    # 'grape banana' is a REAL phrase: with suggest_mode always the
    # input's own score is the bar — only higher-scoring variants
    # return, and the unchanged input never does
    body = {"s": {"text": "grape banana",
                  "phrase": {"size": 5, "max_errors": 2,
                             "direct_generator": [
                                 {"suggest_mode": "always"}]}}}
    out = [r.phrase for r in es_phrase_suggest(local, body).collect()]
    assert "grape banana" not in out
    base = _py_lm(["grape", "banana"])
    for p in out:
        assert _py_lm(p.split()) > base
    # an impossible confidence bar empties the result
    body["s"]["phrase"]["confidence"] = 1e9
    assert es_phrase_suggest(local, body).count() == 0


def test_phrase_suggest_errors(spark, psugg_setup):
    from research_engine_spark.operators.esdsl import es_phrase_suggest

    local, _ = _readers(spark, psugg_setup)
    with pytest.raises(ESQueryError, match="gram_size"):
        es_phrase_suggest(local, {"s": {
            "text": "x", "phrase": {"gram_size": 3}}})
    with pytest.raises(ESQueryError, match="stupid_backoff"):
        es_phrase_suggest(local, {"s": {
            "text": "x", "phrase": {"smoothing": {"laplace":
                                                  {"alpha": 0.5}}}}})
    with pytest.raises(ESQueryError, match="direct_generator"):
        es_phrase_suggest(local, {"s": {
            "text": "x", "phrase": {"direct_generator": [{}, {}]}}})
    with pytest.raises(ESQueryError, match="'text' and 'phrase'"):
        es_phrase_suggest(local, {"s": {"text": "x",
                                        "term": {"field": "text"}}})
