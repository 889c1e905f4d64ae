"""ES-DSL surface corners (VERDICT r4 "What's missing" #4):
match_phrase_prefix, dis_max, multi_match type cross_fields, and the
term-level fuzzy query body — each on BOTH evaluation paths (zero-job
serving twin vs distributed), with membership checked against a planted
corpus and scores recomputed from the published semantics."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest

from research_engine_spark.operators.esdsl import (
    ESQueryError,
    es_search,
)
from research_engine_spark.operators.indexer import (
    bm25_idf,
    bm25_tf_part,
    build_index,
)
from research_engine_spark.operators.multifield import (
    MultiFieldReader,
    build_multifield_index,
)
from research_engine_spark.operators.scorer import (
    IndexReader,
    _prefix_expansions,
    search,
)

BIG = 10_000

# conv ids sort like doc ids (one turn per conv), so doc_id == index here
TEXTS = [
    "spark shuffle service runs fast",                       # 0: 1 hit
    "spark shuffles data across nodes",                      # 1: 1 hit
    "spark shuffling happens in stage",                      # 2: 1 hit
    "one spark shuffle and another spark shuffles here",     # 3: ptf 2
    "the shuffle avoided spark entirely",                    # 4: no
    "spark sorting beats shuffle sometimes",                 # 5: no
    "no relevant tokens here at all",                        # 6: no
]


@pytest.fixture(scope="module")
def pp_setup(spark):
    from datetime import datetime

    tx = spark.createDataFrame(
        [(f"conv_{i:02d}", 0, "user", t, datetime(2024, 1, 1))
         for i, t in enumerate(TEXTS)],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp")
    d = tempfile.mkdtemp(prefix="esdsl_pp_")
    build_index(tx, d, n_buckets=4, with_positions=True,
                analyzer="simple")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _readers(spark, d):
    return (IndexReader(spark, d),
            IndexReader(spark, d, driver_local_max_postings=0,
                        driver_local_max_vocab=0))


def _pairs(df):
    pdf = df.select("doc_id", "score").toPandas()
    return sorted(zip(pdf["doc_id"].tolist(),
                      np.round(pdf["score"].to_numpy(np.float64), 10)))


def test_prefix_expansions_order_and_cap(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    want = ["shuffle", "shuffles", "shuffling"]
    assert _prefix_expansions(local, "shuf", 50) == want
    assert _prefix_expansions(dist, "shuf", 50) == want  # job path
    assert _prefix_expansions(local, "shuf", 2) == want[:2]
    assert _prefix_expansions(local, "zzz", 50) == []


def test_match_phrase_prefix_membership_and_scores(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    body = {"query": {"match_phrase_prefix": {"text": "spark shuf"}},
            "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    assert [d for d, _ in got] == [0, 1, 2, 3]

    # recompute from the documented semantics: sum_idf = idf(spark) +
    # idf(max df among expansions); ptf = completions of the phrase
    stats = local.stats
    n, avgdl = stats["n_docs"], stats["avgdl"]
    ts = local.term_stats_arrow(["spark", "shuffle"])
    df_by = dict(zip(ts["term"], ts["df"]))
    sum_idf = float(bm25_idf(n, np.array([df_by["spark"]]))[0]) \
        + float(bm25_idf(n, np.array([df_by["shuffle"]]))[0])  # max df = shuffle's 4
    dls = {i: len(t.split()) for i, t in enumerate(TEXTS)}
    ptf = {0: 1, 1: 1, 2: 1, 3: 2}
    want = sorted(
        (i, np.round(sum_idf * float(bm25_tf_part(
            np.array([ptf[i]]), np.array([dls[i]]), avgdl,
            stats["k1"], stats["b"])[0]), 10))
        for i in ptf)
    assert got == want


def test_match_phrase_prefix_expansion_cap(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    body = {"query": {"match_phrase_prefix": {
        "text": {"query": "spark shuf", "max_expansions": 1}}},
        "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    # only "shuffle" (first in term order) completes: docs 0 and 3
    assert [d for d, _ in got] == [0, 3]


def test_match_phrase_prefix_single_token(spark, pp_setup):
    """One-token phrase prefix = a SCORED prefix query (tf of any
    expansion occurrence)."""
    local, dist = _readers(spark, pp_setup)
    body = {"query": {"match_phrase_prefix": {"text": "shuf"}},
            "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    assert [d for d, _ in got] == [0, 1, 2, 3, 4, 5]


def test_match_phrase_prefix_no_expansion_matches_nothing(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    body = {"query": {"match_phrase_prefix": {"text": "spark zzz"}},
            "size": BIG}
    assert es_search(local, body).count() == 0
    assert es_search(dist, body).count() == 0


def test_fuzzy_clause_equals_fuzzy_match(spark, pp_setup):
    """Under the simple analyzer a one-word query analyzes to itself, so
    the term-level fuzzy body must equal match-with-fuzziness exactly —
    and the two evaluation paths must agree."""
    local, dist = _readers(spark, pp_setup)
    want = _pairs(search(dist, "shufle", k=BIG, fuzzy=True,
                         with_text=False))
    assert want  # the typo reaches shuffle via 1 edit
    for r in (local, dist):
        got = _pairs(es_search(
            r, {"query": {"fuzzy": {"text": {"value": "shufle"}}},
                "size": BIG}))
        assert got == want


def test_fuzzy_clause_zero_fuzziness_is_term(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    want = _pairs(es_search(
        local, {"query": {"term": {"text": "shuffle"}}, "size": BIG}))
    for r in (local, dist):
        got = _pairs(es_search(
            r, {"query": {"fuzzy": {"text": {"value": "shuffle",
                                             "fuzziness": 0}}},
                "size": BIG}))
        assert got == want


def test_dis_max_combination(spark, pp_setup):
    local, dist = _readers(spark, pp_setup)
    tie = 0.3
    a = dict(_pairs(es_search(
        local, {"query": {"term": {"text": "spark"}}, "size": BIG})))
    c = dict(_pairs(es_search(
        local, {"query": {"term": {"text": "shuffle"}}, "size": BIG})))
    want = sorted(
        (d, np.round(
            max(a.get(d, 0.0), c.get(d, 0.0))
            + tie * (a.get(d, 0.0) + c.get(d, 0.0)
                     - max(a.get(d, 0.0), c.get(d, 0.0))), 10))
        for d in set(a) | set(c))
    body = {"query": {"dis_max": {
        "queries": [{"term": {"text": "spark"}},
                    {"term": {"text": "shuffle"}}],
        "tie_breaker": tie}}, "size": BIG}
    for r in (local, dist):
        got = _pairs(es_search(r, body))
        assert got == want


def test_dis_max_validation(spark, pp_setup):
    local, _ = _readers(spark, pp_setup)
    with pytest.raises(ESQueryError):
        es_search(local, {"query": {"dis_max": {"queries": []}}})


MF_ROWS = [
    # (conv, role, text): 'alpha' only ever in role, 'beta' only in text
    ("conv_00", "alpha", "beta gamma delta"),
    ("conv_01", "alpha", "gamma delta epsilon"),
    ("conv_02", "user", "beta gamma epsilon"),
    ("conv_03", "user", "gamma delta epsilon"),
]


@pytest.fixture(scope="module")
def cf_setup(spark):
    from datetime import datetime

    tx = spark.createDataFrame(
        [(c, 0, r, t, datetime(2024, 1, 1)) for c, r, t in MF_ROWS],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp")
    d = tempfile.mkdtemp(prefix="esdsl_cf_")
    build_multifield_index(tx, d, {"text": 1.0, "role": 1.0}, n_buckets=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mf_readers(spark, d):
    local = MultiFieldReader(spark, d)
    dist = MultiFieldReader(spark, d)
    for r in dist.readers.values():
        r.driver_local_max_postings = 0
        r.driver_local_max_vocab = 0
    return local, dist


def test_cross_fields_and_spans_fields(spark, cf_setup):
    """operator:"and" over cross_fields: every term must appear in SOME
    field — doc 0 has alpha only in role and beta only in text, which
    field-centric best_fields-with-AND could never match."""
    local, dist = _mf_readers(spark, cf_setup)
    body = {"query": {"multi_match": {
        "query": "alpha beta", "fields": ["text", "role"],
        "type": "cross_fields", "operator": "and"}}, "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    assert [d for d, _ in got] == [0]


def test_cross_fields_or_scores_are_per_term_dismax(spark, cf_setup):
    local, dist = _mf_readers(spark, cf_setup)
    body = {"query": {"multi_match": {
        "query": "alpha beta", "fields": ["text", "role"],
        "type": "cross_fields"}}, "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    # equivalent hand-built composition: bool should of per-term dis_max
    twin = {"query": {"bool": {"should": [
        {"dis_max": {"queries": [{"term": {"text": "alpha"}},
                                 {"term": {"role": "alpha"}}]}},
        {"dis_max": {"queries": [{"term": {"text": "beta"}},
                                 {"term": {"role": "beta"}}]}},
    ]}}, "size": BIG}
    assert _pairs(es_search(local, twin)) == got
    assert [d for d, _ in got] == [0, 1, 2]  # any term anywhere


def test_cross_fields_minimum_should_match(spark, cf_setup):
    local, dist = _mf_readers(spark, cf_setup)
    body = {"query": {"multi_match": {
        "query": "alpha beta epsilon", "fields": ["text", "role"],
        "type": "cross_fields", "minimum_should_match": 2}}, "size": BIG}
    got = _pairs(es_search(local, body))
    assert _pairs(es_search(dist, body)) == got
    # per-TERM groups: doc 0 has alpha+beta, doc 1 alpha+epsilon,
    # doc 2 beta+epsilon; doc 3 has only epsilon
    assert [d for d, _ in got] == [0, 1, 2]


def test_sloppy_phrase_planted_weights(spark):
    """match_phrase slop: planted positions, hand-computed sloppy tf
    (all in-order pairs, weight 1/(1+gap)), serving == distributed."""
    import math
    import shutil
    import tempfile

    from research_engine_spark.operators.esdsl import (
        ESQueryError,
        es_search,
    )
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import IndexReader

    texts = [
        "alpha beta rest rest rest",        # adjacent: w=1
        "alpha gap beta rest rest",         # gap 1: w=1/2
        "alpha gap gap beta rest",          # gap 2: w=1/3
        "alpha gap gap gap beta",           # gap 3: outside slop 2
        "alpha beta alpha gap beta",        # pairs: a1->b2 d=1, a3->b5 d=2
        "beta alpha rest rest rest",        # wrong order: no match
        "rest rest rest rest rest",
        # six gap-2 pairs: w = 6 * (1/3), 4 filler tokens apart
        " rest rest rest rest ".join(["alpha gap gap beta"] * 6),
    ]
    rows = [(f"c{i}", 0, "user", t, None) for i, t in enumerate(texts)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    d = tempfile.mkdtemp(prefix="sloppy_idx_")
    try:
        build_index(tx, d, n_buckets=2, analyzer="simple",
                    with_positions=True)
        local = IndexReader(spark, d)
        dist = IndexReader(spark, d, driver_local_max_postings=0,
                           driver_local_max_vocab=0)
        body = {"query": {"match_phrase": {"text": {
            "query": "alpha beta", "slop": 2}}}, "size": 10}
        got_l = {r.doc_id: r.score for r in
                 es_search(local, body).collect()}
        got_d = {r.doc_id: r.score for r in
                 es_search(dist, body).collect()}
        assert got_l == got_d  # bit-identical tiers
        # hand-computed: alpha and beta each appear in 7 of the 8 docs
        n = 8
        idf = sum(math.log(1 + (n - 7 + 0.5) / (7 + 0.5))
                  for _ in range(2))
        dls = [5] * 7 + [44]
        avgdl = sum(dls) / n
        # doc 7: the executor once summed the six 1/3 weights one by one
        # in shuffle order (1.9999999999999998); both tiers now add
        # n * w per displacement, exactly 2.0
        assert 6 * (1 / 3) == 2.0
        wtf = {0: 1.0, 1: 0.5, 2: 1 / 3, 4: 1.0 + 0.5, 7: 6 * (1 / 3)}
        want = {doc: idf * w / (w + 1.2 * (1 - 0.75 + 0.75 * dls[doc]
                                           / avgdl))
                for doc, w in wtf.items()}
        assert set(got_l) == set(want)
        for doc in want:
            assert abs(got_l[doc] - want[doc]) < 1e-12
        assert got_l[7] == want[7]  # the same float expression, to the bit
        # longer phrases reject loudly
        with pytest.raises(ESQueryError, match="TWO-term"):
            es_search(local, {"query": {"match_phrase": {"text": {
                "query": "alpha beta rest", "slop": 1}}}})
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_span_near_unordered_and_ordered(spark):
    import shutil
    import tempfile

    from research_engine_spark.operators.esdsl import (
        ESQueryError,
        es_search,
    )
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import IndexReader

    texts = [
        "alpha beta rest rest rest",   # ordered d=1
        "beta gap alpha rest rest",    # REVERSED, gap 1: unordered only
        "rest alpha rest beta rest",   # ordered d=2
        "rest rest rest rest rest",
    ]
    rows = [(f"c{i}", 0, "user", t, None) for i, t in enumerate(texts)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "ts timestamp")
    d = tempfile.mkdtemp(prefix="span_idx_")
    try:
        build_index(tx, d, n_buckets=2, analyzer="simple",
                    with_positions=True)
        local = IndexReader(spark, d)
        dist = IndexReader(spark, d, driver_local_max_postings=0,
                           driver_local_max_vocab=0)

        def q(in_order):
            return {"query": {"span_near": {
                "clauses": [{"span_term": {"text": "alpha"}},
                            {"span_term": {"text": "beta"}}],
                "slop": 2, "in_order": in_order}}, "size": 10}

        for r in (local, dist):
            ordered = {x.doc_id for x in es_search(r, q(True)).collect()}
            unordered = {x.doc_id
                         for x in es_search(r, q(False)).collect()}
            assert ordered == {0, 2}
            assert unordered == {0, 1, 2}
        # tiers bit-identical on the unordered path too
        a = [(x.doc_id, x.score)
             for x in es_search(local, q(False)).collect()]
        b = [(x.doc_id, x.score)
             for x in es_search(dist, q(False)).collect()]
        assert a == b
        # error surface
        with pytest.raises(ESQueryError, match="TWO span_term"):
            es_search(local, {"query": {"span_near": {
                "clauses": [{"span_term": {"text": "alpha"}}]}}})
        with pytest.raises(ESQueryError, match="ONE field"):
            es_search(local, {"query": {"span_near": {"clauses": [
                {"span_term": {"text": "alpha"}},
                {"span_term": {"role": "beta"}}]}}})
    finally:
        shutil.rmtree(d, ignore_errors=True)
