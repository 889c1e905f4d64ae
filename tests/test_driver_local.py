"""The zero-Spark-job driver-local top-k (DRIVER_TOPK_MAX_POSTINGS gate):
bit-identical to the distributed path on the full reference set, honors
tombstones, falls back above the budget, and really issues no Spark job.
"""

from __future__ import annotations

import numpy as np
import pytest

from research_engine_spark.operators.scorer import IndexReader, search
from tests.conftest import REFERENCE_QUERIES


@pytest.fixture(scope="module")
def local_reader(spark, index_dir):
    return IndexReader(spark, index_dir)  # default budget: gate fires


def _pdf(df):
    return df.toPandas()


@pytest.mark.parametrize("query", REFERENCE_QUERIES)
def test_bit_identical_to_distributed(local_reader, reader, query):
    stats: dict = {}
    loc = _pdf(search(local_reader, query, k=10, with_text=False,
                      prune_stats=stats))
    assert stats.get("path") == "driver_local"
    dist = _pdf(search(reader, query, k=10, with_text=False, prune=False))
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0), (
        f"{query!r}: driver-local scores not bit-identical")


def test_zero_spark_jobs(local_reader, spark):
    sc = spark.sparkContext
    # warm the term dictionary so the probe measures steady state
    search(local_reader, "neural networks", k=5, with_text=False).count()
    sc.setJobGroup("driver_local_probe", "probe")
    try:
        df = search(local_reader, "neural networks", k=5, with_text=False)
        rows = df.collect()  # LocalTableScan: executeCollect, no job
        assert len(rows) == 5
        jobs = sc.statusTracker().getJobIdsForGroup("driver_local_probe")
        assert list(jobs) == [], f"driver-local path launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)


def test_with_text_equality(local_reader, reader):
    loc = _pdf(search(local_reader, "neural networks", k=10))
    dist = _pdf(search(reader, "neural networks", k=10, prune=False))
    assert loc.to_dict("records") == dist.to_dict("records")


def test_fuzzy_driver_local(local_reader, reader):
    q = "neurel netwerk"
    loc = _pdf(search(local_reader, q, k=10, with_text=False, fuzzy=True))
    dist = _pdf(search(reader, q, k=10, with_text=False, fuzzy=True))
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0)


def test_custom_params(local_reader, oracle):
    eng = _pdf(search(local_reader, "machine learning", k=5, k1=0.9, b=0.4,
                      with_text=False))
    ora = oracle.search("machine learning", k=5, k1=0.9, b=0.4)
    assert list(eng["doc_id"]) == list(ora["doc_id"])
    assert np.allclose(eng["score"], ora["score"], rtol=0, atol=0)


def test_budget_fallback(spark, index_dir):
    """Σ df over budget -> the distributed path runs (path != local)."""
    r = IndexReader(spark, index_dir, driver_local_max_postings=1)
    stats: dict = {}
    df = search(r, "neural networks", k=5, with_text=False, prune=False,
                prune_stats=stats)
    assert stats.get("path") != "driver_local"
    assert df.count() == 5


def test_tombstones_respected(spark, transcripts_df, tmp_path):
    """Driver-local path must exclude tombstoned docs (and match the
    distributed anti-join), then purge cleanly."""
    from research_engine_spark.operators.deletes import delete_ids
    from research_engine_spark.operators.indexer import build_index

    d = str(tmp_path / "idx")
    build_index(transcripts_df.limit(400), d, n_buckets=4)
    r = IndexReader(spark, d)
    base = _pdf(search(r, "neural networks", k=5, with_text=False))
    victims = [int(x) for x in base["doc_id"][:2]]
    delete_ids(d, victims)
    r.refresh()
    stats: dict = {}
    after = _pdf(search(r, "neural networks", k=5, with_text=False,
                        prune_stats=stats))
    assert stats.get("path") == "driver_local"
    assert not set(victims) & set(after["doc_id"])
    dist = _pdf(search(
        IndexReader(spark, d, driver_local_max_postings=0),
        "neural networks", k=5, with_text=False, prune=False))
    assert list(after["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(after["score"], dist["score"], rtol=0, atol=0)


def test_search_many_driver_local(local_reader, reader, spark):
    """Batch driver-local: bit-identical to the distributed batch path,
    zero Spark jobs for the no-text case."""
    from research_engine_spark.operators.scorer import search_many

    qs = {"a": "neural networks", "b": "machine learning",
          "it's": "transformer attention"}  # qid with a quote: escaping
    sc = spark.sparkContext
    # warm the term dictionary outside the probe
    loc_df = search_many(local_reader, qs, k=5)
    sc.setJobGroup("batch_local_probe", "probe")
    try:
        loc = loc_df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("batch_local_probe")
        assert list(jobs) == [], f"batch driver-local launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)
    dist = search_many(reader, qs, k=5).collect()
    assert [tuple(r) for r in loc] == [tuple(r) for r in dist]


def test_search_many_driver_local_fuzzy(local_reader, reader):
    from research_engine_spark.operators.scorer import search_many

    qs = ["neurel netwerk", "machne lerning"]
    loc = search_many(local_reader, qs, k=5, fuzzy=True).collect()
    dist = search_many(reader, qs, k=5, fuzzy=True).collect()
    assert [tuple(r) for r in loc] == [tuple(r) for r in dist]


def test_search_many_driver_local_with_text(local_reader, reader):
    from research_engine_spark.operators.scorer import search_many

    loc = search_many(local_reader, ["neural networks"], k=5,
                      with_text=True).collect()
    dist = search_many(reader, ["neural networks"], k=5,
                       with_text=True).collect()
    assert [tuple(r) for r in loc] == [tuple(r) for r in dist]


@pytest.fixture(scope="module")
def pos_pair(spark):
    """(driver-local reader, distributed reader) over one positional
    index."""
    import shutil
    import tempfile

    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.indexer import build_index

    tx = synth_transcripts(spark, n_convs=60, seed=21)
    d = tempfile.mkdtemp()
    build_index(tx, d, n_buckets=4, with_positions=True)
    yield (IndexReader(spark, d),
           IndexReader(spark, d, driver_local_max_postings=0))
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("phrase", [
    "neural networks", "machine learning", "the neural",
    "neural neural", "nonexistentterm networks"])
def test_phrase_driver_local(pos_pair, phrase):
    from research_engine_spark.operators.scorer import phrase_search

    loc_r, dist_r = pos_pair
    loc = _pdf(phrase_search(loc_r, phrase, k=10))
    dist = _pdf(phrase_search(dist_r, phrase, k=10))
    assert list(loc["doc_id"]) == list(dist["doc_id"]), phrase
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0), phrase


def test_phrase_driver_local_zero_jobs(pos_pair, spark):
    from research_engine_spark.operators.scorer import phrase_search

    loc_r, _ = pos_pair
    phrase_search(loc_r, "neural networks", k=5).count()  # warm dict
    sc = spark.sparkContext
    sc.setJobGroup("phrase_local_probe", "probe")
    try:
        rows = phrase_search(loc_r, "neural networks", k=5).collect()
        assert rows
        jobs = sc.statusTracker().getJobIdsForGroup("phrase_local_probe")
        assert list(jobs) == [], f"phrase driver-local launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)


@pytest.mark.parametrize("query", ["neural networks", "machine learning"])
def test_bool_should_driver_local(pos_pair, query):
    from research_engine_spark.operators.scorer import bool_should_search

    loc_r, dist_r = pos_pair
    loc = _pdf(bool_should_search(loc_r, query, k=10))
    dist = _pdf(bool_should_search(dist_r, query, k=10))
    assert list(loc["doc_id"]) == list(dist["doc_id"]), query
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0), query


def test_phrase_driver_local_with_text(pos_pair):
    from research_engine_spark.operators.scorer import phrase_search

    loc_r, dist_r = pos_pair
    loc = _pdf(phrase_search(loc_r, "neural networks", k=5, with_text=True))
    dist = _pdf(phrase_search(dist_r, "neural networks", k=5,
                              with_text=True))
    assert loc.to_dict("records") == dist.to_dict("records")


def test_phrase_driver_local_tombstones(spark, tmp_path):
    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.deletes import delete_ids
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import phrase_search

    d = str(tmp_path / "pidx")
    # same corpus as pos_pair: "neural networks" is known to occur here
    build_index(synth_transcripts(spark, n_convs=60, seed=21), d,
                n_buckets=4, with_positions=True)
    r = IndexReader(spark, d)
    base = _pdf(phrase_search(r, "neural networks", k=5))
    assert len(base) > 0
    victims = [int(x) for x in base["doc_id"][:1]]
    delete_ids(d, victims)
    r.refresh()
    after = _pdf(phrase_search(r, "neural networks", k=5))
    assert not set(victims) & set(after["doc_id"])
    dist = _pdf(phrase_search(
        IndexReader(spark, d, driver_local_max_postings=0),
        "neural networks", k=5))
    assert list(after["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(after["score"], dist["score"], rtol=0, atol=0)


def test_levenshtein_many_matches_scalar():
    """levenshtein_many (the F.levenshtein numpy twin) vs a scalar
    reference DP on random short tokens, incl. empty strings."""
    import random

    from research_engine_spark.functions.editdist import levenshtein_many

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            nd = [i]
            for j, cb in enumerate(b, 1):
                nd.append(min(d[j] + 1, nd[-1] + 1, d[j - 1] + (ca != cb)))
            d = nd
        return d[-1]

    rnd = random.Random(5)
    cands = ["".join(rnd.choices("abcdef", k=rnd.randint(0, 9)))
             for _ in range(300)]
    for q in ["", "a", "abc", "fedcba", "abcdefab", "ünïcode"]:
        got = levenshtein_many(cands, q)
        assert list(got) == [lev(t, q) for t in cands], q


FUZZY_QUERIES = ["neurel netwerk traning", "transformr atention",
                 "hte machin lerning"]


@pytest.mark.parametrize("query", FUZZY_QUERIES)
def test_fuzzy_driver_local_identity(local_reader, spark, query):
    from research_engine_spark.operators.scorer import IndexReader, search

    dist = IndexReader(spark, local_reader.index_dir,
                       driver_local_max_postings=0,
                       driver_local_max_vocab=0)
    loc = _pdf(search(local_reader, query, k=10, with_text=False,
                      fuzzy=True))
    d = _pdf(search(dist, query, k=10, with_text=False, fuzzy=True))
    assert list(loc["doc_id"]) == list(d["doc_id"]), query
    assert np.allclose(loc["score"], d["score"], rtol=0, atol=0), query


def test_fuzzy_batch_driver_local_identity(local_reader, spark):
    from research_engine_spark.operators.scorer import (IndexReader,
                                                        search_many)

    dist = IndexReader(spark, local_reader.index_dir,
                       driver_local_max_postings=0,
                       driver_local_max_vocab=0)
    loc = _pdf(search_many(local_reader, FUZZY_QUERIES, k=5, fuzzy=True))
    d = _pdf(search_many(dist, FUZZY_QUERIES, k=5, fuzzy=True))
    assert loc.to_dict("records") == d.to_dict("records")


def test_fuzzy_driver_local_zero_jobs(local_reader, spark):
    from research_engine_spark.operators.scorer import search

    search(local_reader, FUZZY_QUERIES[0], k=5, with_text=False,
           fuzzy=True).collect()  # warm dictionary + vocab
    sc = spark.sparkContext
    sc.setJobGroup("fuzzy_local_probe", "probe")
    try:
        rows = search(local_reader, FUZZY_QUERIES[0], k=5,
                      with_text=False, fuzzy=True).collect()
        assert rows
        jobs = sc.statusTracker().getJobIdsForGroup("fuzzy_local_probe")
        assert list(jobs) == [], f"fuzzy driver-local launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)


def test_vocab_arrow_budget_gate(local_reader, spark):
    from research_engine_spark.operators.scorer import IndexReader

    v = local_reader.vocab_arrow()
    assert v is not None and {"term", "df", "max_tf", "min_dl"} <= set(
        v.columns)
    assert v["term"].is_unique  # segment-aggregated
    assert local_reader.vocab_arrow() is v  # cached per reader
    gated = IndexReader(spark, local_reader.index_dir,
                        driver_local_max_vocab=0)
    assert gated.vocab_arrow() is None
    tiny = IndexReader(spark, local_reader.index_dir,
                       driver_local_max_vocab=1)
    assert tiny.vocab_arrow() is None  # over budget -> distributed


def test_multifield_driver_local(spark, tmp_path):
    """best_fields zero-job twin: bit-identical doc order to the
    distributed union+agg (scores to 1e-12 under tie_breaker sums), and
    really no Spark job."""
    from pyspark.sql import functions as F

    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.multifield import (
        MultiFieldReader, build_multifield_index, search_multifield)

    tx = synth_transcripts(spark, n_convs=50, seed=9).withColumn(
        "title", F.substring("text", 1, 20))
    d = str(tmp_path / "mf")
    build_multifield_index(tx, d, {"text": 1.0, "title": 3.0}, n_buckets=4)
    mf = MultiFieldReader(spark, d)
    mfd = MultiFieldReader(spark, d)
    for r in mfd.readers.values():
        r.driver_local_max_postings = 0
    for tie in (0.0, 0.3):
        a = _pdf(search_multifield(mf, "neural networks", k=10,
                                   tie_breaker=tie))
        b = _pdf(search_multifield(mfd, "neural networks", k=10,
                                   tie_breaker=tie))
        assert list(a["doc_id"]) == list(b["doc_id"]), tie
        assert np.allclose(a["score"], b["score"], rtol=1e-12, atol=0), tie
    sc = spark.sparkContext
    search_multifield(mf, "neural networks", k=5).collect()  # warm
    sc.setJobGroup("mf_local_probe", "probe")
    try:
        rows = search_multifield(mf, "neural networks", k=5).collect()
        assert rows
        jobs = sc.statusTracker().getJobIdsForGroup("mf_local_probe")
        assert list(jobs) == [], f"multifield local launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)


# ---------------------------------------------------------------------------
# block-max-gated serving tier (VERDICT r4 #3): zero-job top-k for queries
# over the flat Σ df budget whose answer lives in few blocks
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from research_engine_spark.corpus import synth_transcripts  # noqa: E402
from research_engine_spark.functions.analyzer import analyze_query  # noqa: E402
from research_engine_spark.operators.indexer import build_index  # noqa: E402
from research_engine_spark.operators.scorer import (  # noqa: E402
    _fuzzy_term_meta,
    _term_meta,
)


@pytest.fixture(scope="module")
def blockmax_setup(spark, tmp_path_factory):
    """900 convs, bursty (real-text tf/dl variance, the shape where
    block maxima separate), with a rare marker term CLUSTERED in the
    first conversation's docID range — the rare∧common query shape the
    doc-range-aligned bounds are built for."""
    d = str(tmp_path_factory.mktemp("bmx") / "idx")
    tx = synth_transcripts(spark, n_convs=900, seed=7, burstiness=0.3)
    tx = tx.withColumn(
        "text",
        F.when(F.col("conv_id") == "conv_00000000",
               F.concat(F.col("text"), F.lit(" zzrare marker")))
        .otherwise(F.col("text")))
    build_index(tx, d, n_buckets=4)
    return d


def _sum_df(spark, d, q):
    r = IndexReader(spark, d)
    meta = _term_meta(r, analyze_query(q), 1.2, 0.75)
    return int(meta["df"].sum())


def _pair(spark, d, q, k, budget):
    """(serving frame + stats, distributed frame) for one query."""
    r_local = IndexReader(spark, d, driver_local_max_postings=budget)
    st: dict = {}
    loc = search(r_local, q, k=k, with_text=False, prune_stats=st)
    r_dist = IndexReader(spark, d, driver_local_max_postings=0,
                         driver_local_max_vocab=0)
    dist = search(r_dist, q, k=k, with_text=False, prune=False)
    # the same columns in the same positions on every tier
    assert loc.schema.simpleString() == dist.schema.simpleString()
    return _pdf(loc), st, _pdf(dist)


def test_blockmax_single_term_bit_identical(spark, blockmax_setup):
    d = blockmax_setup
    sdf = _sum_df(spark, d, "the")
    loc, st, dist = _pair(spark, d, "the", 5, budget=sdf - 1)
    assert st.get("path") == "driver_local_blockmax", st
    assert st["n_keep"] < st["n_blocks"]
    assert st["blockmax_kept_postings"] < sdf
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0)


def test_blockmax_multi_term_phase_b_bit_identical(spark, blockmax_setup):
    """rare (docID-clustered) ∧ common: the aligned bounds prune the
    common term's blocks outside the rare term's range; the θ''-filtered
    candidates rescore EXACTLY (phase B), bit-identical to distributed."""
    d = blockmax_setup
    q = "zzrare the"
    sdf = _sum_df(spark, d, q)
    loc, st, dist = _pair(spark, d, q, 5, budget=sdf - 1)
    assert st.get("path") == "driver_local_blockmax", st
    assert st["n_keep"] < st["n_blocks"]
    assert st.get("n_candidates", 0) > 0
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0)


def test_blockmax_zero_spark_jobs(spark, blockmax_setup):
    d = blockmax_setup
    sdf = _sum_df(spark, d, "the")
    r = IndexReader(spark, d, driver_local_max_postings=sdf - 1)
    search(r, "the", k=5, with_text=False).count()  # warm dictionaries
    sc = spark.sparkContext
    sc.setJobGroup("blockmax_probe", "probe")
    try:
        st: dict = {}
        rows = search(r, "the", k=5, with_text=False,
                      prune_stats=st).collect()
        assert st.get("path") == "driver_local_blockmax"
        assert len(rows) == 5
        jobs = sc.statusTracker().getJobIdsForGroup("blockmax_probe")
        assert list(jobs) == [], f"blockmax path launched jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)


def test_blockmax_skips_fuzzy_clause_collisions(spark, blockmax_setup):
    """Two fuzzy clauses on one index term ("th\u0435" with a Cyrillic
    e expands to "the") sum two partials per posting; the block plan
    weighs one clause per term, so its bounds would skip blocks holding
    top-k docs. Such a query keeps the flat tier's exact answer."""
    d = blockmax_setup
    q = "the th\u0435 networks network"
    r = IndexReader(spark, d)
    meta = _fuzzy_term_meta(r, analyze_query(q), 1.2, 0.75, 50)
    assert not meta["term"].is_unique
    sdf = int(meta["df"].sum())
    r_local = IndexReader(spark, d, driver_local_max_postings=sdf)
    st: dict = {}
    loc = search(r_local, q, k=10, fuzzy=True, with_text=False,
                 prune_stats=st).collect()
    r_dist = IndexReader(spark, d, driver_local_max_postings=0,
                         driver_local_max_vocab=0)
    dist = search(r_dist, q, k=10, fuzzy=True, with_text=False).collect()
    assert [tuple(x) for x in loc] == [tuple(x) for x in dist], st
    assert st.get("path") == "driver_local", st


def test_blockmax_respects_tombstones_and_budget(spark, blockmax_setup,
                                                 tmp_path):
    import shutil

    from research_engine_spark.operators.deletes import delete_ids

    d0 = blockmax_setup
    d = str(tmp_path / "idx")
    shutil.copytree(d0, d)
    sdf = _sum_df(spark, d, "the")
    # budget below one block's postings: path must fall back distributed
    loc, st, dist = _pair(spark, d, "the", 5, budget=100)
    assert st.get("path") != "driver_local_blockmax"
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    # tombstones disable the prune math (Lucene pre-merge posture)
    delete_ids(d, [0])
    r = IndexReader(spark, d, driver_local_max_postings=sdf - 1)
    st2: dict = {}
    out = _pdf(search(r, "the", k=5, with_text=False, prune_stats=st2))
    assert st2.get("path") != "driver_local_blockmax"
    assert 0 not in set(out["doc_id"])


@pytest.mark.parametrize("q", ["the", "the and of"])
def test_blockmax_fall_through_plans_once(spark, blockmax_setup, monkeypatch,
                                          q):
    """A query the blockmax tier declines (kept blocks over a budget
    below one block) falls through to the distributed gate, which reuses
    the tier's block plan: one block-metadata read and one θ-block fetch
    per query."""
    from research_engine_spark.operators import scorer

    calls = {"meta": 0, "theta": 0}

    def counted(name, fn):
        def wrapper(*args):
            calls[name] += 1
            return fn(*args)
        return wrapper

    monkeypatch.setattr(scorer, "_block_meta_arrow",
                        counted("meta", scorer._block_meta_arrow))
    monkeypatch.setattr(scorer, "_fetch_blocks_arrow",
                        counted("theta", scorer._fetch_blocks_arrow))
    loc, st, dist = _pair(spark, blockmax_setup, q, 5, budget=100)
    assert st["blockmax_kept_postings"] > 100, st  # the tier ran, declined
    assert st["gate"] == "driver", st
    assert calls == {"meta": 1, "theta": 1}, (calls, st)
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0)


def test_blockmax_maxscore_essential_lists(spark, tmp_path):
    """MaxScore essential-list partition (r6): on a HOMOGENEOUS corpus
    (burstiness 0 — skyline block maxima cannot separate blocks, the
    shape where the r5 gate kept 100% of blocks and fell back) a
    stopword∧content query must still serve driver-locally: the
    stopword's gub stays below θ so its list is non-essential, phase A
    decodes only the content terms' postings, and the tightened
    candidate bound (fully-decoded terms carry zero slack) keeps the
    phase-B rescore within budget. Bit-identical to distributed."""
    d = str(tmp_path / "ms_idx")
    tx = synth_transcripts(spark, n_convs=900, seed=11, burstiness=0.0)
    build_index(tx, d, n_buckets=4)
    q = "what is the neural network"
    sdf = _sum_df(spark, d, q)
    loc, st, dist = _pair(spark, d, q, 5, budget=sdf - 1)
    assert st.get("path") == "driver_local_blockmax", st
    # essential restriction: phase A decoded strictly fewer postings
    # than the flat Σ df (the non-essential hot terms were skipped)
    assert st["blockmax_kept_postings"] < sdf, st
    assert st["n_keep"] < st["n_blocks"], st
    assert list(loc["doc_id"]) == list(dist["doc_id"])
    assert np.allclose(loc["score"], dist["score"], rtol=0, atol=0)


# ---------------------------------------------------------------------------
# driver-side text fetch (_with_text): the driver-local tiers read their k
# docs rows with pyarrow — the same rows, score bits included, as the
# budget-0 reader's Spark join, and zero Spark jobs; without text they
# return the distributed tier's columns
# ---------------------------------------------------------------------------

import itertools  # noqa: E402
import os  # noqa: E402

from research_engine_spark.operators.scorer import (  # noqa: E402
    phrase_search,
    search_many,
)

TEXT_SCHEMA = ("struct<doc_id:bigint,score:double,conv_id:string,"
               "turn_idx:int,text:string>")
_probe_ids = itertools.count()


def _rows_and_jobs(spark, make_df):
    """(collected rows as tuples, Spark jobs launched) for one call."""
    sc = spark.sparkContext
    group = f"text_probe_{next(_probe_ids)}"
    sc.setJobGroup(group, "probe")
    try:
        rows = [tuple(r) for r in make_df().collect()]
    finally:
        sc.setJobGroup(None, None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


_CALLS = {
    "search": lambda r, t: search(r, "neural networks", k=10, with_text=t),
    "fuzzy": lambda r, t: search(r, "neurel netwerk", k=10, fuzzy=True,
                                 with_text=t),
    "search_many": lambda r, t: search_many(
        r, {"a": "neural networks", "b": "machine learning"}, k=5,
        with_text=t),
}
_WITH_TEXT = pytest.mark.parametrize("with_text", [True, False],
                                     ids=["text", "no_text"])


def _assert_identical_zero_jobs(spark, run, loc_r, dist_r, call):
    """Same column names and types in the same positions (row[0] is the
    doc_id, or the qid for search_many), the same row tuples with the
    score bits, and zero Spark jobs on the driver-local tier."""
    assert (run(loc_r).schema.simpleString()
            == run(dist_r).schema.simpleString())
    run(loc_r).collect()  # warm the term dictionary + docs memo
    loc, jobs = _rows_and_jobs(spark, lambda: run(loc_r))
    assert jobs == 0, f"{call} launched {jobs} Spark jobs"
    dist, _ = _rows_and_jobs(spark, lambda: run(dist_r))
    assert loc and loc == dist


@_WITH_TEXT
@pytest.mark.parametrize("call", sorted(_CALLS))
def test_result_paths_identical_zero_jobs(local_reader, reader, spark, call,
                                          with_text):
    _assert_identical_zero_jobs(
        spark, lambda r: _CALLS[call](r, with_text), local_reader, reader,
        call)


@_WITH_TEXT
@pytest.mark.parametrize("call", ["phrase", "bool_should"])
def test_positional_result_paths_identical_zero_jobs(pos_pair, spark, call,
                                                     with_text):
    from research_engine_spark.api import ResearchEngine
    from research_engine_spark.operators.scorer import bool_should_search

    def run(r):
        if call == "phrase":
            return phrase_search(r, "neural networks", k=10,
                                 with_text=with_text)
        if not with_text:
            return bool_should_search(r, "neural networks", k=10)
        eng = ResearchEngine(spark, r.index_dir)
        eng._reader = r  # the facade over this pair's reader
        return eng.search("neural networks", top_k=10, bool_should=True)

    _assert_identical_zero_jobs(spark, run, *pos_pair, call)


_EMPTY_CALLS = {
    "phrase": lambda r, q, t: phrase_search(r, q, k=10, with_text=t),
    "search": lambda r, q, t: search(r, q, k=10, with_text=t),
    "search_many": lambda r, q, t: search_many(r, {"a": q, "b": q}, k=10,
                                               with_text=t),
}


@_WITH_TEXT
@pytest.mark.parametrize("call", sorted(_EMPTY_CALLS))
def test_text_empty_result_keeps_schema(pos_pair, spark, call, with_text):
    """A no-match answer has the columns of a match on the same reader
    and launches no Spark job."""
    loc_r, _ = pos_pair
    run = _EMPTY_CALLS[call]
    want = run(loc_r, "neural networks", with_text).schema.simpleString()
    if call == "search" and with_text:
        assert want == TEXT_SCHEMA
    no_match = ["nonexistentterm zzzzqqq", ""]
    if call == "phrase":
        no_match.append("nonexistentterm networks")  # one term absent
    for q in no_match:
        df = run(loc_r, q, with_text)
        assert df.schema.simpleString() == want, q
        rows, jobs = _rows_and_jobs(spark, lambda: df)
        assert rows == [] and jobs == 0, (q, jobs)


def test_text_fetch_gate_fallback(local_reader, spark, monkeypatch):
    """Over DRIVER_TEXT_MAX_BYTES the helper joins in Spark instead —
    same rows."""
    from research_engine_spark.operators import scorer

    want, _ = _rows_and_jobs(
        spark, lambda: search(local_reader, "neural networks", k=10))
    monkeypatch.setattr(scorer, "DRIVER_TEXT_MAX_BYTES", 0)
    got, jobs = _rows_and_jobs(
        spark, lambda: search(local_reader, "neural networks", k=10))
    assert jobs > 0  # the broadcast join ran
    assert got == want


def test_text_fetch_lifecycle(spark, tmp_path):
    """The docs memo under tombstones, an append + refresh() (new docs
    files) and a compaction (the reader re-pins docs@N)."""
    from research_engine_spark.operators.deletes import delete_ids
    from research_engine_spark.operators.generations import gc_generations
    from research_engine_spark.operators.indexer import (append_segment,
                                                          compact_index)

    d = str(tmp_path / "idx")
    build_index(synth_transcripts(spark, n_convs=40, seed=5), d,
                n_buckets=4)
    r = IndexReader(spark, d)

    def check(query):
        loc, jobs = _rows_and_jobs(spark, lambda: search(r, query, k=10))
        dist = search(IndexReader(spark, d, driver_local_max_postings=0),
                      query, k=10, prune=False).collect()
        assert jobs == 0, f"{query!r} launched {jobs} Spark jobs"
        assert loc and loc == [tuple(x) for x in dist]
        return loc

    victim = check("neural networks")[0][0]
    delete_ids(d, [victim])
    r.refresh()
    assert victim not in {row[0] for row in check("neural networks")}
    extra = (synth_transcripts(spark, n_convs=3, seed=99)
             .withColumn("conv_id", F.concat(F.lit("new_"), "conv_id"))
             .withColumn("text", F.concat("text", F.lit(" zebraquux"))))
    append_segment(extra, d)
    r.refresh()
    assert all("zebraquux" in row[4] for row in check("zebraquux"))
    compact_index(spark, d)
    gc_generations(d, keep=1)
    r.refresh()
    assert r._path("docs") != os.path.join(d, "docs")
    check("neural networks")
    check("zebraquux")
