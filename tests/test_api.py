"""Facade tests: the reference user surface end-to-end."""

import shutil
import tempfile

import pytest

from research_engine_spark.api import ResearchEngine
from research_engine_spark.corpus import synth_transcripts


@pytest.fixture(scope="module")
def engine(spark):
    d = tempfile.mkdtemp()
    eng = ResearchEngine(spark, d)
    eng.build(synth_transcripts(spark, n_convs=40, seed=42),
              n_buckets=4, with_positions=True)
    yield eng
    shutil.rmtree(d, ignore_errors=True)


def test_search_surface(engine):
    hits = engine.search("neural networks", top_k=5).toPandas()
    assert len(hits) == 5
    assert list(hits.columns) == ["doc_id", "score", "conv_id", "turn_idx",
                                  "text"]
    assert hits["score"].is_monotonic_decreasing


def test_search_highlight(engine):
    hits = engine.search("neural networks", top_k=3, highlight=True).toPandas()
    assert "highlight" in hits.columns


def test_bool_should_surface(engine):
    hits = engine.search("neural networks", top_k=5, bool_should=True)
    assert hits.count() > 0


def test_multi_query_surface(engine):
    fused = engine.multi_query(["neural networks", "machine learning"],
                               top_k=5).toPandas()
    assert len(fused) == 5
    assert "rrf_score" in fused.columns


def test_retrieve_context(engine):
    ctx = engine.retrieve_context("neural networks")
    assert isinstance(ctx, str) and len(ctx) > 0


def test_append_then_search(spark, engine):
    n0 = engine.reader.stats["n_docs"]
    engine.append(synth_transcripts(spark, n_convs=5, seed=123))
    assert engine.reader.stats["n_docs"] > n0
    assert engine.search("neural", top_k=3).count() > 0


def test_api_fuzzy_search(spark, index_dir, oracle):
    from research_engine_spark.api import ResearchEngine

    eng = ResearchEngine(spark, index_dir)
    got = eng.search("neurel netwerks", top_k=5, fuzzy=True).toPandas()
    want = oracle.fuzzy_search("neurel netwerks", k=5)
    assert list(got["doc_id"]) == list(want["doc_id"])


def test_analyze_endpoint(engine):
    from research_engine_spark.functions.analyzer import analyze

    text = "The Neural Networks are RUNNING fast!"
    out = engine.analyze(text)
    # token list == the index's own analyzer, in input order
    assert [t["token"] for t in out] == analyze(
        text, mode=engine.reader.stats.get("analyzer", "english_folded"))
    assert [t["position"] for t in out] == list(range(len(out)))
    # offsets point back into the source string
    for t in out:
        raw = text[t["start_offset"]:t["end_offset"]].lower()
        assert raw.startswith(t["token"][:2])


def test_index_stats(engine):
    st = engine.index_stats()
    assert st["n_docs"] == engine.reader.stats["n_docs"]
    assert st["total_tokens"] > 0 and st["disk_bytes"] > 0
    assert st["positions"] is True
    assert st["n_deleted"] == 0
    assert st["n_segments"] >= 1 and st["n_terms_rows"] > 0
    assert (st["k1"], st["b"]) == (1.2, 0.75)


def test_termvectors(engine):
    from research_engine_spark.functions.analyzer import analyze

    row = engine.reader.docs.select("doc_id", "text").first()
    tv = engine.termvectors(row.doc_id, term_statistics=True)
    toks = analyze(row.text, mode=engine.reader.stats.get(
        "analyzer", "english_folded"))
    assert tv["doc_length"] == len(toks)
    # positions reconstruct the analyzed token stream exactly
    rebuilt = [None] * len(toks)
    for term, e in tv["terms"].items():
        assert e["term_freq"] == len(e["positions"])
        assert e["doc_freq"] >= 1 and e["ttf"] >= e["term_freq"]
        for p in e["positions"]:
            rebuilt[p] = term
    assert rebuilt == toks
    with pytest.raises(Exception):
        engine.termvectors(10**12)


def test_index_stats_after_compaction(spark, tmp_path):
    """index_stats() reads the pinned generation's term_stats: after
    compact() + gc() the flat table is gone."""
    import pyarrow.dataset as pads

    eng = ResearchEngine(spark, str(tmp_path / "idx"))
    eng.build(synth_transcripts(spark, n_convs=20, seed=3), n_buckets=4)
    eng.append(synth_transcripts(spark, n_convs=4, seed=77))
    eng.compact()
    eng.gc(keep=1)
    want = pads.dataset(eng.reader._path("term_stats"), format="parquet",
                        partitioning="hive").count_rows()
    assert eng.index_stats()["n_terms_rows"] == want
