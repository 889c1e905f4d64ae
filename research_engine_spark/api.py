"""High-level facade — the reference's user surface, natively.

Maps the reference entry points onto the engine:
- ``search_chunks(query, top_k)`` CLI (retrieval/es_search_final.py:7-41)
  -> ResearchEngine.search
- match_phrase clause (es_search_final.py:24-31) -> .phrase_search /
  .search(bool_should=True)
- RAG service retrieval + context assembly (website/backend/
  rag_service.py:78-137, minus the external LLM call, which is out of
  engine scope) -> .retrieve_context
- multi-query RRF retrieval (retrieval/query_retriever.py:314-355)
  -> .multi_query
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.indexer import (append_segment, build_index,
                                compact_index, resume_index)
from .operators.retrieval_extras import (
    assemble_context,
    multi_query_search,
    with_highlights,
)
from .operators.scorer import (
    IndexReader,
    bool_should_search,
    phrase_search,
    search,
    search_many,
)

DEFAULT_TOP_K = 15  # reference: rag_service.py:24
CHAT_TOP_K = 5      # reference: app.py:42


class ResearchEngine:
    """Build once, query many — the engine behind the reference's CLI/API."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self._reader: IndexReader | None = None

    # --- build lifecycle ---------------------------------------------------
    def build(self, transcripts: DataFrame, **kwargs) -> dict:
        stats = build_index(transcripts, self.index_dir, **kwargs)
        self._reader = None
        return stats

    def resume(self, transcripts: DataFrame, **kwargs) -> dict:
        stats = resume_index(transcripts, self.index_dir, **kwargs)
        self._reader = None
        return stats

    def append(self, transcripts: DataFrame, **kwargs) -> dict:
        stats = append_segment(transcripts, self.index_dir, **kwargs)
        self._reader = None
        return stats

    def compact(self, **kwargs) -> dict:
        """Force-merge appended segments (ES _forcemerge analog); query
        results are bit-identical before/after, fewer blocks decode.
        Pending deletes are physically purged (postings dropped, stats
        recomputed exactly) in the same atomic generation commit. The
        previous generation's files survive for concurrent readers until
        gc() (keep_generations=2 default; see operators/generations.py)."""
        res = compact_index(self.spark, self.index_dir, **kwargs)
        self._reader = None
        return res

    def snapshot(self, repo_dir: str, name: str) -> dict:
        """Materialize the current generation as a self-contained flat
        snapshot under repo_dir/name (ES _snapshot analog; hardlinked
        where the filesystem allows). The snapshot is itself a valid
        index dir."""
        from .operators.generations import snapshot_index

        return snapshot_index(self.index_dir, repo_dir, name)

    def restore(self, repo_dir: str, name: str, target_dir: str) -> dict:
        """Restore a snapshot into target_dir as a fresh flat index
        (ES _restore analog)."""
        from .operators.generations import restore_index

        return restore_index(repo_dir, name, target_dir)

    def verify(self, deep: bool = False) -> dict:
        """Index integrity check (Lucene CheckIndex analog): fast tier
        is footer/pointer metadata only (no Spark job — safe after
        every commit at any scale); deep=True adds distributed
        invariants. See operators/fsck.py."""
        from .operators.fsck import verify_index

        return verify_index(self.spark, self.index_dir, deep=deep)

    def analyze(self, text: str) -> list[dict]:
        """ES ``_analyze`` endpoint analog: run the INDEX'S OWN analyzer
        chain over a probe string and return the terms with their
        source offsets — the debugging endpoint every analyzer question
        starts with. Zero Spark jobs (the analyzer is a driver-side
        function; the index only contributes which mode it was built
        with). Returns [{"token", "position", "start_offset",
        "end_offset"}] in input order."""
        import re as _re

        from .functions.analyzer import SIMPLE_TOKEN_RE, TOKEN_RE, stem

        mode = self.reader.stats.get("analyzer", "english_folded")
        rx = SIMPLE_TOKEN_RE if mode == "simple" else TOKEN_RE
        out = []
        for pos, m in enumerate(_re.finditer(rx, text.lower())):
            raw = m.group(0)
            out.append({
                "token": raw if mode == "simple" else stem(raw),
                "position": pos,
                "start_offset": m.start(),
                "end_offset": m.end(),
            })
        return out

    def termvectors(self, doc_id: int,
                    term_statistics: bool = False) -> dict:
        """ES ``_termvectors`` endpoint analog: the per-document term
        vector — (term, tf, positions) from re-analyzing the stored
        text (the forward operation; ES does the same for non-vectored
        fields), plus corpus df/cf per term when
        ``term_statistics=True``. Zero Spark jobs at any corpus size:
        the doc row is a pyarrow footer-stats probe and term stats are
        bucket-pruned dictionary reads."""
        from .functions.analyzer import analyze
        from .operators.esdsl import _doc_text_arrow

        text = _doc_text_arrow(self.reader, int(doc_id))  # raises on
        # a missing or deleted id, like the MLT like-by-_id fetch
        mode = self.reader.stats.get("analyzer", "english_folded")
        toks = analyze(text, mode=mode)
        vec: dict[str, dict] = {}
        for pos, t in enumerate(toks):
            e = vec.setdefault(t, {"term_freq": 0, "positions": []})
            e["term_freq"] += 1
            e["positions"].append(pos)
        if term_statistics and vec:
            st = self.reader.term_stats_arrow(sorted(vec))
            for r in st.itertuples(index=False):
                if r.term in vec:
                    vec[r.term]["doc_freq"] = int(r.df)
                    vec[r.term]["ttf"] = int(r.cf)
        return {"doc_id": int(doc_id), "field": "text",
                "doc_length": len(toks), "terms": vec}

    def index_stats(self) -> dict:
        """ES ``_cat/indices`` / ``_stats`` analog: one dict of the
        index's vital signs — doc/token/term counts, analyzer, deletes,
        generation, segment count, on-disk bytes — from footer/pointer
        metadata only (zero Spark jobs at any corpus size, the same
        tier fsck's fast path reads)."""
        import os as _os

        import pyarrow.dataset as pads

        r = self.reader
        stats = dict(r.stats)
        term_ds = pads.dataset(r._path("term_stats"), format="parquet",
                               partitioning="hive")
        disk = 0
        for root, _dirs, files in _os.walk(self.index_dir):
            disk += sum(_os.path.getsize(_os.path.join(root, f))
                        for f in files)
        return {
            "n_docs": int(stats["n_docs"]),
            "total_tokens": int(stats["total_tokens"]),
            "avgdl": float(stats["avgdl"]),
            "n_terms_rows": int(term_ds.count_rows()),  # per-segment rows
            "analyzer": stats.get("analyzer", "english_folded"),
            "positions": bool(stats.get("positions", False)),
            "n_segments": len(stats.get("snapshots", [])),
            "n_deleted": int(r.n_deleted_rows),
            "k1": float(stats.get("k1", 1.2)),
            "b": float(stats.get("b", 0.75)),
            "stored_fields": list(stats.get("stored_fields", [])),
            "disk_bytes": int(disk),
        }

    def field_caps(self) -> dict:
        """ES ``_field_caps`` analog: per queryable field, its type and
        capabilities — ``searchable`` (backs the inverted index: the
        analyzed text field), ``aggregatable`` (a stored forward-table
        column usable in aggs / sort / collapse / rank_feature / knn).
        Driver-side schema metadata only, zero Spark jobs."""
        caps = {}
        for f in self.reader.docs.schema.fields:
            if f.name == "doc_id":
                continue
            caps[f.name] = {
                "type": f.dataType.simpleString(),
                "searchable": f.name == "text",
                "aggregatable": True,
            }
        return caps

    def gc(self, keep: int = 1) -> list[str]:
        """Reclaim physical dirs of generations outside the retention
        window (Iceberg expireSnapshots analog). keep=1 keeps only the
        current generation — call once no reader pinned to an older
        generation is live."""
        from .operators.generations import gc_generations

        return gc_generations(self.index_dir, keep=keep)

    # --- document lifecycle (beyond the reference: it can only rebuild,
    # vector_store.py:13) ----------------------------------------------------
    def delete(self, doc_ids) -> int:
        """Tombstone explicit docIDs (Lucene liveDocs analog): O(|ids|),
        excluded from every search immediately, physically purged at the
        next compact(). Corpus stats stay as-built until then — exactly
        ES-before-merge semantics."""
        from .operators.deletes import delete_ids

        n = delete_ids(self.index_dir, doc_ids)
        self._reader = None
        return n

    def delete_by_query(self, where) -> int:
        """ES ``_delete_by_query`` analog: tombstone every doc matching a
        predicate (string or Column) over the docs table. Distributed —
        the matching set never passes through the driver."""
        from .operators.deletes import delete_by_query

        n = delete_by_query(self.reader, where)
        self._reader = None
        return n

    def upsert(self, transcripts: DataFrame, **kwargs) -> dict:
        """Overwrite-by-(conv_id, turn_idx) (ES index-action analog):
        tombstones existing versions of the incoming keys and appends the
        new rows as a segment. No existing segment is rewritten."""
        from .operators.deletes import upsert_turns

        stats = upsert_turns(transcripts, self.index_dir, **kwargs)
        self._reader = None
        return stats

    @property
    def reader(self) -> IndexReader:
        if self._reader is None:
            self._reader = IndexReader(self.spark, self.index_dir)
        return self._reader

    # --- query surface -----------------------------------------------------
    def search(self, query: str, top_k: int = DEFAULT_TOP_K,
               k1: float | None = None, b: float | None = None,
               prune: bool = True, bool_should: bool = False,
               highlight: bool = False, fuzzy: bool = False) -> DataFrame:
        """BM25 top-k (es_search_final.py search_chunks analog).
        prune defaults to True: the block-max gate is DRIVER-side
        (pyarrow block metadata, zero extra Spark jobs on fallback) and
        the pruned path is proven bit-identical to the plain scan
        (tests/test_rank_identity.py), so pruning is free when it can't
        help and strictly decodes fewer blocks when it can
        (BENCH/prune_crossover_r3.json: single-clause pruned 0.77s vs
        plain 1.37s on 7M turns). bool_should=True adds the boosted
        phrase clause (requires a positional index). fuzzy=True applies
        the reference's ``fuzziness: AUTO`` edit-distance expansion
        (es_search_final.py:21)."""
        if bool_should:
            hits = bool_should_search(self.reader, query, k=top_k, k1=k1,
                                      b=b, with_text=True)
        else:
            hits = search(self.reader, query, k=top_k, k1=k1, b=b,
                          prune=prune, with_text=True, fuzzy=fuzzy)
        if highlight:
            hits = with_highlights(hits, query)
        return hits

    def explain(self, query: str, doc_id: int, **kwargs) -> dict:
        """Per-term BM25 breakdown for one document (ES ``_explain``
        analog): zero Spark jobs at any corpus size — the posting
        lookup is a block-metadata range probe, never an O(df) read.
        The folded score is bit-identical to .search's score for the
        doc."""
        from .operators.scorer import explain

        return explain(self.reader, query, doc_id, **kwargs)

    def es_aggregations(self, body: dict) -> DataFrame:
        """ES aggregations over the query's match set (terms /
        date_histogram / metrics, one nesting level) — exact buckets,
        no coordinating-node size truncation; see
        operators/esdsl.py es_aggregations."""
        from .operators.esdsl import es_aggregations

        return es_aggregations(self.reader, body)

    def es_msearch(self, bodies, **kwargs) -> DataFrame:
        """ES ``_msearch`` analog: many bodies, one DataFrame keyed by
        ``qid`` — budget-sized bodies come back as one job-free
        LocalRelation; over-budget ones union into a single action."""
        from .operators.esdsl import es_msearch

        return es_msearch(self.reader, bodies, **kwargs)

    def es_count(self, body: dict | None = None) -> int:
        """ES ``_count`` analog: exact matching-doc count for a query
        body (match_all when omitted) — no track_total_hits cap; see
        operators/esdsl.py es_count."""
        from .operators.esdsl import es_count

        return es_count(self.reader, body or {})

    def es_suggest(self, body: dict) -> DataFrame:
        """ES term suggester ("did you mean"): spelling-correction
        candidates from the index term dictionary, zero Spark jobs
        when the vocabulary fits the reader budget; see
        operators/esdsl.py es_suggest."""
        from .operators.esdsl import es_suggest

        return es_suggest(self.reader, body)

    def es_phrase_suggest(self, body: dict) -> DataFrame:
        """ES phrase suggester: whole-phrase corrections ranked by a
        bigram Stupid Backoff LM whose counts come from the positional
        index; see operators/esdsl.py es_phrase_suggest."""
        from .operators.esdsl import es_phrase_suggest

        return es_phrase_suggest(self.reader, body)

    def es_search(self, body: dict, k1: float | None = None,
                  b: float | None = None) -> DataFrame:
        """Execute an Elasticsearch query body verbatim
        (match / match_phrase / multi_match / bool / size / _source —
        the es_search_final.py:12-37 surface; see operators/esdsl.py).
        A reference user's ``search_body`` runs unchanged."""
        from .operators.esdsl import es_search as _es

        return _es(self.reader, body, k1=k1, b=b)

    def es_scroll(self, body: dict, k1: float | None = None,
                  b: float | None = None):
        """ES ``_search?scroll`` analog: a generator of size-row hit
        pages covering EVERY match in stable order, cursor-driven
        (search_after internally; the pinned reader is the
        point-in-time). See operators/esdsl.py:es_scroll."""
        from .operators.esdsl import es_scroll as _scroll

        return _scroll(self.reader, body, k1=k1, b=b)

    def phrase_search(self, phrase: str, top_k: int = DEFAULT_TOP_K,
                      **kwargs) -> DataFrame:
        return phrase_search(self.reader, phrase, k=top_k, with_text=True,
                             **kwargs)

    def multi_query(self, queries: list[str], top_k: int = DEFAULT_TOP_K,
                    **kwargs) -> DataFrame:
        return multi_query_search(self.reader, queries, k=top_k, **kwargs)

    def batch_search(self, queries: dict[str, str] | list[str],
                     top_k: int = DEFAULT_TOP_K, **kwargs) -> DataFrame:
        """Top-k for MANY queries at once (query logs, RAG eval sets):
        blocks decode once for the whole batch and one fold ranks every
        query, in two Spark jobs (none within the driver-local budget).
        Scores bit-identical to .search per query."""
        return search_many(self.reader, queries, k=top_k, **kwargs)

    def retrieve_context(self, query: str, top_k: int = CHAT_TOP_K,
                         max_chunks: int = 5) -> str:
        """The RAG retrieval step: top-k search -> '\\n\\n'-joined context
        (rag_service.py:100-120). The generation call that follows in the
        reference is an external-service boundary, out of engine scope."""
        hits = self.search(query, top_k=top_k)
        return assemble_context(hits, max_chunks=max_chunks)
