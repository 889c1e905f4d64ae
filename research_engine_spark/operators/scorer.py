"""Query-time BM25 top-k over the compressed postings index (R1/T1/J6).

Reference behavior being re-expressed natively: retrieval/es_search_final.py
:12-41 sends a bool/should DSL to Elasticsearch; Lucene analyzes the query
with the same ``english_folded`` chain, walks postings with block-max WAND
and returns the top-k heap. Here the lifecycle is (SURVEY.md §3):

1. query string -> shared analyzer -> [(term, qtf)] (driver-side, tiny)
2. term metadata lookup on ``term_stats`` with bucket partition pruning
   (the J6 "query-term ⋈ term dictionary" join; O(#query terms) collect)
3. tier choice by Σ df against reader.driver_local_max_postings:
   - flat driver-local: pyarrow fetch of every block of the query terms,
     numpy decode + fold, zero Spark jobs;
   - block-max driver-local (the BMW/MaxScore analog, exact): one
     _BlockPlan per query from driver-side block metadata (_block_plan:
     θ = lower bound on the k-th final score, MaxScore essential lists,
     doc-range-aligned skip bounds, fully-decoded slack). Phase A
     decodes the kept blocks, phase B rescores exactly the docs whose
     upper bound reaches θ''. Zero Spark jobs; it declines when a phase
     exceeds its decode budget or the block metadata exceeds
     BLOCK_META_BUDGET;
   - the distributed executor (_distributed_scores) for everything
     else, and for whole-match-set callers: a bucket/term-pruned
     postings scan, decoded inside a vectorized pandas UDF (numpy
     varbyte decode, float64 BM25) into one weighted partial per
     (posting, clause).
4. per-doc deterministic summation: every tier folds a doc's partials
   with the same numpy kernel (_fold_topk), a strict left fold in
   (term, partial) order, so scores are bit-identical regardless of
   tier or partitioning; on the executor a doc_id shuffle precedes it
   when a query has several clauses.
5. top-k with (score desc, doc_id asc) tiebreak, per partition and then
   merged on the driver; the result is an Arrow local relation.

Parameterized k1/b (north rule): the block bound is recomputed at query
time from the block's stored (tf, dl) skyline — valid for ANY
(k1, b) and never stale under incremental appends (which change N/avgdl),
since the BM25 term partial is increasing in tf and decreasing in dl. No
score is stored per block, so corpus stats never ride the pack shuffle.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.analyzer import analyze_query
from .codec import vb_decode, delta_decode, decode_blocks_flat
from .indexer import bm25_idf, bm25_tf_part

# Small-query short-circuit (the ES coordinating-node analog): when the
# query terms' TOTAL posting count (Σ df, known driver-side from the term
# dictionary) fits this budget, fetch every matching block with pyarrow —
# the same bucket-pruned, row-group-stat-skipped access pattern as the θ
# fetch — and score in numpy, issuing ZERO Spark jobs. At 10^12 turns any
# common term blows the budget instantly and the distributed path runs;
# rare-term/interactive queries stay sub-100ms instead of paying the
# one-Spark-job-per-query floor the README documents. Exactness: the
# numpy scorer is the same decode + same bm25_tf_part + the same
# term-sorted strict left fold (_fold_topk) as the distributed executor
# — bit-identity is pytest-guarded on the full reference set.
# The constant is a LATENCY ENVELOPE divided by measured decode
# throughput: r5 set 262_144 against the per-block decode loop
# (~0.6M postings/s single-thread); the r6 batched decode
# (codec.decode_blocks_flat) measures ~6M postings/s on the same
# hardware, so 4x keeps the worst-case serve inside the same
# sub-quarter-second envelope with most of the gain held in reserve.
DRIVER_TOPK_MAX_POSTINGS = 1_048_576
# tombstone sets larger than this stay on the executors (the Spark path
# anti-joins them); below it the distinct ids are a driver-side mask
DRIVER_LOCAL_MAX_DELETES = 2_000_000
# term-dictionary row budget for the driver-local FUZZY expansion (the
# Lucene terms-dict-in-RAM analog): at or below this many term_stats
# parquet rows (footer count, incl. per-segment duplicates — a safe
# upper bound) the whole dictionary loads once per reader and fuzzy
# expansion runs driver-side (numpy length-band + levenshtein_many
# prefilter, same scalar Damerau DP as the distributed path — see
# _fuzzy_term_meta_many). ~2M rows ≈ tens of MB of driver memory;
# beyond it expansion stays a one-JVM-job vocabulary scan.
DRIVER_LOCAL_MAX_VOCAB = 2_000_000
# Phase-B (candidate rescore) decode budget multiplier over
# driver_local_max_postings: the rescore is one grouped pyarrow fetch +
# one batched numpy decode (decode_blocks_flat), measured ~10x cheaper
# per posting than the per-block decode loop the r5 budget constant was
# calibrated against — 4x keeps half that margin in reserve.
BLOCKMAX_RESCORE_FACTOR = 4


def _maxscore_essential(gub_by: dict[str, float], theta: float) -> list:
    """MaxScore essential-list partition: with terms sorted by global
    upper bound (gub) ascending, the maximal prefix whose cumulative gub
    stays STRICTLY below θ is non-essential — a doc containing only
    those terms scores ≤ Σ gub < θ ≤ s_k and cannot enter the top k.
    Returns the ESSENTIAL terms (always ≥ 1: the largest-gub term stays
    essential even when θ exceeds the full sum)."""
    order = sorted(gub_by, key=lambda t: (gub_by[t], t))
    cum = 0.0
    n_ness = 0
    for t in order[:-1]:
        if cum + gub_by[t] < theta:
            cum += gub_by[t]
            n_ness += 1
        else:
            break
    return order[n_ness:]


@dataclass
class IndexReader:
    """Handle on an index directory produced by build_index().

    Spark DataFrames are memoized (one InMemoryFileIndex per table per
    reader — repeated searches don't re-list files); pure-metadata lookups
    (term dictionary, bucket routing) are driver-side with pyarrow and a
    Spark-bit-identical Python Murmur3 — a distributed search issues at
    most two Spark jobs (the scoring scan, and the fold after its doc_id
    shuffle).
    """

    spark: SparkSession
    index_dir: str
    # Σ df budget for the zero-Spark-job driver-local top-k (see
    # DRIVER_TOPK_MAX_POSTINGS); 0 disables (every query distributed)
    driver_local_max_postings: int = DRIVER_TOPK_MAX_POSTINGS
    # term-dictionary row budget for driver-local fuzzy expansion (see
    # DRIVER_LOCAL_MAX_VOCAB); 0 disables (expansion always distributed)
    driver_local_max_vocab: int = DRIVER_LOCAL_MAX_VOCAB
    # time travel (Iceberg ``VERSION AS OF`` analog): open a RETAINED
    # historical generation instead of the current one — queryable
    # exactly as it was at that commit, as long as its files survive the
    # keep_generations window / gc_generations. None = current.
    generation: int | None = None

    def __post_init__(self) -> None:
        # pin ONE generation snapshot for the reader's whole lifetime
        # (operators/generations.py): every table — postings, stats,
        # corpus_stats.json, tombstones — resolves through this mapping,
        # so a reader constructed while a compaction commits still sees
        # a single consistent generation (ADVICE r3 cross-table
        # atomicity). refresh() re-pins to the then-current generation.
        from .generations import (current_gen, flat_mapping,
                                  read_generation, table_mapping)

        if self.generation is None:
            self._gen_tables = table_mapping(self.index_dir)
        else:
            gen = int(self.generation)
            if gen == 0:
                self._gen_tables = flat_mapping()
            else:
                ptr = read_generation(self.index_dir, gen)
                if ptr is None:
                    raise FileNotFoundError(
                        f"generation {gen} of {self.index_dir} is not "
                        f"retained (current: {current_gen(self.index_dir)}"
                        "; raise compact_index(keep_generations=...) or "
                        "gc less aggressively to keep history)")
                self._gen_tables = {**flat_mapping(),
                                    **ptr.get("tables", {})}
            # verify the pinned generation's files actually survive
            probe = self._path("corpus_stats.json")
            if not os.path.exists(probe):
                raise FileNotFoundError(
                    f"generation {gen} of {self.index_dir} was "
                    "garbage-collected (its pointer remains but "
                    f"{probe} is gone)")
        with open(self._path("corpus_stats.json")) as f:
            self.stats = json.load(f)
        self.n_buckets = int(self.stats["n_buckets"])
        # committed-segment fence (VERDICT r4 "mid-append reader window" +
        # ADVICE r4 torn snapshot): corpus_stats.json records the COMMITTED
        # snapshot_ids, and its atomic os.replace is append_segment's
        # commit point. Every read — Spark scans below and the driver-side
        # pyarrow paths — filters postings/term_stats/lineage to committed
        # snapshot_ids and docs/doc_stats to doc_id < next_doc_id, so a
        # reader constructed while an append is mid-flight sees exactly
        # the last committed state (whole segments + matching stats), the
        # same pinned-consistency guarantee compaction's generation
        # pointer gives. Filters prune at parquet file/row-group footer
        # granularity (appended files hold one snapshot_id, docIDs are
        # range-packed), so the fence reads no extra data. None (legacy
        # index without the key) disables fencing — old behavior.
        snaps = self.stats.get("snapshots")
        self._committed: list | None = (
            [str(s) for s in snaps] if snaps is not None else None)
        # refresh() re-runs this: release any cache_postings() pins first
        # (a mutated index invalidates the cached blocks)
        for df in getattr(self, "_pinned", []):
            df.unpersist()
        self._pinned: list[DataFrame] = []
        self._cache: dict[str, DataFrame] = {}
        # term-dictionary cache: term -> (df, max_tf, min_dl) or None for
        # a vocab miss. The Lucene-terms-dictionary-cache analog: repeated
        # queries (and every query of a search_many batch) skip the
        # pyarrow bucket read entirely. Cleared by refresh().
        self._term_cache: dict[str, tuple | None] = {}
        # full-dictionary cache for driver-local fuzzy expansion:
        # False = not yet attempted, None = over budget, else the
        # aggregated (term, df, max_tf, min_dl) pandas frame + a cached
        # int64 array of term lengths. Cleared by refresh().
        self._vocab_pd: pd.DataFrame | None | bool = False
        self._vocab_tlen = None
        # per-term block metadata cache for the blockmax tier (driver-
        # side frames of _BLOCK_META_COLS; bounded by the same
        # BLOCK_META_BUDGET that gates reading them at all)
        self._block_meta_cache: dict[str, pd.DataFrame] = {}
        # forward-table pyarrow dataset + its footer's per-row-group
        # doc_id ranges (the driver-side text fetch, _with_text). Cleared
        # by refresh(): an append adds docs files.
        self._docs_ds = None
        self._docs_rgs = None
        # tombstone awareness (operators/deletes.py): a cheap parquet
        # footer count at construction/refresh; >0 switches every search
        # path to anti-join its candidates against the tombstone set
        from .deletes import n_tombstone_rows

        self.n_deleted_rows = n_tombstone_rows(
            self.index_dir, path=self._path("tombstones"))

    def _path(self, name: str) -> str:
        """Physical path of a logical table under this reader's pinned
        generation snapshot."""
        return os.path.join(self.index_dir, self._gen_tables.get(name, name))

    def _tbl(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self.spark.read.parquet(self._path(name))
            if self._committed is not None:
                if name in ("postings", "term_stats", "lineage"):
                    df = df.where(
                        F.col("snapshot_id").isin(self._committed))
                elif name in ("docs", "doc_stats") and (
                        self.stats.get("next_doc_id") is not None):
                    df = df.where(F.col("doc_id")
                                  < int(self.stats["next_doc_id"]))
            self._cache[name] = df
        return self._cache[name]

    def _seg_expr(self):
        """Committed-segment fence as a pyarrow dataset filter (None when
        the index predates the fence) — the driver-side twin of the
        Spark-scan filters _tbl applies."""
        if self._committed is None:
            return None
        import pyarrow.dataset as pads

        return pads.field("snapshot_id").isin(self._committed)

    def _buckets_arrow(self, table: str, terms: list[str],
                       columns: list[str], flt) -> pd.DataFrame:
        """``columns`` of the rows passing ``flt`` and the segment fence
        in the bucket partitions of ``table`` (postings or term_stats)
        that hold ``terms`` — a driver-side pyarrow read with parquet
        row-group stat skipping, no Spark job."""
        import pyarrow.dataset as pads

        seg = self._seg_expr()
        if seg is not None:
            flt = flt & seg
        frames = []
        for bkt in sorted(set(self.bucket_of(terms).values())):
            p = os.path.join(self._path(table), f"bucket={bkt}")
            if os.path.exists(p):
                frames.append(pads.dataset(p, format="parquet").to_table(
                    columns=columns, filter=flt).to_pandas())
        if not frames:
            return pd.DataFrame(columns=columns)
        return pd.concat(frames, ignore_index=True)

    def docs_arrow(self):
        """The pinned generation's forward docs table as a pyarrow dataset
        (file listing memoised per reader; refresh() re-lists)."""
        if self._docs_ds is None:
            import pyarrow.dataset as pads

            self._docs_ds = pads.dataset(self._path("docs"), format="parquet")
        return self._docs_ds

    def _docs_fence(self, flt):
        """``flt`` AND the committed docs fence doc_id < next_doc_id — the
        driver-side twin of the filter _tbl puts on the docs scan."""
        nxt = self.stats.get("next_doc_id")
        if self._committed is not None and nxt is not None:
            import pyarrow.dataset as pads

            flt = flt & (pads.field("doc_id") < int(nxt))
        return flt

    def cache_postings(self, include_docs: bool = False,
                       eager: bool = True) -> "IndexReader":
        """Pin the postings table in executor storage for hot interactive
        query mixes (VERDICT r3 #7): after batch-first, the next latency
        lever is that every single query re-scans (and re-decompresses)
        the postings parquet from disk. Persisting the scan once
        (MEMORY_AND_DISK — spills, never recomputes-from-disk-per-query)
        turns the per-query scan into an InMemoryTableScan whose
        bucket/term filters still prune at cached-batch granularity:
        batch min/max stats cover (bucket, term) and the build writes
        postings bucket-partitioned and term-sorted, so cached batches
        are term-clustered and non-matching batches are skipped without
        decode. Results are bit-identical (same rows, same plan past the
        scan) — rank identity is pytest-guarded.

        Scale posture: this is an OPT-IN for serving tiers where the hot
        index fits cluster storage memory (postings are varbyte blocks,
        ~1/3 the raw text size); at 10^12 turns you cache the hot buckets'
        sub-index, not the whole table — pass the reader a bucket-filtered
        postings dir (or rely on MEMORY_AND_DISK spill). Driver-side
        pyarrow paths (term dictionary, block metadata, θ block fetch)
        are unaffected — they never touch the Spark scan.

        include_docs=True additionally pins the forward table + doc_stats
        (the with_text join side of the distributed phrase and
        bool_should paths, which scans the forward table's text columns
        per query; top-k searches read their k docs rows with pyarrow
        instead). eager=True materializes now (one count each) so
        the first timed query doesn't pay the fill. Undone by uncache();
        refresh() also unpins (a mutated index invalidates cached blocks).
        """
        from pyspark import StorageLevel

        names = ["postings"] + (["docs", "doc_stats"] if include_docs
                                else [])
        for name in names:
            df = self._tbl(name)
            if not df.storageLevel.useMemory:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                self._cache[name] = df
                self._pinned.append(df)
                if eager:
                    df.count()
        return self

    def uncache(self) -> "IndexReader":
        """Release every table pinned by cache_postings()."""
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()
        return self

    def refresh(self) -> "IndexReader":
        """Re-read corpus_stats.json and drop memoized table handles.

        Required after append_segment()/resume_index() mutates the index
        this reader points at: stats (n_docs/avgdl) and the memoized
        InMemoryFileIndex file listings are captured at construction and
        would otherwise silently score against the pre-append corpus.
        Returns self for chaining.
        """
        self.__post_init__()
        return self

    @property
    def postings(self) -> DataFrame:
        return self._tbl("postings")

    @property
    def term_stats(self) -> DataFrame:
        return self._tbl("term_stats")

    @property
    def docs(self) -> DataFrame:
        return self._tbl("docs")

    @property
    def lineage(self) -> DataFrame:
        return self._tbl("lineage")

    @property
    def doc_stats(self) -> DataFrame:
        """Per-doc (doc_id, dl) — dl lives here, not in docs (the forward
        table write carries no tokenizer pass)."""
        return self._tbl("doc_stats")

    @property
    def has_deletes(self) -> bool:
        return self.n_deleted_rows > 0

    def live_only(self, df: DataFrame, col: str = "doc_id") -> DataFrame:
        """Exclude tombstoned docs (no-op when there are none). Anti-join
        against the distinct deleted-id set — broadcast-hinted while the
        footer row count says the set is small (it is, by construction:
        deletes are a fraction of ingest; see deletes.py scale notes),
        a shuffled anti-join beyond that. Never a collect."""
        if not self.has_deletes:
            return df
        from .deletes import tombstones_df

        tomb = tombstones_df(self.spark, self.index_dir,
                             path=self._path("tombstones"))
        if tomb is None:
            return df
        if self.n_deleted_rows <= 5_000_000:
            tomb = F.broadcast(tomb)
        if col != "doc_id":
            tomb = tomb.withColumnRenamed("doc_id", col)
        return df.join(tomb, col, "left_anti")

    def bucket_of(self, terms: list[str]) -> dict[str, int]:
        """term->bucket via driver-side Murmur3 (bit-identical to the
        build-time ``pmod(hash(term), n_buckets)``; verified in tests)."""
        from ..functions.mmh3 import bucket_of_term

        return {t: bucket_of_term(t, self.n_buckets) for t in set(terms)}

    def term_stats_arrow(self, terms: list[str]) -> pd.DataFrame:
        """Driver-side term-dictionary lookup: read only the needed bucket
        partitions of term_stats with pyarrow (a bucket holds vocab/B rows
        — small even at 10^12 turns), filter to the query terms, aggregate
        across segments. No Spark job. Results are memoized per reader
        (including vocab misses), so a search_many batch — or any repeated
        query — issues ONE bucket read per distinct term ever."""
        import pyarrow.dataset as pads

        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            allts = self._buckets_arrow(
                "term_stats", missing,
                ["term", "df", "cf", "max_tf", "min_dl"],
                pads.field("term").isin(missing))
            found: dict[str, tuple] = {}
            if len(allts):
                agg = (allts.groupby("term", as_index=False)
                       .agg(df=("df", "sum"), cf=("cf", "sum"),
                            max_tf=("max_tf", "max"),
                            min_dl=("min_dl", "min")))
                for r in agg.itertuples(index=False):
                    found[r.term] = (int(r.df), int(r.cf), int(r.max_tf),
                                     int(r.min_dl))
            for t in missing:
                self._term_cache[t] = found.get(t)
        rows = [(t, *self._term_cache[t]) for t in terms
                if self._term_cache[t] is not None]
        return pd.DataFrame(
            rows, columns=["term", "df", "cf", "max_tf", "min_dl"])

    def vocab_arrow(self) -> pd.DataFrame | None:
        """The FULL term dictionary as pandas (term, df, max_tf, min_dl,
        segment-aggregated) for driver-local fuzzy expansion — the
        Lucene terms-dict-in-RAM analog. Returns None when the
        dictionary's parquet footer row-count exceeds
        driver_local_max_vocab (count includes per-segment duplicates, a
        safe upper bound — fuzzy expansion then stays a one-JVM-job
        vocabulary scan). Loaded once per reader; refresh() invalidates.
        """
        if self._vocab_pd is not False:
            return self._vocab_pd
        import pyarrow.dataset as pads

        ds = pads.dataset(self._path("term_stats"), format="parquet")
        if (self.driver_local_max_vocab <= 0
                or ds.count_rows() > self.driver_local_max_vocab):
            self._vocab_pd = None
            return None
        pdf = ds.to_table(
            columns=["term", "df", "cf", "max_tf", "min_dl"],
            filter=self._seg_expr()).to_pandas()
        pdf = (pdf.groupby("term", as_index=False)
               .agg(df=("df", "sum"), cf=("cf", "sum"),
                    max_tf=("max_tf", "max"), min_dl=("min_dl", "min")))
        self._vocab_pd = pdf
        self._vocab_tlen = pdf["term"].str.len().to_numpy(np.int64)
        return pdf


def _term_meta(reader: IndexReader, qterms: list[tuple[str, int]],
               k1: float, b: float) -> pd.DataFrame:
    """df/max_tf/min_dl for the query terms (bucket-pruned, driver-side)
    + idf and the per-term global score upper bound gub."""
    terms = [t for t, _ in qterms]
    ts = reader.term_stats_arrow(terms)
    meta = pd.DataFrame(qterms, columns=["term", "qtf"]).merge(
        ts, on="term", how="inner")
    if meta.empty:
        return meta.assign(idf=pd.Series(dtype=float),
                           gub=pd.Series(dtype=float))
    n_docs, avgdl = reader.stats["n_docs"], reader.stats["avgdl"]
    meta["idf"] = bm25_idf(n_docs, meta["df"].to_numpy())
    meta["gub"] = (
        meta["qtf"].to_numpy() * meta["idf"].to_numpy()
        * bm25_tf_part(meta["max_tf"].to_numpy(), meta["min_dl"].to_numpy(),
                       avgdl, k1, b)
    )
    return meta.sort_values("term").reset_index(drop=True)


def auto_max_edits(term: str) -> int:
    """Lucene/ES ``fuzziness: AUTO`` edit-distance schedule (public Lucene
    FuzzyQuery semantics, the reference's default search path:
    retrieval/es_search_final.py:21): length 0-2 -> 0 edits, 3-5 -> 1,
    >= 6 -> 2."""
    n = len(term)
    return 0 if n < 3 else (1 if n < 6 else 2)


def _fuzzy_term_meta_many(reader: IndexReader,
                          qterms_by_qid: dict[str, list[tuple[str, int]]],
                          k1: float, b: float,
                          max_expansions: int = 50) -> pd.DataFrame:
    """R5 expansion for MANY queries in ONE vocabulary job: every fuzzy
    (qid, query term) rides the same length-band + thresholded-JVM-
    levenshtein candidate scan (the broadcast qdf just gains a qid
    column), the exact Damerau DP runs driver-side over the collected
    candidates, and the max_expansions cap applies per (qid, qterm).
    Returns one clause row per (qid, query term, candidate) with
    weight qtf = raw_qtf * boost, boost = 1 - ed/min(|q|, |t|) (Lucene
    FuzzyTermsEnum's published boost; FuzzyQuery transpositions=true —
    "hte" expands to "the" at ONE edit). Exact (0-edit) terms use the
    bucket-pruned driver-side dictionary lookup, warmed once for the
    union of all queries' exact terms.
    """
    spark = reader.spark
    n_docs, avgdl = reader.stats["n_docs"], reader.stats["avgdl"]
    exact_by_qid: dict[str, list[tuple[str, int]]] = {}
    fuzzy_rows: list[tuple] = []
    for qid, qterms in qterms_by_qid.items():
        for t, q in qterms:
            e = auto_max_edits(t)
            if e == 0:
                exact_by_qid.setdefault(qid, []).append((t, int(q)))
            else:
                fuzzy_rows.append((qid, t, int(q), e, len(t)))

    frames = []
    if exact_by_qid:
        union = sorted({t for qts in exact_by_qid.values()
                        for t, _ in qts})
        reader.term_stats_arrow(union)  # one bucket read for the union
        for qid, qts in exact_by_qid.items():
            m = _term_meta(reader, qts, k1, b)
            if not m.empty:
                m = m.assign(qid=qid, qtf=m["qtf"].astype(np.float64))
                frames.append(m[["qid", "term", "qtf", "df", "max_tf",
                                 "min_dl", "idf", "gub"]])
    cpd = pd.DataFrame()
    vocab = reader.vocab_arrow() if fuzzy_rows else None
    if fuzzy_rows and vocab is not None:
        # driver-local expansion (zero Spark jobs): same two stages as
        # the distributed path below — numpy length-band + classic
        # levenshtein <= 2e prefilter (levenshtein_many, the F.levenshtein
        # twin), then the shared exact Damerau DP over survivors — so the
        # expansions are bit-identical by construction (test-guarded).
        from ..functions.editdist import levenshtein_many

        fr = pd.DataFrame(fuzzy_rows, columns=[
            "qid", "qterm", "raw_qtf", "maxed", "qlen"])
        tlen_np = reader._vocab_tlen  # cached with the vocab frame
        parts = []
        for (qterm, maxed, qlen), grp in fr.groupby(
                ["qterm", "maxed", "qlen"], sort=False):
            band = ((tlen_np >= qlen - maxed)
                    & (tlen_np <= qlen + maxed))
            sub = vocab.loc[band]
            if sub.empty:
                continue
            lev = levenshtein_many(sub["term"].tolist(), qterm)
            sub = sub.loc[lev <= 2 * maxed]
            if sub.empty:
                continue
            parts.append(grp.merge(sub, how="cross"))
        if parts:
            cpd = pd.concat(parts, ignore_index=True)
    elif fuzzy_rows:
        qdf = spark.createDataFrame(
            fuzzy_rows,
            "qid string, qterm string, raw_qtf int, maxed int, qlen int")
        tlen = F.length("term")
        lev_pre = F.levenshtein("term", "qterm", 4)  # -1 above threshold
        # one JVM-only job: the length-band BNL join + thresholded
        # classic levenshtein run BEFORE the cross-segment aggregation,
        # so the groupBy shuffles only the metadata-scale candidate set
        # (never the whole vocabulary), and the survivors collect to the
        # driver (DL <= e implies levenshtein <= 2e, so nothing true is
        # cut). The exact Damerau DP then runs DRIVER-SIDE over those
        # few rows — a pandas-UDF version paid a Python-worker spin-up
        # across every core plus a vocab-wide shuffle for a candidate
        # set that was collected right after anyway (measured 29s cold /
        # 2.2s warm at sf0.1; this shape is one JVM job + microseconds
        # of driver DP).
        cand = (
            reader.term_stats.join(
                F.broadcast(qdf),
                (tlen >= F.col("qlen") - F.col("maxed"))
                & (tlen <= F.col("qlen") + F.col("maxed")),
            )
            .filter((lev_pre >= 0) & (lev_pre <= F.col("maxed") * 2))
            .groupBy("qid", "qterm", "raw_qtf", "maxed", "qlen", "term")
            .agg(F.sum("df").alias("df"),
                 F.max("max_tf").alias("max_tf"),
                 F.min("min_dl").alias("min_dl"))
        )
        cpd = cand.toPandas()
    if not cpd.empty:
        from ..functions.editdist import damerau_levenshtein

        # one DP per DISTINCT (term, qterm) pair (queries of a batch
        # often share typo terms)
        pairs = cpd[["term", "qterm"]].drop_duplicates()
        ed_map = {(t, q): damerau_levenshtein(t, q)
                  for t, q in zip(pairs["term"], pairs["qterm"])}
        cpd = cpd.assign(ed=[
            ed_map[(t, q)]
            for t, q in zip(cpd["term"], cpd["qterm"])])
        cpd = cpd[cpd["ed"] <= cpd["maxed"]]
    if not cpd.empty:
        tlens = cpd["term"].str.len().to_numpy(np.int64)
        cpd = cpd.assign(
            boost=1.0 - cpd["ed"].to_numpy(np.float64)
            / np.minimum(cpd["qlen"].to_numpy(np.int64), tlens))
        # Lucene max_expansions cap, ranked (boost desc, df desc,
        # term asc) per (qid, query term)
        cpd = (cpd.sort_values(
                   ["qid", "qterm", "boost", "df", "term"],
                   ascending=[True, True, False, False, True])
               .groupby(["qid", "qterm"], sort=False)
               .head(int(max_expansions))
               .reset_index(drop=True))
        cpd["qtf"] = (cpd["raw_qtf"].astype(np.float64)
                      * cpd["boost"].astype(np.float64))
        cpd["idf"] = bm25_idf(n_docs, cpd["df"].to_numpy())
        cpd["gub"] = (
            cpd["qtf"].to_numpy() * cpd["idf"].to_numpy()
            * bm25_tf_part(cpd["max_tf"].to_numpy(),
                           cpd["min_dl"].to_numpy(), avgdl, k1, b)
        )
        frames.append(cpd[["qid", "term", "qtf", "df", "max_tf",
                           "min_dl", "idf", "gub"]])
    if not frames:
        return pd.DataFrame(columns=["qid", "term", "qtf", "df", "max_tf",
                                     "min_dl", "idf", "gub"])
    out = pd.concat(frames, ignore_index=True)
    return out.sort_values(["qid", "term", "qtf"]).reset_index(drop=True)


def _fuzzy_term_meta(reader: IndexReader, qterms: list[tuple[str, int]],
                     k1: float, b: float,
                     max_expansions: int = 50) -> pd.DataFrame:
    """Single-query R5 expansion (see _fuzzy_term_meta_many)."""
    out = _fuzzy_term_meta_many(reader, {"q": qterms}, k1, b,
                                max_expansions)
    return out.drop(columns=["qid"]).reset_index(drop=True)


# Driver-side block-metadata budget (rows). Per-block metadata is a few
# small ints + the skyline arrays + the term string (~150 B/row in
# pandas); 2M rows ≈ 300 MB, far above any realistic query-term block
# count except corpus-spanning hot terms at extreme scale, where the
# blockmax tier declines and the distributed executor runs.
# _BLOCK_META_COLS, _block_plan and this budget serve the driver-local
# blockmax tier only.
BLOCK_META_BUDGET = 2_000_000


def _sky_part_np(sky_tfs, sky_dls, avgdl: float, k1: float,
                 b: float) -> np.ndarray:
    """EXACT block-max tf-part per block: the max over the block's
    stored (tf, dl) Pareto skyline of tf/(tf + k1*(1-b+b*dl/avgdl)),
    vectorized over ragged skyline lists (one row per block). Equals the
    max over the block's actual postings (the partial is increasing in
    tf, decreasing in dl, and the skyline dominates every posting), for
    ANY (k1, b, avgdl)."""
    n = len(sky_tfs)
    lens = np.fromiter((len(x) for x in sky_tfs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(n, dtype=np.float64)
    ft = np.concatenate([np.asarray(x, dtype=np.float64) for x in sky_tfs])
    fd = np.concatenate([np.asarray(x, dtype=np.float64) for x in sky_dls])
    part = ft / (ft + k1 * (1.0 - b + b * fd / avgdl))
    out = np.zeros(n, dtype=np.float64)
    np.maximum.at(out, np.repeat(np.arange(n, dtype=np.int64), lens), part)
    return out


_BLOCK_META_COLS = ["term", "salt", "block_id", "first_doc_id",
                    "last_doc_id", "posting_count", "sky_tfs", "sky_dls"]
_PAYLOAD_COLS = ["term", "doc_gaps", "tfs", "dls"]


def _block_meta_arrow(reader: IndexReader,
                      terms: list[str]) -> pd.DataFrame | None:
    """Per-block metadata (term, salt, block_id, max_tf, min_dl) for the
    query terms, read driver-side with pyarrow column pruning from the
    bucket directories — NO Spark job, no payload bytes. Cached per term
    on the reader. Returns None when the estimated block count exceeds
    BLOCK_META_BUDGET (the blockmax tier then declines).
    """
    import pyarrow.dataset as pads

    cache = reader._block_meta_cache
    missing = [t for t in terms if t not in cache]
    if missing:
        # budget estimate BEFORE reading: blocks(term) <= df/128 + salts
        ts = reader.term_stats_arrow(missing)
        est = int(ts["df"].sum()) // 128 + 2 * len(missing)
        have = sum(len(cache[t]) for t in terms if t in cache)
        if est + have > BLOCK_META_BUDGET:
            return None
        allb = reader._buckets_arrow(
            "postings", missing, _BLOCK_META_COLS,
            pads.field("term").isin(missing))
        for t in missing:
            cache[t] = allb[allb["term"] == t].reset_index(drop=True)
    parts = [cache[t] for t in terms if not cache[t].empty]
    if not parts:
        return pd.DataFrame(columns=_BLOCK_META_COLS)
    return pd.concat(parts, ignore_index=True)


def _fetch_blocks_arrow(reader: IndexReader,
                        keys: list[tuple[str, int, int]]) -> pd.DataFrame:
    """Fetch exactly the given (term, salt, block_id) blocks' payloads
    driver-side with pyarrow (parquet row-group stat skipping applies).
    Key count is ≤ n_blocks·|terms| — a handful of KB-sized blocks."""
    import functools
    import operator

    import pyarrow.dataset as pads

    expr = functools.reduce(operator.or_, [
        (pads.field("term") == t) & (pads.field("salt") == int(s))
        & (pads.field("block_id") == int(bk)) for t, s, bk in keys])
    return reader._buckets_arrow(
        "postings", sorted({t for t, _, _ in keys}), _PAYLOAD_COLS, expr)


def _deleted_ids_arrow(reader: IndexReader) -> np.ndarray:
    """Distinct tombstoned doc_ids as a sorted int64 array (driver-side
    pyarrow read; gated by DRIVER_LOCAL_MAX_DELETES at the call site)."""
    import pyarrow.dataset as pads

    from .deletes import TOMBSTONE_DIR

    p = reader._path(TOMBSTONE_DIR)
    ds = pads.dataset(p, format="parquet")
    ids = ds.to_table(columns=["doc_id"])["doc_id"].to_numpy(
        zero_copy_only=False)
    return np.unique(ids.astype(np.int64))


def _is_deleted_arrow(reader: IndexReader, doc_id: int) -> bool:
    """Membership probe of ONE doc_id against the tombstone table via a
    pyarrow dataset filter (row groups whose doc_id min/max exclude the
    id are skipped from their footer stats) — O(matching row groups)
    driver-side at ANY delete count, unlike _deleted_ids_arrow which
    materializes the full id set and so sits behind
    DRIVER_LOCAL_MAX_DELETES (ADVICE r4: explain() was unbounded)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from .deletes import TOMBSTONE_DIR

    ds = pads.dataset(reader._path(TOMBSTONE_DIR), format="parquet")
    t = ds.to_table(columns=["doc_id"],
                    filter=pc.field("doc_id") == int(doc_id))
    return t.num_rows > 0


def _fetch_term_blocks_arrow(reader: IndexReader,
                             terms: list[str]) -> pd.DataFrame:
    """ALL payload blocks of the given terms, driver-side (bucket-pruned
    dirs + parquet row-group term stats; postings are term-sorted within
    files so non-matching row groups are skipped)."""
    import pyarrow.dataset as pads

    return reader._buckets_arrow("postings", terms, _PAYLOAD_COLS,
                                 pads.field("term").isin(terms))


def _clause_index(meta: pd.DataFrame, terms: list[str],
                  qids: list) -> tuple[np.ndarray, ...]:
    """The clause table of one batch, keyed by term rank: (first clause
    of each term, clause count of each term, clause qid rank, clause
    weight qtf*idf), clauses grouped by term. A term can carry SEVERAL
    clauses: the same term across batch queries, or two fuzzy query
    terms of one query expanding to the same index term."""
    t_rank = {t: r for r, t in enumerate(terms)}
    q_rank = {q: r for r, q in enumerate(qids)}
    c_t = np.fromiter((t_rank[t] for t in meta["term"]), dtype=np.int64,
                      count=len(meta))
    by_t = np.argsort(c_t, kind="stable")
    n_c = np.bincount(c_t, minlength=len(terms))
    c_q = np.fromiter((q_rank[q] for q in meta["qid"]), dtype=np.int64,
                      count=len(meta))
    c_w = (meta["qtf"].to_numpy(np.float64)
           * meta["idf"].to_numpy(np.float64))
    return np.cumsum(n_c) - n_c, n_c, c_q[by_t], c_w[by_t]


def _block_tf_parts(rows: pd.DataFrame, t_rank: dict[str, int],
                    avgdl: float, k1: float, b: float
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, term rank, tf_part) per posting of payload blocks (term,
    doc_gaps, tfs, dls): ONE numpy pass over every block (guide §4.2;
    decode_blocks_flat contract). tf_part is query-independent, so a
    block decodes once however many clauses share its term."""
    doc_ids, tfs, dls, counts = decode_blocks_flat(
        rows["doc_gaps"].tolist(), rows["tfs"].tolist(),
        rows["dls"].tolist())
    blk_t = np.fromiter((t_rank[t] for t in rows["term"]), dtype=np.int64,
                        count=len(rows))
    return (doc_ids, np.repeat(blk_t, counts),
            bm25_tf_part(tfs, dls, avgdl, k1, b))


def _clause_partials(doc_ids: np.ndarray, post_t: np.ndarray,
                     tf_part: np.ndarray, clauses: tuple
                     ) -> tuple[np.ndarray, ...]:
    """(qid rank, doc_id, term rank, partial) with one row per (posting,
    clause on its term), partial = (qtf*idf) * tf_part: the one float64
    product of every tier, driver-local and distributed."""
    first, n_c, c_q, c_w = clauses
    rep = n_c[post_t]
    src = np.repeat(np.arange(post_t.size), rep)
    ci = (np.repeat(first[post_t], rep) + np.arange(src.size)
          - np.repeat(np.cumsum(rep) - rep, rep))
    return c_q[ci], doc_ids[src], post_t[src], c_w[ci] * tf_part[src]


def _topk_by_q(q: np.ndarray, d: np.ndarray, s: np.ndarray,
               k: int | None) -> tuple[np.ndarray, ...]:
    """Rows in (q, score desc, doc_id asc) order, the first k per q
    (k=None: all)."""
    order = np.lexsort((d, -s, q))
    if k is not None and order.size:
        q_o = q[order]
        new_q = np.r_[True, q_o[1:] != q_o[:-1]]
        q_start = np.maximum.accumulate(
            np.where(new_q, np.arange(q_o.size), 0))
        order = order[np.arange(q_o.size) - q_start < int(k)]
    return q[order], d[order], s[order]


def _fold_topk(q: np.ndarray, d: np.ndarray, t: np.ndarray,
               p: np.ndarray, k: int | None) -> tuple[np.ndarray, ...]:
    """Per-(qid, doc) score by a strict left fold of its partials in
    (term, partial) order (term rank asc, then partial asc for duplicate
    clause terms), then the per-qid top-k. Returns (qid rank, doc_id,
    score) in (qid, score desc, doc_id asc) order. The one fold of every
    BM25 tier: the driver-local ones run it over every partial, the
    distributed executor per partition (a doc's partials all land in
    one) and then _topk_by_q over the partitions' top-k."""
    if d.size == 0:
        return q, d, p
    order = np.lexsort((p, t, d, q))
    q_s, d_s, p_s = q[order], d[order], p[order]
    new_grp = (d_s[1:] != d_s[:-1]) | (q_s[1:] != q_s[:-1])
    starts = np.flatnonzero(np.r_[True, new_grp])
    lens = np.diff(np.r_[starts, d_s.size])
    scores = np.zeros(starts.size, dtype=np.float64)
    for j in range(int(lens.max())):
        sel = lens > j
        scores[sel] = scores[sel] + p_s[starts[sel] + j]
    return _topk_by_q(q_s[starts], d_s[starts], scores, k)


def _driver_local_topk_pd(reader: IndexReader, meta: pd.DataFrame,
                          k: int | None, k1: float,
                          b: float, rows: pd.DataFrame | None = None,
                          keep_ids: np.ndarray | None = None
                          ) -> pd.DataFrame | None:
    """numpy top-k (k=None: the full ranked match set) over
    pyarrow-fetched blocks for one or many queries.

    meta: one row per (qid, term) clause with qtf/idf (the same clause
    table the distributed executor uses). Returns (qid, doc_id, score)
    rows, per-qid-(score desc, doc_id asc)-ordered, or None when the
    tombstone set is too large to mask driver-side (caller falls back to
    the distributed executor's anti-join). Bit-identity contract: the same
    decode, float64 partials ((qtf*idf)*tf_part, _clause_partials) and
    fold (_fold_topk) as the distributed executor.

    rows: pre-fetched payload blocks (the block-max serving path passes
    only the blocks it proved relevant); default fetches every block of
    the clause terms. keep_ids: sorted docID allow-list applied after
    decode (block-max phase B: rescore exactly the candidate docs — a
    doc's full term set rides along because every block whose doc range
    contains a candidate is in rows)."""
    deleted: np.ndarray | None = None
    if reader.has_deletes:
        if reader.n_deleted_rows > DRIVER_LOCAL_MAX_DELETES:
            return None
        deleted = _deleted_ids_arrow(reader)
    terms = sorted(set(meta["term"]))
    qids = sorted(set(meta["qid"]))
    if rows is None:
        rows = _fetch_term_blocks_arrow(reader, terms)
    docs, post_t, tf_part = _block_tf_parts(
        rows, {t: r for r, t in enumerate(terms)}, reader.stats["avgdl"],
        k1, b)
    # keep_ids and tombstones drop whole docs: filter postings before
    # the clause expansion
    keep = np.ones(docs.size, dtype=bool)
    if keep_ids is not None:
        keep &= np.isin(docs, keep_ids)
    if deleted is not None and deleted.size:
        keep &= ~np.isin(docs, deleted)
    q, d, s = _fold_topk(*_clause_partials(
        docs[keep], post_t[keep], tf_part[keep],
        _clause_index(meta, terms, qids)), k)
    out = pd.DataFrame({"qid": np.asarray(qids, dtype=object)[q],
                        "doc_id": d, "score": s})
    out.attrs["n_blocks"] = len(rows)
    return out


_NO_HITS = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64),
                         "score": pd.Series(dtype=np.float64)})


def _fold_meta_pd(reader: IndexReader, meta: pd.DataFrame, k1: float,
                  b: float) -> pd.DataFrame | None:
    """Driver-local FULL match set (doc_id, score) of one clause table:
    the Σ df budget gate, then the numpy fold of _driver_local_topk_pd
    (k=None) — the one serving-tier decision for callers that combine
    whole match sets (bool_should, multi-field, ES-DSL leaves). None
    means go distributed."""
    if meta.empty:
        return _NO_HITS.copy()
    if int(meta["df"].sum()) > reader.driver_local_max_postings:
        return None
    full = _driver_local_topk_pd(
        reader, meta.assign(qid="q", qtf=meta["qtf"].astype(np.float64)),
        k=None, k1=k1, b=b)
    return None if full is None else full[["doc_id", "score"]]


def _hits_table(topk_pd: pd.DataFrame):
    """pandas ([qid,] doc_id, score) hits as a pyarrow Table of
    ([qid string,] doc_id int64, score float64)."""
    import pyarrow as pa

    cols = {"doc_id": topk_pd["doc_id"].to_numpy(np.int64),
            "score": topk_pd["score"].to_numpy(np.float64)}
    if "qid" in topk_pd.columns:
        cols = {"qid": pa.array(topk_pd["qid"].astype(str).to_numpy(),
                                pa.string()), **cols}
    return pa.table(cols)


def _hits_df(spark: SparkSession, topk_pd: pd.DataFrame) -> DataFrame:
    """Local-relation result handoff of ordered pandas ([qid,] doc_id,
    score) hits. createDataFrame of an Arrow table below
    spark.sql.execution.arrow.localRelationThreshold is a LocalRelation,
    so collect() runs NO Spark job, empty or not, and the doubles cross
    bit-exact. A Python list (or an empty pandas frame) would be
    parallelized into an RDD and cost one job."""
    return spark.createDataFrame(_hits_table(topk_pd))


def _empty_df(spark: SparkSession, ddl: str) -> DataFrame:
    """Empty result of a DDL schema (``"doc_id bigint, ps double"``) as an
    Arrow LocalRelation: 0 Spark jobs, like _hits_df, where
    ``createDataFrame([], ddl)`` parallelizes an empty list (1 job)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        to_arrow_schema(StructType.fromDDL(ddl)).empty_table())


# Driver-side text fetch bound (bytes): _with_text reads the docs row
# groups whose footer doc_id [min, max] can hold a top-k id, so its cost
# is their total (uncompressed) size, not k. The build writes docs in
# input order, so docIDs are range-packed per file only when the input is
# (conv_id, turn_idx)-ordered; otherwise one footer range can span the
# corpus and the probe would be a driver-side full scan. pyarrow reads a
# 56.6 MB snappy row group of synthetic turns (4 columns, 15-id filter)
# in 90-130 ms on a 4-vCPU host, so 32 MiB costs ~60 ms: under the
# ~100 ms floor of the Spark broadcast join it replaces (4 jobs per text
# request on that host), with a transient driver allocation of tens of
# MB. Beyond it the join runs, on the executors.
DRIVER_TEXT_MAX_BYTES = 32 << 20

_TEXT_COLS = ["doc_id", "conv_id", "turn_idx", "text"]


def _docs_row_groups(reader: IndexReader) -> tuple:
    """(fragments, fragment index, row-group id, doc_id min, doc_id max,
    bytes) of every docs row group, from the parquet footers; memoised on
    the reader with its docs dataset."""
    if reader._docs_rgs is None:
        frags = list(reader.docs_arrow().get_fragments())
        rows = []
        for i, frag in enumerate(frags):
            md = frag.metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = next(rg.column(j).statistics
                          for j in range(rg.num_columns)
                          if rg.column(j).path_in_schema == "doc_id")
                known = st is not None and st.has_min_max
                rows.append((i, g, st.min if known else -(1 << 63),
                             st.max if known else (1 << 63) - 1,
                             rg.total_byte_size))
        cols = np.array(rows, dtype=np.int64).reshape(-1, 5).T
        reader._docs_rgs = (frags, *cols)
    return reader._docs_rgs


def _docs_text_arrow(reader: IndexReader, ids: np.ndarray):
    """(doc_id, conv_id, turn_idx, text) of ``ids`` as a pyarrow Table,
    read from only the docs row groups whose doc_id range can hold one,
    under the committed fence. None when those row groups exceed
    DRIVER_TEXT_MAX_BYTES (the caller joins in Spark instead)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    frags, fi, ri, lo, hi, nbytes = _docs_row_groups(reader)
    u = np.unique(ids)
    hit = np.searchsorted(u, hi, "right") > np.searchsorted(u, lo)
    if int(nbytes[hit].sum()) > DRIVER_TEXT_MAX_BYTES:
        return None
    schema = reader.docs_arrow().schema
    flt = reader._docs_fence(pads.field("doc_id").isin(u.tolist()))
    parts = [frags[f].subset(row_group_ids=ri[hit & (fi == f)].tolist())
             .to_table(schema=schema, columns=_TEXT_COLS, filter=flt)
             for f in np.unique(fi[hit])]
    return (pa.concat_tables(parts) if parts
            else schema.empty_table().select(_TEXT_COLS))


def _with_text(reader: IndexReader, topk) -> DataFrame:
    """Top-k hits ``([qid,] doc_id, score)`` -> the result with text,
    ``([qid,] doc_id, score, conv_id, turn_idx, text)`` in ([qid,] score
    desc, doc_id asc) order.

    A pandas top-k (every search/search_many tier, rows already in
    result order) fetches its k docs rows with pyarrow and hands the
    result to Spark as an Arrow LocalRelation: zero Spark jobs. A Spark
    DataFrame top-k (the distributed phrase and bool_should paths), or
    one whose docs row groups exceed DRIVER_TEXT_MAX_BYTES,
    broadcast-joins the k rows against the forward table instead."""
    keys = [c for c in topk.columns if c == "qid"]
    if isinstance(topk, pd.DataFrame):
        d = topk["doc_id"].to_numpy(np.int64)
        docs = _docs_text_arrow(reader, d)
        if docs is not None:
            at = pd.Index(docs["doc_id"].to_numpy()).get_indexer(d)
            found = at >= 0  # inner-join semantics, like the Spark join
            rows = docs.take(at[found])
            out = _hits_table(topk[found])
            for c in ("conv_id", "turn_idx", "text"):
                out = out.append_column(c, rows[c])
            return reader.spark.createDataFrame(out)
        topk = _hits_df(reader.spark, topk)
    return (reader.docs.select(*_TEXT_COLS).join(F.broadcast(topk), "doc_id")
            .select(*keys, "doc_id", "score", "conv_id", "turn_idx", "text")
            .orderBy(*keys, F.desc("score"), F.asc("doc_id")))


def _local_result(reader: IndexReader, topk_pd: pd.DataFrame,
                  with_text: bool) -> DataFrame:
    """Driver-computed top-k rows -> result DataFrame: zero Spark jobs
    with or without text."""
    topk_pd = topk_pd[["doc_id", "score"]]
    if with_text:
        return _with_text(reader, topk_pd)
    return _hits_df(reader.spark, topk_pd)


def _search_driver_local(reader: IndexReader, meta: pd.DataFrame,
                         k: int, k1: float, b: float,
                         with_text: bool,
                         prune_stats: dict | None) -> DataFrame | None:
    """Zero-Spark-job top-k for budget-sized single queries."""
    topk_pd = _driver_local_topk_pd(reader, meta.assign(qid="q"),
                                    k, k1, b)
    if topk_pd is None:
        return None
    if prune_stats is not None:
        prune_stats.update(path="driver_local",
                           n_blocks=int(topk_pd.attrs.get("n_blocks", 0)))
    return _local_result(reader, topk_pd, with_text)


def _fetch_blocks_grouped_arrow(reader: IndexReader,
                                sel: pd.DataFrame) -> pd.DataFrame:
    """Fetch the payload of the selected (term, salt, block_id) rows
    driver-side, with the filter grouped per (term, salt) as
    block_id ∈ [...] — the flat per-key OR of _fetch_blocks_arrow grows
    a pyarrow expression node per block, which at the block-max serving
    path's ~10³ kept blocks is needlessly deep; grouping bounds the tree
    by the (term, salt) count."""
    import functools
    import operator

    import pyarrow.dataset as pads

    parts = []
    for (t, s), grp in sel.groupby(["term", "salt"], sort=False):
        parts.append((pads.field("term") == t)
                     & (pads.field("salt") == int(s))
                     & pads.field("block_id").isin(
                         [int(x) for x in grp["block_id"]]))
    return reader._buckets_arrow(
        "postings", sel["term"].unique().tolist(), _PAYLOAD_COLS,
        functools.reduce(operator.or_, parts))


@dataclass
class _BlockPlan:
    """One query's exact block-max prune (lifecycle step 3, phase A),
    computed once from driver-side block metadata and executed by the
    driver-local blockmax tier, its only user."""
    bmeta: pd.DataFrame        # per-block metadata of the query terms
    weight: dict[str, float]   # qtf * idf per term
    gub_by: dict[str, float]   # global upper bound per term
    theta: float               # lower bound on the true k-th score
    keep_mask: np.ndarray      # phase-A survivors, aligned with bmeta
    fully: set[str]            # essential terms with every block kept
    slack_gub: float           # Σ gub over the terms not fully decoded


def _block_plan(reader: IndexReader, meta: pd.DataFrame, k: int,
                k1: float, b: float) -> _BlockPlan | None:
    """θ, MaxScore essential lists, aligned skip bounds and the fully-
    decoded slack for one clause table, from pyarrow block metadata plus
    ONE best-blocks payload fetch — zero Spark jobs. None when the query
    terms' block metadata exceeds BLOCK_META_BUDGET (the blockmax tier
    then declines)."""
    bmeta = _block_meta_arrow(reader, meta["term"].tolist())
    if bmeta is None:
        return None
    avgdl = float(reader.stats["avgdl"])
    k = int(k)
    weight = {t: float(q) * float(i) for t, q, i in
              zip(meta["term"], meta["qtf"], meta["idf"])}
    gub_by = dict(zip(meta["term"], meta["gub"].astype(float)))
    block_ub = bmeta["term"].map(weight).to_numpy(np.float64) * _sky_part_np(
        bmeta["sky_tfs"].tolist(), bmeta["sky_dls"].tolist(), avgdl, k1, b)
    # θ_meta, decode-free: within ONE term, distinct blocks hold distinct
    # docs, and the skyline block max is ACHIEVED by a posting — so a term
    # with ≥ k blocks proves k distinct docs scoring ≥ its k-th highest
    # weighted block max. Valid lower bound on the true k-th best score;
    # catches the bursty-tail postings a best-blocks decode sample misses.
    theta = float("-inf")
    terms_arr = bmeta["term"].to_numpy()
    for t in gub_by:
        tb = block_ub[terms_arr == t]
        if tb.size >= k:
            theta = max(theta, float(
                np.partition(tb, tb.size - k)[tb.size - k]))
    # θ_decode: exact partial sums over the few highest-bound blocks'
    # actual postings. Complements θ_meta on BOTH query shapes: several
    # top docs can share one block (θ_meta sees only each block's single
    # max), and on multi-term queries a doc's partials sum across terms.
    # θ = max of the two valid lower bounds.
    keys = _best_block_keys(bmeta, max(2, k // 128 + 2), avgdl, k1, b)
    rows = (_fetch_blocks_arrow(reader, keys) if keys
            else pd.DataFrame(columns=_PAYLOAD_COLS))
    theta = max(theta, _theta_from_rows(rows, meta, avgdl, k, k1, b))
    # MaxScore essential-list partition (VERDICT r5 #1): with terms
    # sorted by gub ascending, the maximal prefix whose cumulative gub
    # stays strictly below θ is NON-ESSENTIAL — a doc containing ONLY
    # those terms scores ≤ Σ gub < θ ≤ s_k, so phase A never decodes
    # their postings; they re-enter exactly in the phase-B rescore of
    # candidates. Any doc scoring ≥ θ appears in a kept ESSENTIAL block:
    # the doc-range-aligned skip bound (block-level BMW) bounds every
    # other term's partial by its best OVERLAPPING block, not its global
    # max — which is also what lets a rare∧common query prune the common
    # term where the rare term is absent. This is what lets the
    # common-term conjunction shape ("what is X", stopword + content
    # terms) prune at all: Σ df is corpus-scale but the ESSENTIAL Σ df is
    # the content terms'.
    essential = _maxscore_essential(gub_by, theta)
    keep_mask = ((_aligned_skip_bounds(bmeta, block_ub, list(gub_by))
                  >= theta) & bmeta["term"].isin(set(essential)).to_numpy())
    # essential terms whose EVERY block is kept are fully decoded in
    # phase A: a doc they don't contribute to provably lacks them (one
    # posting per (term, doc)), so their missing-term bound is 0, not
    # gub. A candidate's upper bound is approx + the slack of the NOT
    # fully decoded terms it lacks — the MaxScore tightening that keeps
    # the candidate set small where the loose global-gub bound made every
    # phase-A doc a candidate on homogeneous corpora.
    kept_per_term = bmeta.loc[keep_mask, "term"].value_counts()
    tot_per_term = bmeta["term"].value_counts()
    fully = {t for t in essential
             if int(kept_per_term.get(t, 0)) == int(tot_per_term.get(t, 0))}
    slack_gub = float(sum(g for t, g in gub_by.items() if t not in fully))
    return _BlockPlan(bmeta, weight, gub_by, theta, keep_mask, fully,
                      slack_gub)


def _search_driver_local_blockmax(reader: IndexReader, meta: pd.DataFrame,
                                  k: int, k1: float, b: float,
                                  with_text: bool, prune_stats: dict | None
                                  ) -> DataFrame | None:
    """Block-max-gated driver-local serving (VERDICT r4 #3): zero-Spark-
    job top-k for queries whose Σ df blows the flat budget but whose
    ANSWER lives in few blocks — the common-term interactive shape at
    10^12 turns, where Σ df scales with the corpus while the decode the
    skyline prune leaves behind scales with k and the score distribution.

    Builds and executes the query's _BlockPlan driver-side with pyarrow
    block fetches: phase A decodes the kept blocks, the θ''-filtered
    candidates are rescored exactly (phase B). The gate is DECODE COST,
    not Σ df: proceed only when the kept blocks' Σ posting_count (phase
    A) and the candidate-overlapping blocks' Σ posting_count (phase B)
    each fit reader.driver_local_max_postings. Exactness: candidates ⊇ every doc
    whose true score can reach the true k-th (phase B below), and the
    rescore fold is _fold_topk, as on every tier — results are
    bit-identical to both the flat serving path and the distributed
    executor (pytest-guarded with zero-job probes). Returns None (the
    caller goes on to the flat tier or the executor) on any over-budget
    stage, no plan (block metadata over budget) or no finite θ. The
    caller skips this tier under tombstones (prune math unsafe
    pre-purge, the Lucene posture) and for a term carrying several
    clauses."""
    plan = _block_plan(reader, meta, k, k1, b)
    if plan is None or not np.isfinite(plan.theta):
        return None
    avgdl = float(reader.stats["avgdl"])
    budget = int(reader.driver_local_max_postings)
    k = int(k)
    bmeta, theta = plan.bmeta, plan.theta
    kept = bmeta.loc[plan.keep_mask]
    kept_cost = int(kept["posting_count"].sum()) if len(kept) else 0
    if kept_cost == 0 or kept_cost > budget:
        if prune_stats is not None and kept_cost:
            prune_stats.update(blockmax_kept_postings=kept_cost)
        return None
    meta_q = meta.assign(qid="q", qtf=meta["qtf"].astype(np.float64))
    kept_rows = _fetch_blocks_grouped_arrow(reader, kept)
    if len(meta) == 1:
        # single clause: one posting per doc — the kept decode is exact
        # (every skipped doc provably scores < θ ≤ s_k), no phase B
        topk_pd = _driver_local_topk_pd(reader, meta_q, k, k1, b,
                                        rows=kept_rows)
        if topk_pd is None:
            return None
        if prune_stats is not None:
            prune_stats.update(
                path="driver_local_blockmax", theta=theta,
                n_blocks=int(len(bmeta)), n_keep=int(len(kept)),
                blockmax_kept_postings=kept_cost)
        return _local_result(reader, topk_pd, with_text)
    # phase A approx: per-doc partial sums + contributing-term gub over
    # the kept blocks (plain float sums — only BOUNDS, the exact fold
    # happens in the rescore); batch-decoded in one numpy pass. A
    # fully-decoded term's gub is 0 in the contribution ledger (its
    # absence is definitive; see _block_plan)
    docs, a_tfs, a_dls, a_counts = decode_blocks_flat(
        kept_rows["doc_gaps"].tolist(), kept_rows["tfs"].tolist(),
        kept_rows["dls"].tolist())
    kept_terms = kept_rows["term"].tolist()
    w_blk = np.fromiter((plan.weight[t] for t in kept_terms),
                        dtype=np.float64, count=len(kept_rows))
    g_blk = np.fromiter(
        ((0.0 if t in plan.fully else plan.gub_by[t]) for t in kept_terms),
        dtype=np.float64, count=len(kept_rows))
    parts = np.repeat(w_blk, a_counts) * bm25_tf_part(
        a_tfs, a_dls, avgdl, k1, b)
    gubs = np.repeat(g_blk, a_counts)
    order = np.argsort(docs, kind="stable")
    d_s, p_s, g_s = docs[order], parts[order], gubs[order]
    starts = np.flatnonzero(np.r_[True, d_s[1:] != d_s[:-1]])
    uniq_d = d_s[starts]
    approx = np.add.reduceat(p_s, starts)
    contrib_gub = np.add.reduceat(g_s, starts)
    # θ'' = max(θ, k-th approx); approx ≤ true score, still a valid bound
    if approx.size >= k:
        theta2 = max(theta, float(
            np.partition(approx, approx.size - k)[approx.size - k]))
    else:
        theta2 = theta
    cand_mask = approx + (plan.slack_gub - contrib_gub) >= theta2
    cand_ids = np.sort(uniq_d[cand_mask])
    if cand_ids.size == 0:
        return _local_result(reader, _NO_HITS, with_text)
    # phase B: every block whose doc range contains a candidate (the
    # candidate's FULL term set lives in those blocks)
    firsts = bmeta["first_doc_id"].to_numpy(np.int64)
    lasts = bmeta["last_doc_id"].to_numpy(np.int64)
    pos = np.searchsorted(cand_ids, firsts)
    overlap = (pos < cand_ids.size) & (cand_ids[np.minimum(
        pos, cand_ids.size - 1)] <= lasts)
    over = bmeta.loc[overlap]
    over_cost = int(over["posting_count"].sum()) if len(over) else 0
    # phase B affords a higher decode budget than phase A: it is ONE
    # grouped pyarrow fetch + ONE batched numpy decode pass
    # (decode_blocks_flat), measured ~10x cheaper per posting than the
    # per-block loop the r5 budget constant was calibrated against
    if over_cost > BLOCKMAX_RESCORE_FACTOR * budget:
        if prune_stats is not None:
            prune_stats.update(blockmax_rescore_postings=over_cost)
        return None
    rescore_rows = _fetch_blocks_grouped_arrow(reader, over)
    topk_pd = _driver_local_topk_pd(reader, meta_q, k, k1, b,
                                    rows=rescore_rows, keep_ids=cand_ids)
    if topk_pd is None:
        return None
    if prune_stats is not None:
        prune_stats.update(
            path="driver_local_blockmax", theta=theta, theta2=theta2,
            n_blocks=int(len(bmeta)), n_keep=int(len(kept)),
            n_candidates=int(cand_ids.size),
            blockmax_kept_postings=kept_cost,
            blockmax_rescore_postings=over_cost)
    return _local_result(reader, topk_pd, with_text)


def _theta_from_rows(rows: pd.DataFrame, meta: pd.DataFrame, avgdl: float,
                     k: int, k1: float, b: float) -> float:
    """θ from decoded best-block payload rows (a (term, doc_gaps, tfs,
    dls) frame): per-doc partial sums across terms; the k-th best sum is
    a valid lower bound on the true k-th score (each doc's true score ≥
    its partial sum here — partials are non-negative and the sum uses a
    subset of the doc's terms)."""
    if rows is None or not len(rows):
        return float("-inf")
    weights = {t: float(q) * float(i)
               for t, q, i in zip(meta["term"], meta["qtf"], meta["idf"])}
    all_ids, tfs, dls, counts = decode_blocks_flat(
        rows["doc_gaps"].tolist(), rows["tfs"].tolist(),
        rows["dls"].tolist())
    if all_ids.size == 0:
        return float("-inf")
    w_blk = np.fromiter((weights[t] for t in rows["term"].tolist()),
                        dtype=np.float64, count=len(rows))
    all_parts = np.repeat(w_blk, counts) * bm25_tf_part(
        tfs, dls, avgdl, k1, b)
    uniq, inv = np.unique(all_ids, return_inverse=True)
    sums = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(sums, inv, all_parts)
    if sums.size < k:
        return float("-inf")
    return float(np.partition(sums, sums.size - k)[sums.size - k])


def _sparse_max_table(vals: np.ndarray) -> list[np.ndarray]:
    """Sparse table for O(1) range-max: levels[k][i] = max vals[i:i+2^k]."""
    levels = [vals]
    while (1 << len(levels)) <= vals.size:
        h = 1 << (len(levels) - 1)
        prev = levels[-1]
        levels.append(np.maximum(prev[:prev.size - h], prev[h:]))
    return levels


def _range_max(levels: list[np.ndarray], i0: np.ndarray,
               i1: np.ndarray) -> np.ndarray:
    """Vectorized max(vals[i0[j]:i1[j]+1]) per query j (i0 <= i1)."""
    out = np.empty(i0.size, dtype=np.float64)
    k = np.floor(np.log2((i1 - i0 + 1).astype(np.float64))).astype(np.int64)
    for kk in np.unique(k):
        m = k == kk
        lv = levels[int(kk)]
        out[m] = np.maximum(lv[i0[m]], lv[i1[m] - (1 << int(kk)) + 1])
    return out


def _aligned_skip_bounds(bmeta: pd.DataFrame, block_ub: np.ndarray,
                         terms: list[str]) -> np.ndarray:
    """Doc-range-aligned phase-A skip bound per block (block-level BMW
    alignment, driver-side numpy):

        bound(B of t) = ub(B) + Σ_{t'≠t} max{ ub(B') : B' of t',
                                              range(B') ∩ range(B) ≠ ∅ }

    Valid: a doc d whose every containing block is skipped satisfies,
    for any of its terms t* with block B*, partial_{t'}(d) ≤ ub of the
    t'-block containing d, which overlaps B*'s doc range — so
    score(d) ≤ bound(B*) < θ. Strictly tighter than the global
    Σ gub(t') cutoff: a block in a doc region where a selective term is
    ABSENT gets that term's contribution bounded by 0, which is what
    lets rare∧common queries prune the common term's postings.

    Within one (term, salt) group blocks are doc-sorted and disjoint, so
    the overlap set per group is a contiguous index range — found with
    two searchsorted calls and bounded by a sparse-table range max.
    """
    n = len(bmeta)
    first = bmeta["first_doc_id"].to_numpy(np.int64)
    last = bmeta["last_doc_id"].to_numpy(np.int64)
    term_arr = bmeta["term"].to_numpy()
    # per (term, salt) group: arrays sorted by first_doc_id + max table
    groups: dict[str, list[tuple]] = {}
    gb = bmeta.groupby(["term", "salt"], sort=False).indices
    for (t, _s), idx in gb.items():
        idx = np.asarray(idx)
        order = np.argsort(first[idx], kind="stable")
        idx = idx[order]
        groups.setdefault(t, []).append(
            (first[idx], last[idx], _sparse_max_table(block_ub[idx])))
    bounds = block_ub.copy()
    for t in terms:
        rows_t = np.flatnonzero(term_arr == t)
        if rows_t.size == 0:
            continue
        f_t, l_t = first[rows_t], last[rows_t]
        for t2 in terms:
            if t2 == t or t2 not in groups:
                continue
            gmax = np.zeros(rows_t.size, dtype=np.float64)
            for gf, gl, levels in groups[t2]:
                # overlap: first' <= l AND last' >= f; gl is ascending
                # because the group's blocks are disjoint and sorted
                i0 = np.searchsorted(gl, f_t, side="left")
                i1 = np.searchsorted(gf, l_t, side="right") - 1
                valid = i0 <= i1
                if valid.any():
                    rm = _range_max(levels, i0[valid], i1[valid])
                    gmax[valid] = np.maximum(gmax[valid], rm)
            bounds[rows_t] += gmax
    return bounds


def _best_block_keys(bmeta: pd.DataFrame, n_blocks: int, avgdl: float,
                     k1: float, b: float) -> list[tuple[str, int, int]]:
    """Top-n_blocks blocks per term by the exact skyline bound (idf/qtf
    are constant within a term, so the tf-part orders identically to the
    full bound), tiebreak (block_id, salt) — pure numpy."""
    ub = _sky_part_np(bmeta["sky_tfs"].tolist(), bmeta["sky_dls"].tolist(),
                      avgdl, k1, b)
    d = bmeta.assign(_ub=ub)
    keys: list[tuple[str, int, int]] = []
    for t, grp in d.groupby("term", sort=False):
        top = grp.sort_values(["_ub", "block_id", "salt"],
                              ascending=[False, True, True]).head(n_blocks)
        keys.extend((t, int(r.salt), int(r.block_id))
                    for r in top.itertuples(index=False))
    return keys


# ---------------------------------------------------------------------------
# The distributed executor: one decode and one numpy fold for every BM25
# term query beyond the driver-local budget
# ---------------------------------------------------------------------------


def _decode_clauses_factory(avgdl: float, k1: float, b: float,
                            terms: list[str], clauses: tuple):
    """mapInPandas block decoder -> (q, doc_id, t, partial) rows, one per
    (posting, clause on its term): the small clause table rides in the
    closure, so no weights join follows the decode."""
    t_rank = {t: r for r, t in enumerate(terms)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            q, d, t, p = _clause_partials(
                *_block_tf_parts(pdf, t_rank, avgdl, k1, b), clauses)
            if d.size:
                yield pd.DataFrame({"q": q.astype(np.int32), "doc_id": d,
                                    "t": t.astype(np.int32), "partial": p})

    return run


def _fold_topk_factory(k: int | None):
    """mapInPandas per partition -> its per-qid top-k (q, doc_id, score)
    by _fold_topk (k=None: every (qid, doc) score). A partition holds
    every partial of its docs, so it folds them exactly, and its top-k
    rows contain the global top-k rows of its docs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        q, d, s = _fold_topk(pdf["q"].to_numpy(np.int64),
                             pdf["doc_id"].to_numpy(np.int64),
                             pdf["t"].to_numpy(np.int64),
                             pdf["partial"].to_numpy(np.float64), k)
        yield pd.DataFrame({"q": q.astype(np.int32), "doc_id": d,
                            "score": s})

    return run


def _distributed_scores(reader: IndexReader, meta: pd.DataFrame, k1: float,
                        b: float, k: int | None) -> DataFrame:
    """The distributed BM25 executor of a clause table (one row per (qid,
    term) clause with qtf/idf): a bucket- and term-pruned postings scan
    whose decode emits one weighted partial per (posting, clause),
    tombstoned docs dropped, then _fold_topk per partition. Returns the
    lazy (q int, doc_id bigint, score double) rows, q the qid's rank in
    sorted order: each partition's per-qid top-k (k=None: every match).

    A qid with several clauses has several partials per doc, so the
    partials shuffle on doc_id before the fold. When every qid has one
    clause, a (qid, doc) has exactly one partial and each decode
    partition folds on its own: no shuffle."""
    terms = sorted(set(meta["term"]))
    qids = sorted(set(meta["qid"]))
    buckets = sorted({int(v) for v in reader.bucket_of(terms).values()})
    partials = reader.live_only(
        reader.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "doc_gaps", "tfs", "dls")
        .mapInPandas(
            _decode_clauses_factory(reader.stats["avgdl"], k1, b, terms,
                                    _clause_index(meta, terms, qids)),
            schema="q int, doc_id bigint, t int, partial double"))
    if meta["qid"].duplicated().any():
        partials = partials.repartition("doc_id")
    return partials.mapInPandas(_fold_topk_factory(k),
                                schema="q int, doc_id bigint, score double")


def _distributed_topk_pd(reader: IndexReader, meta: pd.DataFrame, k: int,
                         k1: float, b: float) -> pd.DataFrame:
    """Per-qid top-k (qid, doc_id, score) of _distributed_scores in (qid,
    score desc, doc_id asc) order: the partitions' top-k rows collected
    and merged on the driver. Two Spark jobs with the doc_id shuffle,
    one without. Memory: a fold task holds one partition's partials, and
    the driver merges ≤ P·Q·k rows (P partitions, Q queries); it never
    holds the Σ df postings."""
    qids = sorted(set(meta["qid"]))
    tops = _distributed_scores(reader, meta, k1, b, k).toPandas()
    q, d, s = _topk_by_q(tops["q"].to_numpy(np.int64),
                         tops["doc_id"].to_numpy(np.int64),
                         tops["score"].to_numpy(np.float64), k)
    return pd.DataFrame({"qid": np.asarray(qids, dtype=object)[q],
                         "doc_id": d, "score": s})


def _all_match_scores(reader: IndexReader, meta: pd.DataFrame,
                      k1: float, b: float) -> DataFrame:
    """FULL scored set (doc_id, score), lazy, of one query's clause table
    (one row per (term, qtf) weighted clause, as produced by _term_meta /
    _fuzzy_term_meta) on the distributed executor: the
    ``_all_matches=True`` execution of search(), and the one the DSL
    clauses that assemble their own meta (term-level ``term`` and
    ``fuzzy``) call."""
    return _distributed_scores(reader, meta.assign(qid="q"), k1, b,
                               None).select("doc_id", "score")


def search(
    reader: IndexReader,
    query: str,
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
    with_text: bool = True,
    fuzzy: bool = False,
    max_expansions: int = 50,
    _all_matches: bool = False,
    prune_stats: dict | None = None,
) -> DataFrame:
    """Top-k BM25. Returns (doc_id, score[, conv_id, turn_idx, text])
    ordered by (score desc, doc_id asc); the text columns come with
    with_text=True, the default. Queries whose terms' total posting
    count fits reader.driver_local_max_postings run on the zero-Spark-job
    driver-local tiers (pyarrow block fetch + numpy scoring, flat or
    block-max pruned — see DRIVER_TOPK_MAX_POSTINGS and
    _search_driver_local_blockmax). The rest run on the distributed
    executor that search_many runs (_distributed_scores: at most two
    Spark jobs), bit-identical to every other tier. Either way the
    search runs eagerly and returns a local relation: collecting it
    runs no further Spark job while the text fits DRIVER_TEXT_MAX_BYTES.
    fuzzy=True expands query terms within Lucene AUTO edit distance
    (R5: the reference's default ``fuzziness: AUTO``,
    retrieval/es_search_final.py:21); each expansion scores as a weighted
    term clause (weight = qtf * (1 - ed/min(|q|,|t|))). The block plan
    weighs one clause per term, so a fuzzy expansion collision (two
    clauses on one term) skips the block-max tier.
    _all_matches=True returns the FULL scored set (doc_id, score) with no
    limit, lazily, always distributed — the exact-combination input for
    multi-field best_fields and bool_should.
    prune_stats: pass a dict to receive the tier that answered
    ({"path", ...}; the block-max tier adds "theta", "n_blocks",
    "n_keep", "n_candidates") — bench/test observability."""
    k1 = reader.stats["k1"] if k1 is None else k1
    b = reader.stats["b"] if b is None else b
    qterms = analyze_query(
        query, mode=reader.stats.get("analyzer", "english_folded"))

    if not qterms:
        return _local_result(reader, _NO_HITS, with_text)
    if fuzzy:
        meta = _fuzzy_term_meta(reader, qterms, k1, b, max_expansions)
    else:
        meta = _term_meta(reader, qterms, k1, b)
    if meta.empty:
        return _local_result(reader, _NO_HITS, with_text)
    meta = meta.assign(qtf=meta["qtf"].astype(np.float64))
    if _all_matches:
        return _all_match_scores(reader, meta, k1, b)

    # driver-local serving (bit-identical to distributed, zero Spark
    # jobs; see DRIVER_TOPK_MAX_POSTINGS). Tier order (r6): small flat
    # Σ df -> fetch-everything flat path (no block-metadata machinery);
    # larger Σ df -> block-max/MaxScore tier FIRST — even when the flat
    # decode would fit the budget, the pruned tier's exact fold touches
    # only θ''-candidates instead of lexsorting the full match set
    # (measured ~3x on the stopword-conjunction shape) — then the flat
    # path as fallback while Σ df still fits.
    df_sum = int(meta["df"].sum())
    budget = int(reader.driver_local_max_postings)
    if budget > 0:
        if df_sum <= budget // 4:
            local = _search_driver_local(reader, meta, k, k1, b,
                                         with_text, prune_stats)
            if local is not None:
                return local
        else:
            # the plan's bounds weigh one clause per term: a fuzzy
            # expansion collision (two clauses on one term) skips it
            if not reader.has_deletes and meta["term"].is_unique:
                local = _search_driver_local_blockmax(
                    reader, meta, k, k1, b, with_text, prune_stats)
                if local is not None:
                    return local
            if df_sum <= budget:
                local = _search_driver_local(reader, meta, k, k1, b,
                                             with_text, prune_stats)
                if local is not None:
                    return local

    if prune_stats is not None:
        prune_stats["path"] = "fallback_plain"
    topk_pd = _distributed_topk_pd(reader, meta.assign(qid="q"), k, k1, b)
    return _local_result(reader, topk_pd, with_text)


# ---------------------------------------------------------------------------
# Batch multi-query search: many top-k's in one fold
# ---------------------------------------------------------------------------


def search_many(
    reader: IndexReader,
    queries: dict[str, str] | list[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
    with_text: bool = False,
    fuzzy: bool = False,
    max_expansions: int = 50,
) -> DataFrame:
    """Top-k BM25 for MANY queries at once (T1 batch variant).

    The single-query ``search`` pays Spark's per-job floor per query; a
    batch retrieval workload (RAG eval sets, query logs, distillation)
    amortizes it: every matching block decodes once, however many batch
    queries share its term, and the whole batch folds in one numpy
    kernel (_fold_topk). Batches whose term-union posting count fits
    reader.driver_local_max_postings run it driver-side on pyarrow-
    fetched blocks (zero Spark jobs, see DRIVER_TOPK_MAX_POSTINGS).
    Larger ones run on the distributed executor (_distributed_scores,
    at most two Spark jobs): a bucket- and term-pruned postings scan
    whose decode emits one weighted partial per (posting, clause), then
    the same fold and per-query top-k per partition; the driver merges
    the partitions' top-k rows.

    Scores are bit-identical to ``search``, which runs the same tiers
    and the same executor.

    queries: {qid: query} or a list (auto qids q0000, q0001, ...).
    fuzzy=True applies the R5 AUTO edit-distance expansion to every
    query with ONE shared vocabulary-candidate job for the whole batch
    (_fuzzy_term_meta_many) — per-query scores stay bit-identical to
    ``search(..., fuzzy=True)``.
    Runs eagerly and returns (qid, doc_id, score[, conv_id, turn_idx,
    text]) ordered by (qid, score desc, doc_id asc) as a local relation:
    collecting it runs no further Spark job while the text fits
    DRIVER_TEXT_MAX_BYTES (see _with_text).
    """
    spark = reader.spark
    k1 = reader.stats["k1"] if k1 is None else k1
    b = reader.stats["b"] if b is None else b
    if not isinstance(queries, dict):
        queries = {f"q{i:04d}": q for i, q in enumerate(queries)}
    # ONE term-dictionary pass for the union of every query's terms
    # (r2 VERDICT #5: the per-query loop re-read the same bucket files
    # once per query); the per-query _term_meta calls below then hit the
    # reader's term cache without touching parquet.
    _amode = reader.stats.get("analyzer", "english_folded")
    all_qterms = {qid: analyze_query(q, mode=_amode)
                  for qid, q in queries.items()}
    if fuzzy:
        allmeta = _fuzzy_term_meta_many(
            reader, {q: t for q, t in all_qterms.items() if t},
            k1, b, max_expansions)
    else:
        union_terms = sorted(
            {t for qts in all_qterms.values() for t, _ in qts})
        if union_terms:
            reader.term_stats_arrow(union_terms)
        metas = []
        for qid, qterms in all_qterms.items():
            if not qterms:
                continue
            meta = _term_meta(reader, qterms, k1, b)
            if not meta.empty:
                metas.append(meta.assign(qid=qid))
        allmeta = pd.concat(metas, ignore_index=True) if metas else None

    # driver-local short-circuit for budget-sized batches: decode volume
    # is the term UNION (a term's blocks decode once however many batch
    # queries share it — same amortization as the distributed batch
    # path), so the gate is Σ df over DISTINCT terms. A batch with no
    # indexed query term answers here too.
    if allmeta is None or allmeta.empty:
        topk_pd = _NO_HITS.assign(qid=pd.Series(dtype=object))
    else:
        allmeta = allmeta.assign(qtf=allmeta["qtf"].astype(np.float64))
        topk_pd = (_driver_local_topk_pd(reader, allmeta, k, k1, b)
                   if int(allmeta.drop_duplicates("term")["df"].sum())
                   <= reader.driver_local_max_postings else None)
    if topk_pd is None:
        topk_pd = _distributed_topk_pd(reader, allmeta, k, k1, b)
    # rows are in (qid, score desc, doc_id asc) order and the Arrow
    # LocalRelation keeps it
    return (_with_text(reader, topk_pd) if with_text
            else _hits_df(spark, topk_pd))


# ---------------------------------------------------------------------------
# Phrase queries (R3/R4) over positional postings
# ---------------------------------------------------------------------------

PHRASE_ROW_SCHEMA = "doc_id bigint, term string, dl int, positions array<int>"


def _decode_positions_factory():
    from .indexer import decode_positions_block

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {"doc_id": [], "term": [], "dl": [], "positions": []}
            for row in pdf.itertuples(index=False):
                doc_ids = delta_decode(vb_decode(bytes(row.doc_gaps)))
                dls = vb_decode(bytes(row.dls)).astype(np.int64)
                poss = decode_positions_block(bytes(row.poss), doc_ids.size)
                rows["doc_id"].extend(doc_ids.tolist())
                rows["term"].extend([row.term] * doc_ids.size)
                rows["dl"].extend(dls.tolist())
                rows["positions"].extend(
                    [p.astype(np.int32).tolist() for p in poss])
            yield pd.DataFrame(rows)

    return run


def _phrase_prologue(reader: IndexReader, phrase: str,
                     k1: float | None, b: float | None):
    """Shared analyze/term-dictionary prologue of the phrase paths.
    Returns (ordered_terms, uniq, meta, sum_idf, k1, b); ordered_terms is
    [] for an empty analysis and meta is short when a phrase term is
    absent from the vocabulary (no phrase match anywhere)."""
    if not reader.stats.get("positions"):
        raise ValueError("index was built without positions "
                         "(build_index(with_positions=True))")
    k1 = reader.stats["k1"] if k1 is None else k1
    b = reader.stats["b"] if b is None else b
    from ..functions.analyzer import analyze

    ordered_terms = analyze(
        phrase, mode=reader.stats.get("analyzer", "english_folded"))
    uniq = sorted(set(ordered_terms))
    meta = _term_meta(reader, [(t, 1) for t in uniq], k1, b)
    # float64 sum in phrase order — mirrored by the oracle
    idf_by_term = dict(zip(meta["term"], meta["idf"]))
    sum_idf = 0.0
    if len(meta) == len(uniq):
        for t in ordered_terms:
            sum_idf += float(idf_by_term[t])
    return ordered_terms, uniq, meta, sum_idf, k1, b


_PHRASE_SHIFT = np.int64(1) << np.int64(32)


def _phrase_match_np(ordered_terms: list[str],
                     by_term: dict[str, tuple[np.ndarray, np.ndarray]],
                     dl_docs: np.ndarray, dl_vals: np.ndarray,
                     sum_idf: float, avgdl: float, k1: float, b: float):
    """The phrase intersection + scoring kernel, shared verbatim in
    semantics with the distributed match(): positions lift to global keys
    doc_id * 2^32 + pos, one np.isin per phrase term, ptf by unique
    count, score = sum_idf * tf_part(ptf, dl). by_term: term ->
    (doc-per-position int64, global key int64). Returns
    (match_docs, scores) or None for no match."""
    cand = by_term[ordered_terms[0]][1]
    for i, t in enumerate(ordered_terms[1:], start=1):
        if cand.size == 0:
            return None
        cand = cand[np.isin(cand + np.int64(i), by_term[t][1])]
    if cand.size == 0:
        return None
    match_docs, ptfs = np.unique(cand // _PHRASE_SHIFT, return_counts=True)
    pos = np.searchsorted(dl_docs, match_docs)
    dls = dl_vals[pos]
    scores = sum_idf * bm25_tf_part(ptfs.astype(np.int64), dls, avgdl,
                                    k1, b)
    return match_docs.astype(np.int64), scores.astype(np.float64)


def _positions_local(reader: IndexReader, terms: list[str]):
    """pyarrow (zero-Spark-job) fetch of the positional postings for
    `terms`: returns (by_term, dl_docs, dl_vals) where by_term maps each
    term PRESENT in the index to (doc-per-position int64, global key
    doc_id * 2^32 + pos int64) and the dl arrays are sorted by doc_id.
    Absent terms are simply missing keys — presence policy is the
    caller's (a fixed phrase term must be present; a prefix expansion
    set only needs one)."""
    from .indexer import decode_positions_flat

    import pyarrow.dataset as pads

    rows = reader._buckets_arrow("postings", terms, _PAYLOAD_COLS + ["poss"],
                                 pads.field("term").isin(terms))
    if not len(rows):
        return {}, np.empty(0, np.int64), np.empty(0, np.int64)
    # batch decode (r6, guide §4.2): gaps/tfs/dls in one numpy pass, the
    # position streams in one more (n_positions == tf by construction) —
    # the r5 per-block loop with a per-posting position split and a
    # Python dict for the dl map dominated driver-local phrase latency
    doc_ids, tfs, dls, blk_counts = decode_blocks_flat(
        rows["doc_gaps"].tolist(), rows["tfs"].tolist(),
        rows["dls"].tolist())
    pos_flat = decode_positions_flat(
        [bytes(x) for x in rows["poss"]], tfs)
    docs_rep = np.repeat(doc_ids, tfs)
    keys = docs_rep * _PHRASE_SHIFT + pos_flat
    present = list(dict.fromkeys(rows["term"].tolist()))
    t_rank = {t: r for r, t in enumerate(present)}
    blk_rank = np.fromiter((t_rank[t] for t in rows["term"].tolist()),
                           dtype=np.int64, count=len(rows))
    post_rank = np.repeat(blk_rank, blk_counts)
    pos_rank = np.repeat(post_rank, tfs)
    by_term = {}
    for t, r in t_rank.items():
        sel = pos_rank == r
        by_term[t] = (docs_rep[sel], keys[sel])
    uid, first = np.unique(doc_ids, return_index=True)
    return by_term, uid.astype(np.int64), dls[first]


def _phrase_scores_driver_local(reader: IndexReader, phrase: str,
                                k1: float | None = None,
                                b: float | None = None
                                ) -> pd.DataFrame | None:
    """Zero-Spark-job twin of phrase_scores for budget-sized phrases:
    pyarrow block fetch (incl. the positional payload), numpy decode +
    intersection. Returns the FULL (doc_id, score) match set as pandas,
    or None when over budget / tombstones too large (caller falls back
    to the distributed path)."""
    ordered_terms, uniq, meta, sum_idf, k1, b = _phrase_prologue(
        reader, phrase, k1, b)
    empty = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64),
                          "score": pd.Series(dtype=np.float64)})
    if not ordered_terms:
        return empty
    if len(meta) < len(uniq):
        return empty  # a phrase term is absent
    if int(meta["df"].sum()) > reader.driver_local_max_postings:
        return None
    deleted: np.ndarray | None = None
    if reader.has_deletes:
        if reader.n_deleted_rows > DRIVER_LOCAL_MAX_DELETES:
            return None
        deleted = _deleted_ids_arrow(reader)
    avgdl = reader.stats["avgdl"]

    by_term, dl_docs, dl_vals = _positions_local(reader, uniq)
    if any(t not in by_term for t in uniq):
        return empty
    hit = _phrase_match_np(ordered_terms, by_term, dl_docs, dl_vals,
                           sum_idf, avgdl, k1, b)
    if hit is None:
        return empty
    match_docs, scores = hit
    if deleted is not None and deleted.size:
        keep = ~np.isin(match_docs, deleted)
        match_docs, scores = match_docs[keep], scores[keep]
    return pd.DataFrame({"doc_id": match_docs, "score": scores})


def phrase_scores(reader: IndexReader, phrase: str,
                  k1: float | None = None, b: float | None = None) -> DataFrame:
    """Exact-phrase scoring over positional postings (R3: the reference's
    match_phrase clause, retrieval/es_search_final.py:24-31).

    Lucene-PhraseQuery-shaped semantics: with ordered analyzed terms
    t_0..t_{m-1}, phrase frequency ptf(d) = #{p : t_i at position p+i ∀i};
    score(d) = (Σ_i idf(t_i)) * ptf / (ptf + k1*(1-b+b*dl/avgdl)); docs
    with ptf = 0 are excluded. Returns the FULL scored set (doc_id, score).
    """
    spark = reader.spark
    ordered_terms, uniq, meta, sum_idf, k1, b = _phrase_prologue(
        reader, phrase, k1, b)
    if not ordered_terms or len(meta) < len(uniq):
        # no term, or a phrase term is absent -> no phrase match anywhere
        return _hits_df(spark, _NO_HITS)
    avgdl = reader.stats["avgdl"]
    n_uniq = len(uniq)

    buckets = sorted({int(v) for v in reader.bucket_of(uniq).values()})
    rows = (
        reader.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(uniq))
        .select("term", "doc_gaps", "dls", "poss")
        .mapInPandas(_decode_positions_factory(), schema=PHRASE_ROW_SCHEMA)
    )

    # Batch-vectorized intersection (VERDICT r1 #6: the old per-doc
    # applyInPandas paid one Python group invocation per matching doc).
    # Positions are lifted to a global key doc_id * 2^32 + pos, so ONE
    # np.isin per phrase term intersects every doc in the partition at
    # once — +i never crosses a doc boundary because positions < 2^32.
    # Docs missing a term die naturally in the intersection. The only
    # requirement is doc co-location, provided by the repartition below
    # (the same shuffle the old groupBy did, minus per-group serde).
    _SHIFT = np.int64(1) << np.int64(32)

    def match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        del parts
        glob: dict[str, np.ndarray] = {}
        for t in uniq:
            grp = pdf[pdf["term"] == t]
            if grp.empty:
                return  # a phrase term absent from this partition's docs
            lens = grp["positions"].str.len().to_numpy(np.int64)
            docs = np.repeat(grp["doc_id"].to_numpy(np.int64), lens)
            pos = (np.concatenate([np.asarray(x, dtype=np.int64)
                                   for x in grp["positions"]])
                   if lens.sum() else np.empty(0, np.int64))
            glob[t] = docs * _SHIFT + pos
        cand = glob[ordered_terms[0]]
        for i, t in enumerate(ordered_terms[1:], start=1):
            if cand.size == 0:
                return
            cand = cand[np.isin(cand + np.int64(i), glob[t])]
        if cand.size == 0:
            return
        match_docs, ptfs = np.unique(cand // _SHIFT, return_counts=True)
        dl_by_doc = pdf.drop_duplicates("doc_id").set_index("doc_id")["dl"]
        dls = dl_by_doc.loc[match_docs].to_numpy(np.int64)
        scores = sum_idf * bm25_tf_part(ptfs.astype(np.int64), dls,
                                        avgdl, k1, b)
        yield pd.DataFrame({"doc_id": match_docs.astype(np.int64),
                            "score": scores.astype(np.float64)})

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return reader.live_only(rows.repartition(n_part, "doc_id").mapInPandas(
        match, schema="doc_id bigint, score double"))


# pseudo-term for the expanded last position of a match_phrase_prefix —
# \x00 cannot survive any analyzer, so it never collides with an index term
_PFX_SENTINEL = "\x00prefix*"


def _prefix_expansions(reader: IndexReader, prefix: str,
                       max_expansions: int) -> list[str]:
    """Index terms starting with `prefix`: the first `max_expansions` in
    lexicographic term order (ES collects prefix expansions in term-
    dictionary order). Zero-job off the in-RAM vocabulary when it is
    within budget; otherwise ONE small distinct-terms job over the
    StartsWith-pushed postings scan (same pushdown as the distributed
    ``prefix`` clause). Both paths produce the same deterministic list,
    so the serving and distributed phrase-prefix scorers expand
    identically."""
    vocab = reader.vocab_arrow()
    if vocab is not None:
        m = vocab["term"].str.startswith(prefix).fillna(False).astype(bool)
        return sorted(vocab["term"][m].tolist())[:int(max_expansions)]
    rows = (reader.postings.filter(F.col("term").startswith(prefix))
            .select("term").distinct().orderBy("term")
            .limit(int(max_expansions)).collect())
    return [r.term for r in rows]


def _phrase_prefix_prologue(reader: IndexReader, phrase: str,
                            k1: float | None, b: float | None,
                            max_expansions: int):
    """match_phrase_prefix prologue: the LAST analyzed token is a term
    PREFIX whose expansions (capped, term order) may all complete the
    phrase at the final position. Scoring semantics (documented
    Lucene-MultiPhraseQuery-shaped): combined phrase frequency
    ptf(d) = #{p : fixed terms at p..p+m-2 and ANY expansion at p+m-1}
    (positions are disjoint across expansions — a position holds one
    token — so this equals the sum of per-expansion ptfs); sum_idf =
    Σ idf(fixed ordered terms) + idf computed from the MAX df among the
    expansions (Lucene's convention for a multi-term position);
    score(d) = sum_idf * ptf/(ptf + k1*(1-b+b*dl/avgdl)).
    Returns (ordered_terms ending in _PFX_SENTINEL, fetch_terms, meta,
    sum_idf, expansions, k1, b); ordered_terms == [] means no match
    anywhere (empty analysis, no expansion, or a fixed term absent)."""
    if not reader.stats.get("positions"):
        raise ValueError("index was built without positions "
                         "(build_index(with_positions=True))")
    k1 = reader.stats["k1"] if k1 is None else k1
    b = reader.stats["b"] if b is None else b
    from ..functions.analyzer import analyze

    toks = analyze(
        phrase, mode=reader.stats.get("analyzer", "english_folded"))
    nothing = ([], [], None, 0.0, [], k1, b)
    if not toks:
        return nothing
    fixed, prefix = toks[:-1], toks[-1]
    expansions = _prefix_expansions(reader, prefix, max_expansions)
    if not expansions:
        return nothing
    uniq_fixed = sorted(set(fixed))
    fetch = sorted(set(uniq_fixed) | set(expansions))
    meta = _term_meta(reader, [(t, 1) for t in fetch], k1, b)
    present = set(meta["term"])
    if any(t not in present for t in uniq_fixed):
        return nothing
    idf_by_term = dict(zip(meta["term"], meta["idf"]))
    sum_idf = 0.0
    for t in fixed:  # float64 sum in phrase order, like _phrase_prologue
        sum_idf += float(idf_by_term[t])
    max_df = int(meta.loc[meta["term"].isin(expansions), "df"].max())
    sum_idf += float(bm25_idf(reader.stats["n_docs"],
                              np.array([max_df]))[0])
    return (list(fixed) + [_PFX_SENTINEL], fetch, meta, sum_idf,
            expansions, k1, b)


def _phrase_prefix_driver_local(reader: IndexReader, phrase: str,
                                k1: float | None = None,
                                b: float | None = None,
                                max_expansions: int = 50
                                ) -> pd.DataFrame | None:
    """Zero-Spark-job twin of phrase_prefix_scores: same Σ df budget
    (over fixed terms + every expansion) and tombstone gate as the plain
    phrase serving path; None = go distributed. NOTE: the expansion
    lookup itself is only job-free when the vocabulary is in RAM
    (reader.vocab_arrow()); over that budget _prefix_expansions runs one
    small term-pruned job before this gate is even consulted."""
    ordered_terms, fetch, meta, sum_idf, expansions, k1, b = \
        _phrase_prefix_prologue(reader, phrase, k1, b, max_expansions)
    empty = pd.DataFrame({"doc_id": pd.Series(dtype=np.int64),
                          "score": pd.Series(dtype=np.float64)})
    if not ordered_terms:
        return empty
    if int(meta["df"].sum()) > reader.driver_local_max_postings:
        return None
    deleted: np.ndarray | None = None
    if reader.has_deletes:
        if reader.n_deleted_rows > DRIVER_LOCAL_MAX_DELETES:
            return None
        deleted = _deleted_ids_arrow(reader)
    avgdl = reader.stats["avgdl"]

    by_term, dl_docs, dl_vals = _positions_local(reader, fetch)
    if any(t not in by_term for t in ordered_terms[:-1]):
        return empty
    exp_present = [e for e in expansions if e in by_term]
    if not exp_present:
        return empty
    by_term[_PFX_SENTINEL] = (
        np.concatenate([by_term[e][0] for e in exp_present]),
        np.concatenate([by_term[e][1] for e in exp_present]))
    hit = _phrase_match_np(ordered_terms, by_term, dl_docs, dl_vals,
                           sum_idf, avgdl, k1, b)
    if hit is None:
        return empty
    match_docs, scores = hit
    if deleted is not None and deleted.size:
        keep = ~np.isin(match_docs, deleted)
        match_docs, scores = match_docs[keep], scores[keep]
    return pd.DataFrame({"doc_id": match_docs, "score": scores})


def phrase_prefix_scores(reader: IndexReader, phrase: str,
                         k1: float | None = None, b: float | None = None,
                         max_expansions: int = 50) -> DataFrame:
    """Distributed match_phrase_prefix scoring (the ES
    match_phrase_prefix clause; semantics in _phrase_prefix_prologue).
    Same plan shape as phrase_scores: term-pruned positional scan, ONE
    doc_id repartition, batch-vectorized numpy intersection — the only
    difference is that the final position matches the UNION of the
    expansions' position keys. Returns the FULL (doc_id, score) set."""
    spark = reader.spark
    ordered_terms, fetch, meta, sum_idf, expansions, k1, b = \
        _phrase_prefix_prologue(reader, phrase, k1, b, max_expansions)
    if not ordered_terms:
        return _hits_df(spark, _NO_HITS)
    avgdl = reader.stats["avgdl"]
    uniq_fixed = sorted(set(ordered_terms[:-1]))
    exp_set = set(expansions)

    buckets = sorted({int(v) for v in reader.bucket_of(fetch).values()})
    rows = (
        reader.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(fetch))
        .select("term", "doc_gaps", "dls", "poss")
        .mapInPandas(_decode_positions_factory(), schema=PHRASE_ROW_SCHEMA)
    )
    _SHIFT = np.int64(1) << np.int64(32)

    def _keys(grp: pd.DataFrame) -> np.ndarray:
        lens = grp["positions"].str.len().to_numpy(np.int64)
        docs = np.repeat(grp["doc_id"].to_numpy(np.int64), lens)
        pos = (np.concatenate([np.asarray(x, dtype=np.int64)
                               for x in grp["positions"]])
               if lens.sum() else np.empty(0, np.int64))
        return docs * _SHIFT + pos

    def match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        del parts
        glob: dict[str, np.ndarray] = {}
        for t in uniq_fixed:
            grp = pdf[pdf["term"] == t]
            if grp.empty:
                return  # a fixed term absent from this partition's docs
            glob[t] = _keys(grp)
        egrp = pdf[pdf["term"].isin(exp_set)]
        if egrp.empty:
            return  # no expansion completes any phrase here
        glob[_PFX_SENTINEL] = _keys(egrp)
        cand = glob[ordered_terms[0]]
        for i, t in enumerate(ordered_terms[1:], start=1):
            if cand.size == 0:
                return
            cand = cand[np.isin(cand + np.int64(i), glob[t])]
        if cand.size == 0:
            return
        match_docs, ptfs = np.unique(cand // _SHIFT, return_counts=True)
        dl_by_doc = pdf.drop_duplicates("doc_id").set_index("doc_id")["dl"]
        dls = dl_by_doc.loc[match_docs].to_numpy(np.int64)
        scores = sum_idf * bm25_tf_part(ptfs.astype(np.int64), dls,
                                        avgdl, k1, b)
        yield pd.DataFrame({"doc_id": match_docs.astype(np.int64),
                            "score": scores.astype(np.float64)})

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return reader.live_only(rows.repartition(n_part, "doc_id").mapInPandas(
        match, schema="doc_id bigint, score double"))


def _topk_pd(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """(score desc, doc_id asc) top-k rows of a pandas (doc_id, score)
    set."""
    top = np.lexsort((pdf["doc_id"].to_numpy(np.int64),
                      -pdf["score"].to_numpy(np.float64)))[:int(k)]
    return pdf.iloc[top]


def _topk_df(spark: SparkSession, pdf: pd.DataFrame, k: int) -> DataFrame:
    """(score desc, doc_id asc) top-k of a pandas (doc_id, score) set as
    a job-free Arrow LocalRelation (doc_id, score)."""
    return _hits_df(spark, _topk_pd(pdf[["doc_id", "score"]], k))


def phrase_search(reader: IndexReader, phrase: str, k: int = 10,
                  k1: float | None = None, b: float | None = None,
                  with_text: bool = False) -> DataFrame:
    """Top-k exact-phrase query (R3). Budget-sized phrases (Σ df of the
    phrase terms within reader.driver_local_max_postings) run entirely
    driver-side — zero Spark jobs with or without text, bit-identical
    (test-guarded)."""
    local = _phrase_scores_driver_local(reader, phrase, k1, b)
    if local is not None:
        return _local_result(reader, _topk_pd(local, k), with_text)
    scored = phrase_scores(reader, phrase, k1, b)
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    return _with_text(reader, topk) if with_text else topk


def bool_should_search(reader: IndexReader, query: str, k: int = 10,
                       phrase_boost: float = 2.0,
                       k1: float | None = None,
                       b: float | None = None,
                       with_text: bool = False) -> DataFrame:
    """R4: the reference's bool/should query shape (es_search_final.py:
    13-34): a match clause over all query terms PLUS a phrase clause with
    boost 2.0, minimum_should_match=1 — score = term_score +
    phrase_boost * phrase_score, docs matching either clause qualify.
    When BOTH clauses fit the driver-local budget the whole query runs
    driver-side (zero Spark jobs, with or without text), with the same
    coalesce-and-combine float expression as the distributed full-outer
    join. with_text=True adds (conv_id, turn_idx, text) like
    phrase_search."""
    k1r = reader.stats["k1"] if k1 is None else k1
    br = reader.stats["b"] if b is None else b
    local = None
    qterms = analyze_query(
        query, mode=reader.stats.get("analyzer", "english_folded"))
    if qterms:
        local = _fold_meta_pd(reader, _term_meta(reader, qterms, k1r, br),
                              k1r, br)
    if local is not None:
        pl = _phrase_scores_driver_local(reader, query, k1, b)
        if pl is not None:
            t = local.set_index("doc_id")["score"]
            p = pl.set_index("doc_id")["score"]
            allids = t.index.union(p.index)
            ts = t.reindex(allids, fill_value=0.0).to_numpy(np.float64)
            ps = p.reindex(allids, fill_value=0.0).to_numpy(np.float64)
            combined = pd.DataFrame({
                "doc_id": allids.to_numpy(np.int64),
                "score": ts + float(phrase_boost) * ps})
            return _local_result(reader, _topk_pd(combined, k), with_text)
    terms_scored = search(reader, query, k=k, k1=k1, b=b, with_text=False,
                          _all_matches=True)
    ph_scored = phrase_scores(reader, query, k1, b)
    combined = (
        terms_scored.withColumnRenamed("score", "tscore")
        .join(ph_scored.withColumnRenamed("score", "pscore"),
              "doc_id", "full_outer")
        .select(
            "doc_id",
            (F.coalesce(F.col("tscore"), F.lit(0.0))
             + F.lit(float(phrase_boost))
             * F.coalesce(F.col("pscore"), F.lit(0.0))).alias("score"),
        )
    )
    topk = combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    return _with_text(reader, topk) if with_text else topk


# ---------------------------------------------------------------------------
# Explain (ES GET /_explain/{id} analog)
# ---------------------------------------------------------------------------

def _fetch_doc_blocks_arrow(reader: IndexReader, terms: list[str],
                            doc_id: int) -> pd.DataFrame:
    """The ≤1 block per (term, salt, segment) whose docID span contains
    ``doc_id`` — a parquet filter over block METADATA (first/last
    docID), so the read is O(matching blocks), never O(df): explaining
    one doc against a 10^9-posting term fetches a couple of KB-sized
    blocks."""
    import pyarrow.dataset as pads

    return reader._buckets_arrow(
        "postings", terms, _PAYLOAD_COLS,
        pads.field("term").isin(terms)
        & (pads.field("first_doc_id") <= int(doc_id))
        & (pads.field("last_doc_id") >= int(doc_id)))


def explain(reader: IndexReader, query: str, doc_id: int,
            k1: float | None = None, b: float | None = None,
            fuzzy: bool = False, max_expansions: int = 50) -> dict:
    """Per-term BM25 score breakdown for ONE document (the ES
    ``GET /<index>/_explain/<id>`` analog — the reference's stack has
    this endpoint but its code never surfaces it; here it is a
    first-class driver-side call at any corpus size).

    Returns {"doc_id", "matched", "deleted", "score", "terms": [
    {"term", "qtf", "df", "idf", "tf", "dl", "tf_part",
    "contribution"}...]} where contribution = qtf * idf * tf_part and
    ``score`` folds the contributions in the engine's exact
    (term asc, partial asc) order — bit-identical to the score
    ``search`` returns for this doc (test-guarded).

    Zero Spark jobs always: term stats come from the driver-side
    dictionary cache and the posting lookup is a block-metadata range
    probe (see _fetch_doc_blocks_arrow) — unlike the driver-local top-k
    budget there is no Σ df gate, because only blocks CONTAINING the
    doc are read."""
    k1 = reader.stats["k1"] if k1 is None else k1
    b = reader.stats["b"] if b is None else b
    doc_id = int(doc_id)
    out: dict = {"doc_id": doc_id, "matched": False, "deleted": False,
                 "score": 0.0, "terms": []}
    if reader.has_deletes and _is_deleted_arrow(reader, doc_id):
        out["deleted"] = True
        return out
    qterms = analyze_query(
        query, mode=reader.stats.get("analyzer", "english_folded"))
    if not qterms:
        return out
    if fuzzy:
        meta = _fuzzy_term_meta(reader, qterms, k1, b, max_expansions)
    else:
        meta = _term_meta(reader, qterms, k1, b)
    if meta.empty:
        return out
    avgdl = float(reader.stats["avgdl"])
    terms = sorted(set(meta["term"]))
    blocks = _fetch_doc_blocks_arrow(reader, terms, doc_id)
    tf_dl: dict[str, tuple[int, int]] = {}
    for row in blocks.itertuples(index=False):
        ids = delta_decode(vb_decode(bytes(row.doc_gaps)))
        j = int(np.searchsorted(ids, doc_id))
        if j < ids.size and int(ids[j]) == doc_id:
            tfs = vb_decode(bytes(row.tfs)).astype(np.int64)
            dls = vb_decode(bytes(row.dls)).astype(np.int64)
            tf_dl[row.term] = (int(tfs[j]), int(dls[j]))
    rows = []
    for r in meta.itertuples(index=False):
        if r.term not in tf_dl:
            continue
        tf, dl = tf_dl[r.term]
        tf_part = float(bm25_tf_part(tf, dl, avgdl, k1, b))
        contribution = float(r.qtf) * float(r.idf) * tf_part
        rows.append({"term": r.term, "qtf": float(r.qtf),
                     "df": int(r.df), "idf": float(r.idf),
                     "tf": tf, "dl": dl, "tf_part": tf_part,
                     "contribution": contribution})
    if not rows:
        return out
    # the engine's exact fold order: term asc, then partial asc for
    # duplicate clause terms (_fold_topk, every tier's fold) — the
    # float64 sum is bit-identical
    rows.sort(key=lambda x: (x["term"], x["contribution"]))
    score = 0.0
    for x in rows:
        score = score + x["contribution"]
    out.update(matched=True, score=score, terms=rows)
    return out
