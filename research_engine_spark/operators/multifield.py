"""Multi-field BM25 with per-field boosts — ES multi_match best_fields.

Reference: retrieval/es_search_final.py:16-23 queries
``fields: ["chunk_text^3", "title^2", "authors"]`` with best_fields (score
= max over per-field scores; tie_breaker defaults to 0), and v1 uses
``chunk_text^4`` (es_search.py:12-15). Lucene keeps SEPARATE statistics
(df, avgdl, norms) per field — so the faithful Spark design is one
sub-index per field sharing the SAME docID space (docIDs derive
deterministically from (conv_id, turn_idx), so alignment is free), with
query-time max-combination:

    score(d) = max_f boost_f * bm25_f(d)   (+ tie_breaker * sum of others)

Each sub-index is a full build_index() product, so everything (salting,
buckets, pruning, resume, lineage) applies per field unchanged.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .indexer import build_index
from .scorer import IndexReader, search


def build_multifield_index(
    transcripts: DataFrame,
    out_dir: str,
    fields: dict[str, float],
    **build_kwargs,
) -> dict:
    """One sub-index per field. ``fields`` maps column name -> boost.
    Columns are indexed as text (cast to string)."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for field in sorted(fields):
        sub = transcripts.withColumn(
            "text", F.coalesce(F.col(field).cast("string"), F.lit("")))
        stats[field] = build_index(
            sub, os.path.join(out_dir, f"field={field}"), **build_kwargs)
    with open(os.path.join(out_dir, "fields.json"), "w") as f:
        json.dump({"fields": fields}, f)
    return stats


class MultiFieldReader:
    def __init__(self, spark, out_dir: str) -> None:
        with open(os.path.join(out_dir, "fields.json")) as f:
            self.boosts: dict[str, float] = json.load(f)["fields"]
        self.readers = {
            field: IndexReader(spark, os.path.join(out_dir, f"field={field}"))
            for field in self.boosts
        }
        self.spark = spark


def _search_multifield_driver_local(mf: MultiFieldReader, query: str,
                                    tie_breaker: float,
                                    k1: float | None, b: float | None):
    """Zero-Spark-job best_fields twin: every field's FULL match set is
    at most Σ df rows, so when EVERY field fits its reader's
    driver_local_max_postings budget the per-field sets come from
    _fold_meta_pd and the max + tie_breaker*rest combination runs in
    pandas. Returns the combined (doc_id, score) pandas frame, or None
    when any field is over budget / tombstones too large (caller falls
    back to the distributed union+agg)."""
    import numpy as np
    import pandas as pd

    from .scorer import _NO_HITS, _fold_meta_pd, _term_meta
    from ..functions.analyzer import analyze_query

    frames = []
    for field, reader in mf.readers.items():
        k1f = reader.stats["k1"] if k1 is None else k1
        bf = reader.stats["b"] if b is None else b
        qterms = analyze_query(
            query, mode=reader.stats.get("analyzer", "english_folded"))
        if not qterms:
            continue
        # no query term in this field's vocab: an empty set, contributes 0
        full = _fold_meta_pd(reader, _term_meta(reader, qterms, k1f, bf),
                             k1f, bf)
        if full is None:
            return None
        frames.append(pd.DataFrame({
            "doc_id": full["doc_id"].to_numpy(np.int64),
            "fscore": full["score"].to_numpy(np.float64)
            * float(mf.boosts[field])}))
    if not frames:
        return _NO_HITS.copy()
    allf = pd.concat(frames, ignore_index=True)
    g = allf.groupby("doc_id", sort=True)["fscore"]
    mx, sm = g.max(), g.sum()
    score = mx + float(tie_breaker) * (sm - mx)
    return pd.DataFrame({"doc_id": score.index.to_numpy(np.int64),
                         "score": score.to_numpy(np.float64)})


def search_multifield(
    mf: MultiFieldReader,
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """best_fields combination over the per-field sub-indexes.

    Per-field candidate top-k is NOT enough for exact max-combination (a
    doc can be k+1-th in every field yet top-k combined only when
    tie_breaker > 0), so each field contributes its FULL scored set for
    the query terms (still only matching postings) and the combination is
    a union + max/sum aggregate + distributed top-k. When every field
    fits the driver-local posting budget the whole query instead runs
    zero-Spark-job (see _search_multifield_driver_local) — the two paths
    are bit-identical at any field count and tie_breaker: the
    distributed combination pivots per-field scores into fixed columns
    (each an exact at-most-one-addend conditional sum) and folds the
    tie_breaker sum left-to-right in field order, the same order the
    pandas twin's concat-order groupby sum uses (r4 ulp caveat retired,
    matching the esdsl should-fold fix).
    """
    local = _search_multifield_driver_local(mf, query, tie_breaker, k1, b)
    if local is not None:
        from .scorer import _topk_df

        return _topk_df(mf.spark, local, k)
    parts = []
    for fid, (field, reader) in enumerate(mf.readers.items()):
        boost = float(mf.boosts[field])
        scored = search(reader, query, k=k, k1=k1, b=b, with_text=False,
                        _all_matches=True)
        parts.append(scored.select(
            "doc_id", (F.col("score") * F.lit(boost)).alias("fscore"),
            F.lit(fid).alias("_fid")))
    if not parts:
        return mf.spark.createDataFrame([], "doc_id bigint, score double")
    unioned = reduce(DataFrame.unionByName, parts)
    piv = unioned.groupBy("doc_id").agg(
        *[F.sum(F.when(F.col("_fid") == i, F.col("fscore")))
          .alias(f"_f{i}") for i in range(len(parts))])
    cols = [F.col(f"_f{i}") for i in range(len(parts))]
    sm = F.coalesce(cols[0], F.lit(0.0))
    for c in cols[1:]:
        sm = sm + F.coalesce(c, F.lit(0.0))
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    combined = piv.select(
        "doc_id",
        (mx + F.lit(float(tie_breaker)) * (sm - mx)).alias("score"))
    return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
