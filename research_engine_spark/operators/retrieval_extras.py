"""Secondary retrieval operators: multi-query RRF retrieval (R8),
highlighting (R9), context assembly (F11/T6), sliding-window re-chunking
(W1).

Reference behaviors re-expressed:
- R8: retrieval/query_retriever.py:239-296,314-355 — expand a query into n
  variants (there: via an LLM — out of engine scope; here the variants are
  caller-provided), retrieve per variant, fuse with RRF.
- R9: retrieval/rag_generator.py:154-158 — ES highlight fragments around
  matches; here `locate` + `substring` column expressions.
- F11/T6: website/backend/rag_service.py:120,129-131 — join top-k chunk
  texts with a separator, keep the last-N conversation turns.
- W1: database/scripts/chunk_pdfs_oai.py:72-86 — 800-token windows with
  200-token overlap, step = size - overlap, per document; chunk_index
  enumerated per doc. Here per-conversation over the concatenated turn
  stream via applyInPandas (windows are over token arrays, not rows, so a
  rowsBetween window cannot express it).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fusion import RRF_K, rrf_fuse
from .scorer import IndexReader, _empty_df, search


def multi_query_search(
    reader: IndexReader,
    queries: list[str],
    k: int = 10,
    per_query_k: int | None = None,
    rrf_k: int = RRF_K,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """R8: run each query variant, fuse ranked lists with RRF, return the
    fused top-k (doc_id, rrf_score) with deterministic tiebreaks."""
    spark = reader.spark
    per_query_k = per_query_k or max(k * 3, 15)
    ranked = []
    for q in queries:
        hits = search(reader, q, k=per_query_k, k1=k1, b=b, with_text=False)
        # hits is already a top-k (<= per_query_k rows from
        # TakeOrderedAndProject); the constant partition key keeps the tiny
        # rank window off the single-partition warning path.
        w = Window.partitionBy(F.lit(0)).orderBy(
            F.desc("score"), F.asc("doc_id"))
        ranked.append(hits.withColumn("rank", F.row_number().over(w)))
    if not ranked:
        return _empty_df(spark, "doc_id bigint, rrf_score double")
    return rrf_fuse(ranked, ["doc_id"], k=rrf_k, top_n=k)


SECTION_PATTERNS: list[tuple[str, str]] = [
    # reference elif order (chunk_pdfs_final.py:104-121); note the
    # reference's own quirk: headers REQUIRE a leading number ("1. Abstract"
    # matches, bare "Abstract" does not) — mirrored faithfully
    ("abstract", r"(?i)^\d+\.?\s*(?:Abstract)"),
    ("introduction", r"(?i)^\d+\.?\s*(?:Introduction)"),
    ("references", r"(?i)^\d+\.?\s*(?:References?|Bibliography)"),
    ("acknowledgments", r"(?i)^\d+\.?\s*(?:Acknowledgments?)"),
]


def identify_sections(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """F7: the reference's section state machine
    (database/scripts/chunk_pdfs_final.py:84-131 ``identify_sections``)
    as keyed-window column expressions — no Python state, no UDF.

    Line classification: blank lines dropped, header lines switch the
    current section, content lines belong to the most recent header above
    them (``main_content`` before any header). The reference's dict
    OVERWRITES a section that appears twice (last flush wins) — mirrored
    by keeping only the last header-run per (doc, section). Returns
    (doc_id, section, content) rows for non-empty sections; every window
    is partitioned by doc_id (scalable, never global).
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).select("doc_id", "pos", F.trim(F.col("raw")).alias("line"))
    lines = lines.filter(F.col("line") != "")
    hdr = F.lit(None).cast("string")
    for name, pat in reversed(SECTION_PATTERNS):
        hdr = F.when(F.col("line").rlike(pat), F.lit(name)).otherwise(hdr)
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines = (lines.withColumn("hdr", hdr)
             .withColumn("run", F.count("hdr").over(w))
             .withColumn("section", F.coalesce(
                 F.last("hdr", ignorenulls=True).over(w),
                 F.lit("main_content"))))
    content = lines.filter(F.col("hdr").isNull())
    grouped = (
        content.groupBy("doc_id", "section", "run")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            "\n").alias("content"))
    )
    w2 = Window.partitionBy("doc_id", "section").orderBy(F.desc("run"))
    return (grouped.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "section", "content"))


def replacement_scan(
    candidates: DataFrame,
    key_col: str = "group_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    raw_len_col: str = "raw_len",
    clean_len_col: str = "clean_len",
    ratio_min: float = 0.5,
    len_min: int = 500,
) -> DataFrame:
    """P6: the reference's content-quality replacement scan
    (retrieval/content_generator_v2.py:115-200), distilled to a
    deterministic relational form.

    Reference behavior: a retrieved chunk whose cleaned/raw length ratio
    < 0.5 AND cleaned length < 500 ("mostly references",
    content_generator_v2.py:123) is replaced by the best not-yet-used
    candidate from the same group whose ratio >= 0.5 OR cleaned length
    >= 500 (the acceptance test at :145); kept as-is when none exists.

    Relational distillation (the reference's sequential used_indices
    bookkeeping becomes two keyed rankings): failing rows and acceptable
    replacement rows are each ranked per group by (score desc, id asc);
    the r-th failing row takes the r-th best replacement — each
    replacement used at most once, same greedy pairing the reference's
    scan produces for same-group replacements. (The reference's second
    pass — cross-group fallback — is intentionally dropped: at corpus
    scale "any other random group" is not a meaningful repair.)

    Returns (key, doc_id, kept_id, replaced): kept_id == doc_id when the
    row passed or no replacement existed. Keyed windows only — no global
    sort, no single-partition stage.
    """
    ratio = F.when(F.col(raw_len_col) > 0,
                   F.col(clean_len_col).cast("double")
                   / F.col(raw_len_col)).otherwise(F.lit(0.0))
    failing = (ratio < F.lit(float(ratio_min))) & (
        F.col(clean_len_col) < F.lit(int(len_min)))
    passing = (ratio >= F.lit(float(ratio_min))) | (
        F.col(clean_len_col) >= F.lit(int(len_min)))
    base = candidates.select(
        F.col(key_col).alias("key"), F.col(id_col).alias("doc_id"),
        F.col(score_col).alias("_score"),
        failing.alias("_fail"), passing.alias("_pass"))
    order = [F.desc("_score"), F.asc("doc_id")]
    wk = Window.partitionBy("key").orderBy(*order)
    flagged = (base.filter("_fail")
               .withColumn("_r", F.row_number().over(wk))
               .select("key", "doc_id", "_r"))
    repl = (base.filter("_pass")
            .withColumn("_r", F.row_number().over(wk))
            .select("key", F.col("doc_id").alias("_repl_id"), "_r"))
    repaired = (flagged.join(repl, ["key", "_r"], "left")
                .select("key", "doc_id",
                        F.coalesce("_repl_id", "doc_id").alias("kept_id"),
                        F.col("_repl_id").isNotNull().alias("replaced")))
    kept = (base.filter(~F.col("_fail"))
            .select("key", "doc_id", F.col("doc_id").alias("kept_id"),
                    F.lit(False).alias("replaced")))
    return kept.unionByName(repaired)


def with_highlights(hits: DataFrame, query: str, text_col: str = "text",
                    width: int = 60, max_fragments: int = 1) -> DataFrame:
    """R9 highlighting, pure column expressions.

    The reference's only highlight config is fragment_size=150,
    number_of_fragments=1 (rag_generator.py:154-158) — the default here
    (one fragment of ±width chars around the earliest query-term match).
    max_fragments > 1 generalizes to the ES multi-fragment capability:
    one fragment per matched query TERM (earliest occurrence each), up to
    max_fragments, joined with " ... " in term-match order — still no
    UDF, and an extra ``highlights`` array column carries the fragments.
    """
    from ..functions.analyzer import analyze_query

    terms = [t for t, _ in analyze_query(query)]
    if not terms:
        out = hits.withColumn("highlight", F.lit(""))
        return (out.withColumn("highlights",
                               F.array().cast("array<string>"))
                if max_fragments > 1 else out)
    lower = F.lower(F.col(text_col))
    if max_fragments <= 1:
        # first occurrence position among all query terms (0 if none)
        pos = None
        for t in terms:
            p = F.locate(t, lower)
            pos = p if pos is None else F.when(
                (p > 0) & ((pos == 0) | (p < pos)), p).otherwise(pos)
        start = F.greatest(pos - F.lit(width // 2), F.lit(1))
        frag = F.when(pos > 0,
                      F.substring(F.col(text_col), start, width)
                      ).otherwise(F.substring(F.col(text_col), 1, width))
        return hits.withColumn("highlight", frag)

    # one (pos, fragment) struct per matched term, sorted by match
    # position, deduplicated, capped at max_fragments
    frags = []
    for t in terms:
        p = F.locate(t, lower)
        start = F.greatest(p - F.lit(width // 2), F.lit(1))
        frags.append(F.when(
            p > 0,
            F.struct(p.alias("pos"),
                     F.substring(F.col(text_col), start, width)
                     .alias("frag"))))
    arr = F.slice(
        F.array_distinct(F.transform(
            F.array_sort(F.filter(F.array(*frags), lambda x: x.isNotNull())),
            lambda s: s["frag"])),
        1, int(max_fragments))
    return (hits.withColumn("highlights", arr)
            .withColumn("highlight", F.array_join(arr, " ... ")))


def assemble_context(hits: DataFrame, text_col: str = "text",
                     max_chunks: int = 5, sep: str = "\n\n") -> str:
    """F11/T6: driver-side context assembly — join the top chunk texts
    (rag_service.py:120 '\\n\\n'.join; :172 sources[:5])."""
    rows = (hits.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(max_chunks).select(text_col).collect())
    return sep.join(r[0] for r in rows if r[0])


def last_n_turns(transcripts: DataFrame, n: int = 4) -> DataFrame:
    """T6 history slice: last n turns per conversation by turn_idx
    (rag_service.py:129-131 history[-4:])."""
    w = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
    return (transcripts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n).drop("_rn"))


CHUNK_SCHEMA = ("conv_id string, chunk_index int, chunk_text string, "
                "token_count int")


def rechunk_conversations(
    transcripts: DataFrame,
    window_tokens: int = 800,
    overlap: int = 200,
    min_doc_tokens: int = 50,
    min_chunk_tokens: int = 100,
) -> DataFrame:
    """W1: sliding token windows over each conversation's concatenated turn
    stream (reference geometry: 800/200, MIN_DOC_TOKENS=50,
    MIN_CHUNK_TOKENS=100 — chunk_pdfs_oai.py:31-34, chunk_pdfs_final.py:44).

    Pure Catalyst (r6 — the r5 ``applyInPandas`` dispatched one Python
    call per conversation, ~50k per sweep at sf1.0; guide §4.1 "prefer
    built-ins"): one groupBy assembles each conversation's token stream
    (turns sorted by turn_idx, whitespace tokens, empty strings
    dropped — exactly Python ``str.split()``), then the reference
    boundary loop becomes array arithmetic: candidate starts are the
    multiples of ``step = window - overlap`` up to the FIRST start
    whose window reaches the end (the loop breaks once j == n), short
    chunks drop before indexing (``chunk_index`` counts emitted chunks
    only), short docs drop entirely. Exact reference semantics
    (chunk_pdfs_oai.py:71-80, :119-120; chunk_pdfs_final.py:314-315) —
    hash-checked by the SQL oracle twin and the geometry unit tests.
    """
    step = window_tokens - overlap
    size, mindoc, minchunk = window_tokens, min_doc_tokens, \
        min_chunk_tokens
    turn_toks = F.filter(F.split(F.col("text"), r"\s+"),
                         lambda t: t != "")
    grouped = (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .agg(F.flatten(F.transform(
            F.array_sort(F.collect_list(
                F.struct("turn_idx", turn_toks.alias("_tk")))),
            lambda x: x["_tk"])).alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") >= int(mindoc))
    )
    # last start = first multiple of step whose window reaches the end
    smax = F.greatest(
        F.lit(0),
        (F.floor((F.col("_n") - F.lit(size) + F.lit(step) - 1)
                 / F.lit(step)) * F.lit(step)).cast("int"))
    chunks = F.filter(
        F.transform(
            F.filter(F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step)),
                     lambda s: s <= smax),
            lambda s: F.struct(
                F.array_join(F.slice(F.col("_toks"), s + 1, size), " ")
                .alias("txt"),
                F.least(F.col("_n") - s, F.lit(size)).alias("len"))),
        lambda c: c["len"] >= F.lit(minchunk))
    return (grouped.select(
        "conv_id", F.posexplode(chunks).alias("chunk_index", "_c"))
        .select("conv_id",
                F.col("chunk_index").cast("int"),
                F.col("_c.txt").alias("chunk_text"),
                F.col("_c.len").cast("int").alias("token_count")))
