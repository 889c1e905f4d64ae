"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2 + training-data ops), each as a (Spark callable, DuckDB
oracle SQL) pair over the /root/testdata parquet tables.

Conventions for exact cross-engine agreement:
- every computed double is round()-ed in BOTH engines (ulp-level float
  differences must not flip the driver's value hash);
- every LIMIT/top-k has a fully deterministic ORDER BY (ties broken by
  keys) in BOTH engines;
- aliases match exactly between the Spark plan and the SQL text.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import gopher as GP
from .functions import textstats as TS
from .operators import dedup as DD
from .operators.fusion import rrf_fuse, with_rank
from .operators.scorer import _empty_df
from .session import wide

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register(name: str, sql: str | None = None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            SQL[name] = sql
        return fn
    return deco


# ---------------------------------------------------------------------------
# Relational core (scans S1/S3, filters P1-P4, joins J1-J6, aggs A1-A8,
# windows W2/W3, top-k T1-T6, set ops U1-U3)
# ---------------------------------------------------------------------------

@register("q01_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       count(*)                                                    AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q01(spark, sf_dir):
    """TPC-H Q1 shape: grouped aggregate with map-side partials (A1/A5)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register("q03_top_orders", """
SELECT o.o_orderkey AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
""")
def q03(spark, sf_dir):
    """Join chain + grouped agg + distributed top-k (J2/A3/T1).

    r6 shape (guide §2.3 "aggregate before you shuffle" + §3.1): lineitem
    pre-aggregates revenue per orderkey in the scan stage (map-side
    partials — the one corpus-sized shuffle now moves (orderkey, partial)
    pairs instead of 6M wide rows), and both dimension sides broadcast
    (customer, then the customer-filtered orderkey set), so no other
    exchange exists. Equivalent to the oracle's join-then-group because
    revenue groups by o_orderkey = l_orderkey and c_custkey is unique
    (TPC-H PK) — hash-verified against the oracle at every sf."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (li.groupBy(F.col("l_orderkey").alias("orderkey"))
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("_rev")))
    o2 = (o.select("o_orderkey", "o_custkey")
          .join(F.broadcast(c.select("c_custkey")),
                F.col("c_custkey") == F.col("o_custkey"))
          .select("o_orderkey"))
    return (
        rev.join(F.broadcast(o2),
                 F.col("orderkey") == F.col("o_orderkey"))
        .select("orderkey", F.round(F.col("_rev"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@register("q05_region_revenue", """
SELECT r.r_name AS region,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(DISTINCT c.c_custkey) AS n_customers
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name
""")
def q05(spark, sf_dir):
    """Star join through two broadcast-able dims (J2 broadcast + A2/A3)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@register("anti_join_inactive_customers", """
SELECT c.c_custkey AS custkey, c.c_nationkey AS nationkey
FROM customer c ANTI JOIN orders o ON o.o_custkey = c.c_custkey
""")
def anti_join(spark, sf_dir):
    """Left-anti existence filter (P7/J5/U3: combine_csv dedup, snowball
    visited-set)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("custkey"),
                F.col("c_nationkey").alias("nationkey"))
    )


@register("union_distinct_orders", """
SELECT DISTINCT o_orderkey AS orderkey FROM (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 200000
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
""")
def union_distinct(spark, sf_dir):
    """Union-all + distinct (U1/U2: combine_csv.py:27-36)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 200000).select("o_orderkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return (a.unionAll(b).distinct()
            .select(F.col("o_orderkey").alias("orderkey")))


@register("window_rank_orders", """
SELECT custkey, orderkey, rn FROM (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 2
""")
def window_rank(spark, sf_dir):
    """Per-group top-n via ranking window (W2/W3)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(F.col("o_custkey").alias("custkey"),
                F.col("o_orderkey").alias("orderkey"), "rn")
    )


@register("history_last_n_events", """
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 4
""")
def history_last_n(spark, sf_dir):
    """Last-4 history slice per conversation/user (T6:
    rag_service.py:129-131 history[-4:])."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .select("user_id", "event_id", "rn")
    )


@register("grouped_event_stats", """
SELECT event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 4) AS sum_value,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type
""")
def grouped_event_stats(spark, sf_dir):
    """Grouped agg + count-distinct (A1/A2/A3)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@register("sessionize_events", """
SELECT user_id, count(*) AS n_events,
       CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
) GROUP BY user_id
""")
def sessionize(spark, sf_dir):
    """Sessionization: lag + gap threshold + running session count (the
    classic streaming-adjacent window pattern)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("new_sess", F.when(gap > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum("new_sess") + 1).alias("n_sessions"))
    )


@register("events_daily_pivot", """
SELECT CAST(ts AS DATE) AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)    AS clicks,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)     AS views,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
FROM events GROUP BY CAST(ts AS DATE)
""")
def events_daily_pivot(spark, sf_dir):
    """Pivot-shaped conditional aggregation."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("purchases"),
    )


@register("rrf_user_fusion", """
WITH by_count AS (
  SELECT user_id, row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rank
  FROM events GROUP BY user_id
), by_value AS (
  SELECT user_id, row_number() OVER (ORDER BY sum(value) DESC, user_id ASC) AS rank
  FROM events GROUP BY user_id
), unioned AS (
  SELECT * FROM by_count UNION ALL SELECT * FROM by_value
)
SELECT user_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
FROM unioned GROUP BY user_id
ORDER BY rrf_score DESC, user_id ASC
LIMIT 20
""")
def rrf_user_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion (R7: query_retriever.py:66-74, k=60) over two
    independent rankings.

    Both rankings aggregate the SAME events scan, so the per-user base
    (count, sum) is computed once and persisted — each full-depth rank
    then shuffles only the tiny user-level aggregate (r2 VERDICT
    #3/#6: the naive form ran the events agg once per ranking plus once
    per range-sampling pass).

    Rank strategy is adaptive (r3 VERDICT #2): counting the persisted
    aggregate is ~free (it materializes the cache the plan reads anyway),
    and when the ranked lists are small the plain keyed window — one
    hash shuffle, no range sampling, no offsets join — replaces the
    ranged path. Beyond the threshold the ranged path keeps any one
    key's list from ever sitting in a single task."""
    from .operators.fusion import with_rank_per_key

    e = _t(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("value").alias("v")).persist()
    n_users = base.count()  # materializes the cache; decides the strategy
    tagged = (
        base.select("user_id", F.lit("c").alias("lst"),
                    F.col("c").alias("s"))
        .unionByName(base.select("user_id", F.lit("v").alias("lst"),
                                 F.col("v").alias("s")))
    )
    strategy = "window" if n_users <= 2_000_000 else "range"
    ranked = with_rank_per_key(tagged, "lst", "s", "user_id",
                               persist_input=False, strategy=strategy)
    fused = (
        ranked.groupBy("user_id")
        .agg(F.sum(1.0 / (F.lit(60.0) + F.col("rank"))).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("user_id")).limit(20)
    )
    return fused.select("user_id", F.round("rrf_score", 6).alias("rrf_score"))


# ---------------------------------------------------------------------------
# Text analysis / training-data ops over `documents`
# ---------------------------------------------------------------------------

_TOK_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


@register("filter_project_documents", """
SELECT doc_id, source, n_chars FROM documents
WHERE n_chars >= 200 AND n_chars <= 400 AND lang = 'en'
""")
def filter_project(spark, sf_dir):
    """Projection + conjunctive predicates, pushed to the parquet scan
    (P1-P4)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter((F.col("n_chars") >= 200) & (F.col("n_chars") <= 400)
                 & (F.col("lang") == "en"))
        .select("doc_id", "source", "n_chars")
    )


@register("term_frequencies", f"""
SELECT term, count(*) AS freq
FROM (SELECT unnest({_TOK_SQL}) AS term FROM documents)
GROUP BY term
ORDER BY freq DESC, term ASC
LIMIT 40
""")
def term_frequencies(spark, sf_dir):
    """Tokenize + explode + term-frequency aggregate (A6/F1, the SPIMI map
    stage over the documents analog)."""
    d = wide(_t(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                    lambda t: t != "")
    return (
        d.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(40)
    )


@register("corpus_stats_documents", f"""
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       round(avg(len({_TOK_SQL})), 4) AS avgdl,
       CAST(sum(len({_TOK_SQL})) AS BIGINT) AS total_tokens
FROM documents
""")
def corpus_stats_documents(spark, sf_dir):
    """Corpus statistics for BM25 (A5: N, avgdl, total tokens)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                    lambda t: t != "")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg(F.size(toks)), 4).alias("avgdl"),
        F.sum(F.size(toks)).alias("total_tokens"),
    )


@register("text_quality_stats", f"""
SELECT doc_id,
       len({_TOK_SQL}) AS n_tokens,
       round(len(list_filter({_TOK_SQL},
             t -> t IN ('the','and','of','to','in','is','that','it','for',
                        'with','a','an','on','as','by','be','are','was',
                        'this','we'))) * 1.0
             / greatest(len({_TOK_SQL}), 1), 4) AS stop_ratio
FROM documents
""")
def text_quality_stats(spark, sf_dir):
    """Quality-scoring signals (P5 analog: chunk_pdfs_final.py:133-160) —
    token count + stopword ratio as JVM-side expressions."""
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    toks = TS.tokens_col(c)
    sw = F.array(*[F.lit(s) for s in TS.EN_STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(n_sw * F.lit(1.0) / F.greatest(F.size(toks), F.lit(1)), 4)
        .alias("stop_ratio"),
    )


@register("lang_id_heuristic", f"""
SELECT doc_id,
       CASE WHEN len(list_filter({_TOK_SQL},
                 t -> t IN ('the','and','of','to','in','is','that','it',
                            'for','with'))) * 1.0
                 / greatest(len({_TOK_SQL}), 1) >= 0.05
            THEN 'en' ELSE 'und' END AS lang_guess
FROM documents
""")
def lang_id_heuristic(spark, sf_dir):
    """Language-ID heuristic via function-word density."""
    d = _t(spark, sf_dir, "documents")
    toks = TS.tokens_col(F.col("text"))
    markers = F.array(*[F.lit(m) for m in TS.LANG_MARKERS["en"]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    ratio = hits * F.lit(1.0) / F.greatest(F.size(toks), F.lit(1))
    return d.select(
        "doc_id",
        F.when(ratio >= 0.05, "en").otherwise("und").alias("lang_guess"),
    )


@register("gopher_repetition_documents", f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
base AS (
  SELECT doc_id, tk,
         list_sum(list_transform(tk, t -> length(t))) + len(tk) - 1 AS cb
  FROM tk WHERE len(tk) > 0
),
g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS ng
       FROM base, unnest(generate_series(1, greatest(len(tk)-1, 0))) AS s(i)),
c2 AS (SELECT doc_id, ng, count(*) AS cnt FROM g2 GROUP BY doc_id, ng),
t2 AS (SELECT doc_id, cnt * length(ng) AS cov FROM
       (SELECT doc_id, cnt, ng,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, ng DESC) AS rn
        FROM c2) WHERE rn = 1),
g3 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ng
       FROM base, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS s(i)),
c3 AS (SELECT doc_id, ng, count(*) AS cnt FROM g3 GROUP BY doc_id, ng),
t3 AS (SELECT doc_id, cnt * length(ng) AS cov FROM
       (SELECT doc_id, cnt, ng,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, ng DESC) AS rn
        FROM c3) WHERE rn = 1),
g5 AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                      || tk[i+3] || ' ' || tk[i+4] AS ng
       FROM base, unnest(generate_series(1, greatest(len(tk)-4, 0))) AS s(i)),
c5 AS (SELECT doc_id, ng, count(*) AS cnt FROM g5 GROUP BY doc_id, ng),
d5 AS (SELECT doc_id, sum(cnt * length(ng)) AS tot,
              sum(CASE WHEN cnt > 1 THEN cnt * length(ng) ELSE 0 END) AS dup
       FROM c5 GROUP BY doc_id)
SELECT b.doc_id,
       round(coalesce(t2.cov * 1.0 / b.cb, 0), 4) AS top2_frac,
       round(coalesce(t3.cov * 1.0 / b.cb, 0), 4) AS top3_frac,
       round(coalesce(d5.dup * 1.0 / d5.tot, 0), 4) AS dup5_frac
FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
LEFT JOIN d5 USING (doc_id)
ORDER BY coalesce(t2.cov * 1.0 / b.cb, 0) DESC, b.doc_id ASC
LIMIT 20
""")
def gopher_repetition_documents(spark, sf_dir):
    """Gopher-style n-gram repetition screening (Rae et al. 2021 A1.1,
    functions/gopher.py): per-doc top-2/3-gram covered-character
    fraction + duplicated-5-gram character fraction, top 20 most
    2-gram-repetitive docs. One tagged n-gram explode + two groupBys
    for ALL n's — the 100 TB shape (counts stay distributed; no per-doc
    driver loop). The oracle recomputes every n-gram count, the
    tie-broken top gram, and both fractions from raw text."""
    d = wide(_t(spark, sf_dir, "documents"))
    m = GP.repetition_metrics(d, top_ns=(2, 3), dup_ns=(5,))
    return (
        m.orderBy(F.desc("top2_frac"), F.asc("doc_id")).limit(20)
        .select(
            "doc_id",
            F.round("top2_frac", 4).alias("top2_frac"),
            F.round("top3_frac", 4).alias("top3_frac"),
            F.round("dup5_frac", 4).alias("dup5_frac"),
        )
    )


@register("gopher_quality_documents", f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
f AS (
  SELECT doc_id, len(tk) AS wc,
         CASE WHEN len(tk) > 0 THEN
           list_sum(list_transform(tk, t -> length(t))) * 1.0 / len(tk)
         ELSE 0 END AS mwl,
         CASE WHEN len(tk) > 0 THEN
           len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
             * 1.0 / len(tk)
         ELSE 0 END AS alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
                         w -> list_contains(tk, w))) AS nreq
  FROM tk
),
flags AS (
  SELECT (wc BETWEEN 50 AND 100000) AS ok_wc,
         (wc > 0 AND mwl BETWEEN 3 AND 10) AS ok_mwl,
         (wc > 0 AND alpha >= 0.8) AS ok_alpha,
         (nreq >= 2) AS ok_req
  FROM f
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ok_wc AND ok_mwl AND ok_alpha AND ok_req
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN NOT ok_wc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_word_count,
       CAST(sum(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_mean_word_len,
       CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_alpha,
       CAST(sum(CASE WHEN NOT ok_req THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_required
FROM flags
""")
def gopher_quality_documents(spark, sf_dir):
    """Gopher document-level quality rules (Rae et al. 2021 A1.1,
    functions/gopher.py doc_quality_flags): corpus-level pass/fail
    census over word count, mean word length, alphabetic-word ratio,
    and required-word presence — pure column expressions, one
    map-side-combinable aggregate."""
    d = wide(_t(spark, sf_dir, "documents"))
    flags = GP.doc_quality_flags(F.col("text"))
    fd = d.select(*[v.alias(k) for k, v in flags.items()])
    allok = (F.col("ok_word_count") & F.col("ok_mean_word_len")
             & F.col("ok_alpha_ratio") & F.col("ok_required_words"))

    def _fails(c):
        return F.sum(F.when(~F.col(c), 1).otherwise(0))

    return fd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(allok, 1).otherwise(0)).alias("n_pass"),
        _fails("ok_word_count").alias("n_fail_word_count"),
        _fails("ok_mean_word_len").alias("n_fail_mean_word_len"),
        _fails("ok_alpha_ratio").alias("n_fail_alpha"),
        _fails("ok_required_words").alias("n_fail_required"),
    )


@register("pii_scrub_documents", r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.1 call 415-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 5 = 0 THEN ' ssn 219-09-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                 THEN ' card 4242-4242-4242-4242' ELSE '' END AS t
  FROM documents WHERE doc_id % 13 = 0
),
m AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        '[PII-email]', 'g'),
        '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b|\b\d{16}\b',
        '[PII-card]', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '[PII-ssn]', 'g'),
        '\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b',
        '[PII-phone]', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[PII-ipv4]', 'g'
    ) AS text
  FROM aug
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
       CAST((length(text) - length(replace(text, '[PII-', ''))) / 5
            AS BIGINT) AS n_masked
FROM m
""")
def pii_scrub_documents(spark, sf_dir):
    """PII scrubbing (functions/pii.py mask_pii), driver-HASH-checked
    on the full masked STRINGS: deterministic identifiers (email,
    ipv4, phone, conditional ssn/card) are planted into every 13th
    document's text identically on both sides, then masked by the
    SAME RE2-compatible regex chain — the hash covers the patterns
    themselves, not just the plumbing. n_masked counts planted + any
    organic matches via the '[PII-' marker."""
    from .functions.pii import mask_pii

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    did = F.col("doc_id").cast("string")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), did,
            F.lit("@example.com ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 call 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" ssn 219-09-"),
                            F.lpad((F.col("doc_id") % 10000)
                                   .cast("string"), 4, "0")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" card 4242-4242-4242-4242"))
            .otherwise(F.lit("")),
        ).alias("t"))
    masked = mask_pii(F.col("t"))
    return aug.select(
        "doc_id", masked.alias("text"),
        ((F.length(masked)
          - F.length(F.regexp_replace(masked, r"\[PII-", "")))
         / F.lit(5)).cast("long").alias("n_masked"))


@register("lm_quality_documents", f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
counts AS (SELECT term, count(*) AS cnt FROM flat GROUP BY term),
tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM counts),
model AS (SELECT term,
                 ln((cnt + 1) * 1.0 / (tot.total + tot.vocab)) AS lp
          FROM counts, tot),
scored AS (
  SELECT f.doc_id, count(*) AS n_tokens, avg(m.lp) AS mean_lp
  FROM flat f JOIN model m USING (term)
  WHERE f.doc_id % 97 = 0
  GROUP BY f.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(mean_lp, 4) AS mean_logprob,
       round(exp(-mean_lp), 4) AS ppl
FROM scored
""")
def lm_quality_documents(spark, sf_dir):
    """CCNet-style unigram LM quality scores
    (functions/lmfilter.py), driver-HASH-checked: the add-one model
    trains on the WHOLE documents corpus (one term groupBy), then
    every 97th document gets (n_tokens, mean token log-prob,
    perplexity). DuckDB recomputes the model and the scores exactly
    from the same parquet — the in-corpus case has no OOV terms, so
    the join is inner on both sides."""
    from .functions.lmfilter import score_documents, unigram_model

    d = _t(spark, sf_dir, "documents")
    model = unigram_model(d)
    sample = d.filter(F.col("doc_id") % 97 == 0)
    out = score_documents(sample, model)
    return out.filter(F.col("n_tokens") > 0).select(
        "doc_id", "n_tokens",
        F.round("mean_logprob", 4).alias("mean_logprob"),
        F.round("ppl", 4).alias("ppl"))


@register("bpe_word_counts_documents", """
WITH words AS (
  SELECT unnest(list_filter(
      string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS word
  FROM documents
)
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM words GROUP BY word
ORDER BY cnt DESC, word ASC
LIMIT 50
""")
def bpe_word_counts_documents(spark, sf_dir):
    """Stage 1 of distributed BPE training (functions/bpe.py
    _word_counts), driver-HASH-checked: the corpus-sized pass is a
    vocabulary-sized word-count shuffle — lowercase + whitespace
    pre-tokenization, explode, groupBy count, frequency-truncated. The
    bounded driver merge loop that consumes this table is verified in
    pytest against the published Sennrich et al. 2016 worked example
    (tests/test_bpe.py)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(
            F.split(F.lower(F.col("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(50)
    )


@register("doc_fingerprints", """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       AS fingerprint
FROM documents
""")
def doc_fingerprints(spark, sf_dir):
    """Content fingerprinting (md5 over normalized text — portable across
    engines; the rolling-hash analog for exact dedup)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.fingerprint(F.col("text")).alias("fingerprint"))


@register("exact_dedup_documents", """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
)
SELECT f AS fingerprint, min(doc_id) AS keeper, count(*) AS n_dups
FROM fp GROUP BY f
""")
def exact_dedup_documents(spark, sf_dir):
    """Exact dedup by digest: keeper per duplicate group (A7 scaled —
    hash-groupBy, never pairwise)."""
    d = wide(_t(spark, sf_dir, "documents"))
    return (
        d.withColumn("fingerprint", TS.fingerprint(F.col("text")))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(tk, i, i + 2), ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS g(i)
)
"""


@register("minhash_signatures", f"""
WITH {_SHINGLES_CTE}
SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
FROM shingles, unnest(generate_series(0, 7)) AS s(seed)
WHERE doc_id < 40
GROUP BY doc_id, seed
""")
def minhash_signatures_q(spark, sf_dir):
    """MinHash signatures (portable md5 minima over 3-word shingles)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sig = DD.minhash_signatures(d, n_hashes=8, n=3)
    return sig.select("doc_id", F.col("seed").cast("long").alias("seed"),
                      "minhash")


_SHARD_SQL = " + ".join(
    f"(instr('0123456789abcdef', substring("
    f"md5(concat('0:', CAST(doc_id AS VARCHAR))), {i + 1}, 1)) - 1) "
    f"* {16 ** (3 - i)}"
    for i in range(4))


@register("shard_assignment_documents", f"""
WITH s AS (
  SELECT CAST(({_SHARD_SQL}) % 8 AS INT) AS shard FROM documents
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
FROM s GROUP BY shard ORDER BY shard
""")
def shard_assignment_documents(spark, sf_dir):
    """Deterministic training-data sharding (operators/export.py
    assign_shards): shard = 4-hex-digit md5 value mod n, a pure column
    expression independent of partitioning/cluster size/row order —
    the oracle runs the IDENTICAL substring+instr formula. Returns
    per-shard counts (balance is statistical: md5 uniform)."""
    from .operators.export import assign_shards

    d = _t(spark, sf_dir, "documents")
    return (assign_shards(d, n_shards=8, seed=0)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("shard"))


@register("pack_sequences_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(len({_TOK_SQL}) AS INT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(CAST(n_tokens AS BIGINT)) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS start_token
  FROM tk
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
       CAST(start_token AS BIGINT) AS start_token,
       CAST(floor(start_token / 256) AS BIGINT) AS first_seq,
       CAST(floor((start_token + greatest(n_tokens, 1) - 1) / 256)
            AS BIGINT) AS last_seq,
       CAST(CASE WHEN n_tokens > 0
            THEN floor((start_token + n_tokens - 1) / 256)
                 - floor(start_token / 256) + 1
            ELSE 0 END AS BIGINT) AS n_seqs
FROM c ORDER BY doc_id
""")
def pack_sequences_documents(spark, sf_dir):
    """Sequence-packing geometry (operators/export.py pack_sequences,
    GPT concat-then-chunk): docs concatenated in doc_id order, cut into
    256-token training sequences; per doc the stream offset and the
    first/last sequence index it lands in. Spark side computes the
    global offset with the docids.py two-pass cumsum (range partition +
    partition-local window + broadcast bases — no single-partition
    global window); the oracle is one SQL running-sum window."""
    from .operators.export import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, seq_len=256).select(
        "doc_id", "n_tokens", "start_token",
        "first_seq", "last_seq", "n_seqs")


@register("span_dedup_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
base AS (SELECT doc_id, tk, CAST(len(tk) AS INT) AS n_tokens FROM tk),
occ AS (
  -- gram key = hash of the joined tokens: the raw-string groupBy
  -- spills DuckDB temp at 1.2M docs (same lesson as the near-dup
  -- oracle); the 8-byte key is semantically identical up to 64-bit
  -- collisions
  SELECT doc_id, i AS start, hash(array_to_string(tk[i:i+12], ' ')) AS gram
  FROM base, unnest(generate_series(1, len(tk) - 13 + 1)) AS g(i)
  WHERE len(tk) >= 13
),
cnt AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT o.doc_id, o.start FROM occ o JOIN cnt USING (gram)),
m AS (
  SELECT doc_id, start,
         CASE WHEN start >= coalesce(max(start + 13) OVER (
                PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS newisl
  FROM dup
),
isl AS (
  SELECT doc_id, start,
         sum(newisl) OVER (PARTITION BY doc_id ORDER BY start) AS iid
  FROM m
),
covisl AS (
  SELECT doc_id, iid, max(start) + 13 - min(start) AS cov,
         count(*) AS ng
  FROM isl GROUP BY doc_id, iid
),
perdoc AS (
  SELECT doc_id, CAST(sum(ng) AS BIGINT) AS dup_grams,
         CAST(sum(cov) AS BIGINT) AS covered_tokens
  FROM covisl GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       coalesce(p.dup_grams, 0) AS dup_grams,
       coalesce(p.covered_tokens, 0) AS covered_tokens,
       CASE WHEN b.n_tokens > 0
            THEN round(coalesce(p.covered_tokens, 0) * 1.0
                       / b.n_tokens, 6)
            ELSE 0.0 END AS dup_frac
FROM base b LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id
""")
def span_dedup_documents(spark, sf_dir):
    """Exact duplicate-SPAN coverage (Lee et al. 2022 exact-substring
    dedup, Spark-shaped — operators/dedup.py duplicate_spans): token
    13-grams occurring 2+ times corpus-wide are duplicated spans,
    merged per doc by gaps-and-islands interval union; reports per-doc
    covered-token fraction. The oracle recomputes grams (DuckDB
    hash() of the joined tokens where Spark uses xxhash64 — both
    identical to raw-string semantics up to 64-bit collisions; raw
    strings spill DuckDB temp at 1.2M docs), the duplicate set, and
    the SAME window-based interval union in SQL. Finds the planted
    near-dup structure: ~45 docs carry nonzero coverage at sf0.01."""
    d = _t(spark, sf_dir, "documents")
    out = DD.duplicate_spans(d, k=13, min_count=2)
    return out.select("doc_id", "n_tokens",
                      F.col("dup_grams").cast("long").alias("dup_grams"),
                      F.col("covered_tokens").cast("long")
                      .alias("covered_tokens"),
                      F.round("dup_frac", 6).alias("dup_frac"))


@register("ngram_jaccard_pairs", f"""
WITH {_SHINGLES_CTE},
cold AS (SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 50),
fsh AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN cold USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM fsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM fsh a JOIN fsh b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
""")
def ngram_jaccard_q(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via shingle self-join (never a
    full cross join); hot shingles (df > 50) excluded from both sides of
    the measure — the oracle SQL mirrors the cap."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.2, n=3, max_shingle_df=50)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 4).alias("jaccard"))


@register("near_dup_clusters_documents", f"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
),
shingles AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         hash(array_to_string(list_slice(tk, i, i + 2), ' ')) AS sh
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS g(i)
),
cold AS MATERIALIZED (
  SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= 50),
fsh AS MATERIALIZED (
  SELECT s.doc_id, s.sh FROM shingles s JOIN cold USING (sh)),
sizes AS (SELECT doc_id, count(*) AS sz FROM fsh GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM fsh a JOIN fsh b ON a.sh = b.sh
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk AS (
  SELECT a AS node, a AS label FROM edges
  UNION
  SELECT e.a, w.label FROM edges e JOIN walk w ON w.node = e.b
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(label) AS BIGINT) AS cluster_id
FROM walk GROUP BY node
ORDER BY doc_id
""")
def near_dup_clusters_q(spark, sf_dir):
    """Duplicate GROUPS from near-dup pair edges: distributed min-label
    propagation = connected components, cluster_id = min doc_id of the
    component. The DuckDB twin computes the same transitive closure with
    a recursive CTE (min over all labels reachable through the symmetric
    edge set). Same pair emitter + caps as ngram_jaccard_pairs, except
    the oracle joins on hash(shingle) (8-byte key) instead of the raw
    shingle string: at the 1.2M-doc sweep the string self-join spilled
    >120 GB of DuckDB temp and died on disk; the hashed twin is
    semantically identical up to 64-bit collisions (~5e-5 global
    probability at 5e7 distinct shingles), and the heavy CTEs are
    forced MATERIALIZED so the WITH RECURSIVE prefix cannot re-evaluate
    them per reference."""
    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.2, n=3, max_shingle_df=50)
    return (DD.near_dup_clusters(pairs)
            .select(F.col("doc_id").cast("long"),
                    F.col("cluster_id").cast("long"))
            .orderBy("doc_id"))


@register("contamination_documents", f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
),
shingles AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(tk, i, i + 4), ' ') AS sh
  FROM toks, unnest(generate_series(1, greatest(len(tk) - 4, 0))) AS g(i)
),
probe_sh AS (SELECT doc_id, sh FROM shingles WHERE doc_id % 41 = 7),
corpus_sh AS MATERIALIZED (
  SELECT DISTINCT sh FROM shingles WHERE doc_id % 41 <> 7),
per AS (
  SELECT p.doc_id, count(*) AS n_shingles, count(c.sh) AS n_matched
  FROM probe_sh p LEFT JOIN corpus_sh c USING (sh)
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(per.n_matched, 0) AS BIGINT) AS n_matched,
       round(CASE WHEN coalesce(per.n_shingles, 0) > 0
                  THEN per.n_matched * 1.0 / per.n_shingles
                  ELSE 0.0 END, 4) AS overlap_frac
FROM (SELECT doc_id FROM documents WHERE doc_id % 41 = 7) d
LEFT JOIN per USING (doc_id)
ORDER BY doc_id
""")
def contamination_q(spark, sf_dir):
    """Benchmark-contamination screening: treat every 41st document as
    a benchmark item (the probe) and the rest as the training corpus;
    report the fraction of each probe doc's distinct 5-gram shingles
    found anywhere in the corpus. Scale shape: the probe shingle set is
    broadcast and the corpus is ONE streaming scan with a map-side
    semi-join — never a pairwise join (contamination needs "seen
    anywhere", not per-pair attribution). digest="raw" here so the
    DuckDB twin joins the same string keys; the default xxhash64 path
    is identity-tested in pytest."""
    from .operators.dedup import contamination_overlap

    d = _t(spark, sf_dir, "documents")
    probe = d.filter(F.col("doc_id") % 41 == 7)
    corpus = d.filter(F.col("doc_id") % 41 != 7)
    out = contamination_overlap(corpus, probe, n=5, digest="raw")
    return (out.select("doc_id", "n_shingles", "n_matched",
                       F.round("overlap_frac", 4).alias("overlap_frac"))
            .orderBy("doc_id"))


@register("embedding_cosine_topk", """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])), 4) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
""")
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (R6/T2: vector_store.py:146-161) — exact
    baseline for ANN."""
    from .operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    top = brute_force_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


_BM25_DOCS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
qterms AS (SELECT unnest(['spark','join','shuffle']) AS term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
"""


@register("bm25_documents", _BM25_DOCS_SQL)
def bm25_documents(spark, sf_dir):
    """Flagship: BM25 top-k computed with pure DataFrame ops over the
    documents table (R1/A5/A6/J6/T1 in one plan; SQL-portable analyzer —
    regex tokens, no stemming — so DuckDB can replay it exactly)."""
    d = wide(_t(spark, sf_dir, "documents"))
    qset = ["spark", "join", "shuffle"]
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    # r6 shape (guide §2.3): the r5 version exploded the 12M-token stream
    # and aggregated it TWICE across two actions (a corpus-stats driver
    # collect, then the scoring plan). Now per-term tf and dl are array
    # expressions inside ONE tokenize projection (no token row ever
    # exists), corpus stats ride as a broadcast 1-row frame, and the
    # stacked (doc, term, tf, dl) frame — only docs containing query
    # terms — is hash-clustered once and reused by the df aggregate and
    # the scoring join (AQE ReusedExchange).
    def _eq(term):
        lit = F.lit(term)
        return lambda x: x == lit

    tf_cols = [F.size(F.filter(toks_arr, _eq(t))).alias(f"_tf{i}")
               for i, t in enumerate(qset)]
    base = d.select("doc_id", F.size(toks_arr).alias("dl"), *tf_cols)
    corpus = base.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tok"))
    tfl = (base.select(
        "doc_id", "dl",
        F.expr("stack(3, 'spark', _tf0, 'join', _tf1, 'shuffle', _tf2) "
               "AS (term, tf)"))
        .filter(F.col("tf") > 0)
        .repartition("doc_id"))
    df_t = tfl.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # identical float expression tree to the r5 literal-based form:
    # n/tok enter as broadcast columns, avgdl = tok/n is the same IEEE
    # double division the driver used to do in Python
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    scored = (
        tfl.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn("idf", idf)
        .withColumn(
            "partial",
            F.col("idf") * F.col("tf")
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                    / (F.col("tok") / F.col("n")))),
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


_BATCH_QSETS = {
    "qa": ["spark", "join", "shuffle"],
    "qb": ["hash", "merge", "sort"],
    "qc": ["vector", "scan", "filter"],
}


@register("bm25_batch_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
qterms AS (
  SELECT 'qa' AS qid, unnest(['spark','join','shuffle']) AS term
  UNION ALL SELECT 'qb', unnest(['hash','merge','sort'])
  UNION ALL SELECT 'qc', unnest(['vector','scan','filter'])
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN qterms q USING (term)
       JOIN dl USING (doc_id), corpus
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT qid, doc_id, round(score, 4) AS score FROM ranked WHERE rn <= 10
ORDER BY qid, rn
""")
def bm25_batch_documents(spark, sf_dir):
    """Batch retrieval (search_many's shape as an oracle-checkable plan):
    THREE BM25 queries scored in ONE pass over the documents table — tf
    computed once for the term union, per-query weights joined in, top-10
    per query via a qid-PARTITIONED window (distributed across queries,
    never a single-partition rank)."""
    d = wide(_t(spark, sf_dir, "documents"))
    union_terms = sorted({t for ts in _BATCH_QSETS.values() for t in ts})
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in _BATCH_QSETS.items() for t in ts],
        "qid string, term string")
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("tok")).collect()[0]
    n_docs, avgdl = int(corpus["n"]), float(corpus["tok"]) / int(corpus["n"])
    tf = (toks.filter(F.col("term").isin(union_terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (
        tf.join(F.broadcast(df_t.withColumn("idf", idf).select("term", "idf")),
                "term")
        .join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            F.col("idf") * F.col("tf")
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                    / F.lit(avgdl))),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("qid", "doc_id", F.round("score", 4).alias("score"))
            .orderBy("qid", F.desc("score"), F.asc("doc_id")))


@register("doc_sections", r"""
WITH ls AS (
  SELECT doc_id, string_split(text, chr(10)) AS arr FROM documents
),
lines0 AS (
  SELECT doc_id, i AS pos, trim(arr[i]) AS line
  FROM ls, unnest(generate_series(1, len(arr))) AS g(i)
),
lines1 AS (
  SELECT doc_id, pos, line,
         CASE
           WHEN regexp_matches(line, '(?i)^\d+\.?\s*(?:Abstract)')
             THEN 'abstract'
           WHEN regexp_matches(line, '(?i)^\d+\.?\s*(?:Introduction)')
             THEN 'introduction'
           WHEN regexp_matches(line, '(?i)^\d+\.?\s*(?:References?|Bibliography)')
             THEN 'references'
           WHEN regexp_matches(line, '(?i)^\d+\.?\s*(?:Acknowledgments?)')
             THEN 'acknowledgments'
         END AS hdr
  FROM lines0 WHERE line <> ''
),
lines2 AS (
  SELECT *, count(hdr) OVER w AS run,
         coalesce(last_value(hdr IGNORE NULLS) OVER w, 'main_content')
           AS section
  FROM lines1
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
),
grouped AS (
  SELECT doc_id, section, run,
         string_agg(line, chr(10) ORDER BY pos) AS content
  FROM lines2 WHERE hdr IS NULL
  GROUP BY doc_id, section, run
)
SELECT doc_id, section, content FROM grouped
QUALIFY row_number() OVER (PARTITION BY doc_id, section ORDER BY run DESC) = 1
""")
def doc_sections(spark, sf_dir):
    """F7 section segmentation (chunk_pdfs_final.py:84-131) over
    documents — keyed-window state machine, DuckDB twin replays it."""
    from .operators.retrieval_extras import identify_sections

    d = _t(spark, sf_dir, "documents")
    return identify_sections(d)


_ACADEMIC_SUM_SQL = " + ".join(
    f"(CASE WHEN contains(lower(text), '{w}') THEN 1 ELSE 0 END)"
    for w in ["analysis", "method", "approach", "model", "algorithm",
              "experiment", "result", "conclusion", "study", "research",
              "data", "performance", "evaluation", "comparison"])


@register("quality_content_documents", r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '\[[\d,\s-]+\]|\([A-Za-z]+\s+et\s+al\.?\s*,\s*\d{4}\)')) AS BIGINT)
         AS citations,
       CAST(len(regexp_extract_all(text, 'https?://|www\.')) AS BIGINT)
         AS urls,
       CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
            s -> len(trim(s)) > 20 AND regexp_matches(s, '[a-zA-Z]')))
            AS BIGINT) AS meaningful,
       CAST(""" + _ACADEMIC_SUM_SQL + r""" AS BIGINT) AS academic,
       coalesce(
         len(trim(text)) >= 50
         AND len(regexp_extract_all(text,
             '\[[\d,\s-]+\]|\([A-Za-z]+\s+et\s+al\.?\s*,\s*\d{4}\)')) * 1.0
             <= len(string_split_regex(trim(text), '\s+')) * 0.1
         AND len(regexp_extract_all(text, 'https?://|www\.')) <= 3
         AND len(list_filter(string_split_regex(text, '[.!?]+'),
                 s -> len(trim(s)) > 20 AND regexp_matches(s, '[a-zA-Z]'))) >= 2
         AND (""" + _ACADEMIC_SUM_SQL + r""") >= 2,
         false) AS is_quality
FROM documents
""")
def quality_content_documents(spark, sf_dir):
    """P5 exact: the reference's is_quality_content boolean
    (chunk_pdfs_final.py:133-160) plus its component counts, as pure
    column expressions; DuckDB twin replays the same regexes."""
    from .functions.textstats import (ACADEMIC_WORDS, CITATION_RE, URL_RE,
                                      is_quality_content)

    d = _t(spark, sf_dir, "documents")
    sentences = F.split(F.col("text"), r"[.!?]+")
    meaningful = F.size(F.filter(
        sentences, lambda s: (F.length(F.trim(s)) > 20) & s.rlike("[a-zA-Z]")))
    lower = F.lower(F.col("text"))
    academic = sum((F.when(F.contains(lower, F.lit(w)), 1).otherwise(0)
                    for w in ACADEMIC_WORDS), F.lit(0))
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(CITATION_RE)).cast("long")
        .alias("citations"),
        F.regexp_count(F.col("text"), F.lit(URL_RE)).cast("long")
        .alias("urls"),
        meaningful.cast("long").alias("meaningful"),
        academic.cast("long").alias("academic"),
        is_quality_content(F.col("text")).alias("is_quality"),
    )


_P6_CLEAN_SQL = (r"length(trim(regexp_replace(regexp_replace(text, "
                 r"'\b(a|the|value|table|fast)\b', '', 'g'), "
                 r"'\s+', ' ', 'g')))")


@register("replacement_scan_documents", r"""
WITH c AS (
  SELECT doc_id, source AS key, n_chars AS score,
         length(text) AS raw_len, """ + _P6_CLEAN_SQL + r""" AS clean_len
  FROM documents
),
flags AS (
  SELECT *,
         (clean_len * 1.0 / raw_len < 0.8 AND clean_len < 300) AS fail
  FROM c
),
flagged AS (
  SELECT key, doc_id, row_number() OVER (
           PARTITION BY key ORDER BY score DESC, doc_id ASC) AS r
  FROM flags WHERE fail
),
repl AS (
  SELECT key, doc_id AS repl_id, row_number() OVER (
           PARTITION BY key ORDER BY score DESC, doc_id ASC) AS r
  FROM flags
  WHERE clean_len * 1.0 / raw_len >= 0.8 OR clean_len >= 300
)
SELECT f.key, f.doc_id, coalesce(repl_id, f.doc_id) AS kept_id,
       repl_id IS NOT NULL AS replaced
FROM flagged f LEFT JOIN repl USING (key, r)
UNION ALL
SELECT key, doc_id, doc_id AS kept_id, false AS replaced
FROM flags WHERE NOT fail
""")
def replacement_scan_documents(spark, sf_dir):
    """P6: the reference's cleaned/raw replacement scan
    (content_generator_v2.py:115-200) over documents grouped by source —
    'clean' strips boilerplate words + collapses whitespace; failing rows
    (ratio < 0.8 AND clean_len < 300) take the r-th best passing
    candidate in their group."""
    from .operators.retrieval_extras import replacement_scan

    d = _t(spark, sf_dir, "documents")
    clean_len = F.length(F.trim(F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\b(a|the|value|table|fast)\b", ""),
        r"\s+", " ")))
    c = d.select(
        "doc_id", F.col("source").alias("group_id"),
        F.col("n_chars").alias("score"),
        F.length("text").alias("raw_len"), clean_len.alias("clean_len"))
    return replacement_scan(c, key_col="group_id", id_col="doc_id",
                            score_col="score", ratio_min=0.8, len_min=300)


@register("fuzzy_bm25_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (
  SELECT qterm,
         CASE WHEN length(qterm) < 3 THEN 0
              WHEN length(qterm) < 6 THEN 1 ELSE 2 END AS maxed
  FROM (SELECT unnest(['sparc', 'joim', 'shufle']) AS qterm)
),
cand AS (
  SELECT q.qterm, v.term, v.df,
         1.0 - damerau_levenshtein(q.qterm, v.term) * 1.0
               / least(length(q.qterm), length(v.term)) AS boost
  FROM dfreq v JOIN qterms q
    ON abs(length(v.term) - length(q.qterm)) <= q.maxed
   AND damerau_levenshtein(q.qterm, v.term) <= q.maxed
),
capped AS (
  SELECT term, boost FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qterm ORDER BY boost DESC, df DESC, term ASC) AS rn
    FROM cand) WHERE rn <= 50
),
scored AS (
  SELECT tf.doc_id,
         sum( capped.boost
              * ln(1 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM capped JOIN tf USING (term) JOIN dfreq USING (term)
       JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def fuzzy_bm25_documents(spark, sf_dir):
    """R5 fuzzy BM25 over the documents table: typo'd query terms expanded
    against the vocabulary within Lucene AUTO Damerau-Levenshtein distance
    (es_search_final.py:21 ``fuzziness: AUTO``, transpositions=true — an
    adjacent swap is ONE edit), each expansion a weighted clause
    (boost = 1 - ed/min(len)); DuckDB-checked via damerau_levenshtein()."""
    from .functions.editdist import damerau_levenshtein as _dl
    from .operators.scorer import auto_max_edits

    d = _t(spark, sf_dir, "documents")
    qset = ["sparc", "joim", "shufle"]
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("tok")).collect()[0]
    n_docs, avgdl = int(corpus["n"]), float(corpus["tok"]) / int(corpus["n"])
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qdf = spark.createDataFrame(
        [(q, auto_max_edits(q), len(q)) for q in qset],
        "qterm string, maxed int, qlen int")
    tlen = F.length("term")

    @F.pandas_udf("int")
    def dl_udf(t: pd.Series, q: pd.Series) -> pd.Series:
        return pd.Series([_dl(a, b) for a, b in zip(t, q)], dtype="int32")

    cand = (
        dfreq.join(F.broadcast(qdf),
                   F.abs(tlen - F.col("qlen")) <= F.col("maxed"))
        .withColumn("ed", dl_udf("term", "qterm"))
        .filter(F.col("ed") <= F.col("maxed"))
        .withColumn("boost", F.lit(1.0) - F.col("ed").cast("double")
                    / F.least(F.col("qlen"), tlen).cast("double"))
    )
    w = Window.partitionBy("qterm").orderBy(
        F.desc("boost"), F.desc("df"), F.asc("term"))
    capped = (cand.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 50).select("term", "boost"))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (
        tf.join(F.broadcast(capped), "term")
        .join(F.broadcast(dfreq.withColumn("idf", idf).select("term", "idf")),
              "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            F.col("boost") * F.col("idf") * F.col("tf")
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                    / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


_BM25_CTE = f"""
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (corpus.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS partial
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), corpus
)
"""


@register("bm25_rrf_documents", f"""
WITH {_BM25_CTE},
qa AS (
  SELECT doc_id, row_number() OVER (ORDER BY sum(partial) DESC, doc_id ASC)
         AS rank
  FROM scored WHERE term IN ('spark', 'join') GROUP BY doc_id
  ORDER BY rank LIMIT 30
),
qb AS (
  SELECT doc_id, row_number() OVER (ORDER BY sum(partial) DESC, doc_id ASC)
         AS rank
  FROM scored WHERE term IN ('hash', 'table') GROUP BY doc_id
  ORDER BY rank LIMIT 30
)
SELECT doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
FROM (SELECT * FROM qa UNION ALL SELECT * FROM qb)
GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 10
""")
def bm25_rrf_documents(spark, sf_dir):
    """R8 multi-query retrieval + R7 RRF fusion, DuckDB-checked: two BM25
    rankings (different query term sets) fused with 1/(60+rank)."""
    d = _t(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("tok")).collect()[0]
    n_docs, avgdl = int(corpus["n"]), float(corpus["tok"]) / int(corpus["n"])
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (
        tf.join(F.broadcast(df_t.withColumn("idf", idf)
                            .select("term", "idf")), "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            F.col("idf") * F.col("tf")
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                    / F.lit(avgdl))),
        )
    )

    def ranking(terms):
        agg = (scored.filter(F.col("term").isin(terms))
               .groupBy("doc_id").agg(F.sum("partial").alias("s")))
        return with_rank(agg, "s", "doc_id", top_n=30).select("doc_id", "rank")

    fused = rrf_fuse([ranking(["spark", "join"]), ranking(["hash", "table"])],
                     ["doc_id"], k=60, top_n=10)
    return fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))


# Positional phrase scoring twin (R3): engine semantics over the simple
# SQL-expressible tokenizer — ptf = adjacent-pair occurrences, score =
# (Σ idf) * ptf / (ptf + k1*(1-b+b*dl/avgdl)). CTE names prefixed p* so
# the body composes with _BM25_CTE in the bool/should twin.
_PHRASE_CTE = f"""
lsts AS (SELECT doc_id, {_TOK_SQL} AS lst FROM documents),
pos AS (SELECT doc_id, unnest(lst) AS term,
               generate_subscripts(lst, 1) AS p FROM lsts),
pdl AS (SELECT doc_id, len(lst) AS dl FROM lsts WHERE len(lst) > 0),
pcorpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM pdl),
pdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM pos
        WHERE term IN ('spark', 'join') GROUP BY term),
pidf AS (SELECT sum(ln(1 + (pcorpus.n - df + 0.5) / (df + 0.5))) AS sum_idf,
                count(*) AS nt FROM pdf, pcorpus),
ptf AS (
  SELECT a.doc_id, count(*) AS ptf
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.term = 'spark' AND b.term = 'join'
  GROUP BY a.doc_id
),
pscore AS (
  SELECT ptf.doc_id,
         pidf.sum_idf * ptf.ptf / (ptf.ptf + 1.2 * (1 - 0.75 + 0.75 * pdl.dl
           / (pcorpus.tok * 1.0 / pcorpus.n))) AS ps
  FROM ptf JOIN pdl USING (doc_id), pcorpus, pidf
  WHERE pidf.nt = 2
)
"""


def _phrase_scores_df(spark, sf_dir, t1: str, t2: str):
    """Spark twin of _PHRASE_CTE: full (doc_id, phrase score) set for the
    two-term phrase ``t1 t2`` over the documents table."""
    import math

    d = _t(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    pos = d.select("doc_id", F.posexplode(toks_arr).alias("p", "term"))
    dl = pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("tok")).collect()[0]
    n_docs = int(corpus["n"])
    avgdl = float(corpus["tok"]) / n_docs
    dfs = {r["term"]: int(r["df"]) for r in
           pos.filter(F.col("term").isin([t1, t2])).groupBy("term")
           .agg(F.countDistinct("doc_id").alias("df")).collect()}
    if len(dfs) < 2:
        return _empty_df(spark, "doc_id bigint, ps double")
    sum_idf = sum(math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                  for t in (t1, t2))
    a = pos.filter(F.col("term") == t1).select("doc_id", "p")
    b = pos.filter(F.col("term") == t2).select(
        "doc_id", F.col("p").alias("p2"))
    ptf = (a.join(b, "doc_id").filter(F.col("p2") == F.col("p") + 1)
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("ptf")))
    return (
        ptf.join(dl, "doc_id")
        .select(
            "doc_id",
            (F.lit(sum_idf) * F.col("ptf")
             / (F.col("ptf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                      / F.lit(avgdl)))).alias("ps"),
        )
    )


@register("phrase_bm25_documents", f"""
WITH {_PHRASE_CTE}
SELECT doc_id, round(ps, 4) AS score
FROM (SELECT doc_id, ps FROM pscore
      ORDER BY ps DESC, doc_id ASC LIMIT 10) t
""")
def phrase_bm25_documents(spark, sf_dir):
    """R3 exact-phrase scoring ("spark join"), DuckDB-checked via a
    positional self-join (generate_subscripts): ptf = adjacent-pair
    count, Lucene-PhraseQuery-shaped score (es_search_final.py:24-31
    match_phrase clause; engine twin: operators/scorer.py phrase_scores)."""
    ps = _phrase_scores_df(spark, sf_dir, "spark", "join")
    return (ps.select("doc_id", F.round("ps", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@register("bool_should_documents", f"""
WITH {_BM25_CTE},
{_PHRASE_CTE},
tscore AS (
  SELECT doc_id, sum(partial) AS ts FROM scored
  WHERE term IN ('spark', 'join') GROUP BY doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT COALESCE(tscore.doc_id, pscore.doc_id) AS doc_id,
             COALESCE(ts, 0) + 2.0 * COALESCE(ps, 0) AS score
      FROM tscore FULL OUTER JOIN pscore
           ON tscore.doc_id = pscore.doc_id
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def bool_should_documents(spark, sf_dir):
    """R4 bool/should twin (es_search_final.py:13-34): match clause over
    the query terms PLUS a phrase clause boosted 2.0, docs matching
    either clause qualify — DuckDB-checked."""
    d = _t(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                        lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("dl").alias("tok")).collect()[0]
    n_docs, avgdl = int(corpus["n"]), float(corpus["tok"]) / int(corpus["n"])
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tscore = (
        tf.filter(F.col("term").isin(["spark", "join"]))
        .join(F.broadcast(df_t.withColumn("idf", idf)
                          .select("term", "idf")), "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            F.col("idf") * F.col("tf")
            / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl")
                                    / F.lit(avgdl))),
        )
        .groupBy("doc_id").agg(F.sum("partial").alias("ts"))
    )
    ps = _phrase_scores_df(spark, sf_dir, "spark", "join")
    combined = (
        tscore.join(ps, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("ts"), F.lit(0.0))
                    + F.lit(2.0) * F.coalesce(F.col("ps"), F.lit(0.0)),
                    4).alias("score"),
        )
    )
    return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


@register("rechunk_documents", f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
starts AS (
  SELECT doc_id, tk, len(tk) AS n, i
  FROM toks, unnest(generate_series(0, greatest(len(tk) - 1, 0), 15)) AS g(i)
  WHERE len(tk) >= 10 AND (i = 0 OR i - 15 + 20 < len(tk))
)
SELECT doc_id,
       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_index,
       array_to_string(list_slice(tk, i + 1, least(i + 20, n)), ' ')
         AS chunk_text,
       least(i + 20, n) - i AS token_count
FROM starts
WHERE least(i + 20, n) - i >= 5
""")
def rechunk_documents(spark, sf_dir):
    """W1 sliding-window re-chunker (reference geometry scaled down to the
    short documents: window 20, overlap 5, min_doc 10, min_chunk 5),
    DuckDB-checked against the same boundary semantics."""
    from .operators.retrieval_extras import rechunk_conversations

    d = wide(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), "text")
    chunks = rechunk_conversations(d, window_tokens=20, overlap=5,
                                   min_doc_tokens=10, min_chunk_tokens=5)
    return chunks.select(F.col("conv_id").cast("long").alias("doc_id"),
                         "chunk_index", "chunk_text", "token_count")


@register("json_extract_events", """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
""")
def json_extract_events(spark, sf_dir):
    """JSON scalar extraction (the reference re-parses JSONL per consumer,
    es_index_chunks_final.py:19; natively: get_json_object + agg)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register("deterministic_sample", """
SELECT doc_id, source FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
""")
def deterministic_sample(spark, sf_dir):
    """A8 sample analog made reproducible: md5-prefix bucketing gives a
    deterministic ~12.5% sample identical across engines and runs (the
    reference uses random.sample, sample_paper_dates.py:33-39 — fine for
    probing, useless for oracle checks)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .isin("0", "1")
    ).select("doc_id", "source")


@register("stratified_sample_documents", """
SELECT doc_id, lang FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '20000000' WHEN 'zh' THEN '80000000'
                WHEN 'es' THEN 'g' ELSE '0ccccccd' END
ORDER BY doc_id
""")
def stratified_sample_q(spark, sf_dir):
    """Deterministic per-stratum downsampling (the data-mixing step:
    'en to 12.5%, zh to 50%, es whole, everything else 5%') — an
    md5-coin threshold per language, a pure map-side filter with zero
    shuffles that the DuckDB twin reproduces byte-for-byte (the
    reference's random.sample can't be oracle-checked at all)."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang",
        {"en": 0.125, "zh": 0.5, "es": 1.0}, default=0.05)
    return out.select("doc_id", "lang").orderBy("doc_id")


@register("cap_per_stratum_documents", """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars, row_number() OVER (
    PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 5 ORDER BY doc_id
""")
def cap_per_stratum_q(spark, sf_dir):
    """Domain capping (the other data-mixing primitive: 'keep the best
    N per source'): at most 5 docs per source by n_chars descending,
    docID tiebreak — one window row_number per stratum, mirrored by the
    SQL twin."""
    from .operators.sampling import cap_per_stratum

    d = _t(spark, sf_dir, "documents")
    out = cap_per_stratum(d, "source", 5, order_col="n_chars")
    return out.select("doc_id", "source", "n_chars").orderBy("doc_id")


@register("clean_text_documents", """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '(\\p{L})-\\n(\\p{L})', '\\1\\2', 'g'),
               'https?://\\S+', ' ', 'g'),
             '\\S+@\\S+\\.\\S+', ' ', 'g'),
           '\\[\\d+(,\\s*\\d+)*\\]', ' ', 'g'),
         '\\s+', ' ', 'g')) AS cleaned
FROM documents
""")
def clean_text_documents(spark, sf_dir):
    """F5 EOL de-hyphenation ("exam-\\nple" -> "example",
    old_scripts/text_clean.py:10,33) + F6 metadata scrubbing chain (URLs,
    emails, citation brackets) + F3 whitespace normalize, DuckDB-checked."""
    from .functions.text_clean import dehyphenate_eol, normalize_ws

    d = _t(spark, sf_dir, "documents")
    c = dehyphenate_eol(F.col("text"))
    c = F.regexp_replace(c, r"https?://\S+", " ")
    c = F.regexp_replace(c, r"\S+@\S+\.\S+", " ")
    c = F.regexp_replace(c, r"\[\d+(,\s*\d+)*\]", " ")
    return d.select("doc_id", normalize_ws(c).alias("cleaned"))


# --- formerly rows-only entries, now fixture-oracled (VERDICT r3 #3) ------
# The LSH hyperplanes the engine draws (seed 42) are PERSISTED as a
# parquet fixture (fixtures/ann_planes_d64.parquet, written by
# scripts/gen_oracle_fixtures.py), so DuckDB recomputes bucket membership
# relationally: sign = list_dot_product(v, plane) >= 0, bucket =
# bit-weighted sum. SimHash needs no fixture at all — its token hash is
# the first 8 bytes of md5, which DuckDB computes natively (an
# INDEPENDENT md5 implementation, a stronger check than replaying ours).

_PLANES_FIXTURE = "/root/repo/fixtures/ann_planes_d64.parquet"

_LSH_ANN_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id = 0),
planes AS (SELECT tbl, plane, vec
           FROM read_parquet('{_PLANES_FIXTURE}')),
qb AS (
  SELECT p.tbl,
         sum(CASE WHEN list_dot_product(q.qv, p.vec) >= 0
             THEN CAST(1 AS BIGINT) << p.plane ELSE 0 END) AS bucket
  FROM planes p, q GROUP BY p.tbl),
eb AS (
  SELECT e.vec_id, p.tbl,
         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        p.vec) >= 0
             THEN CAST(1 AS BIGINT) << p.plane ELSE 0 END) AS bucket
  FROM embeddings e, planes p WHERE e.vec_id <> 0
  GROUP BY e.vec_id, p.tbl),
cand AS (SELECT DISTINCT eb.vec_id
         FROM eb JOIN qb ON eb.tbl = qb.tbl AND eb.bucket = qb.bucket)
SELECT e.vec_id,
       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    q.qv), 4) AS cosine
FROM embeddings e JOIN cand USING (vec_id), q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

_SIMHASH_SQL = r"""
WITH tf AS (
  SELECT doc_id, tok, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
    FROM documents WHERE doc_id < 100)
  WHERE tok <> '' GROUP BY doc_id, tok
), hh AS (
  SELECT tok, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM (SELECT DISTINCT tok FROM tf)
), bits AS (
  SELECT tf.doc_id, j.j,
         sum(CASE WHEN ((hh.h >> CAST(j.j AS UBIGINT)) & 1) = 1
             THEN cnt ELSE -cnt END) AS acc
  FROM tf JOIN hh USING (tok), range(0, 64) j(j)
  GROUP BY tf.doc_id, j.j
), fp0 AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN
               CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) << j END
             ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
), fp AS (
  SELECT d.doc_id, coalesce(fp0.simhash, 0) AS simhash
  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
  LEFT JOIN fp0 USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
"""


@register("simhash_near_pairs", _SIMHASH_SQL)
def simhash_near_pairs_q(spark, sf_dir):
    """SimHash near-dup pairs (pigeonhole chunk join + bit_count verify).
    The DuckDB twin brute-forces all pairs from fingerprints it computes
    itself (md5-derived token hashes, signed bit accumulation) — the
    pigeonhole candidate generation is exactness-preserving, so the two
    must agree on every pair."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return DD.simhash_near_pairs(d, max_hamming=16)


@register("lsh_ann_topk", _LSH_ANN_SQL)
def lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate NN (random hyperplanes; scale path for
    similarity search). The DuckDB twin recomputes bucket membership
    from the persisted plane fixture (same seed-42 draws)."""
    from .operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    top = lsh_bucketed_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


@register("ann_index_topk", _LSH_ANN_SQL)
def ann_index_topk_q(spark, sf_dir):
    """Indexed ANN: build-time LSH bucket partitioning (temp dir), then a
    partition-pruned bucket read + exact rescore. Same plane fixture /
    SQL twin as lsh_ann_topk (identical planes by construction) — what
    differs is the ENGINE path: bucket membership decided at build time,
    partition-pruned read (plan-asserted in tests/test_operators.py)."""
    import tempfile

    from .operators.similarity import ann_index_topk, build_ann_index

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    d = tempfile.mkdtemp(prefix="ann_idx_")
    build_ann_index(emb.filter(F.col("vec_id") != 0), d,
                    n_planes=8, n_tables=4, seed=42)
    top = ann_index_topk(spark, d, qvec, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


_SIMPLE_IDX_CACHE: dict[str, str] = {}


def _simple_index(spark, sf_dir) -> str:
    """Build (once per process per sf_dir) a REAL engine index over the
    documents table with the SQL-portable analyzer; shared by every
    engine_* driver query so the driver pays one build, not one per
    row."""
    import tempfile

    from .operators.indexer import build_index

    if sf_dir not in _SIMPLE_IDX_CACHE:
        d = _t(spark, sf_dir, "documents")
        tx = d.select(
            F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.col("lang"), F.col("source"), F.col("n_chars"),
        )
        idx = tempfile.mkdtemp(prefix="engine_sql_idx_")
        build_index(tx, idx, n_buckets=8, analyzer="simple",
                    with_positions=True,
                    stored_fields=["lang", "source", "n_chars"])
        _SIMPLE_IDX_CACHE[sf_dir] = idx
    return _SIMPLE_IDX_CACHE[sf_dir]


@register("engine_bm25_documents", _BM25_DOCS_SQL)
def engine_bm25_documents(spark, sf_dir):
    """The FULL engine — build_index -> compressed SPIMI postings ->
    scorer.search — driver-HASH-checked against the ANSI-SQL BM25
    oracle. Possible because analyzer="simple" (lowercase + [a-z0-9]+
    runs, no stemming) is exactly the oracle's tokenizer, while the
    engine machinery exercised (run-merge pack, varbyte blocks, bucket
    pruning, deterministic fold, top-k) is identical to the default
    english_folded path; scores round to 4 decimals on both sides to
    bridge float summation order. Complements transcript_bm25_engine,
    which keeps the reference-faithful analyzer and is rank-identity-
    checked against the numpy oracle in pytest instead."""
    from .operators.scorer import IndexReader, search

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = search(reader, "spark join shuffle", k=10)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_term_stats_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
)
SELECT term,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS cf
FROM toks GROUP BY term ORDER BY term
""")
def engine_term_stats_documents(spark, sf_dir):
    """The built index's WHOLE term dictionary (every term's df/cf from
    the SPIMI run-merge's metadata aggregation) hash-checked against
    direct SQL token counting — validates the pack's stats tables
    themselves, not just search results."""
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    return (reader.term_stats
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("cf").cast("long").alias("cf"))
            .orderBy("term"))


@register("engine_doc_stats_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS dl
FROM toks GROUP BY doc_id ORDER BY doc_id
""")
def engine_doc_stats_documents(spark, sf_dir):
    """Per-doc analyzed length (dl) from the index's doc_stats table —
    the BM25 length normalization input — hash-checked against direct
    SQL token counting. Internal docIDs map back through the forward
    table's conv_id (c%09d of the source doc_id). Docs whose text
    analyzes to zero tokens carry dl=0 in doc_stats and have no tokens
    in the oracle, so both sides drop them for the compare."""
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    docs = reader.docs.select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (reader.doc_stats.join(docs, "doc_id")
            .filter(F.col("dl") > 0)
            .select(F.col("src_id").alias("doc_id"),
                    F.col("dl").cast("long").alias("dl"))
            .orderBy("doc_id"))


@register("engine_phrase_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
occ AS (
  SELECT t.doc_id, count(*) AS ptf
  FROM tk t, unnest(generate_series(1, greatest(len(t.tk) - 1, 0))) AS g(i)
  WHERE t.tk[i] = 'table' AND t.tk[i + 1] = 'hash'
  GROUP BY t.doc_id
),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
idfs AS (
  SELECT sum(ln(1 + (corpus.n - d.df + 0.5) / (d.df + 0.5))) AS s
  FROM (SELECT term, count(DISTINCT doc_id) AS df FROM flat
        WHERE term IN ('table', 'hash') GROUP BY term) d, corpus
)
SELECT CAST(o.doc_id AS BIGINT) AS doc_id,
       round(idfs.s * o.ptf
             / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * len(t.tk)
                               / (corpus.tok * 1.0 / corpus.n))), 4)
         AS score
FROM occ o JOIN tk t USING (doc_id), corpus, idfs
ORDER BY idfs.s * o.ptf
         / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * len(t.tk)
                           / (corpus.tok * 1.0 / corpus.n))) DESC,
         o.doc_id ASC
LIMIT 10
""")
def engine_phrase_documents(spark, sf_dir):
    """Exact-phrase top-k (R3) over the REAL positional index,
    driver-HASH-checked: the oracle recomputes Lucene-shaped phrase
    scoring — ptf = consecutive-position matches, score =
    (Σ idf) * ptf / (ptf + k1·norm) — from raw positions in SQL, so the
    whole positional pipeline (per-term position capture in the tokenize
    pass, position blocks through the run-merge shuffle, query-time
    np.isin intersection) is validated end-to-end."""
    from .operators.scorer import IndexReader, phrase_search

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = phrase_search(reader, "table hash", k=10, with_text=True)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_fuzzy_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM flat GROUP BY term),
q(qterm) AS (VALUES ('tabel'), ('hach')),
clauses AS (
  -- Lucene AUTO: both typo terms are length 3-5 -> max 1 edit;
  -- transpositions count ONE (damerau: 'tabel'->'table' = 1)
  SELECT v.term, v.df,
         1.0 - damerau_levenshtein(v.term, q.qterm) * 1.0
               / least(length(q.qterm), length(v.term)) AS w
  FROM vocab v, q
  WHERE damerau_levenshtein(v.term, q.qterm) <= 1
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM flat GROUP BY doc_id, term),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
scored AS (
  SELECT tf.doc_id,
         sum( c.w * ln(1 + (corpus.n - c.df + 0.5) / (c.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN clauses c USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_fuzzy_documents(spark, sf_dir):
    """Fuzzy AUTO retrieval (R5) over the REAL index, driver-HASH-
    checked: 'tabel' reaches 'table' through a transposition (ONE
    Damerau edit — the Lucene transpositions=true semantics classic
    Levenshtein misses) and 'hach' reaches 'hash'; the oracle redoes
    the expansion with DuckDB's damerau_levenshtein and the Lucene
    boost 1 - ed/min(|q|,|t|). The sf0.01 vocabulary (~31 terms) is far
    under the engine's max_expansions=50 cap, so engine and oracle see
    identical clause sets."""
    from .operators.scorer import IndexReader, search

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = search(reader, "tabel hach", k=10, fuzzy=True)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_bool_should_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'hash') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'hash') GROUP BY doc_id, term
),
tscore AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS ts
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
),
occ AS (
  SELECT t.doc_id, count(*) AS ptf
  FROM tk t, unnest(generate_series(1, greatest(len(t.tk) - 1, 0))) AS g(i)
  WHERE t.tk[i] = 'table' AND t.tk[i + 1] = 'hash'
  GROUP BY t.doc_id
),
pscore AS (
  SELECT o.doc_id,
         (SELECT sum(ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5)))
          FROM df, corpus)
         * o.ptf / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS ps
  FROM occ o JOIN dl USING (doc_id), corpus
),
combined AS (
  SELECT coalesce(t.doc_id, p.doc_id) AS doc_id,
         coalesce(t.ts, 0) + 2.0 * coalesce(p.ps, 0) AS score
  FROM tscore t FULL OUTER JOIN pscore p ON t.doc_id = p.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM combined
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_bool_should_documents(spark, sf_dir):
    """R4 bool/should over the REAL index, driver-HASH-checked: match
    clause over all query terms PLUS the phrase clause at boost 2.0
    (es_search_final.py:13-34 shape), both recomputed independently in
    SQL and combined with the same full-outer coalesce."""
    from .operators.scorer import IndexReader, bool_should_search

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = bool_should_search(reader, "table hash", k=10)
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_es_dsl_documents")
def engine_es_dsl_documents(spark, sf_dir):
    """The ES query-DSL front-end (operators/esdsl.py) over the REAL
    index, driver-HASH-checked: the es_search_final.py:13-34 clause
    shape — bool/should of a match clause plus a phrase clause at boost
    2.0, minimum_should_match=1 — submitted as a verbatim ES body and
    compiled onto the engine. The oracle is the SAME SQL as
    engine_bool_should_documents (registered below): both paths must
    reproduce DuckDB's recomputation from raw text exactly."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"bool": {
            "should": [
                {"match": {"text": "table hash"}},
                {"match_phrase": {"text": {"query": "table hash",
                                           "boost": 2.0}}},
            ],
            "minimum_should_match": 1}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


# same recomputation: the DSL path and the dedicated operator must both
# match the one SQL oracle
SQL["engine_es_dsl_documents"] = SQL["engine_bool_should_documents"]


@register("engine_query_string_documents")
def engine_query_string_documents(spark, sf_dir):
    """The Lucene ``query_string`` text syntax
    (operators/querystring.py) over the REAL index, driver-HASH-
    checked: ``(table hash) OR "table hash"^2`` parses to a nested
    bool that is score-identical to the engine_bool_should_documents
    body (the inner OR group sums the same term BM25 addends the flat
    match clause sums), so the parser is checked end-to-end against
    DuckDB's recomputation from raw text via the SAME SQL oracle."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"query_string": {
            "query": '(table hash) OR "table hash"^2'}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


SQL["engine_query_string_documents"] = SQL["engine_bool_should_documents"]


@register("engine_simple_query_string_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'hash') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'hash') GROUP BY doc_id, term
),
hasneg AS (SELECT DISTINCT doc_id FROM flat WHERE term = 'merge'),
tscore AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS ts,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(ts, 4) AS score
FROM tscore
WHERE nt = 2 AND doc_id NOT IN (SELECT doc_id FROM hasneg)
ORDER BY ts DESC, doc_id ASC LIMIT 10
""")
def engine_simple_query_string_documents(spark, sf_dir):
    """The ``simple_query_string`` syntax over the REAL index,
    driver-HASH-checked: ``table + hash + -merge`` (AND of two terms,
    negating a third — the Kibana-bar operator set) compiles to
    bool/must + must_not, and the oracle recomputes from raw text:
    docs containing BOTH terms and not the negated one, scored by the
    sum of the two term BM25 scores."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"simple_query_string": {
            "query": "table + hash + -merge"}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_phrase_prefix_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM flat GROUP BY term),
-- prefix expansions: first 50 index terms starting with 's', term order
exp AS (SELECT term, df FROM vocab WHERE term LIKE 's%'
        ORDER BY term LIMIT 50),
sumidf AS (
  -- idf(fixed 'table') + idf from the MAX df among the expansions
  -- (the Lucene MultiPhraseQuery multi-term-position convention)
  SELECT ln(1 + (corpus.n - t.df + 0.5) / (t.df + 0.5))
       + ln(1 + (corpus.n - m.mx + 0.5) / (m.mx + 0.5)) AS s
  FROM (SELECT df FROM vocab WHERE term = 'table') t,
       (SELECT max(df) AS mx FROM exp) m, corpus
),
occ AS (
  SELECT t.doc_id, count(*) AS ptf
  FROM tk t, unnest(generate_series(1, greatest(len(t.tk) - 1, 0))) AS g(i)
  WHERE t.tk[i] = 'table' AND t.tk[i + 1] IN (SELECT term FROM exp)
  GROUP BY t.doc_id
)
SELECT CAST(o.doc_id AS BIGINT) AS doc_id,
       round(sumidf.s * o.ptf
             / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * len(t.tk)
                               / (corpus.tok * 1.0 / corpus.n))), 4)
         AS score
FROM occ o JOIN tk t USING (doc_id), corpus, sumidf
ORDER BY sumidf.s * o.ptf
         / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * len(t.tk)
                           / (corpus.tok * 1.0 / corpus.n))) DESC,
         o.doc_id ASC
LIMIT 10
""")
def engine_phrase_prefix_documents(spark, sf_dir):
    """match_phrase_prefix over the REAL positional index,
    driver-HASH-checked: 'table s' — fixed term 'table', last token 's'
    expanded to the first 50 index terms in term-dictionary order
    (operators/scorer.py:phrase_prefix_scores); ptf counts positions
    where 'table' is followed by ANY expansion, idf of the prefix
    position comes from the max expansion df. The oracle recomputes all
    of it (expansion set, max-df idf, combined ptf, BM25 fold) from raw
    text in SQL."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"match_phrase_prefix": {"text": {"query": "table s"}}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_dis_max_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'hash') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'hash') GROUP BY doc_id, term
),
clause AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
),
combined AS (
  -- DisjunctionMaxQuery: max + tie_breaker * (sum of the others)
  SELECT doc_id, max(s) + 0.3 * (sum(s) - max(s)) AS score
  FROM clause GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM combined
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_dis_max_documents(spark, sf_dir):
    """dis_max (Lucene DisjunctionMaxQuery) over the REAL index,
    driver-HASH-checked: two match clauses ('table', 'hash') combined as
    max + 0.3 * sum-of-others (operators/esdsl.py dis_max handler); the
    oracle recomputes per-clause BM25 and the dis_max fold from raw
    text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"dis_max": {
            "queries": [{"match": {"text": "table"}},
                        {"match": {"text": "hash"}}],
            "tie_breaker": 0.3}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_mlt_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
likeq AS (
  SELECT unnest(list_filter(string_split_regex(lower(
    'table hash join table scan merge sort'), '[^a-z0-9]+'),
    t -> t <> '')) AS term
),
liketf AS (SELECT term, count(*) AS ltf FROM likeq GROUP BY term
           HAVING count(*) >= 1),
dfq AS (SELECT f.term, count(DISTINCT f.doc_id) AS df
        FROM flat f JOIN liketf l ON f.term = l.term GROUP BY f.term),
sel AS (
  SELECT t.term, t.df,
         l.ltf * ln(1 + (corpus.n - t.df + 0.5) / (t.df + 0.5)) AS ms
  FROM dfq t JOIN liketf l USING (term), corpus
  WHERE t.df >= 2
  ORDER BY ms DESC, t.term ASC
  LIMIT 5
),
msm AS (SELECT CAST(floor(0.30 * count(*)) AS INT) AS m FROM sel),
tf AS (SELECT f.doc_id, f.term, count(*) AS tf
       FROM flat f JOIN sel s ON f.term = s.term
       GROUP BY f.doc_id, f.term),
clause AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN sel s USING (term) JOIN dl USING (doc_id), corpus
),
scored AS (
  SELECT doc_id, sum(s) AS score, count(*) AS nmatched
  FROM clause GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored, msm WHERE nmatched >= msm.m
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_mlt_documents(spark, sf_dir):
    """more_like_this by like-TEXT over the REAL index,
    driver-HASH-checked (operators/esdsl.py _mlt_rewrite): the like
    string is analyzed, terms kept at like-tf >= 1 and df >= 2, ranked
    by like-tf * idf (term-asc ties) and truncated to 5, then executed
    as a bool should of term clauses with "30%" minimum_should_match
    (floor -> 1 of 5). The oracle recomputes the ENTIRE pipeline — term
    selection from the literal like string, the df window, the tf*idf
    ranking, the msm floor, and the BM25 should-sum — from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"more_like_this": {
            "fields": ["text"],
            "like": "table hash join table scan merge sort",
            "min_term_freq": 1, "min_doc_freq": 2,
            "max_query_terms": 5}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_mlt_like_id_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
likeq AS (SELECT unnest(tk) AS term FROM tk WHERE doc_id = 42),
liketf AS (SELECT term, count(*) AS ltf FROM likeq GROUP BY term
           HAVING count(*) >= 2),
dfq AS (SELECT f.term, count(DISTINCT f.doc_id) AS df
        FROM flat f JOIN liketf l ON f.term = l.term GROUP BY f.term),
sel AS (
  SELECT t.term, t.df,
         l.ltf * ln(1 + (corpus.n - t.df + 0.5) / (t.df + 0.5)) AS ms
  FROM dfq t JOIN liketf l USING (term), corpus
  WHERE t.df >= 5
  ORDER BY ms DESC, t.term ASC
  LIMIT 25
),
msm AS (SELECT CAST(floor(0.30 * count(*)) AS INT) AS m FROM sel),
tf AS (SELECT f.doc_id, f.term, count(*) AS tf
       FROM flat f JOIN sel s ON f.term = s.term
       GROUP BY f.doc_id, f.term),
clause AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - s.df + 0.5) / (s.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN sel s USING (term) JOIN dl USING (doc_id), corpus
),
scored AS (
  SELECT doc_id, sum(s) AS score, count(*) AS nmatched
  FROM clause GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored, msm
      WHERE nmatched >= msm.m AND doc_id <> 42
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_mlt_like_id_documents(spark, sf_dir):
    """more_like_this by like-_ID with the ES DEFAULT parameters
    (min_term_freq 2, min_doc_freq 5, max_query_terms 25,
    include: false), driver-HASH-checked: the like document's text is
    fetched by the zero-job pyarrow probe (_doc_text_arrow), terms
    selected as in engine_mlt_documents, and the input doc excluded via
    the compiled must_not ids clause. The oracle recomputes everything
    from raw text, sourcing the like terms from the SAME document row
    (the engine's positional doc_ids are identity-mapped to the source
    ids by the sorted build — the substring join below re-derives, not
    assumes, that mapping for the output rows; the WHERE doc_id = 42
    like-source leans on it the same way every lifecycle row does)."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"more_like_this": {
            "fields": ["text"],
            "like": [{"_id": 42}]}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_boosting_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
neg AS (SELECT DISTINCT doc_id FROM flat WHERE term = 'hash'),
scored AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n)))
         * CASE WHEN tf.doc_id IN (SELECT doc_id FROM neg)
                THEN 0.5 ELSE 1.0 END AS score
  FROM tf JOIN dl USING (doc_id), df, corpus
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_boosting_documents(spark, sf_dir):
    """ES ``boosting`` query over the REAL index, driver-HASH-checked:
    positive match 'table' scored normally, demoted by negative_boost
    0.5 where the negative match 'hash' also matches
    (operators/esdsl.py boosting handler — Lucene BoostingQuery). The
    oracle recomputes the BM25 positive scores and the demotion mask
    from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"boosting": {
            "positive": {"match": {"text": "table"}},
            "negative": {"match": {"text": "hash"}},
            "negative_boost": 0.5}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_function_score_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
scored AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n)))
         * ln(1 + 0.001 * d.n_chars) AS score
  FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id),
       df, corpus
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_function_score_documents(spark, sf_dir):
    """ES ``function_score`` with field_value_factor over a STORED
    FIELD, driver-HASH-checked: match 'table' rescored by
    log1p(0.001 * n_chars) where n_chars rides the forward docs table
    via build_index(stored_fields=...) (the Lucene stored-fields
    analog, new this round). The oracle recomputes BM25 and the
    modifier from the raw documents table."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"function_score": {
            "query": {"match": {"text": "table"}},
            "field_value_factor": {"field": "n_chars", "factor": 0.001,
                                   "modifier": "log1p"},
            "boost_mode": "multiply"}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_collapse_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
scored AS (
  SELECT tf.doc_id, d.source,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id),
       df, corpus
),
best AS (
  SELECT doc_id, score FROM (
    SELECT doc_id, score,
           row_number() OVER (PARTITION BY source
                              ORDER BY score DESC, doc_id ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM best
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_collapse_documents(spark, sf_dir):
    """ES field collapsing over a STORED FIELD, driver-HASH-checked:
    match 'table' collapsed to the best hit per ``source`` group
    (operators/esdsl.py _eval_body collapse — one docs join + one
    window shuffle). The oracle recomputes BM25, the per-source
    row_number, and the final top-k from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"match": {"text": "table"}},
        "collapse": {"field": "source"},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_sort_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
scored AS (
  SELECT tf.doc_id, d.n_chars,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id),
       df, corpus
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY n_chars DESC, doc_id ASC LIMIT 10) t
""")
def engine_sort_documents(spark, sf_dir):
    """ES top-level ``sort`` over a STORED FIELD, driver-HASH-checked:
    match 'table' ordered by n_chars desc (doc_id tiebreak) instead of
    relevance — the hits still carry their BM25 scores
    (operators/esdsl.py _eval_body sort: one pruned docs join +
    TakeOrderedAndProject). The oracle recomputes the scores and the
    field ordering from the raw documents table."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"match": {"text": "table"}},
        "sort": [{"n_chars": {"order": "desc"}}],
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_decay_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
scored AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n)))
         * exp(-pow(greatest(abs(d.n_chars - 200.0) - 50.0, 0.0), 2)
               / (2 * (-(150.0 * 150.0) / (2 * ln(0.5))))) AS score
  FROM tf JOIN dl USING (doc_id) JOIN documents d USING (doc_id),
       df, corpus
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_decay_documents(spark, sf_dir):
    """ES ``function_score`` gauss DECAY over a STORED FIELD,
    driver-HASH-checked: match 'table' rescored by
    exp(-max(0,|n_chars-200|-50)^2 / 2sigma^2) with sigma^2 =
    -scale^2/(2 ln decay), scale 150, decay 0.5 — the standard
    recency/proximity scoring shape (operators/esdsl.py _decay_expr).
    The oracle recomputes BM25 and the decay formula from the raw
    documents table."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"function_score": {
            "query": {"match": {"text": "table"}},
            "gauss": {"n_chars": {"origin": 200.0, "scale": 150.0,
                                  "offset": 50.0}}}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_rescore_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (SELECT count(DISTINCT doc_id) AS df FROM flat WHERE term = 'table'),
tf AS (SELECT doc_id, count(*) AS tf FROM flat WHERE term = 'table'
       GROUP BY doc_id),
base AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS score
  FROM tf JOIN dl USING (doc_id), df, corpus
),
win AS (SELECT doc_id, score FROM base
        ORDER BY score DESC, doc_id ASC LIMIT 50),
occ AS (
  SELECT t.doc_id, count(*) AS ptf
  FROM tk t, unnest(generate_series(1, greatest(len(t.tk) - 1, 0))) AS g(i)
  WHERE t.tk[i] = 'table' AND t.tk[i + 1] = 'hash'
  GROUP BY t.doc_id
),
idfs AS (
  SELECT sum(ln(1 + (corpus.n - d.df + 0.5) / (d.df + 0.5))) AS s
  FROM (SELECT term, count(DISTINCT doc_id) AS df FROM flat
        WHERE term IN ('table', 'hash') GROUP BY term) d, corpus
),
ph AS (
  SELECT o.doc_id,
         idfs.s * o.ptf
         / (o.ptf + 1.2 * (1 - 0.75 + 0.75 * d.dl
                           / (corpus.tok * 1.0 / corpus.n))) AS score
  FROM occ o JOIN dl d USING (doc_id), corpus, idfs
),
comb AS (
  SELECT w.doc_id,
         CASE WHEN p.score IS NULL THEN w.score
              ELSE w.score + 2.0 * p.score END AS score
  FROM win w LEFT JOIN ph p USING (doc_id)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM comb
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_rescore_documents(spark, sf_dir):
    """ES ``rescore`` over the REAL index, driver-HASH-checked: cheap
    match 'table', then the top-50 window rescored by the positional
    phrase query 'table hash' at weight 2 (score_mode total, the
    cheap-match-then-expensive-phrase pattern rescore exists for;
    operators/esdsl.py _eval_body rescore). The oracle recomputes the
    base BM25, the window cut, the phrase scores from raw positions,
    and the combine."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"match": {"text": "table"}},
        "rescore": {"window_size": 50, "query": {
            "rescore_query": {"match_phrase": {"text": "table hash"}},
            "rescore_query_weight": 2.0}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_suggest_documents", f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
vocab AS (SELECT term, count(DISTINCT doc_id) AS df
          FROM (SELECT doc_id, unnest(tk) AS term FROM tk) GROUP BY term),
toks(token) AS (VALUES ('tabel'), ('qeury'), ('streem'), ('windoe')),
cand AS (
  SELECT t.token, v.term, v.df,
         damerau_levenshtein(v.term, t.token) AS ed
  FROM toks t, vocab v
  WHERE length(v.term) BETWEEN length(t.token) - 2
                           AND length(t.token) + 2
    AND v.term <> t.token
    AND substr(v.term, 1, 1) = substr(t.token, 1, 1)
),
ranked AS (
  SELECT token, term AS candidate,
         1 - ed * 1.0 / least(length(token), length(term)) AS score,
         df,
         row_number() OVER (
           PARTITION BY token
           ORDER BY 1 - ed * 1.0 / least(length(token), length(term))
                    DESC, df DESC, term ASC) AS rn
  FROM cand
  WHERE ed <= 2
    AND token NOT IN (SELECT term FROM vocab)
)
SELECT token, candidate, round(score, 4) AS score,
       CAST(df AS BIGINT) AS freq
FROM ranked WHERE rn <= 3
""")
def engine_suggest_documents(spark, sf_dir):
    """ES term suggester over the REAL index term dictionary,
    driver-HASH-checked: four misspellings of corpus words
    (tabel/qeury/streem/windoe), suggest_mode missing, Damerau max 2
    edits, prefix 1, top 3 by (similarity desc, df desc, term asc) —
    operators/esdsl.py es_suggest. The oracle recomputes the
    vocabulary, the Damerau distances (DuckDB damerau_levenshtein ==
    the engine's transposition-aware DP), and the ranking from raw
    text."""
    from .operators.esdsl import es_suggest
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_suggest(reader, {"fix": {
        "text": "tabel qeury streem windoe",
        "term": {"size": 3, "max_edits": 2, "prefix_length": 1,
                 "suggest_mode": "missing"}}})
    return out.select("token", "candidate",
                      F.round("score", 4).alias("score"), "freq")


@register("engine_phrase_suggest_documents", f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS tk FROM documents),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
vocab AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
          FROM flat GROUP BY term),
corpus AS (SELECT (SELECT count(*) FROM flat) AS n,
                  (SELECT count(*) FROM vocab) AS v),
cand AS (
  SELECT v.term, v.df, v.cf,
         damerau_levenshtein(v.term, 'tabel') AS ed
  FROM vocab v
  WHERE length(v.term) BETWEEN 3 AND 7
    AND v.term <> 'tabel'
    AND substr(v.term, 1, 1) = 't'
    AND damerau_levenshtein(v.term, 'tabel') <= 2
),
top5 AS (
  SELECT term, cf
  FROM (SELECT term, cf, df,
               1 - ed * 1.0 / least(5, length(term)) AS s
        FROM cand)
  ORDER BY s DESC, df DESC, term ASC LIMIT 5
),
big AS (
  SELECT t.tk[i] AS a, count(*) AS c
  FROM tk t,
       unnest(generate_series(1, greatest(len(t.tk) - 1, 0))) AS g(i)
  WHERE t.tk[i + 1] = 'hash' AND t.tk[i] IN (SELECT term FROM top5)
  GROUP BY t.tk[i]
),
hcf AS (SELECT cf FROM vocab WHERE term = 'hash'),
scored AS (
  SELECT t.term || ' hash' AS phrase,
         ln((t.cf + 1.0) / (corpus.n + corpus.v))
         + CASE WHEN coalesce(b.c, 0) > 0
                THEN ln(b.c * 1.0 / t.cf)
                ELSE ln(0.4 * (hcf.cf + 1.0) / (corpus.n + corpus.v))
           END AS score
  FROM top5 t LEFT JOIN big b ON b.a = t.term, corpus, hcf
),
base AS (
  SELECT ln(1.0 / (corpus.n + corpus.v))
         + ln(0.4 * (hcf.cf + 1.0) / (corpus.n + corpus.v)) AS s
  FROM corpus, hcf
)
SELECT phrase, round(score, 4) AS score, CAST(1 AS INT) AS n_changes
FROM scored, base WHERE scored.score > base.s
ORDER BY score DESC, phrase ASC LIMIT 3
""")
def engine_phrase_suggest_documents(spark, sf_dir):
    """ES PHRASE suggester over the REAL index, driver-HASH-checked:
    'tabel hash' — slot-1 spelling candidates from the term-suggester
    machinery (damerau <= 2, prefix 't', top 5 by similarity/df/term),
    whole phrases scored by the bigram Stupid Backoff LM whose bigram
    counts come from the POSITIONAL index, gated by ES's confidence
    threshold vs the input phrase. The oracle recomputes the
    vocabulary, damerau candidates, bigram counts (adjacent-token scan
    from raw text), the Laplace-floored SB formula, and the gate."""
    from .operators.esdsl import es_phrase_suggest
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_phrase_suggest(reader, {"s": {
        "text": "tabel hash",
        "phrase": {"size": 3, "max_errors": 1, "confidence": 1.0}}})
    return out.select("phrase", F.round("score", 4).alias("score"),
                      "n_changes")


@register("engine_es_bool_must_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'sort') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'sort') GROUP BY doc_id, term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  WHERE tf.doc_id NOT IN
        (SELECT DISTINCT doc_id FROM flat WHERE term = 'hash')
  GROUP BY tf.doc_id
)
-- rank by the UNROUNDED score (a bare ORDER BY score would bind to the
-- rounded output alias, which at larger sf has boundary ties the
-- engine's unrounded ranking resolves differently)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_es_bool_must_documents(spark, sf_dir):
    """ES bool must + must_not through the DSL front-end over the REAL
    index, driver-HASH-checked: docs that match 'table sort' (scored,
    sum over matched terms) and do NOT contain 'hash' — the oracle
    recomputes the BM25 clause and the exclusion set from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"bool": {
            "must": [{"match": {"text": "table sort"}}],
            "must_not": [{"match": {"text": "hash"}}]}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_term_filter_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('spark', 'join') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('spark', 'join') GROUP BY doc_id, term
),
hastab AS (SELECT DISTINCT doc_id FROM flat WHERE term LIKE 'tab%'),
scored AS (
  -- parenthesized exactly as the engine folds it: boost * (idf * tf_part)
  SELECT tf.doc_id,
         sum( (CASE WHEN tf.term = 'join' THEN 0.5 ELSE 1.0 END)
              * (ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                             / (corpus.tok * 1.0 / corpus.n))))) ) AS score,
         count(DISTINCT tf.term) AS nterms
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT s.doc_id, s.score FROM scored s
      JOIN hastab USING (doc_id)
      WHERE s.nterms = 2
      ORDER BY s.score DESC, s.doc_id ASC LIMIT 10) t
""")
def engine_term_filter_documents(spark, sf_dir):
    """ES term-level queries through the DSL over the REAL index,
    driver-HASH-checked: bool must of two UNanalyzed ``term`` clauses
    (BM25-scored, one boosted 0.5 — the intersection-and-sum must
    semantics) gated by a ``prefix`` clause in FILTER context (docs
    containing a 'tab%'-prefixed index term; score contribution zero).
    The oracle recomputes the term scores, the two-term intersection,
    and the prefix membership set from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"bool": {
            "must": [
                {"term": {"text": "spark"}},
                {"term": {"text": {"value": "join", "boost": 0.5}}},
            ],
            "filter": [{"prefix": {"text": {"value": "tab"}}}]}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_wildcard_documents", f"""
WITH flat AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
w AS (SELECT DISTINCT doc_id FROM flat
      WHERE regexp_full_match(term, 's.a.*')),
t AS (SELECT DISTINCT doc_id FROM flat
      WHERE term IN ('table', 'window')),
u AS (
  SELECT coalesce(w.doc_id, t.doc_id) AS doc_id,
         (CASE WHEN w.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN t.doc_id IS NOT NULL THEN 2.0 ELSE 0.0 END) AS score
  FROM w FULL OUTER JOIN t ON w.doc_id = t.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM u
      ORDER BY score DESC, doc_id ASC LIMIT 25) q
""")
def engine_wildcard_documents(spark, sf_dir):
    """ES constant-score multi-term queries through the DSL over the
    REAL index, driver-HASH-checked: a ``wildcard`` clause ('s?a*' —
    the * / ? pattern language) should-summed with a boosted ``terms``
    clause, every matching doc scoring the clause boost (the ES
    constant_score rewrite). The oracle recomputes both membership sets
    from raw text (regexp_full_match twin of the anchored pattern) and
    the 1/2/3-valued score sum."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"bool": {"should": [
            {"wildcard": {"text": {"value": "s?a*"}}},
            {"terms": {"text": ["table", "window"], "boost": 2.0}},
        ], "minimum_should_match": 1}},
        "size": 25})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_regexp_documents", f"""
WITH flat AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
m AS (SELECT DISTINCT doc_id FROM flat
      WHERE regexp_full_match(term, 's[ct].*n'))
SELECT CAST(doc_id AS BIGINT) AS doc_id, 1.5 AS score
FROM m ORDER BY doc_id ASC LIMIT 25
""")
def engine_regexp_documents(spark, sf_dir):
    """ES ``regexp`` query through the DSL over the REAL index,
    driver-HASH-checked: an implicitly-anchored pattern in the
    Java/Python-common subset ('s[ct].*n' — scan/section/...), every
    matching doc scoring the clause boost (constant_score rewrite).
    Distributed path pushes the anchored pattern into the term-SORTED
    postings scan as a Catalyst RLike predicate; the oracle recomputes
    membership from raw text with DuckDB's regexp_full_match."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"regexp": {"text": {"value": "s[ct].*n",
                                      "boost": 1.5}}},
        "size": 25})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_search_after_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('merge', 'stream') GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('merge', 'stream') GROUP BY doc_id, term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
-- page 2 of the unrounded total order: ranks 6..10
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 5 OFFSET 5) t
""")
def engine_search_after_documents(spark, sf_dir):
    """ES ``search_after`` deep pagination through the DSL over the
    REAL index, driver-HASH-checked: page 1 (size 5) yields a
    [last_score, last_doc_id] cursor, page 2 resumes strictly after it
    on the (score desc, doc_id asc) total order — the oracle takes
    ranks 6..10 of the same unrounded ordering via OFFSET. At scale
    this is the pagination that works: a cursor predicate instead of
    ``from``'s recompute-and-skip."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    q = {"match": {"text": "merge stream"}}
    page1 = es_search(reader, {"query": q, "size": 5}).collect()
    last = page1[-1]
    hits = es_search(reader, {
        "query": q, "size": 5,
        "search_after": [float(last.score), int(last.doc_id)]})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


_AGG_IDX_CACHE: dict[str, str] = {}
_KNN_IDX_CACHE: dict[str, str] = {}


@register("engine_es_knn_documents", f"""
WITH base AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term
  FROM (SELECT doc_id, text FROM base) documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
qterms AS (SELECT unnest(['spark','join','shuffle']) AS term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
bm AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
knn AS (
  SELECT doc_id,
         3.0 * (1 + list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           CAST(qv AS DOUBLE[]))) / 2 AS s
  FROM base, q
  ORDER BY s DESC, doc_id ASC LIMIT 20
)
SELECT doc_id, round(coalesce(knn.s, 0) + coalesce(bm.s, 0), 4) AS score
FROM knn FULL OUTER JOIN bm USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 12
""")
def engine_es_knn_documents(spark, sf_dir):
    """Round-5 wave: ES 8.x top-level ``knn`` search, HYBRID with a
    match query, through the DSL over a REAL index whose forward table
    stores the embeddings column (build_index stored_fields) —
    driver-HASH-checked. The knn leg is exact brute-force cosine with
    ES's (1+cos)/2 _score transform and boost 3.0, contributing only
    for its top-20 docs; the BM25 leg contributes for every match; the
    hybrid sum and final top-12 mirror ES's combination. The corpus is
    documents ⋈ embeddings on doc_id=vec_id (both sides of the check
    restrict identically — at big-sf the embeddings table is a
    subset)."""
    import tempfile

    from .operators.esdsl import es_search
    from .operators.indexer import build_index
    from .operators.scorer import IndexReader

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _KNN_IDX_CACHE:
        d = _t(spark, sf_dir, "documents")
        tx = (d.join(emb, d["doc_id"] == emb["vec_id"])
              .select(
                  F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
                  F.lit(0).alias("turn_idx"),
                  F.lit("user").alias("role"),
                  F.col("text"),
                  F.lit(None).cast("timestamp").alias("ts"),
                  F.col("embedding").alias("emb")))
        idx = tempfile.mkdtemp(prefix="engine_knn_idx_")
        build_index(tx, idx, n_buckets=8, analyzer="simple",
                    stored_fields=["emb"])
        _KNN_IDX_CACHE[sf_dir] = idx
    reader = IndexReader(spark, _KNN_IDX_CACHE[sf_dir])
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    out = es_search(reader, {
        "query": {"match": {"text": "spark join shuffle"}},
        "knn": {"field": "emb", "query_vector": qv, "k": 20,
                "boost": 3.0},
        "size": 12, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_rank_feature_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'spark'
  GROUP BY doc_id
),
df AS (SELECT count(*) AS df FROM tf),
bm AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN dl USING (doc_id), corpus, df
)
SELECT doc_id, round(sc, 4) AS score FROM (
  SELECT bm.doc_id AS doc_id,
         bm.s + 0.3 * d.n_chars / (d.n_chars + 50.0) AS sc
  FROM bm JOIN documents d USING (doc_id)
)
-- order by the UNROUNDED score (the engine's internal top-k key):
-- at 1.2M docs the rounded value ties across the LIMIT boundary
ORDER BY sc DESC, doc_id ASC LIMIT 15
""")
def engine_es_rank_feature_documents(spark, sf_dir):
    """Round-5 wave: ``rank_feature`` through the DSL over the REAL
    index — the ES idiom bool{must: match, should: rank_feature} where
    a stored positive numeric column (n_chars) adds a saturation term
    x/(x+pivot)·boost to the relevance score — driver-HASH-checked
    against the BM25 CTE + the same closed form."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "should": [{"rank_feature": {
                "field": "n_chars", "saturation": {"pivot": 50},
                "boost": 0.3}}]}},
        "size": 15, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_script_score_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'query'
  GROUP BY doc_id
),
df AS (SELECT count(*) AS df FROM tf),
bm AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN dl USING (doc_id), corpus, df
)
SELECT doc_id, round(sc, 4) AS score FROM (
  SELECT bm.doc_id AS doc_id,
         (bm.s / (bm.s + 1.0) * 2.0
          + sqrt(d.n_chars * 1.0) / 20.0) * 1.5 AS sc
  FROM bm JOIN documents d USING (doc_id)
)
ORDER BY sc DESC, doc_id ASC LIMIT 15
""")
def engine_es_script_score_documents(spark, sf_dir):
    """Round-5 wave: ``script_score`` through the DSL over the REAL
    index — the painless-subset script ``saturation(_score, pivot)*2 +
    Math.sqrt(doc['n_chars'].value)/20`` (params folded, compiled to
    ONE Catalyst expression, boost applied after) — driver-HASH-checked
    against the BM25 CTE + the same closed form. Every op in the
    script (divide, sqrt, multiply, add) is IEEE-exact, so the oracle's
    unrounded ordering key is ulp-safe across engines."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"script_score": {
            "query": {"match": {"text": "query"}},
            "script": {
                "source": "saturation(_score, params.pivot) * 2 "
                          "+ Math.sqrt(doc['n_chars'].value) / 20",
                "params": {"pivot": 1.0}},
            "boost": 1.5}},
        "size": 15, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_min_score_documents", """
SELECT doc_id, round(sc, 4) AS score FROM (
  SELECT doc_id,
         3.0 * 40.0 / (40.0 + abs(n_chars - 200.0)) AS sc
  FROM documents
)
WHERE sc >= 2.0
ORDER BY sc DESC, doc_id ASC
""")
def engine_es_min_score_documents(spark, sf_dir):
    """Top-level ``min_score`` through the DSL: the threshold fully
    DETERMINES the result set (size far exceeds the survivor count, so
    every excluded row is min_score's doing, not the LIMIT's). The
    scored clause is distance_feature — boost·pivot/(pivot+|x−origin|)
    over the stored n_chars column — whose every op (int subtract, abs,
    add, divide, multiply) is IEEE correctly-rounded, so Spark and
    DuckDB produce bit-identical doubles and the >= cut can never flip
    a boundary doc between engines (the same reasoning that ordered the
    rank_feature/mbp oracles by the unrounded key)."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"distance_feature": {
            "field": "n_chars", "origin": 200, "pivot": 40,
            "boost": 3.0}},
        "min_score": 2.0, "size": 10**7, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_mbp_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'spark'
  GROUP BY doc_id
),
df AS (SELECT count(*) AS df FROM tf),
bm AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS s
  FROM tf JOIN dl USING (doc_id), corpus, df
),
pref AS (
  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'jo%'
)
SELECT doc_id, round(sc, 4) AS score FROM (
  SELECT doc_id,
         coalesce(bm.s, 0) + CASE WHEN pref.doc_id IS NOT NULL
                                  THEN 1.0 ELSE 0 END AS sc
  FROM bm FULL OUTER JOIN pref USING (doc_id)
)
-- order by the UNROUNDED score (the engine's internal top-k key):
-- at 1.2M docs the rounded value ties across the LIMIT boundary
ORDER BY sc DESC, doc_id ASC LIMIT 20
""")
def engine_es_mbp_documents(spark, sf_dir):
    """Round-5 wave: ``match_bool_prefix`` through the DSL over the
    REAL index — "spark jo" analyzes to a BM25 term clause plus a
    constant-score prefix clause on the last token, summed as a bool
    should — driver-HASH-checked against the BM25 CTE + a LIKE 'jo%'
    existence leg."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"match_bool_prefix": {"text": "spark jo"}},
        "size": 20, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_aggs_documents", f"""
WITH tk AS (
  SELECT doc_id, source, n_chars, {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, n_chars FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT source AS key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(n_chars % 97), 4) AS avg_turn
FROM matched GROUP BY source
ORDER BY doc_count DESC, key ASC
""")
def engine_es_aggs_documents(spark, sf_dir):
    """ES aggregations through the DSL front-end over the REAL index,
    driver-HASH-checked: a terms agg on the role field (mapped from
    documents.source in a dedicated engine build) with an avg metric
    sub-agg on turn_idx (mapped from n_chars % 97), over the docs
    matching a match clause — the oracle regroups the matching docs
    from raw text. Exact buckets (no ES coordinating-node size
    truncation)."""
    import tempfile

    from .operators.esdsl import es_aggregations
    from .operators.indexer import build_index
    from .operators.scorer import IndexReader

    if sf_dir not in _AGG_IDX_CACHE:
        d = _t(spark, sf_dir, "documents")
        tx = d.select(
            F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
            (F.col("n_chars") % 97).cast("int").alias("turn_idx"),
            F.col("source").alias("role"),
            F.col("text"),
            # deterministic ts with a CONSTANT ~720h span at every
            # scale (doc_id mod 720 hours past a fixed epoch), so the
            # auto_date_histogram ladder pick is scale-independent;
            # NULL on the doc_id%97==3 slice so the `missing` agg has a
            # real bucket to count (date buckets drop null-ts docs, ES
            # semantics — both oracles mirror the slice). The slice
            # can't move the span: hours 0 and 719 are hit by doc_ids
            # not ≡3 (mod 97) at every sf.
            F.when(F.col("doc_id") % 97 == 3,
                   F.lit(None).cast("timestamp"))
            .otherwise(
                F.lit("2024-01-01").cast("timestamp")
                + F.make_interval(hours=(F.col("doc_id") % 720)
                                  .cast("int"))).alias("ts"),
        )
        idx = tempfile.mkdtemp(prefix="engine_agg_idx_")
        build_index(tx, idx, n_buckets=4, analyzer="simple")
        _AGG_IDX_CACHE[sf_dir] = idx
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_source": {"terms": {"field": "role"},
                               "aggs": {"avg_turn": {
                                   "avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_turn", 4).alias("avg_turn"))


@register("engine_es_nested_aggs_documents", f"""
WITH tk AS (
  SELECT doc_id, source, n_chars, {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, n_chars FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT source AS key, CAST(n_chars % 97 AS INT) AS key2,
       CAST(count(*) AS BIGINT) AS doc_count
FROM matched GROUP BY source, n_chars % 97
ORDER BY key ASC, key2 ASC
""")
def engine_es_nested_aggs_documents(spark, sf_dir):
    """Nested bucket aggregations (buckets-in-buckets) through the DSL
    over the REAL index, driver-HASH-checked: a terms agg on role with
    a nested terms agg on turn_idx inside it, over the match set of a
    match clause — flattened Spark-first as ONE two-key groupBy (one
    shuffle for the whole tree), leaf buckets ordered (key, key2). The
    oracle regroups the matching docs from raw text on both keys."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_source": {
            "terms": {"field": "role"},
            "aggs": {"by_turn": {"terms": {"field": "turn_idx"}}}}}})
    return out.select("key", F.col("key2").cast("int").alias("key2"),
                      "doc_count")


@register("engine_nested_sizes_documents", f"""
WITH tk AS (
  SELECT doc_id, source, n_chars, {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, n_chars FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
leaf AS (
  SELECT source AS key, CAST(n_chars % 97 AS INT) AS key2,
         printf('c%09d', doc_id) AS key3, count(*) AS n
  FROM matched GROUP BY 1, 2, 3
),
l2 AS (SELECT key, key2, sum(n) AS c2 FROM leaf GROUP BY key, key2),
keep2 AS (
  SELECT key, key2 FROM (
    SELECT key, key2, row_number() OVER (
      PARTITION BY key ORDER BY c2 DESC, key2 ASC) AS rk FROM l2)
  WHERE rk <= 5
),
keep3 AS (
  SELECT key, key2, key3, n FROM (
    SELECT leaf.key, leaf.key2, leaf.key3, leaf.n, row_number() OVER (
      PARTITION BY leaf.key, leaf.key2
      ORDER BY leaf.n DESC, leaf.key3 ASC) AS rk
    FROM leaf JOIN keep2 USING (key, key2))
  WHERE rk <= 2
)
SELECT key, key2, key3, CAST(n AS BIGINT) AS doc_count FROM keep3
""")
def engine_nested_sizes_documents(spark, sf_dir):
    """Three-level nested bucket aggregation with per-level ``size``
    truncation through the DSL over the REAL index,
    driver-HASH-checked: terms(role) > terms(turn_idx, size=5) >
    terms(conv_id, size=2) over the match set — ES semantics
    (top-size buckets per PARENT by count desc then key asc, dropped
    parents dropping their subtree, counts exact). The oracle
    recomputes the whole truncation cascade with SQL window ranks."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"l1": {
            "terms": {"field": "role"},
            "aggs": {"l2": {
                "terms": {"field": "turn_idx", "size": 5},
                "aggs": {"l3": {
                    "terms": {"field": "conv_id", "size": 2}}}}}}}})
    return out.select("key", F.col("key2").cast("int").alias("key2"),
                      "key3", "doc_count")


@register("engine_es_metric_aggs_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT source AS key, CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(DISTINCT ti) AS BIGINT) AS uniq_turns,
       round(quantile_cont(ti, 0.50), 4) AS pct_50,
       round(quantile_cont(ti, 0.95), 4) AS pct_95,
       CAST(count(ti) AS BIGINT) AS ti_count,
       CAST(min(ti) AS INT) AS ti_min,
       CAST(max(ti) AS INT) AS ti_max,
       round(avg(ti), 4) AS ti_avg,
       CAST(sum(ti) AS BIGINT) AS ti_sum
FROM matched GROUP BY source
ORDER BY doc_count DESC, key ASC
""")
def engine_es_metric_aggs_documents(spark, sf_dir):
    """The round-5 metric aggs — ``cardinality`` (exact path),
    ``percentiles`` (exact path), ``stats`` — as sub-aggs of a terms
    bucket through the DSL over the REAL index, driver-HASH-checked:
    the oracle recomputes count(DISTINCT), quantile_cont (the same
    (n-1)·p linear interpolation Spark's exact ``percentile`` uses),
    and the five ES stats keys over the regrouped match set. The
    approximate twins (`approx_count_distinct` = HLL++ exactly as ES
    cardinality, `percentile_approx` = the tdigest analog) are
    error-bound-tested in pytest — sketches are not hash-comparable by
    construction."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_source": {
            "terms": {"field": "role"},
            "aggs": {
                "uniq_turns": {"cardinality": {"field": "turn_idx"}},
                "pct": {"percentiles": {"field": "turn_idx",
                                        "percents": [50, 95]}},
                "ti": {"stats": {"field": "turn_idx"}},
            }}}})
    return out.select(
        "key", "doc_count", "uniq_turns",
        F.round("pct_50", 4).alias("pct_50"),
        F.round("pct_95", 4).alias("pct_95"),
        "ti_count", "ti_min", "ti_max",
        F.round("ti_avg", 4).alias("ti_avg"),
        F.col("ti_sum").cast("long").alias("ti_sum"))


@register("engine_es_extended_stats_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
med AS (
  SELECT source, quantile_cont(ti, 0.50) AS m FROM matched GROUP BY source
),
mad AS (
  SELECT matched.source, quantile_cont(abs(ti - m), 0.50) AS mad
  FROM matched JOIN med USING (source) GROUP BY matched.source
)
SELECT matched.source AS key, CAST(count(*) AS BIGINT) AS doc_count,
       CAST(count(ti) AS BIGINT) AS xs_count,
       round(CAST(sum(CAST(ti AS DOUBLE) * ti) AS DOUBLE), 4)
         AS xs_sum_of_squares,
       round(var_pop(ti), 4) AS xs_variance,
       round(stddev_pop(ti), 4) AS xs_std_deviation,
       round(sum(CAST(ti AS DOUBLE) * ti) / sum(CAST(ti AS DOUBLE)), 4)
         AS wa,
       round(any_value(mad.mad), 4) AS mad
FROM matched JOIN mad USING (source)
GROUP BY matched.source
ORDER BY doc_count DESC, key ASC
""")
def engine_es_extended_stats_documents(spark, sf_dir):
    """Round-5 wave: ``extended_stats`` (population moments — ES's
    variance/std_deviation keys), ``weighted_avg`` (Σvw/Σw), and EXACT
    ``median_absolute_deviation`` (two-stage: per-bucket median, then
    median of absolute deviations — two shuffles of the MATCH SET,
    never corpus-wide) as sub-aggs of a terms bucket through the DSL
    over the REAL index, driver-HASH-checked: the oracle recomputes
    population moments (var_pop/stddev_pop), the weighted average, and
    the two-stage quantile_cont MAD over the regrouped match set."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_source": {
            "terms": {"field": "role"},
            "aggs": {
                "xs": {"extended_stats": {"field": "turn_idx"}},
                "wa": {"weighted_avg": {"value": {"field": "turn_idx"},
                                        "weight": {"field": "turn_idx"}}},
                "mad": {"median_absolute_deviation":
                        {"field": "turn_idx"}},
            }}}})
    return out.select(
        "key", "doc_count", "xs_count",
        F.round("xs_sum_of_squares", 4).alias("xs_sum_of_squares"),
        F.round("xs_variance", 4).alias("xs_variance"),
        F.round("xs_std_deviation", 4).alias("xs_std_deviation"),
        F.round("wa", 4).alias("wa"),
        F.round("mad", 4).alias("mad"))


@register("engine_es_multi_terms_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT source || '|' || CAST(ti AS VARCHAR) AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(ti) AS BIGINT) AS ti_sum
FROM matched GROUP BY source, ti
ORDER BY doc_count DESC, key ASC
""")
def engine_es_multi_terms_documents(spark, sf_dir):
    """Round-5 wave: ``multi_terms`` bucket agg — tuple keys emitted as
    ES's key_as_string ("role|turn"), one groupBy for the whole tuple,
    metric sub-aggs riding along — through the DSL over the REAL index,
    driver-HASH-checked against the two-key regroup of the match set."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"mt": {
            "multi_terms": {"terms": [{"field": "role"},
                                      {"field": "turn_idx"}]},
            "aggs": {"ti_sum": {"sum": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.col("ti_sum").cast("long").alias("ti_sum"))


@register("engine_es_auto_dh_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti,
         1704067200 + (doc_id % 720) * 3600 AS ts_s,
         {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti, ts_s FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT CAST(floor(ts_s / 604800.0) * 604800 AS BIGINT) AS key_s,
       CAST(count(*) AS BIGINT) AS doc_count,
       CAST(max(ti) AS INT) AS m,
       '7d' AS interval
-- doc_id%97==3 has NULL ts in the agg index: date buckets drop it
FROM matched WHERE doc_id % 97 <> 3 GROUP BY 1 ORDER BY key_s ASC
""")
def engine_es_auto_dh_documents(spark, sf_dir):
    """Round-5 closing corner: ``auto_date_histogram`` through the DSL
    over the REAL index — the interval picked deterministically from
    the matched span (the agg index's ts spans a CONSTANT ~720h at
    every scale, so the ladder lands on 7d everywhere) — driver-HASH-
    checked against the fixed-interval SQL regroup, epoch-seconds keys
    to sidestep timestamp canonicalization."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"a": {
            "auto_date_histogram": {"field": "ts", "buckets": 10},
            "aggs": {"m": {"max": {"field": "turn_idx"}}}}}})
    return out.select(
        F.unix_timestamp("key").cast("long").alias("key_s"),
        F.col("doc_count").cast("long").alias("doc_count"),
        F.col("m").cast("int").alias("m"),
        F.col("interval")).orderBy("key_s")


@register("engine_es_rare_adjacency_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti,
         list_contains(tk, 'hash') AS has_hash FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
rare AS (
  SELECT 'rare:' || CAST(ti AS VARCHAR) AS key,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM matched GROUP BY ti HAVING count(*) <= 40
),
adj AS (
  SELECT 'adj:' || key AS key, doc_count FROM (
    SELECT 'hash' AS key,
           CAST(count(*) FILTER (has_hash) AS BIGINT) AS doc_count
    FROM matched
    UNION ALL
    SELECT 'hash&src1', CAST(count(*) FILTER (
        has_hash AND source = 'src1') AS BIGINT) FROM matched
    UNION ALL
    SELECT 'src1', CAST(count(*) FILTER (source = 'src1') AS BIGINT)
    FROM matched
  ) WHERE doc_count > 0
)
SELECT key, doc_count FROM rare
UNION ALL
SELECT key, doc_count FROM adj
ORDER BY key ASC
""")
def engine_es_rare_adjacency_documents(spark, sf_dir):
    """Round-5 wave: ``rare_terms`` (exact long tail — ES's is
    CuckooFilter-approximate, ours a strict superset of that guarantee)
    and ``adjacency_matrix`` (named filters + pairwise intersections,
    the src1 leg exercising the keyword-field term clause on a stored
    docs column), both through the DSL over the REAL index and
    driver-HASH-checked; the two frames union under a key prefix."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    q = {"match": {"text": "table hash"}}
    rare = es_aggregations(reader, {"query": q, "aggs": {"rt": {
        "rare_terms": {"field": "turn_idx", "max_doc_count": 40}}}})
    adj = es_aggregations(reader, {"query": q, "aggs": {"am": {
        "adjacency_matrix": {"filters": {
            "hash": {"match": {"text": "hash"}},
            "src1": {"term": {"role": "src1"}},
        }}}}})
    out = (rare.select(F.concat(F.lit("rare:"),
                                F.col("key").cast("string")).alias("key"),
                       "doc_count")
           .unionByName(adj.select(
               F.concat(F.lit("adj:"), "key").alias("key"), "doc_count")))
    return out.orderBy("key")


@register("engine_es_distance_feature_documents", """
SELECT doc_id,
       round(0.5 * 80.0 / (80.0 + abs(n_chars - 300.0)), 4) AS score
FROM documents
ORDER BY score DESC, doc_id ASC LIMIT 15
""")
def engine_es_distance_feature_documents(spark, sf_dir):
    """Round-5 closing corner: ``distance_feature`` through the DSL
    over the REAL index — closeness of the stored n_chars column to
    origin 300, boost·pivot/(pivot+|x−origin|) — driver-HASH-checked
    against the closed form."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"distance_feature": {"field": "n_chars",
                                       "origin": 300, "pivot": 80,
                                       "boost": 0.5}},
        "size": 15, "_source": ["conv_id"]})
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_es_pinned_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'spark'
  GROUP BY doc_id
),
df AS (SELECT count(*) AS df FROM tf),
bm AS (
  SELECT tf.doc_id,
         ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
         * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                    / (corpus.tok * 1.0 / corpus.n))) AS score
  FROM tf JOIN dl USING (doc_id), corpus, df
),
pinned AS (
  SELECT d.doc_id, p.score
  FROM (VALUES (42, 1.7014117331926443e38),
               (7,  1.7014117331926443e38 - 1e30)) AS p(doc_id, score)
  JOIN documents d USING (doc_id)
),
united AS (
  SELECT doc_id, score FROM pinned
  UNION ALL
  SELECT doc_id, score FROM bm
  WHERE doc_id NOT IN (SELECT doc_id FROM pinned)
)
SELECT doc_id,
       CASE WHEN score > 1e30
            THEN (1.7014117331926443e38 - score) / 1e30
            ELSE round(score, 4) END AS score
FROM (SELECT doc_id, score FROM united
      ORDER BY score DESC, doc_id ASC LIMIT 20) t
ORDER BY score ASC
""")
def engine_es_pinned_documents(spark, sf_dir):
    """Round-5 closing corner: ``pinned`` query through the DSL over
    the REAL index — explicit ids ranked above every organic hit in
    the given order (Float.MAX_VALUE/2 base, 1e30 rank step so float64
    preserves the order), organic = the BM25 match minus the pins —
    driver-HASH-checked against a VALUES + BM25 CTE union."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    out = es_search(reader, {
        "query": {"pinned": {"ids": [42, 7],
                             "organic": {"match": {"text": "spark"}}}},
        "size": 20, "_source": ["conv_id"]})
    sc = F.col("score")
    # report pinned rows as their exact pin rank: DuckDB's round() on a
    # 1.7e38 double perturbs it by one ulp, so the raw sentinel scores
    # can't be hash-compared — the rank (an exact small float) can
    mapped = F.when(sc > 1e30,
                    (F.lit(1.7014117331926443e38) - sc) / F.lit(1e30)) \
        .otherwise(F.round(sc, 4))
    return out.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        mapped.alias("score")).orderBy("score")


@register("engine_es_sampler_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('table', 'hash') GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
),
top AS (SELECT doc_id FROM scored ORDER BY score DESC, doc_id ASC
        LIMIT 25)
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(n_chars % 97), 4) AS avg_turn
FROM documents JOIN top USING (doc_id)
""")
def engine_es_sampler_documents(spark, sf_dir):
    """Round-5 wave: ``sampler`` agg through the DSL over the REAL
    index — sub-aggs over the deterministic global top-25 best-scoring
    matches (ES's is per-shard order-approximate; ours exact) —
    driver-HASH-checked against the BM25 CTE's top-25."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"s": {"sampler": {"shard_size": 25},
                       "aggs": {"avg_turn": {
                           "avg": {"field": "turn_idx"}}}}}})
    return out.select(F.col("doc_count").cast("long").alias("doc_count"),
                      F.round("avg_turn", 4).alias("avg_turn"))


@register("engine_es_moving_fn_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
buckets AS (
  SELECT CAST(floor(ti / 10.0) * 10 AS DOUBLE) AS key,
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(sum(ti) AS DOUBLE) AS m,
         round(100.0 * avg(CASE WHEN ti <= 30 THEN 1.0 ELSE 0.0 END), 4)
           AS pr_30
  FROM matched GROUP BY 1
)
SELECT key, doc_count, m, pr_30,
       round(sum(m) OVER (ORDER BY key
                          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4)
         AS mv,
       round(m - lag(m, 2) OVER (ORDER BY key), 4) AS sd
FROM buckets ORDER BY key ASC
""")
def engine_es_moving_fn_documents(spark, sf_dir):
    """Round-5 wave: ``moving_fn`` (trailing-window sum, exclusive of
    current) and ``serial_diff`` (lag 2) parent pipelines plus an
    exact ``percentile_ranks`` metric, all riding one histogram
    groupBy through the DSL over the REAL index — driver-HASH-checked
    against DuckDB window functions (leading NULLs match on both
    sides)."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"h": {
            "histogram": {"field": "turn_idx", "interval": 10},
            "aggs": {"m": {"sum": {"field": "turn_idx"}},
                     "pr": {"percentile_ranks": {
                         "field": "turn_idx", "values": [30]}},
                     "mv": {"moving_fn": {
                         "buckets_path": "m", "window": 3,
                         "script": "MovingFunctions.sum(values)"}},
                     "sd": {"serial_diff": {"buckets_path": "m",
                                            "lag": 2}}}}}})
    return out.select(
        F.col("key").cast("double").alias("key"),
        F.col("doc_count").cast("long").alias("doc_count"),
        F.col("m").cast("double").alias("m"),
        F.round("pr_30", 4).alias("pr_30"),
        F.round("mv", 4).alias("mv"),
        F.round("sd", 4).alias("sd")).orderBy("key")


@register("engine_es_top_hits_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
buckets AS (
  SELECT source AS key, count(*) AS doc_count,
         row_number() OVER (ORDER BY count(*) DESC, source ASC) AS brk
  FROM matched GROUP BY source
),
hits AS (
  SELECT m.source AS key, m.doc_id, m.ti,
         row_number() OVER (PARTITION BY m.source
                            ORDER BY m.ti DESC, m.doc_id ASC) AS hit_rank
  FROM matched m
)
SELECT b.key, CAST(b.doc_count AS BIGINT) AS doc_count,
       CAST(h.doc_id AS BIGINT) AS doc_id,
       CAST(h.ti AS INT) AS turn_idx,
       CAST(h.hit_rank AS INT) AS hit_rank
FROM buckets b JOIN hits h ON h.key = b.key
WHERE b.brk <= 2 AND h.hit_rank <= 3
ORDER BY b.doc_count DESC, b.key ASC, h.hit_rank ASC
""")
def engine_es_top_hits_documents(spark, sf_dir):
    """``top_hits`` (round 5) through the DSL over the REAL index,
    driver-HASH-checked: the top-2 role buckets each carry their top-3
    docs by (turn_idx desc, docID asc) — Spark-first as ONE window
    row_number over the bucket key (no per-bucket re-query), joined
    back to the bucket counts. docIDs surface via the conv_id mapping
    (engine docIDs are assigned in stable (conv_id, turn_idx) order —
    J1's global-sort identity — so the oracle's documents.doc_id
    tiebreak is the same order)."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_source": {
            "terms": {"field": "role", "size": 2},
            "aggs": {"top": {"top_hits": {
                "size": 3,
                "sort": [{"turn_idx": {"order": "desc"}}],
                "_source": ["conv_id", "turn_idx"]}}}}}})
    return out.select(
        "key", "doc_count",
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        "turn_idx", F.col("hit_rank").cast("int").alias("hit_rank"))


@register("engine_es_histogram_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT CAST(floor(ti / 10.0) * 10 AS DOUBLE) AS key,
       CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(ti), 4) AS avg_ti
FROM matched GROUP BY 1 ORDER BY key ASC
""")
def engine_es_histogram_documents(spark, sf_dir):
    """Numeric ``histogram`` bucket agg (round 5) through the DSL over
    the REAL index, driver-HASH-checked: fixed-interval buckets keyed
    by their inclusive lower bound (ES semantics), an avg metric riding
    along, ascending keys — one Catalyst groupBy on the bucket
    expression."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_ti": {
            "histogram": {"field": "turn_idx", "interval": 10},
            "aggs": {"avg_ti": {"avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_ti", 4).alias("avg_ti"))


@register("engine_es_range_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT '*-30' AS key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(ti), 4) AS avg_ti FROM matched WHERE ti < 30
UNION ALL
SELECT '20-60', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE ti >= 20 AND ti < 60
UNION ALL
SELECT '100000-*', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE ti >= 100000
UNION ALL
SELECT '60-*', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE ti >= 60
""")
def engine_es_range_documents(spark, sf_dir):
    """``range`` bucket agg (round 5) through the DSL over the REAL
    index, driver-HASH-checked with ES-faithful corners the oracle
    mirrors: OVERLAPPING ranges (20-60 overlaps both neighbors — a doc
    lands in every matching bucket, so this can never be one groupBy),
    open edges, and an EMPTY bucket returned with doc_count 0 and NULL
    metric."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"rg": {
            "range": {"field": "turn_idx", "ranges": [
                {"to": 30}, {"from": 20, "to": 60},
                {"from": 100000}, {"from": 60}]},
            "aggs": {"avg_ti": {"avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_ti", 4).alias("avg_ti"))


@register("engine_es_date_range_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti,
         1704067200 + (doc_id % 720) * 3600 AS ts_s,
         {_TOK_SQL} AS tk
  FROM documents
),
-- doc_id%97==3 has NULL ts in the agg index: every bounded range
-- predicate is NULL for it, so it lands in no bucket
matched AS (
  SELECT doc_id, ti, ts_s FROM tk
  WHERE (list_contains(tk, 'table') OR list_contains(tk, 'hash'))
    AND doc_id % 97 <> 3
)
SELECT '*-2024-01-10' AS key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(ti), 4) AS avg_ti
FROM matched WHERE ts_s < 1704844800
UNION ALL
SELECT '2024-01-05-2024-01-20', CAST(count(*) AS BIGINT),
       round(avg(ti), 4)
FROM matched WHERE ts_s >= 1704412800 AND ts_s < 1705708800
UNION ALL
SELECT '2024-01-20-*', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE ts_s >= 1705708800
""")
def engine_es_date_range_documents(spark, sf_dir):
    """``date_range`` bucket agg (round-5 closing) through the DSL
    over the REAL index, driver-HASH-checked: [from, to) on the stored
    ts column with ISO-string edges kept verbatim as keys, OVERLAPPING
    ranges (the middle bucket straddles both neighbors), open edges,
    and NULL-ts docs (the doc_id%97==3 slice) landing in no bucket —
    the oracle recomputes the epoch arithmetic and the null exclusion
    from raw doc_ids."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"dr": {
            "date_range": {"field": "ts", "ranges": [
                {"to": "2024-01-10"},
                {"from": "2024-01-05", "to": "2024-01-20"},
                {"from": "2024-01-20"}]},
            "aggs": {"avg_ti": {"avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_ti", 4).alias("avg_ti"))


@register("engine_es_hist_mdc0_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
buckets AS (
  SELECT CAST(floor(ti / 10.0) * 10 AS DOUBLE) AS key,
         CAST(count(*) AS BIGINT) AS doc_count,
         round(avg(ti), 4) AS avg_ti
  FROM matched GROUP BY 1
)
SELECT CAST(g.k AS DOUBLE) AS key,
       COALESCE(b.doc_count, 0) AS doc_count, b.avg_ti
FROM generate_series(-30, 120, 10) g(k)
LEFT JOIN buckets b ON b.key = g.k
ORDER BY key ASC
""")
def engine_es_hist_mdc0_documents(spark, sf_dir):
    """``min_doc_count: 0`` + ``extended_bounds`` (round-5 closing)
    through the DSL over the REAL index, driver-HASH-checked: the
    histogram returns the FULL dense bucket ladder from the
    extended_bounds floor (-30) to its ceiling bucket (120) — empty
    edge buckets with doc_count 0 and NULL metric — with populated
    buckets identical to the sparse default. The oracle rebuilds the
    ladder with generate_series + a left join."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"h": {
            "histogram": {"field": "turn_idx", "interval": 10.0,
                          "min_doc_count": 0,
                          "extended_bounds": {"min": -30, "max": 120}},
            "aggs": {"avg_ti": {"avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_ti", 4).alias("avg_ti"))


@register("engine_es_sig_terms_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
fg_docs AS (
  SELECT doc_id, tk FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
fg AS (
  SELECT term, count(*) AS doc_count FROM (
    SELECT DISTINCT doc_id, unnest(tk) AS term FROM fg_docs)
  GROUP BY term
),
bg AS (
  SELECT term, count(*) AS bg_count FROM (
    SELECT DISTINCT doc_id, unnest(tk) AS term FROM tk)
  GROUP BY term
),
tot AS (
  SELECT (SELECT count(*) FROM fg_docs) AS n_fg,
         (SELECT count(*) FROM documents) AS n_bg
)
SELECT key, doc_count, bg_count, round(score, 4) AS score FROM (
  SELECT fg.term AS key,
         CAST(fg.doc_count AS BIGINT) AS doc_count,
         CAST(bg.bg_count AS BIGINT) AS bg_count,
         (fg.doc_count / CAST(n_fg AS DOUBLE)
          - bg.bg_count / CAST(n_bg AS DOUBLE))
         * ((fg.doc_count / CAST(n_fg AS DOUBLE))
            / (bg.bg_count / CAST(n_bg AS DOUBLE))) AS score
  FROM fg JOIN bg USING (term), tot
  WHERE fg.doc_count >= 3)
WHERE score > 0
ORDER BY score DESC, key ASC LIMIT 10
""")
def engine_es_sig_terms_documents(spark, sf_dir):
    """``significant_terms`` (round 5, JLH heuristic) through the DSL
    over the REAL index, driver-HASH-checked: the terms
    overrepresented in the "table hash" match set vs the whole corpus.
    The engine's background doc frequencies come from the index's own
    term dictionary (scan-free — the same numbers
    engine_term_stats_documents hash-validates); only the foreground is
    tokenized, one Arrow mapInPandas pass + one groupBy(term). The
    oracle recomputes both sides from raw text and the identical JLH
    formula."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"sig": {"significant_terms": {
            "field": "text", "size": 10}}}})
    return out.select("key", "doc_count", "bg_count",
                      F.round("score", 4).alias("score"))


@register("engine_es_filters_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti, tk FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT 'has_spark' AS key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(ti), 4) AS avg_ti
FROM matched WHERE list_contains(tk, 'spark')
UNION ALL
SELECT 'high_turn', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE ti >= 90
UNION ALL
SELECT 'none', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE list_contains(tk, 'zzzneverterm')
""")
def engine_es_filters_documents(spark, sf_dir):
    """``filters`` agg (round 5): named query-clause buckets over the
    outer match set — each filter a full DSL clause in filter context
    (a match, a range), buckets may overlap, empty buckets return 0.
    Driver-HASH-checked against a per-filter SQL recompute."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"f": {"filters": {"filters": {
            "has_spark": {"match": {"text": "spark"}},
            "high_turn": {"range": {"turn_idx": {"gte": 90}}},
            "none": {"match": {"text": "zzzneverterm"}}}},
            "aggs": {"avg_ti": {"avg": {"field": "turn_idx"}}}}}})
    return out.select("key", "doc_count",
                      F.round("avg_ti", 4).alias("avg_ti"))


@register("engine_sloppy_phrase_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
  WHERE term IN ('table', 'hash') GROUP BY term
),
sumidf AS (
  SELECT sum(ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))) AS s
  FROM df, corpus
),
pa AS (
  SELECT doc_id, i FROM tk,
       unnest(generate_series(1, len(tk))) AS g(i)
  WHERE tk[i] = 'table'
),
pb AS (
  SELECT doc_id, i FROM tk,
       unnest(generate_series(1, len(tk))) AS g(i)
  WHERE tk[i] = 'hash'
),
w AS (
  SELECT a.doc_id, sum(1.0 / (b.i - a.i)) AS wtf
  FROM pa a JOIN pb b USING (doc_id)
  WHERE b.i - a.i BETWEEN 1 AND 3
  GROUP BY a.doc_id
)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       round(sumidf.s * w.wtf
             / (w.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                               / (corpus.tok * 1.0 / corpus.n))), 4)
         AS score
FROM w JOIN dl USING (doc_id), corpus, sumidf
ORDER BY sumidf.s * w.wtf
         / (w.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                           / (corpus.tok * 1.0 / corpus.n))) DESC,
         w.doc_id ASC
LIMIT 10
""")
def engine_sloppy_phrase_documents(spark, sf_dir):
    """match_phrase with SLOP over the REAL positional index,
    driver-HASH-checked: 'table hash' within slop 2 — every in-order
    position pair at displacement d in [1, slop+1] contributes
    Lucene's sloppy weight 1/(1+gap) = 1/d to the phrase frequency,
    scored by the same BM25 phrase shape (Σ idf · wtf / (wtf + k1·len
    norm)). The oracle recomputes positions, pair weights, and the
    fold from raw text; the engine path is slop+1 shifted-key hash
    joins over the positional postings (never a range join)."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"match_phrase": {"text": {"query": "table hash",
                                            "slop": 2}}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_span_near_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
  WHERE term IN ('table', 'hash') GROUP BY term
),
sumidf AS (
  SELECT sum(ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))) AS s
  FROM df, corpus
),
pa AS (
  SELECT doc_id, i FROM tk,
       unnest(generate_series(1, len(tk))) AS g(i)
  WHERE tk[i] = 'table'
),
pb AS (
  SELECT doc_id, i FROM tk,
       unnest(generate_series(1, len(tk))) AS g(i)
  WHERE tk[i] = 'hash'
),
w AS (
  SELECT a.doc_id, sum(1.0 / abs(b.i - a.i)) AS wtf
  FROM pa a JOIN pb b USING (doc_id)
  WHERE abs(b.i - a.i) BETWEEN 1 AND 3
  GROUP BY a.doc_id
)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       round(sumidf.s * w.wtf
             / (w.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                               / (corpus.tok * 1.0 / corpus.n))), 4)
         AS score
FROM w JOIN dl USING (doc_id), corpus, sumidf
ORDER BY sumidf.s * w.wtf
         / (w.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                           / (corpus.tok * 1.0 / corpus.n))) DESC,
         w.doc_id ASC
LIMIT 10
""")
def engine_span_near_documents(spark, sf_dir):
    """span_near (UNordered) over the REAL positional index,
    driver-HASH-checked: two span_term clauses within slop 2 in either
    order — every pair at |displacement| in [1, slop+1] contributes
    1/|d|, folded by the BM25 phrase shape. The oracle mirrors the
    mirrored-displacement weighting from raw text positions."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    reader = IndexReader(spark, _simple_index(spark, sf_dir))
    hits = es_search(reader, {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "table"}},
                        {"span_term": {"text": "hash"}}],
            "slop": 2, "in_order": False}},
        "size": 10})
    docs = spark.read.parquet(
        _SIMPLE_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_terms_set_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS req, {_TOK_SQL} AS tk
  FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'hash', 'merge', 'scan', 'query')
  GROUP BY term
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'hash', 'merge', 'scan', 'query')
  GROUP BY doc_id, term
),
tscore AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS ts,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, round(t.ts, 4) AS score
FROM tscore t JOIN tk USING (doc_id)
WHERE t.nt >= tk.req
ORDER BY t.ts DESC, t.doc_id ASC LIMIT 20
""")
def engine_terms_set_documents(spark, sf_dir):
    """ES ``terms_set`` query over the REAL index, driver-HASH-checked:
    five term clauses whose minimum_should_match comes PER DOC from a
    stored field (turn_idx = n_chars %% 97 in the agg index build) —
    only docs matching at least their own required count return, scored
    as the sum of the matching terms' BM25 term-query scores. The
    oracle recomputes scores, per-doc match counts, and the per-doc
    gate from raw text."""
    from .operators.esdsl import es_search
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    hits = es_search(reader, {
        "query": {"terms_set": {"text": {
            "terms": ["table", "hash", "merge", "scan", "query"],
            "minimum_should_match_field": "turn_idx"}}},
        "size": 20})
    docs = spark.read.parquet(
        _AGG_IDX_CACHE[sf_dir] + "/docs").select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_es_misc_aggs_documents", f"""
WITH tk AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti, {_TOK_SQL} AS tk
  FROM documents
),
matched AS (
  SELECT doc_id, ti, tk FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
)
SELECT 'filter' AS key, CAST(count(*) AS BIGINT) AS doc_count,
       round(avg(ti), 4) AS avg_ti
FROM matched WHERE list_contains(tk, 'table')
UNION ALL
SELECT 'global', CAST(count(*) AS BIGINT), round(avg(ti), 4) FROM tk
UNION ALL
SELECT 'missing', CAST(count(*) AS BIGINT), round(avg(ti), 4)
FROM matched WHERE doc_id % 97 = 3
""")
def engine_es_misc_aggs_documents(spark, sf_dir):
    """The single-bucket agg trio (round 5) through the DSL over the
    REAL index, driver-HASH-checked: ``filter`` (one unnamed sub-filter
    bucket — a term clause intersecting the match set), ``global``
    (ignores the query: the whole live corpus), and ``missing`` (docs
    whose field is null — the agg index nulls ts on the doc_id%97==3
    slice exactly so this bucket is a real non-trivial subset of the
    match set), each carrying an avg metric the oracle recomputes from
    raw text."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    q = {"match": {"text": "table hash"}}
    sub = {"avg_ti": {"avg": {"field": "turn_idx"}}}
    parts = []
    for label, agg in [
        ("filter", {"filter": {"term": {"text": "table"}},
                    "aggs": sub}),
        ("global", {"global": {}, "aggs": sub}),
        ("missing", {"missing": {"field": "ts"}, "aggs": sub}),
    ]:
        out = es_aggregations(reader, {"query": q, "aggs": {"g": agg}})
        parts.append(out.select(F.lit(label).alias("key"), "doc_count",
                                F.round("avg_ti", 4).alias("avg_ti")))
    from functools import reduce as _reduce

    return _reduce(DataFrame.unionByName, parts)


@register("engine_es_composite_documents", f"""
WITH tk AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti,
         {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
buckets AS (
  SELECT source AS role, CAST(floor(ti / 10.0) * 10 AS DOUBLE) AS tib,
         CAST(count(*) AS BIGINT) AS doc_count,
         CAST(max(ti) AS INT) AS max_ti
  FROM matched GROUP BY 1, 2
)
SELECT role, tib, doc_count, max_ti FROM buckets
WHERE role > 'm' OR (role = 'm' AND tib > 50)
ORDER BY role ASC, tib ASC LIMIT 15
""")
def engine_es_composite_documents(spark, sf_dir):
    """``composite`` agg (round 5) — ES's paginated bucket-export
    surface — through the DSL over the REAL index, driver-HASH-checked
    mid-pagination: two sources (terms × histogram) as ONE two-key
    groupBy, ascending source-key tuple order, resumed strictly after
    the ('m', 50) cursor, one 15-bucket page with a max metric riding
    along. The oracle recomputes the bucket frame, the lexicographic
    after-filter, and the page cut."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"page": {
            "composite": {"size": 15, "sources": [
                {"role": {"terms": {"field": "role"}}},
                {"tib": {"histogram": {"field": "turn_idx",
                                       "interval": 10}}}],
                "after": {"role": "m", "tib": 50}},
            "aggs": {"max_ti": {"max": {"field": "turn_idx"}}}}}})
    return out.select("role", "tib", "doc_count",
                      F.col("max_ti").cast("int").alias("max_ti"))


@register("engine_es_pipeline_histo_documents", f"""
WITH tk AS (
  SELECT doc_id, n_chars, {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, CAST(n_chars % 97 AS INT) AS ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
b AS (
  SELECT CAST(floor(ti / 10.0) * 10 AS DOUBLE) AS key,
         CAST(count(*) AS BIGINT) AS doc_count
  FROM matched GROUP BY 1
)
SELECT key, doc_count,
       round(CAST(doc_count AS DOUBLE)
             - lag(CAST(doc_count AS DOUBLE)) OVER (ORDER BY key), 4)
         AS deriv,
       round(sum(CAST(doc_count AS DOUBLE))
             OVER (ORDER BY key ROWS UNBOUNDED PRECEDING), 4) AS cum
FROM b ORDER BY key ASC
""")
def engine_es_pipeline_histo_documents(spark, sf_dir):
    """Parent pipeline aggs (round 5) through the DSL over the REAL
    index, driver-HASH-checked: a numeric histogram with ``derivative``
    and ``cumulative_sum`` of ``_count`` riding on it — the ES
    reduce-phase pipeline model expressed as window functions over the
    (tiny, post-groupBy) bucket frame; the derivative of the first
    bucket is NULL on both sides. The oracle recomputes buckets and
    both windows from raw text."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {"by_ti": {
            "histogram": {"field": "turn_idx", "interval": 10},
            "aggs": {
                "deriv": {"derivative": {"buckets_path": "_count"}},
                "cum": {"cumulative_sum": {"buckets_path": "_count"}},
            }}}})
    return out.select("key", "doc_count",
                      F.round("deriv", 4).alias("deriv"),
                      F.round("cum", 4).alias("cum"))


@register("engine_es_bucket_script_documents", f"""
WITH tk AS (
  SELECT doc_id, source, n_chars, {_TOK_SQL} AS tk FROM documents
),
matched AS (
  SELECT doc_id, source, CAST(n_chars % 97 AS INT) AS ti FROM tk
  WHERE list_contains(tk, 'table') OR list_contains(tk, 'hash')
),
b AS (
  SELECT source AS key, CAST(count(*) AS BIGINT) AS doc_count,
         CAST(sum(ti) AS BIGINT) AS tsum
  FROM matched GROUP BY source
),
sel AS (
  SELECT *, CAST(tsum AS DOUBLE) / doc_count AS per_doc
  FROM b WHERE doc_count >= 5
),
fin AS (
  SELECT * FROM sel ORDER BY per_doc DESC, key ASC LIMIT 3
)
SELECT key, doc_count, tsum, round(per_doc, 4) AS per_doc,
       round(sum(CAST(tsum AS DOUBLE)) OVER (), 4) AS total_t,
       round(max(per_doc) OVER (), 4) AS max_per_doc
FROM fin ORDER BY per_doc DESC, key ASC
""")
def engine_es_bucket_script_documents(spark, sf_dir):
    """The full pipeline-agg composition (round 5) through the DSL over
    the REAL index, driver-HASH-checked: terms buckets with a sum
    metric, a ``bucket_script`` derived value (ast-compiled arithmetic,
    no string eval), a ``bucket_selector`` filter, a ``bucket_sort``
    truncation, and two SIBLING pipelines (``sum_bucket`` over the
    metric, ``max_bucket`` over the script output) attached as constant
    columns — resolved against the FINAL frame, after selector and
    sort, which the oracle mirrors with plain SQL windows."""
    from .operators.esdsl import es_aggregations
    from .operators.scorer import IndexReader

    engine_es_aggs_documents(spark, sf_dir)  # ensure the agg index
    reader = IndexReader(spark, _AGG_IDX_CACHE[sf_dir])
    out = es_aggregations(reader, {
        "query": {"match": {"text": "table hash"}},
        "aggs": {
            "by_role": {"terms": {"field": "role"}, "aggs": {
                "tsum": {"sum": {"field": "turn_idx"}},
                "per_doc": {"bucket_script": {
                    "buckets_path": {"c": "tsum", "n": "_count"},
                    "script": "params.c / params.n"}},
                "keep": {"bucket_selector": {
                    "buckets_path": {"n": "_count"},
                    "script": "params.n >= 5"}},
                "srt": {"bucket_sort": {
                    "sort": [{"per_doc": {"order": "desc"}}],
                    "size": 3}},
            }},
            "total_t": {"sum_bucket": {"buckets_path": "by_role>tsum"}},
            "max_per_doc": {"max_bucket": {
                "buckets_path": "by_role>per_doc"}},
        }})
    return out.select("key", "doc_count",
                      F.col("tsum").cast("long").alias("tsum"),
                      F.round("per_doc", 4).alias("per_doc"),
                      F.round("total_t", 4).alias("total_t"),
                      F.round("max_per_doc", 4).alias("max_per_doc"))


_MF_IDX_CACHE: dict[str, str] = {}


@register("engine_multifield_documents", f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tk FROM documents
),
corpus AS (SELECT count(*) AS n, sum(len(tk)) AS tok FROM tk),
flat AS (SELECT doc_id, unnest(tk) AS term FROM tk),
dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
df_t AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM flat
  WHERE term IN ('table', 'src7') GROUP BY term
),
tf_t AS (
  SELECT doc_id, term, count(*) AS tf FROM flat
  WHERE term IN ('table', 'src7') GROUP BY doc_id, term
),
tscore AS (
  SELECT tf_t.doc_id,
         sum( ln(1 + (corpus.n - df_t.df + 0.5) / (df_t.df + 0.5))
              * tf_t.tf / (tf_t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                           / (corpus.tok * 1.0 / corpus.n))) ) AS s
  FROM tf_t JOIN df_t USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf_t.doc_id
),
-- source field: one token per doc (simple analyzer of the source id),
-- so tf = 1, dl = 1, avgdl = 1; only 'src7' matches
src AS (SELECT doc_id, lower(source) AS term FROM documents),
df_s AS (SELECT count(*) AS df FROM src WHERE term = 'src7'),
sscore AS (
  SELECT s.doc_id,
         ln(1 + (corpus.n - df_s.df + 0.5) / (df_s.df + 0.5))
         * 1.0 / (1.0 + 1.2) AS s
  FROM src s, df_s, corpus WHERE s.term = 'src7'
),
comb AS (
  SELECT doc_id, 1.0 * s AS f FROM tscore
  UNION ALL SELECT doc_id, 2.0 * s FROM sscore
),
final AS (
  SELECT doc_id, max(f) + 0.3 * (sum(f) - max(f)) AS score
  FROM comb GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM final
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_multifield_documents(spark, sf_dir):
    """ES multi_match best_fields (R2) over REAL per-field sub-indexes,
    driver-HASH-checked: fields text^1.0 + source^2.0 with
    tie_breaker=0.3, query "table src7" (one term per field). Lucene
    keeps separate statistics per field, and so does the engine (one
    full sub-index each, shared docID space); the oracle recomputes both
    fields' BM25 independently — the source field collapses to
    tf=dl=avgdl=1 — and applies the same max + tie_breaker*rest
    combination."""
    import tempfile

    from .operators.multifield import (MultiFieldReader,
                                       build_multifield_index,
                                       search_multifield)

    if sf_dir not in _MF_IDX_CACHE:
        d = _t(spark, sf_dir, "documents")
        tx = d.select(
            F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.col("source"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        idx = tempfile.mkdtemp(prefix="engine_mf_idx_")
        build_multifield_index(tx, idx, {"text": 1.0, "source": 2.0},
                               n_buckets=4, analyzer="simple")
        _MF_IDX_CACHE[sf_dir] = idx
    mf = MultiFieldReader(spark, _MF_IDX_CACHE[sf_dir])
    hits = search_multifield(mf, "table src7", k=10, tie_breaker=0.3)
    docs = mf.readers["text"].docs.select(
        "doc_id", F.substring("conv_id", 2, 9).cast("long").alias("src_id"))
    return (hits.join(docs, "doc_id")
            .select(F.col("src_id").alias("doc_id"),
                    F.round("score", 4).alias("score")))


@register("engine_lifecycle_bm25_documents", _BM25_DOCS_SQL)
def engine_lifecycle_bm25_documents(spark, sf_dir):
    """The SEGMENT LIFECYCLE driver-hash-checked: build over half the
    corpus, append_segment the other half (new snapshot, query-time
    stats aggregation), compact_index (force-merge to one snapshot,
    staged crash-safe swap), then search — the oracle is the SAME
    whole-corpus BM25 SQL as engine_bm25_documents, so a hash match
    proves append+compact reach exactly the state a fresh full build
    would (scores AND docIDs). Own build (not the shared cache): the
    lifecycle is the thing under test."""
    import tempfile

    from .operators.indexer import (append_segment, build_index,
                                    compact_index)
    from .operators.scorer import IndexReader, search

    d = _t(spark, sf_dir, "documents")
    tx = d.select(
        F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    half = d.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    cut = F.format_string("c%09d", F.lit(int(half)))
    idx = tempfile.mkdtemp(prefix="engine_lc_idx_")
    build_index(tx.filter(F.col("conv_id") <= cut), idx,
                n_buckets=4, analyzer="simple")
    append_segment(tx.filter(F.col("conv_id") > cut), idx)
    compact_index(spark, idx)
    reader = IndexReader(spark, idx)
    hits = search(reader, "spark join shuffle", k=10)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


_DEL_PRED = "doc_id % 7 = 3"  # the deleted subset, same on both sides


@register("engine_delete_bm25_documents", f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
qterms AS (SELECT unnest(['spark','join','shuffle']) AS term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      WHERE NOT ({_DEL_PRED})
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_delete_bm25_documents(spark, sf_dir):
    """TOMBSTONE semantics driver-hash-checked: build the real index,
    delete_by_query a subset, search WITHOUT compacting. The oracle
    computes BM25 with FULL-corpus statistics (df/N/avgdl still include
    the deleted docs — the ES/Lucene pre-merge contract) but excludes the
    deleted docs from the result set: a hash match proves the engine's
    tombstone anti-join removes exactly the right docs while leaving
    every surviving score bit-unchanged. Own build (the shared cache
    index must stay delete-free for the other engine_* rows)."""
    import tempfile

    from .operators.deletes import delete_by_query
    from .operators.indexer import build_index
    from .operators.scorer import IndexReader, search

    d = _t(spark, sf_dir, "documents")
    tx = d.select(
        F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    idx = tempfile.mkdtemp(prefix="engine_del_idx_")
    build_index(tx, idx, n_buckets=4, analyzer="simple")
    reader = IndexReader(spark, idx)
    delete_by_query(
        reader, "cast(substring(conv_id, 2, 9) as bigint) % 7 = 3")
    hits = search(reader, "spark join shuffle", k=10)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


@register("engine_purge_bm25_documents", f"""
WITH live AS (SELECT * FROM documents WHERE NOT ({_DEL_PRED})),
toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM live
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, sum(dl) AS tok FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
qterms AS (SELECT unnest(['spark','join','shuffle']) AS term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def engine_purge_bm25_documents(spark, sf_dir):
    """PHYSICAL PURGE driver-hash-checked: delete a subset, then
    compact_index (tombstoned postings dropped during the run-merge
    decode, term_stats/corpus stats recomputed exactly, crash-safe
    swap), then search. The oracle computes BM25 over the surviving
    corpus ONLY — df, N and avgdl all shrink — so a hash match proves
    the purge reaches bit-exactly the state a fresh build over the
    surviving documents would. One corpus-level count differs from a
    fresh build by design: zero-token docs keep their docIDs (purge
    never renumbers), which no score depends on."""
    import tempfile

    from .operators.deletes import delete_by_query
    from .operators.indexer import build_index, compact_index
    from .operators.scorer import IndexReader, search

    d = _t(spark, sf_dir, "documents")
    tx = d.select(
        F.format_string("c%09d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    idx = tempfile.mkdtemp(prefix="engine_purge_idx_")
    build_index(tx, idx, n_buckets=4, analyzer="simple")
    reader = IndexReader(spark, idx)
    delete_by_query(
        reader, "cast(substring(conv_id, 2, 9) as bigint) % 7 = 3")
    compact_index(spark, idx)
    reader = IndexReader(spark, idx)
    hits = search(reader, "spark join shuffle", k=10)
    return hits.select(
        F.substring("conv_id", 2, 9).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


# transcript_bm25_engine's corpus was a seeded-numpy draw DuckDB could
# not reproduce (the one rows-only row through r4). The corpus AND its
# english_folded (doc_id, term) analysis are now persisted parquet
# fixtures (scripts/gen_oracle_fixtures.py — the ann_planes trick), so
# the twin recomputes df/tf/dl/avgdl and the BM25 top-k relationally
# under the reference-faithful analyzer. Query terms are the analyzed
# form of "neural networks" (porter: networks -> network).
_TX_CORPUS_FIXTURE = "/root/repo/fixtures/transcripts_c30_s42.parquet"
_TX_TOKENS_FIXTURE = "/root/repo/fixtures/transcripts_c30_s42_tokens.parquet"
_TX_IDX_CACHE: dict[str, str] = {}


@register("transcript_bm25_engine", f"""
WITH toks AS (
  SELECT doc_id, term FROM read_parquet('{_TX_TOKENS_FIXTURE}')
),
corpus AS (
  SELECT (SELECT count(*)
          FROM read_parquet('{_TX_CORPUS_FIXTURE}')) AS n,
         (SELECT count(*) FROM toks) AS tok
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('network', 'neural') GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       WHERE term IN ('network', 'neural') GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (corpus.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                         / (corpus.tok * 1.0 / corpus.n))) ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM (SELECT doc_id, score FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT 10) t
""")
def transcript_bm25_engine(spark, sf_dir):
    """The real engine end-to-end on the persisted transcript fixture:
    build the compressed SPIMI index (once per process) with the
    reference-faithful english_folded analyzer and run a reference
    query — hash-checked against a DuckDB BM25 recomputation over the
    fixture's persisted token analysis (VERDICT r4 #2; rank-identity vs
    the numpy oracle additionally enforced in pytest)."""
    import tempfile

    from .operators.indexer import build_index
    from .operators.scorer import IndexReader, search

    if "tx" not in _TX_IDX_CACHE:
        tx = spark.read.parquet(_TX_CORPUS_FIXTURE)
        d = tempfile.mkdtemp(prefix="entry_idx_")
        build_index(tx, d, n_buckets=4)
        _TX_IDX_CACHE["tx"] = d
    reader = IndexReader(spark, _TX_IDX_CACHE["tx"])
    hits = search(reader, "neural networks", k=10, with_text=False)
    return hits.select("doc_id", F.round("score", 4).alias("score"))
