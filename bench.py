"""Benchmark harness (driver-run per round; also used for the N vs 4N
scaling evidence via scripts/scaling_bench.py).

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ..., plus engine-specific extras (turns_per_sec, n_turns, cores)}.

Variance bands (VERDICT r3 #2: one contended window made the r2-vs-r3
comparison unreadable): the whole workload runs $SPARK_GRAFT_BENCH_RUNS
times (default 3) in one session. "queries" reports the per-query MIN
(the least-contended observation — compare these across rounds) and
"queries_median" the per-query median (the typical-cost band); headline
aggregates derive from the min, with *_median twins alongside.

Workload per run:
1. index-build throughput: deterministic synthetic transcript corpus sized
   by sf -> full SPIMI build (turns/sec is the north-rule metric);
2. BM25 top-k latency over the reference query set on the built index
   (distributed executor, batched, fuzzy, phrase/positional, the
   driver-local tiers);
3. the delete lifecycle (tombstone -> search -> purge -> search);
4. a sample of the relational/text operator suite at the sf dir.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def run_once(spark, sf_dir: str, cores: int, warm: bool) -> dict:
    """One full measurement pass. Returns {"queries": {...}, extras}."""
    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.deletes import delete_by_query
    from research_engine_spark.operators.indexer import (
        build_index,
        compact_index,
    )
    from research_engine_spark.operators.scorer import (
        IndexReader,
        phrase_search,
        search,
        search_many,
    )
    from research_engine_spark.queries import Q
    from research_engine_spark.reference_queries import REFERENCE_QUERIES

    queries_sec: dict[str, float] = {}
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.1

    # --- 1. index build ----------------------------------------------------
    # corpus is materialized first: the metric is index-build throughput
    # over an existing table, not data generation
    n_convs = max(int(200_000 * sf), 200)
    src_dir = tempfile.mkdtemp(prefix="bench_src_")
    synth_transcripts(
        spark, n_convs=n_convs, seed=42, n_partitions=max(cores * 2, 16)
    ).write.mode("overwrite").parquet(src_dir)
    tx = spark.read.parquet(src_dir)
    if not warm:
        # throwaway warmup build (methodology in BENCH/BASELINE.md): the
        # FIRST Spark jobs of a session pay JVM JIT/codegen +
        # Python-worker spin-up (~10s measured) — session overhead, not
        # per-build throughput; steady-state turns/sec is the metric
        warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
        build_index(
            synth_transcripts(spark, n_convs=200, seed=1,
                              n_partitions=max(cores, 8)),
            warm_dir, n_buckets=4, n_partitions=max(cores, 8))
        shutil.rmtree(warm_dir, ignore_errors=True)
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    t0 = time.monotonic()
    stats = build_index(tx, idx_dir, n_buckets=max(cores, 16),
                        n_partitions=max(cores * 2, 16))
    build_sec = time.monotonic() - t0
    queries_sec["index_build"] = round(build_sec, 3)
    n_turns = stats["n_docs"]

    # --- 2. BM25 query latency (DISTRIBUTED path, r1-r3-comparable) --------
    # driver_local_max_postings=0 pins the distributed machinery: at sf0.1
    # most reference queries fit the r4 driver-local budget and would
    # otherwise run zero-Spark-job, erasing cross-round comparability.
    # Section 2f measures the driver-local serving tier explicitly.
    # driver_local_max_vocab=0 likewise pins fuzzy EXPANSION to the
    # one-JVM-job vocabulary scan (r1-r3 shape); section 2f measures
    # the driver-local expansion.
    reader = IndexReader(spark, idx_dir, driver_local_max_postings=0,
                         driver_local_max_vocab=0)
    # one untimed warmup query paying the postings/doc_stats file-listing
    # and first-scan codegen (the warmup term must EXIST in the vocab:
    # search() short-circuits unknown terms to zero Spark jobs.
    # "architecture" is pinned in the synthetic vocab and is not a
    # reference-query term, so no timed query's blocks are pre-cached)
    search(reader, "architecture", k=1, with_text=False).collect()
    for i, q in enumerate(REFERENCE_QUERIES):
        t0 = time.monotonic()
        search(reader, q, k=10, with_text=False).collect()
        queries_sec[f"bm25_q{i+1:02d}"] = round(time.monotonic() - t0, 3)

    # --- 2b. the reference set again: the budget-0 reader runs every query
    # on the one distributed executor, so bm25p_* (leaf names kept for the
    # cross-round series) times the same path as bm25_* ------------------
    for i, q in enumerate(REFERENCE_QUERIES):
        t0 = time.monotonic()
        search(reader, q, k=10, with_text=False).collect()
        queries_sec[f"bm25p_q{i+1:02d}"] = round(time.monotonic() - t0, 3)

    # tier observability: which tier answered the first query?
    pstats: dict = {}
    search(reader, REFERENCE_QUERIES[0], k=10, with_text=False,
           prune_stats=pstats).collect()

    # --- 2b2. batch: ALL reference queries in one executor run -------------
    t0 = time.monotonic()
    search_many(reader, list(REFERENCE_QUERIES), k=10).collect()
    queries_sec["bm25_batch_all"] = round(time.monotonic() - t0, 3)

    # --- 2b3. cached-postings interactive path (VERDICT r3 #7) -------------
    # pin the postings scan in executor storage and re-run the reference
    # set: the before/after delta is what a serving tier buys by caching
    # the hot index (the per-query parquet re-scan + re-decompress).
    # eager=True fills the cache outside the timed region.
    reader.cache_postings(eager=True)
    for i, q in enumerate(REFERENCE_QUERIES):
        t0 = time.monotonic()
        search(reader, q, k=10, with_text=False).collect()
        queries_sec[f"bm25c_q{i+1:02d}"] = round(time.monotonic() - t0, 3)
    reader.uncache()

    # --- 2c. fuzzy (AUTO edit-distance expansion) ---------------------------
    fuzzy_queries = ["neurel netwerk traning", "transformr atention"]
    # untimed warmup: first fuzzy query pays vocab-scan + levenshtein
    # codegen (same steady-state methodology as above)
    search(reader, "architectre", k=1, with_text=False,
           fuzzy=True).collect()
    for i, q in enumerate(fuzzy_queries):
        t0 = time.monotonic()
        search(reader, q, k=10, with_text=False, fuzzy=True).collect()
        queries_sec[f"fuzzy_q{i+1:02d}"] = round(time.monotonic() - t0, 3)

    # --- 2c2. batch fuzzy: both typo queries in ONE Spark job --------------
    t0 = time.monotonic()
    search_many(reader, fuzzy_queries, k=10, fuzzy=True).collect()
    queries_sec["fuzzy_batch_all"] = round(time.monotonic() - t0, 3)

    # --- 2d. positional index + phrase latency ------------------------------
    pos_dir = tempfile.mkdtemp(prefix="bench_posidx_")
    t0 = time.monotonic()
    build_index(tx, pos_dir, n_buckets=max(cores, 16),
                n_partitions=max(cores * 2, 16), with_positions=True)
    queries_sec["index_build_positional"] = round(time.monotonic() - t0, 3)
    pos_reader = IndexReader(spark, pos_dir, driver_local_max_postings=0,
                             driver_local_max_vocab=0)
    phrase_queries = ["neural networks", "machine learning models",
                      "attention mechanism"]
    # untimed warmup on the positional reader (first positional-postings
    # scan pays file-listing + codegen, session overhead as above)
    phrase_search(pos_reader, "architecture design", k=1).collect()
    for i, q in enumerate(phrase_queries):
        t0 = time.monotonic()
        phrase_search(pos_reader, q, k=10).collect()
        queries_sec[f"phrase_q{i+1:02d}"] = round(time.monotonic() - t0, 3)

    # --- 2f. driver-local serving tier (r4) ---------------------------------
    # default-budget readers: queries whose summed posting count fits
    # driver_local_max_postings run with ZERO Spark jobs (pyarrow block
    # fetch + numpy top-k, bit-identical — test-guarded). This is the
    # interactive-latency answer; over-budget queries fall back to the
    # distributed path above, so these numbers are the honest mix.
    local_reader = IndexReader(spark, idx_dir)
    search(local_reader, "architecture", k=1, with_text=False).collect()
    n_local = 0
    for i, q in enumerate(REFERENCE_QUERIES):
        st: dict = {}
        t0 = time.monotonic()
        search(local_reader, q, k=10, with_text=False,
               prune_stats=st).collect()
        queries_sec[f"bm25l_q{i+1:02d}"] = round(time.monotonic() - t0, 4)
        n_local += st.get("path") == "driver_local"
    t0 = time.monotonic()
    search_many(local_reader, list(REFERENCE_QUERIES), k=10).collect()
    queries_sec["bm25_batch_all_local"] = round(time.monotonic() - t0, 4)
    for i, q in enumerate(fuzzy_queries):
        t0 = time.monotonic()
        search(local_reader, q, k=10, with_text=False,
               fuzzy=True).collect()
        queries_sec[f"fuzzyl_q{i+1:02d}"] = round(time.monotonic() - t0, 4)
    pos_local = IndexReader(spark, pos_dir)
    phrase_search(pos_local, "architecture design", k=1).collect()
    for i, q in enumerate(phrase_queries):
        t0 = time.monotonic()
        phrase_search(pos_local, q, k=10).collect()
        queries_sec[f"phrasel_q{i+1:02d}"] = round(time.monotonic() - t0, 4)

    # --- 2g. ES query-DSL front-end (r4) -----------------------------------
    # the reference's es_search_final.py clause shape (bool/should of a
    # match clause + a boost-2.0 phrase clause, minimum_should_match=1)
    # submitted as a verbatim ES body through operators/esdsl.py, on the
    # positional index: driver-local serving per query (zero Spark jobs
    # inside the budget) + one distributed-pinned datapoint
    from research_engine_spark.operators.esdsl import es_search

    def _es_body(q: str) -> dict:
        return {"query": {"bool": {"should": [
            {"match": {"text": q}},
            {"match_phrase": {"text": {"query": q, "boost": 2.0}}}],
            "minimum_should_match": 1}}, "size": 10}

    es_search(pos_local, _es_body("architecture design")).collect()
    for i, q in enumerate(REFERENCE_QUERIES):
        t0 = time.monotonic()
        es_search(pos_local, _es_body(q)).collect()
        queries_sec[f"esdsl_q{i+1:02d}"] = round(time.monotonic() - t0, 4)
    # untimed warmup: the composed bool plan (all-matches scan + phrase
    # + union/groupBy) is a fresh plan shape on this session — first
    # execution pays codegen, like every other section's warmup
    es_search(pos_reader, _es_body("architecture design"))\
        .collect()
    t0 = time.monotonic()
    es_search(pos_reader, _es_body(REFERENCE_QUERIES[0])).collect()
    queries_sec["esdsl_dist_q01"] = round(time.monotonic() - t0, 3)

    # --- 2h. ES term-level family + search_after + _count (r4) -------------
    # term (UNanalyzed, BM25), prefix/wildcard (constant_score — the
    # serving tier expands against the in-RAM vocabulary), a bool
    # composing them, a two-page search_after walk, and an exact count —
    # all on the driver-local tier (zero Spark jobs inside the budgets)
    from research_engine_spark.operators.esdsl import es_count

    tl_bodies = {
        "tl_term": {"query": {"term": {"text": "network"}}, "size": 10},
        "tl_prefix": {"query": {"prefix": {"text": {"value": "neur"}}},
                      "size": 10},
        "tl_wildcard": {"query": {"wildcard": {"text":
                                               {"value": "archit*"}}},
                        "size": 10},
        "tl_bool": {"query": {"bool": {
            "must": [{"term": {"text": "network"}}],
            "filter": [{"prefix": {"text": {"value": "neur"}}}]}},
            "size": 10},
    }
    es_search(pos_local, tl_bodies["tl_term"]).collect()  # warmup
    for name, body in tl_bodies.items():
        t0 = time.monotonic()
        es_search(pos_local, body).collect()
        queries_sec[name] = round(time.monotonic() - t0, 4)
    sa_q = {"match": {"text": "neural networks"}}
    t0 = time.monotonic()
    page1 = es_search(pos_local, {"query": sa_q, "size": 10}).collect()
    es_search(pos_local, {
        "query": sa_q, "size": 10,
        "search_after": [float(page1[-1].score),
                         int(page1[-1].doc_id)]}).collect()
    queries_sec["tl_search_after_2pages"] = round(
        time.monotonic() - t0, 4)
    t0 = time.monotonic()
    es_count(pos_local, {"query": sa_q})
    queries_sec["tl_count"] = round(time.monotonic() - t0, 4)

    # --- 2i. block-max-gated serving (r5) -----------------------------------
    # single/common-term top-k whose flat Σ df blows the budget but whose
    # ANSWER lives in few skyline-kept blocks. The main bench corpus is
    # deliberately homogeneous (burstiness=0, r1-comparable) — there the
    # skyline CANNOT separate blocks and the path correctly falls back;
    # block maxima only prune when tf/dl vary, so this section measures
    # on a bursty side index (burstiness=0.3, the realistic-text shape,
    # same as the 7M evidence run). Budget forced just below each
    # query's Σ df so the FLAT gate is shut and only the block-max gate
    # can serve locally; zero-job + bit-identity are pytest-guarded
    # (tests/test_driver_local.py).
    from research_engine_spark.functions.analyzer import analyze_query
    from research_engine_spark.operators.scorer import _term_meta

    bmx_src = synth_transcripts(spark, n_convs=max(n_convs // 2, 200),
                                seed=7, burstiness=0.3)
    bmx_dir = tempfile.mkdtemp(prefix="bench_bmx_")
    build_index(bmx_src, bmx_dir, n_buckets=8)
    bmx_terms = ["data", "model", "learning", "neural", "language",
                 "training"]
    n_blockmax = 0
    warm_r = IndexReader(spark, bmx_dir)
    search(warm_r, "data", k=1, with_text=False).collect()
    for i, q in enumerate(bmx_terms):
        meta_q = _term_meta(warm_r, analyze_query(q), 1.2, 0.75)
        budget = max(1, int(meta_q["df"].sum()) - 1)
        r_bmx = IndexReader(spark, bmx_dir,
                            driver_local_max_postings=budget)
        st = {}
        t0 = time.monotonic()
        search(r_bmx, q, k=10, with_text=False,
               prune_stats=st).collect()
        queries_sec[f"bmxl_q{i+1:02d}"] = round(time.monotonic() - t0, 4)
        n_blockmax += st.get("path") == "driver_local_blockmax"
    shutil.rmtree(bmx_dir, ignore_errors=True)

    # --- 2j. aggregation surface (r5, distributed, non-headline) -----------
    # one scoring-query match set feeding each agg family: nested terms
    # buckets with metric sub-aggs (incl. exact cardinality/percentiles),
    # a composite bucket-export page, top_hits, and significant_terms
    # (background df from the term dictionary, foreground = one Arrow
    # tokenize pass over the match set)
    from research_engine_spark.operators.esdsl import es_aggregations

    agg_q = {"match": {"text": "neural networks"}}
    agg_bodies = {
        "agg_terms_metrics": {"query": agg_q, "aggs": {"b": {
            "terms": {"field": "role"},
            "aggs": {"u": {"cardinality": {"field": "conv_id"}},
                     "p": {"percentiles": {"field": "turn_idx",
                                           "percents": [50, 95]}}}}}},
        "agg_composite_page": {"query": agg_q, "aggs": {"c": {
            "composite": {"size": 100, "sources": [
                {"role": {"terms": {"field": "role"}}},
                {"ti": {"histogram": {"field": "turn_idx",
                                      "interval": 50}}}]}}}},
        "agg_top_hits": {"query": agg_q, "aggs": {"b": {
            "terms": {"field": "role"},
            "aggs": {"h": {"top_hits": {"size": 3}}}}}},
        "agg_significant_terms": {"query": agg_q, "aggs": {"s": {
            "significant_terms": {"field": "text", "size": 10}}}},
    }
    for name, body in agg_bodies.items():
        t0 = time.monotonic()
        es_aggregations(reader, body).collect()
        queries_sec[name] = round(time.monotonic() - t0, 3)

    # --- 2k. scoring-composition surface (r5, distributed, non-headline) ---
    # the rescoring family over forward-table columns: boosting
    # demotion, gauss recency decay, field collapse, and a field sort —
    # each one docs join + TakeOrderedAndProject / one window on top of
    # the same match machinery the headline sections time
    from research_engine_spark.operators.esdsl import es_search

    comp_bodies = {
        "scoring_boosting": {"query": {"boosting": {
            "positive": {"match": {"text": "neural networks"}},
            "negative": {"match": {"text": "model"}},
            "negative_boost": 0.3}}, "size": 10},
        "scoring_decay_gauss": {"query": {"function_score": {
            "query": {"match": {"text": "neural networks"}},
            "gauss": {"turn_idx": {"origin": 0, "scale": 100}}}},
            "size": 10},
        "scoring_collapse": {"query": {"match": {"text": "neural networks"}},
                             "collapse": {"field": "conv_id"}, "size": 10},
        "scoring_sort_field": {"query": {"match": {"text": "neural networks"}},
                               "sort": [{"turn_idx": "desc"}], "size": 10},
    }
    for name, body in comp_bodies.items():
        t0 = time.monotonic()
        es_search(reader, body).collect()
        queries_sec[name] = round(time.monotonic() - t0, 3)

    # --- 2l. round-5 wave-2..5 surfaces (non-headline) ----------------------
    # the text-syntax front-end (parse + execute), a pipeline-agg chain
    # (one groupBy + windows over the bucket frame), and the phrase
    # suggester (candidate generation + positional bigram counts + LM)
    from research_engine_spark.operators.esdsl import (
        es_aggregations as _es_aggs,
        es_phrase_suggest,
    )

    t0 = time.monotonic()
    es_search(pos_reader, {"query": {"query_string": {
        "query": '(neural networks) OR "neural networks"^2 -loss'}},
        "size": 10}).collect()
    queries_sec["qs_query_string"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    _es_aggs(reader, {
        "query": {"match": {"text": "neural networks"}},
        "aggs": {"by_ti": {
            "histogram": {"field": "turn_idx", "interval": 10},
            "aggs": {"d": {"derivative": {"buckets_path": "_count"}},
                     "cs": {"cumulative_sum":
                            {"buckets_path": "_count"}}}}}}).collect()
    queries_sec["agg_pipeline_histo"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    es_phrase_suggest(pos_local, {"s": {
        "text": "nueral netwrks",
        "phrase": {"size": 3, "max_errors": 2}}}).collect()
    queries_sec["phrase_suggest"] = round(time.monotonic() - t0, 3)

    # --- 2m. round-5 closing wave (non-headline): sampler+moving_fn agg
    # body (one groupBy + bucket-frame windows + a top-k sample leg) and
    # a 5-page scroll (constant per-page cursor cost) -----------------------
    from research_engine_spark.operators.esdsl import es_scroll

    t0 = time.monotonic()
    _es_aggs(reader, {
        "query": {"match": {"text": "neural networks"}},
        "aggs": {"h": {
            "histogram": {"field": "turn_idx", "interval": 10},
            "aggs": {"m": {"sum": {"field": "turn_idx"}},
                     "pr": {"percentile_ranks": {
                         "field": "turn_idx", "values": [50]}},
                     "mv": {"moving_fn": {
                         "buckets_path": "m", "window": 3,
                         "script": "MovingFunctions.sum(values)"}},
                     "sd": {"serial_diff": {"buckets_path": "m",
                                            "lag": 2}}}}}}).collect()
    queries_sec["agg_sampler_moving"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    pages = 0
    for _page in es_scroll(reader, {"query": {
            "match": {"text": "neural networks"}}, "size": 200}):
        pages += 1
        if pages >= 5:
            break
    queries_sec["scroll_5x200"] = round(time.monotonic() - t0, 3)

    # --- 2e. delete lifecycle on the main index (last reader use) ----------
    # tombstone ~1/16 of docs, search through the tombstones, physically
    # purge via compaction, search again — the ES delete_by_query +
    # forcemerge lifecycle the reference can't do without a rebuild
    t0 = time.monotonic()
    delete_by_query(reader, "doc_id % 16 = 0")
    queries_sec["delete_by_query"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    search(reader, REFERENCE_QUERIES[0], k=10, with_text=False).collect()
    queries_sec["bm25_tombstoned_q01"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    compact_index(spark, idx_dir)
    queries_sec["purge_compact"] = round(time.monotonic() - t0, 3)
    reader = IndexReader(spark, idx_dir)
    t0 = time.monotonic()
    search(reader, REFERENCE_QUERIES[0], k=10, with_text=False).collect()
    queries_sec["bm25_purged_q01"] = round(time.monotonic() - t0, 3)

    # --- 3. operator suite sample at the sf dir ----------------------------
    for name in ["q01_pricing_summary", "q03_top_orders", "term_frequencies",
                 "exact_dedup_documents", "rrf_user_fusion",
                 "embedding_cosine_topk", "bm25_documents",
                 "span_dedup_documents", "pack_sequences_documents",
                 "shard_assignment_documents"]:
        t0 = time.monotonic()
        Q[name](spark, sf_dir).collect()
        queries_sec[name] = round(time.monotonic() - t0, 3)

    shutil.rmtree(idx_dir, ignore_errors=True)
    shutil.rmtree(pos_dir, ignore_errors=True)
    shutil.rmtree(src_dir, ignore_errors=True)
    spark.catalog.clearCache()
    return {"queries": queries_sec, "n_turns": int(n_turns),
            "prune_stats_q01": pstats, "n_driver_local": int(n_local),
            "n_blockmax_local": int(n_blockmax)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_runs = max(int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")), 1)
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from research_engine_spark.reference_queries import REFERENCE_QUERIES
    from research_engine_spark.session import get_spark

    spark = get_spark(
        app_name="bench", cores=cores, shuffle_partitions=max(cores, 16),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    t_total = time.monotonic()
    runs = [run_once(spark, sf_dir, cores, warm=(i > 0))
            for i in range(n_runs)]
    total = time.monotonic() - t_total

    names = list(runs[0]["queries"])
    q_min = {k: min(r["queries"][k] for r in runs) for k in names}
    q_med = {k: round(statistics.median(r["queries"][k] for r in runs), 3)
             for k in names}

    def _agg(qs: dict, prefix: str) -> float:
        vals = [v for k, v in qs.items() if k.startswith(prefix)]
        return round(sum(vals) / len(vals), 3)

    n_turns = runs[0]["n_turns"]
    out = {
        "metric": "index_build_throughput_plus_bm25_latency",
        "value": round(total, 3),
        "unit": "sec",
        "queries": q_min,
        "queries_median": q_med,
        "runs": n_runs,
        "sf": sf,
        "n_turns": n_turns,
        "index_build_sec": q_min["index_build"],
        "index_build_sec_median": q_med["index_build"],
        "turns_per_sec": round(n_turns / q_min["index_build"], 1),
        "turns_per_sec_median": round(n_turns / q_med["index_build"], 1),
        "bm25_mean_latency_sec": _agg(q_min, "bm25_q"),
        "bm25_mean_latency_sec_median": _agg(q_med, "bm25_q"),
        "bm25_pruned_mean_latency_sec": _agg(q_min, "bm25p_q"),
        "bm25_pruned_mean_latency_sec_median": _agg(q_med, "bm25p_q"),
        "bm25_cached_mean_latency_sec": _agg(q_min, "bm25c_q"),
        "bm25_cached_mean_latency_sec_median": _agg(q_med, "bm25c_q"),
        "bm25_batch_all_sec": q_min["bm25_batch_all"],
        "bm25_batch_per_query_sec": round(
            q_min["bm25_batch_all"] / len(REFERENCE_QUERIES), 3),
        "prune_stats_q01": runs[0]["prune_stats_q01"],
        "bm25_local_mean_latency_sec": _agg(q_min, "bm25l_q"),
        "bm25_local_mean_latency_sec_median": _agg(q_med, "bm25l_q"),
        "bm25_batch_all_local_sec": q_min["bm25_batch_all_local"],
        "n_driver_local_of": [runs[0]["n_driver_local"],
                              len(REFERENCE_QUERIES)],
        "phrase_local_mean_latency_sec": _agg(q_min, "phrasel_q"),
        "fuzzy_local_mean_latency_sec": _agg(q_min, "fuzzyl_q"),
        "fuzzy_mean_latency_sec": _agg(q_min, "fuzzy_q"),
        "phrase_mean_latency_sec": _agg(q_min, "phrase_q"),
        "esdsl_local_mean_latency_sec": _agg(q_min, "esdsl_q"),
        "esdsl_dist_q01_sec": q_min["esdsl_dist_q01"],
        "termlevel_local_mean_latency_sec": _agg(q_min, "tl_"),
        "blockmax_local_mean_latency_sec": _agg(q_min, "bmxl_q"),
        "n_blockmax_local_of": [runs[0]["n_blockmax_local"], 6],
        "index_build_positional_sec": q_min["index_build_positional"],
        "index_build_positional_sec_median": q_med["index_build_positional"],
        "cores": cores,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
