"""Size the positional queries on both tiers: phrase, sloppy phrase,
phrase-prefix, span_near and the phrase suggester, each run through a
budget-0 reader (the distributed executor, the way every query runs at
10^12 turns) and through the default reader (the driver-local tier).

Tiers alternate within each repetition, and which tier goes first flips
every repetition, so host weather hits them alike. The index is built
once into ``index_dir`` (skipped when it already holds one), so two
trees can be sized on the same index:

    PYTHONPATH=<tree> python scripts/phrase_crossover.py INDEX_DIR \\
        [n_convs=17500] [reps=5] [cores=4]

17,500 conversations (seed 7, burstiness 0.3, positional, 8 buckets) are
~103k turns. Prints one JSON line: p50/mean ms per (shape, tier), whether
both tiers returned the same rows (scores included) in every repetition,
and a digest of each shape's rows, to compare two trees.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

PHRASES = ["neural networks", "machine learning models",
           "attention mechanism"]


def main() -> None:
    index_dir = sys.argv[1]
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 17_500
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    cores = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from research_engine_spark.corpus import synth_transcripts
    from research_engine_spark.operators.esdsl import (es_phrase_suggest,
                                                       es_search)
    from research_engine_spark.operators.indexer import build_index
    from research_engine_spark.operators.scorer import (IndexReader,
                                                        phrase_search)
    from research_engine_spark.session import get_spark

    spark = get_spark(app_name="phrase_crossover", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    build_sec = None
    if not os.path.exists(os.path.join(index_dir, "corpus_stats.json")):
        t0 = time.monotonic()
        build_index(synth_transcripts(spark, n_convs=n_convs, seed=7,
                                      burstiness=0.3), index_dir,
                    n_buckets=8, with_positions=True)
        build_sec = round(time.monotonic() - t0, 1)
    tiers = {"dist": IndexReader(spark, index_dir,
                                 driver_local_max_postings=0),
             "local": IndexReader(spark, index_dir)}

    def es(query):
        return lambda r: es_search(r, {"query": query, "size": 10})

    shapes = {f"phrase:{p}": (lambda p: lambda r: phrase_search(
        r, p, k=10))(p) for p in PHRASES}
    shapes.update({
        "sloppy:neural networks~2": es({"match_phrase": {"text": {
            "query": "neural networks", "slop": 2}}}),
        "prefix:neural netw": es({"match_phrase_prefix": {
            "text": "neural netw"}}),
        "span_near:network,neural~2": es({"span_near": {"clauses": [
            {"span_term": {"text": "network"}},
            {"span_term": {"text": "neural"}}],
            "slop": 2, "in_order": False}}),
        "phrase_suggest:nueral netwrks": lambda r: es_phrase_suggest(r, {
            "s": {"text": "nueral netwrks",
                  "phrase": {"size": 3, "max_errors": 2}}}),
    })

    def run(shape, tier):
        return [tuple(row) for row in shapes[shape](tiers[tier]).collect()]

    for shape in shapes:  # warm listings, dictionaries and workers
        for tier in tiers:
            run(shape, tier)

    out: dict = {"n_turns": tiers["local"].stats["n_docs"],
                 "build_sec": build_sec, "cores": cores, "reps": reps,
                 "shapes": {}}
    for shape in shapes:
        secs = {t: [] for t in tiers}
        identical = True
        rows = {}
        for rep in range(reps):
            order = list(tiers) if rep % 2 == 0 else list(tiers)[::-1]
            for tier in order:
                t0 = time.monotonic()
                rows[tier] = run(shape, tier)
                secs[tier].append(time.monotonic() - t0)
            identical &= rows["dist"] == rows["local"]
        out["shapes"][shape] = {
            "identical": identical, "n_rows": len(rows["local"]),
            "rows_sha1": hashlib.sha1(
                repr(rows["local"]).encode()).hexdigest()[:12],
            "p50_ms": {t: round(1e3 * statistics.median(v), 1)
                       for t, v in secs.items()},
            "mean_ms": {t: round(1e3 * statistics.fmean(v), 1)
                        for t, v in secs.items()}}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
