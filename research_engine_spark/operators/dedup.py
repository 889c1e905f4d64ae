"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's exact id-dedup (database/scripts/combine_csv.py:36
``drop_duplicates(subset=["id"])`` -> A7), this module provides the
near-dup family a 100 TB corpus pipeline needs. All are pure DataFrame
compositions (shuffle-conscious: shingle/band joins instead of O(n²)
cross joins) except SimHash's bit packing, which is a vectorized pandas UDF.

Scale notes:
- exact dedup: hash-groupBy on a digest column — one shuffle, map-side
  partial aggregation; never compares full texts pairwise.
- MinHash+LSH: docs -> shingles -> per-(doc, seed) min-hash -> band
  signatures -> candidates join on (band_id, band_hash). The only O(n²)
  term is within a MATCHING band bucket (true near-dups + controlled
  false positives), never across the corpus.
- hot buckets (boilerplate shingles) are the skew risk: candidate pairs
  per bucket are capped by construction (band hash includes all rows of
  the band), and the pair join uses AQE skew handling.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import wide


def normalize_text(col):
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip (reference F3: database/scripts/text_clean.py:14,23)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", digest: str = "xxhash64") -> DataFrame:
    """Exact dedup by content digest: keep the lowest-id doc per distinct
    normalized text. Returns the surviving rows of ``df``.

    digest: "xxhash64" (default — one 64-bit JVM hash, the cheap choice
    at 100 TB; collisions over N docs ~ N²/2⁶⁵, and a collision merely
    drops one non-duplicate row) or "md5" (128-bit, portable to external
    engines — the oracle-checked query twin uses this so DuckDB can
    reproduce the digest)."""
    fp = (F.xxhash64(normalize_text(F.col(text_col)))
          if digest == "xxhash64"
          else F.md5(normalize_text(F.col(text_col))))
    digests = df.withColumn("_fp", fp)
    keeper = digests.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return digests.join(keeper, ["_fp", id_col], "inner").drop("_fp")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs: distinct n-word shingles of the normalized
    text. Built-in expressions only (split + transform + slice).

    Parallelism floor (r6, guide §2.5): a small/compacted corpus
    arrives as few parquet splits, serializing the normalize+shingle
    explode — the CPU-heavy part of every dedup operator built on this
    primitive — onto one task. Round-robin the raw rows up to session
    parallelism first (session.wide); a no-op on already-wide inputs."""
    df = wide(df)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    k = F.size(toks) - F.lit(n - 1)
    # guard: Spark sequence(1, k) with k < 1 yields a DESCENDING sequence,
    # not empty — short docs must produce zero shingles explicitly
    shingles = F.when(
        k >= 1,
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(shingles))
                  .alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    |A∩B| via a self-join on shingle + count; |A∪B| = |A|+|B|-|A∩B|.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    max_shingle_df caps the hot-group blowup (VERDICT r1 #5): a
    boilerplate shingle shared by 10^6 docs would alone create 10^12
    intersection rows. Shingles with corpus df above the cap are excluded
    from BOTH the intersection join and the set sizes, so the measure is
    Jaccard over the filtered shingle sets — consistent on both sides of
    every pair (and mirrored in the DuckDB oracle twin). Near-dup pairs
    keep their high similarity because boilerplate removal removes the
    same elements from numerator and denominator; the skew fixture test
    plants a 30%-df shingle and asserts planted pairs survive.
    """
    # hash-cluster the shingle stream ONCE (r6, guide §2.4): the df-cap
    # aggregate, both sides of the pair self-join, and the set-size
    # aggregate all consume this exact exchange (ReusedExchange), so the
    # normalize+shingle pass runs once instead of once per consumer and
    # the self-join needs no exchange of its own (co-partitioned).
    sh = word_shingles(df, text_col, n, id_col).repartition("shingle")
    if max_shingle_df is not None:
        cold = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_sdf"))
                .filter(F.col("_sdf") <= int(max_shingle_df))
                .select("shingle"))
        sh = sh.join(cold, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures via portable md5(seed || shingle) minima.

    md5 is identical across Spark/DuckDB/Python, which keeps the operator
    oracle-checkable; the min over hex digests of a shingle set is a valid
    min-wise permutation sketch. Returns (id, seed, minhash).
    """
    sh = word_shingles(df, text_col, n, id_col)
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed")
    return (
        sh.select(id_col, "shingle", seeds)
        .withColumn(
            "h", F.md5(F.concat(F.col("seed").cast("string"),
                                F.lit(":"), F.col("shingle")))
        )
        .groupBy(id_col, "seed")
        .agg(F.min("h").alias("minhash"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = 100_000,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, join on
    (band_id, band_hash). Returns distinct (id_a, id_b), id_a < id_b.

    max_band_bucket drops band buckets holding more rows than the cap
    before the self-join (VERDICT r1 #5): a boilerplate band shared by m
    docs yields m² candidate rows, and AQE can split the tasks but not
    shrink the output. A true near-dup pair agreeing on a dropped bucket
    still has every OTHER band to collide on (the standard banding
    guarantee gives b = n_hashes/band_size independent chances), so the
    cap trades a bounded recall epsilon for a hard output bound —
    property-tested with a planted 30%-df boilerplate band.
    """
    sig = minhash_signatures(df, n_hashes, n, text_col, id_col)
    bands = (
        sig.withColumn("band_id", (F.col("seed") / band_size).cast("int"))
        .groupBy(id_col, "band_id")
        .agg(F.md5(F.concat_ws("|", F.sort_array(
            F.collect_list(F.concat_ws("=", F.col("seed").cast("string"),
                                       F.col("minhash")))))).alias("band_hash"))
    )
    if max_band_bucket is not None:
        w_cnt = (bands.groupBy("band_id", "band_hash")
                 .agg(F.count(F.lit(1)).alias("_bn"))
                 .filter(F.col("_bn") <= int(max_band_bucket))
                 .select("band_id", "band_hash"))
        bands = bands.join(w_cnt, ["band_id", "band_hash"])
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


SIMHASH_BITS = 64


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens (vectorized pandas UDF).

    Token hash = first 8 bytes of md5 (stable across platforms); bit j of
    the fingerprint = sign of the weighted bit-count over tokens.
    Returns (id, simhash:long).
    """
    import hashlib

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        toks_per_doc = [t.lower().split() for t in texts.fillna("")]
        # hash each DISTINCT token once per Arrow batch (VERDICT r1 #7:
        # md5 was recomputed per (doc, token)); batches share heavy
        # vocabulary overlap, the analyzer demonstrates the same pattern
        flat = [tok for toks in toks_per_doc for tok in toks]
        if not flat:
            return pd.Series(out)
        vocab = pd.unique(pd.Series(flat, dtype=object))
        hs_by_tok = {
            v: np.uint64(int.from_bytes(
                hashlib.md5(v.encode()).digest()[:8], "big"))
            for v in vocab
        }
        bit_idx = np.arange(64, dtype=np.uint64)
        for i, toks in enumerate(toks_per_doc):
            if not toks:
                continue
            vals, counts = np.unique(np.asarray(toks, dtype=object),
                                     return_counts=True)
            hs = np.array([hs_by_tok[v] for v in vals], dtype=np.uint64)
            bits = ((hs[:, None] >> bit_idx) & 1).astype(np.int64)
            acc = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
            fp = np.uint64(0)
            for j in range(64):
                if acc[j] > 0:
                    fp |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(fp.astype(np.int64))
        return pd.Series(out)

    return df.select(id_col, _simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using the
    pigeonhole trick: split 64 bits into (max_hamming+1) chunks; any pair
    within distance must agree exactly on ≥1 chunk -> join per chunk,
    then verify distance with bit_count (JVM-side)."""
    n_chunks = max_hamming + 1
    chunk_bits = SIMHASH_BITS // n_chunks
    sh = simhash(df, text_col, id_col)
    chunks = sh.select(
        id_col, "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
    ).withColumn(
        "chunk_val",
        F.expr(f"shiftrightunsigned(simhash, chunk * {chunk_bits}) "
               f"& {(1 << chunk_bits) - 1}"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dup_clusters(pairs: DataFrame, id_a: str = "id_a",
                      id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pair edges -> one cluster per
    duplicate group: (doc_id, cluster_id), cluster_id = MIN doc_id in
    the component (deterministic canonical representative).

    The missing last step of every dedup pipeline: pair emitters
    (ngram_jaccard_pairs / minhash_lsh_candidate_pairs /
    simhash_near_pairs / embedding near-dup) report EDGES, but keeping
    one copy per duplicate GROUP needs the transitive closure (A~B, B~C
    => drop two of {A,B,C}, not one of each pair).

    Distributed min-label propagation: every node starts labeled with
    its own id; each round takes the min of its label and its
    neighbors' labels. Converges in O(component diameter) rounds —
    near-dup components are dense and shallow (a near-dup of a near-dup
    is nearly a near-dup), so the default budget of 25 rounds is deep —
    and a higher budget costs nothing when unused (the loop exits at the
    first unchanged round).
    Each round is one shuffle join + aggregate; labels are
    localCheckpoint'ed per round so the plan never accumulates iteration
    lineage, and the loop exits as soon as a round changes nothing. For
    adversarial long-chain graphs at extreme scale the O(log n)
    large-star/small-star variant is the drop-in upgrade; raises if the
    budget is exhausted rather than returning a wrong partition.
    """
    spark = pairs.sparkSession
    edges = pairs.select(F.col(id_a).cast("long").alias("a"),
                         F.col(id_b).cast("long").alias("b"))
    adj = (edges.union(edges.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
           .distinct().persist())
    labels = (adj.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(int(max_iter)):
        nbr_min = (
            adj.join(labels.select(F.col("node").alias("b"),
                                   F.col("label").alias("nl")), "b")
            .groupBy("a").agg(F.min("nl").alias("cand"))
            .select(F.col("a").alias("node"), "cand")
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select("node",
                    F.least("label", F.coalesce("cand", F.col("label")))
                    .alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"),
                            "node")
            .filter(F.col("label") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    adj.unpersist()
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters: no fixpoint in {max_iter} rounds "
            "(component diameter exceeds the budget; raise max_iter)")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def drop_near_dups(df: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical row per duplicate cluster (the min-id member)
    plus every unclustered row: left join + filter, no shuffle of df
    beyond the join itself (clusters is duplicate-groups-sized — tiny
    next to the corpus — so Spark broadcasts it under AQE)."""
    c = clusters.select(F.col("doc_id").alias(id_col), "cluster_id")
    return (df.join(c, id_col, "left")
            .filter(F.col("cluster_id").isNull()
                    | (F.col(id_col) == F.col("cluster_id")))
            .drop("cluster_id"))


def contamination_overlap(
    corpus: DataFrame,
    probe: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest: str = "xxhash64",
    max_broadcast_shingles: int = 5_000_000,
) -> DataFrame:
    """Benchmark-contamination screening: for every PROBE document (an
    eval/benchmark item), the fraction of its distinct n-word shingles
    that appear anywhere in the CORPUS — the standard n-gram-overlap
    decontamination check an LLM training pipeline runs before
    training (probe docs above a threshold are contaminated: the
    benchmark leaks into the training set).

    Built for the asymmetry of the real workload (corpus 10^12 turns,
    probe 10^3-10^5 items): the probe's distinct shingle set is counted
    first and, when it fits ``max_broadcast_shingles``, BROADCAST — the
    corpus is then ONE streaming scan with a map-side semi-join (no
    corpus-sized shuffle anywhere; the only shuffled rows are the
    matched shingles, bounded by the probe set size). Above the gate it
    degrades to a shuffled semi-join, still |probe-shingle|-bounded on
    the output. Never a pairwise/self join — this is deliberately NOT
    ngram_jaccard_pairs: per-pair attribution costs a quadratic join,
    while the contamination decision only needs "seen anywhere".

    digest: "xxhash64" (default — 8-byte join keys at scale) or "raw"
    (join on the shingle string — the oracle-checkable twin; semantics
    identical up to 64-bit collisions).

    Returns (id_col, n_shingles, n_matched, overlap_frac) for EVERY
    probe doc — zero-shingle docs (shorter than n words) report
    (0, 0, 0.0) rather than disappearing.
    """
    key = ((lambda c: F.xxhash64(c)) if digest == "xxhash64"
           else (lambda c: c))
    p_sh = (word_shingles(probe, text_col, n, id_col)
            .select(F.col(id_col), key(F.col("shingle")).alias("sh")))
    probe_set = p_sh.select("sh").distinct()
    small = probe_set.count() <= int(max_broadcast_shingles)
    c_sh = (word_shingles(corpus, text_col, n, id_col)
            .select(key(F.col("shingle")).alias("sh")))
    hit = (c_sh.join(F.broadcast(probe_set) if small else probe_set,
                     "sh", "left_semi")
           .distinct())
    per = (p_sh.join(hit.withColumn("_hit", F.lit(1)), "sh", "left")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.count("_hit").alias("n_matched")))
    return (probe.select(id_col).join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_matched", F.lit(0)).alias("n_matched"))
            .withColumn(
                "overlap_frac",
                F.when(F.col("n_shingles") > 0,
                       F.col("n_matched") / F.col("n_shingles"))
                .otherwise(F.lit(0.0))))


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 13,
                    min_count: int = 2) -> DataFrame:
    """Exact duplicate-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    exact-substring family, Spark-shaped): a token ``k``-gram occurring
    ``min_count``+ times anywhere in the corpus (other docs OR
    self-repetition) is a duplicated span; per doc, overlapping
    duplicated spans are merged by interval union and the covered-token
    fraction reported — the filter knob is ``dup_frac``.

    Where the paper builds a corpus-wide suffix array (quadratic-ish
    memory pressure, single machine), the Spark shape is bounded-shuffle
    at ANY corpus size (r6 restructure, guide §2.3/§2.4 — the r5 version
    shuffled the full gram set TWICE and ran two per-doc windows plus two
    groupBys): (1) ONE groupBy(gram-hash) with map-side partial counts
    finds duplicated grams — the only corpus-sized shuffle, 12 bytes per
    gram; (2) occurrences semi-join that (typically small) dup-gram set —
    AQE turns it into a broadcast semi join at runtime when the set fits,
    so the gram stream itself is never shuffled again (falls back to a
    shuffled join on pathologically duplicated corpora); (3) the
    gaps-and-islands interval union collapses to ONE groupBy(doc_id) over
    dup occurrences only, folding the sorted start offsets with a JVM
    higher-order aggregate (each gram contributes the part of its span
    past the running max end — exactly the island-union coverage).
    Grams are xxhash64 digests of the joined tokens (64-bit collisions
    merely over-count a span; the oracle twin uses raw gram strings).

    Returns one row per input doc: (doc_id, n_tokens, dup_grams,
    covered_tokens, dup_frac) — docs shorter than ``k`` tokens report
    zeros, like every other stats operator in this module."""
    # parallelism floor (guide §2.5 input skew): a small/compacted corpus
    # arrives as few parquet splits, serializing the CPU-heavy
    # tokenize+gram pass onto one task; round-robin the raw rows up to
    # the session parallelism first. At scale the input is already wide
    # and this is a no-op.
    src = wide(df.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("_txt")))
    toks = F.filter(F.split(F.lower(F.col("_txt")), r"[^a-z0-9]+"),
                    lambda t: t != "")
    base = (src.select("doc_id", toks.alias("_tk"))
            .withColumn("n_tokens", F.size("_tk")))
    grams = (base.filter(F.col("n_tokens") >= k)
             .select("doc_id", F.posexplode(F.expr(
                 f"transform(sequence(1, size(_tk) - {k} + 1), "
                 f"i -> xxhash64(concat_ws(' ', slice(_tk, i, {k}))))"
             )).alias("start", "gram")))
    # hash-cluster the gram stream ONCE: the duplicate-count groupBy and
    # the occurrence semi-join both consume this exact exchange (AQE
    # ReusedExchange), so the tokenize+gram pass runs once and neither
    # consumer adds a corpus-sized shuffle of its own (guide §2.4)
    occ = grams.repartition("gram")
    dup_grams = (occ.groupBy("gram")
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .filter(F.col("_c") >= min_count)
                 .select("gram"))
    dup = occ.join(dup_grams, "gram", "left_semi")
    # interval-union coverage as ONE fold over the doc's sorted dup-gram
    # starts: each gram [s, s+k) adds the part of its span past the
    # running max end pe — within an island that is s+k-pe, at an island
    # break the full k — so the total equals Σ islands (max s + k - min s)
    per_doc = (dup.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("dup_grams"),
                    (F.aggregate(
                        F.array_sort(F.collect_list(
                            F.col("start").cast("long"))),
                        F.struct(F.lit(0).cast("long").alias("cov"),
                                 F.lit(-1).cast("long").alias("pe")),
                        lambda acc, s: F.struct(
                            (acc["cov"] + F.greatest(
                                s + F.lit(k) - F.greatest(acc["pe"], s),
                                F.lit(0).cast("long"))).alias("cov"),
                            F.greatest(acc["pe"],
                                       s + F.lit(k)).alias("pe")),
                    ))["cov"].alias("covered_tokens")))
    return (base.select("doc_id", "n_tokens")
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
                    F.coalesce("covered_tokens",
                               F.lit(0)).alias("covered_tokens"))
            .withColumn(
                "dup_frac",
                F.when(F.col("n_tokens") > 0,
                       F.col("covered_tokens") / F.col("n_tokens"))
                .otherwise(F.lit(0.0))))
