"""SPIMI-style inverted index build (the engine's EP3, SURVEY.md §3).

Reference behavior being re-expressed: the reference pushes chunk rows into
Elasticsearch (retrieval/es_index_chunks_final.py:47-56) and Lucene builds
the inverted index internally. Here the index IS a set of Spark tables:

- ``docs``          doc_id, conv_id, turn_idx, role, text, ts
- ``doc_stats``     doc_id, dl (per-doc analyzed-token count)
- ``postings``      term, bucket, salt, block_id, first_doc_id,
                    posting_count, max_tf, min_dl, sky_tfs/sky_dls
                    (per-block (tf, dl) Pareto skyline),
                    doc_gaps/tfs/dls (varbyte binaries)  [partitioned by bucket]
                    (no stored block score: the EXACT block upper bound is
                    recomputed at query time from the skyline, valid for
                    ANY (k1, b, avgdl) and never stale under appends)
- ``term_stats``    term, bucket, df, cf, max_tf, min_dl  [partitioned by bucket]
- ``corpus_stats``  n_docs, avgdl, total_tokens
- ``lineage``       partition_id, term_lo, term_hi, n_terms, posting_count,
                    bytes, wall_ms, snapshot_id  [north-rule metrics table]

Scale design decisions (10^12 turns) — classic SPIMI run-merge:
- the map stage tokenizes each partition ONCE and emits one compressed
  posting RUN per (partition, term) — per-doc tf aggregated in-batch, a
  doc's tokens never span rows — so the only O(postings) shuffle moves
  delta+varbyte run binaries (~1% of the bytes of one row per posting;
  the row-per-posting shuffle was the measured single-JVM scaling
  bottleneck, BENCH/BASELINE.md);
- term_stats (df/cf/bounds) aggregate run METADATA, never payloads, and
  corpus totals come from term_stats (Σ cf — exact int64);
- hot terms (df > max_group_postings) are salted at RUN granularity so no
  reduce task merges a full hot posting list (north rule: salted-key
  skew); the merge re-sorts runs by docID, so blocks within a
  (term, salt) group stay disjoint and doc-ordered (what block-max WAND
  and the doc-range-aligned prune bounds require);
- postings/term_stats are hash-bucketed by term into directory partitions
  so query-time term lookup prunes files (Catalyst partition pruning).
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import vb_decode, vb_encode, vb_lengths
from .docids import with_doc_ids
from .generations import (commit_generation, current_gen,
                          discard_uncommitted, gc_generations,
                          physical_name, reset_generations, resolve,
                          table_mapping)

BLOCK_SIZE = 128

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("first_doc_id", T.LongType()),
        T.StructField("last_doc_id", T.LongType()),
        T.StructField("posting_count", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        # (tf, dl) Pareto skyline of the block's postings (tf desc, dl
        # strictly asc): because the BM25 partial is increasing in tf and
        # decreasing in dl, max over skyline points = max over the
        # block's ACTUAL postings = the EXACT block-max score for ANY
        # (k1, b, avgdl) — a parameter-free tight bound (the loose
        # (max_tf, min_dl) cross-pairing kept every block on realistic
        # corpora). Typically 1-5 points per 128-posting block.
        T.StructField("sky_tfs", T.ArrayType(T.IntegerType())),
        T.StructField("sky_dls", T.ArrayType(T.IntegerType())),
        T.StructField("doc_gaps", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("poss", T.BinaryType(), True),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
        T.StructField("snapshot_id", T.StringType()),
    ]
)

# in-file row order of the bucket-partitioned writes: (term, salt,
# block_id) is unique per postings write, term per term_stats write
POSTINGS_ORDER = ("bucket", "term", "salt", "block_id")
TERM_STATS_ORDER = ("bucket", "term")


def _payload_xxh_col():
    """Per-block payload checksum (VERDICT r4 stretch #9): XXH64 over the
    compressed payload columns, computed JVM-side at write time by every
    postings writer (build/append pack + compaction merge) and
    recomputed/compared by ``verify_index(deep=True)`` — bit-rot and
    torn-copy detection for the snapshot/restore/migration story.
    ``F.xxhash64`` is deterministic across Spark versions (seed 42,
    documented stable hash); a NULL ``poss`` (non-positional index)
    contributes nothing on both sides, so the compare stays aligned."""
    return F.xxhash64("doc_gaps", "tfs", "dls", "poss")


def block_skyline(tfs: np.ndarray, dls: np.ndarray) -> tuple[list, list]:
    """(tf, dl) Pareto front of one block's postings: per distinct tf the
    minimum dl, kept only while dl strictly decreases as tf decreases.
    Returned tf-descending. Vectorized (np.unique + cumulative min)."""
    ut, inv = np.unique(tfs, return_inverse=True)  # ascending tf
    mind = np.full(ut.size, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(mind, inv, dls)
    ut_d = ut[::-1]
    mind_d = mind[::-1]
    keep = np.empty(ut.size, dtype=bool)
    keep[0] = True
    if ut.size > 1:
        run = np.minimum.accumulate(mind_d)
        keep[1:] = mind_d[1:] < run[:-1]
    return (ut_d[keep].astype(np.int32).tolist(),
            mind_d[keep].astype(np.int32).tolist())


def encode_positions_block(pos_lists: list[np.ndarray]) -> bytes:
    """One varbyte stream per block: for each posting, [n_pos] followed by
    delta-encoded positions (first absolute). Sequentially decodable."""
    chunks = []
    for p in pos_lists:
        arr = np.asarray(p, dtype=np.int64)
        stream = np.empty(arr.size + 1, dtype=np.uint64)
        stream[0] = arr.size
        if arr.size:
            stream[1] = arr[0]
            stream[2:] = np.diff(arr).astype(np.uint64)
        chunks.append(vb_encode(stream))
    return b"".join(chunks)


def decode_positions_block(buf: bytes, n_postings: int) -> list[np.ndarray]:
    """Inverse of encode_positions_block."""
    flat = vb_decode(buf).astype(np.int64)
    out = []
    i = 0
    for _ in range(n_postings):
        n = int(flat[i])
        vals = np.cumsum(flat[i + 1:i + 1 + n]) if n else np.empty(0, np.int64)
        out.append(vals)
        i += 1 + n
    return out


def encode_positions_flat(flat_pos: np.ndarray,
                          counts: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized positions pack (r3 verdict: the per-run Python-list
    ``encode_positions_block`` doubled the positional build; this is the
    one-``vb_encode``-per-partition replacement, byte-identical output).

    flat_pos: concatenated ascending positions of all postings;
    counts: per-posting position count (== tf). Builds the SAME stream as
    concatenating ``encode_positions_block([p])`` per posting —
    ``[n_pos, first_abs, deltas...]`` per posting — in one numpy pass.

    Returns ``(buf, posting_byte_offsets)`` where
    ``buf[off[j]:off[e]]`` is exactly the bytes for postings ``j..e-1``
    (slice runs/blocks at any posting boundary)."""
    c = np.asarray(counts, dtype=np.int64)
    P = c.size
    total = int(c.sum())
    ps = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(c, out=ps[1:])
    deltas = np.empty(total, dtype=np.uint64)
    if total:
        fp = np.asarray(flat_pos, dtype=np.int64)
        deltas[0] = np.uint64(fp[0])
        deltas[1:] = np.diff(fp).astype(np.uint64)
        starts = ps[:-1][c > 0]  # reset: each posting's first pos absolute
        deltas[starts] = fp[starts].astype(np.uint64)
    stream = np.empty(total + P, dtype=np.uint64)
    cnt_idx = ps[:-1] + np.arange(P, dtype=np.int64)
    stream[cnt_idx] = c.astype(np.uint64)
    if total:
        val_idx = np.arange(total, dtype=np.int64) + np.repeat(
            np.arange(1, P + 1, dtype=np.int64), c)
        stream[val_idx] = deltas
    buf = vb_encode(stream)
    boff = np.zeros(stream.size + 1, dtype=np.int64)
    np.cumsum(vb_lengths(stream), out=boff[1:])
    posting_boff = boff[np.append(cnt_idx, stream.size)]
    return buf, posting_boff


def decode_positions_flat(bufs: list[bytes], counts: np.ndarray) -> np.ndarray:
    """Vectorized inverse of ``encode_positions_flat`` over a
    CONCATENATION of position streams: per-posting counts are already
    known from the decoded tf stream (n_positions == tf by construction),
    so the embedded count prefixes are skipped by index arithmetic and
    absolutes are restored with one segmented cumsum — no per-posting
    Python loop (the r3 merge-side regression)."""
    c = np.asarray(counts, dtype=np.int64)
    P = c.size
    stream = vb_decode(b"".join(bufs)).astype(np.int64)
    ps = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(c, out=ps[1:])
    cnt_idx = ps[:-1] + np.arange(P, dtype=np.int64)
    mask = np.ones(stream.size, dtype=bool)
    mask[cnt_idx] = False
    deltas = stream[mask]
    cs = np.cumsum(deltas)
    base = np.zeros(P, dtype=np.int64)
    nz = c > 0
    starts = ps[:-1]
    base[nz] = cs[starts[nz]] - deltas[starts[nz]]
    return cs - np.repeat(base, c)


def _slice_pos(flat_pos: np.ndarray, counts: np.ndarray,
               gs: np.ndarray, ge: np.ndarray) -> list[bytes]:
    """Encode all positions once, slice per group at posting boundaries."""
    buf, pboff = encode_positions_flat(flat_pos, counts)
    return [buf[pboff[s]:pboff[e]] for s, e in zip(gs, ge)]


def _segment_gather(flat: np.ndarray, starts_src: np.ndarray,
                    lens: np.ndarray) -> np.ndarray:
    """Gather variable-length segments of ``flat`` (given source start
    offsets + lengths) into one contiguous array, vectorized."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    out_starts = np.zeros(lens.size, dtype=np.int64)
    if lens.size > 1:
        np.cumsum(lens[:-1], out=out_starts[1:])
    idx = (np.arange(total, dtype=np.int64)
           - np.repeat(out_starts, lens)
           + np.repeat(np.asarray(starts_src, dtype=np.int64), lens))
    return flat[idx]


def bm25_idf(n_docs: int, df: np.ndarray | int) -> np.ndarray | float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5)
                  / (np.asarray(df, dtype=np.float64) + 0.5))


def bm25_tf_part(tf, dl, avgdl: float, k1: float, b: float):
    """Lucene BM25 tf normalization: tf / (tf + k1*(1-b+b*dl/avgdl))."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _doc_term_arrays(pdf: pd.DataFrame, with_positions: bool,
                     analyzer: str = "english_folded",
                     dl_ranks: dict | None = None):
    """One partition's (doc, term) aggregation in term-major order.

    Returns (term_codes, uniq_terms, doc_ids, tfs, dls, pos_lists,
    per_doc_ids, per_doc_dls): rows sorted by (term_code, doc_id) — tf
    (and per-term token positions) computed inside the tokenizer pass
    via analyze_flat's factorized form: one int64 np.unique over
    doc_index * |vocab| + term_code, no per-document Python loop
    (SURVEY.md A6 without the O(tokens) groupBy shuffle)."""
    from ..functions.analyzer import analyze_flat

    codes, terms, lens = analyze_flat(pdf["text"], mode=analyzer)
    if codes.size == 0:
        return None
    doc_ids_in = pdf["doc_id"].to_numpy(np.int64)
    n_terms = np.int64(terms.size)
    didx = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
    key = didx * n_terms + codes
    if with_positions:
        starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
        pos = np.arange(codes.size, dtype=np.int64) - starts[didx]
        order = np.argsort(key, kind="stable")
        skey = key[order]
        bounds = np.flatnonzero(
            np.concatenate(([True], skey[1:] != skey[:-1])))
        ukey = skey[bounds]
        counts = np.diff(np.concatenate((bounds, [skey.size]))).astype(
            np.int64)
        pos_sorted = pos[order]  # grouped by (doc, term), ascending in-group
    else:
        ukey, counts = np.unique(key, return_counts=True)
        pos_sorted = None
    d = ukey // n_terms
    c = ukey % n_terms
    # term-major, doc-ascending (doc ids within one doc-index group of a
    # term are single values; d is doc INDEX — translate then sort)
    rows_doc = doc_ids_in[d]
    order2 = np.lexsort((rows_doc, c))
    tcodes = c[order2]
    rdoc = rows_doc[order2]
    rtf = counts[order2].astype(np.int64)
    # doc-length source: analyzed token count (default — tf and dl from
    # the ONE tokenize pass), or a trained-BPE count of the raw text
    # (build_index(dl_tokenizer=...): the reference counts tokens with
    # tiktoken, chunk_pdfs_oai.py:34-37 — this is that semantics under a
    # corpus-trained vocabulary, computed in the SAME map pass)
    if dl_ranks is not None:
        from ..functions.bpe import bpe_lengths

        dls_doc = bpe_lengths(pdf["text"], dl_ranks)
    else:
        dls_doc = lens
    rdl = dls_doc[d][order2].astype(np.int64)
    # flat positions re-grouped to (term, doc) posting order in one
    # vectorized gather — no per-posting np.split/list (r3 regression)
    rpos_flat = (_segment_gather(pos_sorted, bounds[order2], rtf)
                 if pos_sorted is not None else None)
    # per-doc stats, doc-sorted: every doc with >= 1 analyzed token
    # (it has postings) or, under BPE dl, >= 1 BPE token (so Σ doc_stats
    # dl is the exact corpus BPE token total even for docs the analyzer
    # drops, e.g. pure punctuation)
    docs_mask = (lens > 0) | (dls_doc > 0)
    pd_ids = doc_ids_in[docs_mask]
    pd_dls = dls_doc[docs_mask]
    o = np.argsort(pd_ids)
    return tcodes, terms, rdoc, rtf, rdl, rpos_flat, pd_ids[o], pd_dls[o]


# Map-side SPIMI run: one row per (input partition, term) holding that
# partition's FULL posting run for the term as varbyte binaries, plus one
# kind=1 row per partition carrying the per-doc dl stats. Shuffling runs
# instead of individual (doc, term) rows is the classic SPIMI run-merge:
# the only O(postings) shuffle moves ~1% of the bytes the r2 row shuffle
# did (binary delta+varbyte vs one Tungsten row per posting), which is
# what the single-JVM local-mode legs were bottlenecked on.
RUNS_SCHEMA = (
    "kind int, term string, first_doc_id bigint, "
    "last_doc_id bigint, n int, cf bigint, max_tf int, min_dl int, "
    "gaps binary, tfs binary, dls binary, poss binary"
)


def _partition_runs_factory(with_positions: bool,
                            analyzer: str = "english_folded",
                            dl_ranks: dict | None = None):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        del parts
        res = _doc_term_arrays(pdf, with_positions, analyzer, dl_ranks)
        del pdf
        if res is None:
            return
        tcodes, terms, rdoc, rtf, rdl, rpos, pd_ids, pd_dls = res
        n = tcodes.size
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = tcodes[1:] != tcodes[:-1]
        gs = np.flatnonzero(change)
        ge = np.append(gs[1:], n)
        # delta gaps with reset at every group start (run-local absolute
        # first docID), ONE varbyte encode for the whole partition
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = np.uint64(rdoc[0])
        gaps[1:] = np.diff(rdoc).astype(np.uint64)
        gaps[gs[1:]] = rdoc[gs[1:]].astype(np.uint64)
        g_bytes = vb_encode(gaps)
        g_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(gaps), out=g_off[1:])
        t_bytes = vb_encode(rtf.astype(np.uint64))
        t_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(rtf.astype(np.uint64)), out=t_off[1:])
        d_bytes = vb_encode(rdl.astype(np.uint64))
        d_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(rdl.astype(np.uint64)), out=d_off[1:])
        cf = np.add.reduceat(rtf, gs)
        mtf = np.maximum.reduceat(rtf, gs)
        mdl = np.minimum.reduceat(rdl, gs)
        run_terms = terms[tcodes[gs]]
        out = {
            "kind": np.zeros(gs.size, dtype=np.int32),
            "term": run_terms,
            "first_doc_id": rdoc[gs],
            "last_doc_id": rdoc[ge - 1],
            "n": (ge - gs).astype(np.int32),
            "cf": cf.astype(np.int64),
            "max_tf": mtf.astype(np.int32),
            "min_dl": mdl.astype(np.int32),
            "doc_gaps_": [g_bytes[g_off[s]:g_off[e]]
                          for s, e in zip(gs, ge)],
            "tfs_": [t_bytes[t_off[s]:t_off[e]] for s, e in zip(gs, ge)],
            "dls_": [d_bytes[d_off[s]:d_off[e]] for s, e in zip(gs, ge)],
            # ONE varbyte encode for the whole partition's positions,
            # sliced per run at posting byte boundaries (byte-identical
            # to per-posting encode_positions_block; r3 verdict fix #1)
            "poss_": (_slice_pos(rpos, rtf, gs, ge) if with_positions
                      else [None] * gs.size),
        }
        runs = pd.DataFrame({
            "kind": out["kind"], "term": out["term"],
            "first_doc_id": out["first_doc_id"],
            "last_doc_id": out["last_doc_id"], "n": out["n"],
            "cf": out["cf"], "max_tf": out["max_tf"],
            "min_dl": out["min_dl"], "gaps": out["doc_gaps_"],
            "tfs": out["tfs_"], "dls": out["dls_"], "poss": out["poss_"],
        })
        # the partition's per-doc stats ride along as ONE kind=1 row
        dgaps = np.empty(pd_ids.size, dtype=np.uint64)
        if pd_ids.size:
            dgaps[0] = np.uint64(pd_ids[0])
            dgaps[1:] = np.diff(pd_ids).astype(np.uint64)
            stats_row = pd.DataFrame({
                "kind": np.array([1], dtype=np.int32), "term": [""],
                "first_doc_id": [int(pd_ids[0])],
                "last_doc_id": [int(pd_ids[-1])],
                "n": np.array([pd_ids.size], dtype=np.int32),
                "cf": np.array([0], dtype=np.int64),
                "max_tf": np.array([0], dtype=np.int32),
                "min_dl": np.array([0], dtype=np.int32),
                "gaps": [vb_encode(dgaps)],
                "tfs": [b""],
                "dls": [vb_encode(pd_dls.astype(np.uint64))],
                "poss": [None],
            })
            runs = pd.concat([runs, stats_row], ignore_index=True)
        yield runs

    return gen


def _segmented_delta_decode(bufs: list[bytes],
                            counts: np.ndarray) -> np.ndarray:
    """Decode a concatenation of delta-encoded varbyte runs in ONE numpy
    pass: absolute ids via a segmented cumsum (each run's first value is
    absolute, so subtracting the running total before each run start
    restores per-run absolutes)."""
    flat = vb_decode(b"".join(bufs)).astype(np.int64)
    if flat.size == 0:
        return flat
    cs = np.cumsum(flat)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    base = cs[starts] - flat[starts]
    return cs - np.repeat(base, counts)


def _merge_runs_factory(snapshot_id: str, with_positions: bool,
                        dead_bc=None, dead_path: str | None = None):
    """Reduce-side SPIMI merge: one partition of (term, salt) runs ->
    doc-sorted posting blocks (POSTINGS_SCHEMA). Run payloads decode in
    a few whole-partition numpy passes (segmented cumsum), then the
    merged rows flow through the same block emission as before.

    dead_bc: optional Spark broadcast of a SORTED int64 array of
    tombstoned docIDs (compaction purge, operators/deletes.py) — matching
    postings are dropped right after decode, so purged blocks re-pack
    dense and every block bound is exact for the surviving corpus.

    dead_path: segment-scoped alternative for tombstone sets too large
    to pin on the driver (r3 verdict follow-up): each merge task reads
    the tombstone parquet itself, range-filtered to the task's own
    [min, max] docID span (parquet row-group stats prune the scan), so
    no single process ever materializes the full deleted-id set."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        del parts
        codes, uniq_terms = pd.factorize(pdf["term"], sort=True)
        counts = pdf["n"].to_numpy(np.int64)
        # run order only needs to group (term, salt); the posting-level
        # lexsort below establishes doc order
        order = np.lexsort((pdf["salt"].to_numpy(), codes))
        counts = counts[order]
        gaps_bufs = [bytes(x) for x in pdf["gaps"].to_numpy()[order]]
        tfs_bufs = [bytes(x) for x in pdf["tfs"].to_numpy()[order]]
        dls_bufs = [bytes(x) for x in pdf["dls"].to_numpy()[order]]
        doc_ids_all = _segmented_delta_decode(gaps_bufs, counts)
        tfs_all = vb_decode(b"".join(tfs_bufs)).astype(np.int64)
        dls_all = vb_decode(b"".join(dls_bufs)).astype(np.int64)
        rcodes = np.repeat(codes[order], counts)
        rsalts = np.repeat(pdf["salt"].to_numpy(np.int64)[order], counts)
        if with_positions:
            # one vectorized decode for ALL runs' positions — counts per
            # posting are the already-decoded tfs (n_positions == tf by
            # construction), so no per-posting Python loop (r3 fix #1)
            pos_bufs = [bytes(x) for x in pdf["poss"].to_numpy()[order]]
            pos_flat = decode_positions_flat(pos_bufs, tfs_all)
        else:
            pos_flat = None
        del pdf
        dead = None
        if dead_bc is not None and dead_bc.value.size:
            dead = dead_bc.value  # sorted unique int64
        elif dead_path is not None and doc_ids_all.size:
            import pyarrow.dataset as pads

            lo = int(doc_ids_all.min())
            hi = int(doc_ids_all.max())
            flt = (pads.field("doc_id") >= lo) & (pads.field("doc_id") <= hi)
            arr = (pads.dataset(dead_path, format="parquet")
                   .to_table(columns=["doc_id"], filter=flt)
                   .column("doc_id").to_numpy())
            if arr.size:
                dead = np.unique(arr.astype(np.int64))
        if dead is not None:
            pos_in = np.searchsorted(dead, doc_ids_all)
            pos_in[pos_in == dead.size] = 0
            live = dead[pos_in] != doc_ids_all
            if not live.all():
                if pos_flat is not None:
                    pos_flat = pos_flat[np.repeat(live, tfs_all)]
                doc_ids_all = doc_ids_all[live]
                tfs_all = tfs_all[live]
                dls_all = dls_all[live]
                rcodes = rcodes[live]
                rsalts = rsalts[live]
            if doc_ids_all.size == 0:
                return
        # global (term, salt, doc_id) order: runs from different input
        # partitions may interleave in doc space
        order2 = np.lexsort((doc_ids_all, rsalts, rcodes))
        if pos_flat is not None:
            ps = np.zeros(tfs_all.size + 1, dtype=np.int64)
            np.cumsum(tfs_all, out=ps[1:])
            pos_flat = _segment_gather(pos_flat, ps[:-1][order2],
                                       tfs_all[order2])
        yield _emit_blocks(
            uniq_terms, rcodes[order2], rsalts[order2],
            doc_ids_all[order2], tfs_all[order2], dls_all[order2],
            pos_flat, pid, t0, snapshot_id)

    return merge


def _emit_blocks(uniq_terms, codes, salts_all, doc_ids_all, tfs_all,
                 dls_all, pos_flat, pid: int, t0: float,
                 snapshot_id: str) -> pd.DataFrame:
    """(term, salt, doc_id)-sorted posting rows -> POSTINGS_SCHEMA block
    rows with in-band lineage fields. Takes NO corpus stats: block skip
    bounds are recomputed at query time from the stored skylines, so the
    pack is independent of N/avgdl — a streaming append packs identically
    regardless of global stats.

    pos_flat: flat positions aligned with the (sorted) posting rows
    (per-posting count == tf), or None. Encoded ONCE for the whole
    partition and sliced per block at posting byte boundaries."""
    if pos_flat is not None:
        pos_buf, pboff = encode_positions_flat(pos_flat, tfs_all)
    # group boundaries where (term code, salt) changes
    n_rows = codes.size
    change = np.empty(n_rows, dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]) | (salts_all[1:] != salts_all[:-1])
    group_starts = np.flatnonzero(change)
    group_ends = np.append(group_starts[1:], n_rows)

    out: dict[str, list] = {k: [] for k in (
        "term", "salt", "block_id", "first_doc_id", "last_doc_id",
        "posting_count", "max_tf", "min_dl", "sky_tfs", "sky_dls",
        "doc_gaps", "tfs", "dls", "poss",
    )}
    for gs, ge in zip(group_starts, group_ends):
        term = uniq_terms[codes[gs]]
        salt = int(salts_all[gs])
        doc_ids = doc_ids_all[gs:ge]
        tfs = tfs_all[gs:ge]
        dls = dls_all[gs:ge]
        n = doc_ids.size
        n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        starts = np.arange(n_blocks) * BLOCK_SIZE
        ends = np.minimum(starts + BLOCK_SIZE, n)
        # block-local delta over the whole group in one pass: gap at a
        # block start is the absolute docID (blocks stay independently
        # decodable), elsewhere the diff
        gaps = np.empty(n, dtype=np.uint64)
        gaps[0] = np.uint64(doc_ids[0])
        gaps[1:] = np.diff(doc_ids).astype(np.uint64)
        gaps[starts[1:]] = doc_ids[starts[1:]].astype(np.uint64)
        # ONE varbyte encode per array per group, split at block
        # boundaries via per-value byte lengths
        g_bytes = vb_encode(gaps)
        g_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(gaps), out=g_off[1:])
        t_bytes = vb_encode(tfs.astype(np.uint64))
        t_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(tfs.astype(np.uint64)), out=t_off[1:])
        d_bytes = vb_encode(dls.astype(np.uint64))
        d_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(vb_lengths(dls.astype(np.uint64)), out=d_off[1:])
        for blk in range(n_blocks):
            s, e = int(starts[blk]), int(ends[blk])
            out["term"].append(term)
            out["salt"].append(salt)
            out["block_id"].append(blk)
            out["first_doc_id"].append(int(doc_ids[s]))
            out["last_doc_id"].append(int(doc_ids[e - 1]))
            out["posting_count"].append(e - s)
            out["max_tf"].append(int(tfs[s:e].max()))
            out["min_dl"].append(int(dls[s:e].min()))
            sky_t, sky_d = block_skyline(tfs[s:e], dls[s:e])
            out["sky_tfs"].append(sky_t)
            out["sky_dls"].append(sky_d)
            out["doc_gaps"].append(g_bytes[g_off[s]:g_off[e]])
            out["tfs"].append(t_bytes[t_off[s]:t_off[e]])
            out["dls"].append(d_bytes[d_off[s]:d_off[e]])
            out["poss"].append(
                pos_buf[pboff[gs + s]:pboff[gs + e]]
                if pos_flat is not None else None)
    wall_ms = (time.monotonic() - t0) * 1000.0
    res = pd.DataFrame(out)
    res["partition_id"] = np.int32(pid)
    res["wall_ms"] = np.float64(wall_ms)
    res["snapshot_id"] = snapshot_id
    return res


def build_index(
    transcripts: DataFrame,
    out_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 32,
    max_group_postings: int = 500_000,
    n_partitions: int | None = None,
    snapshot_id: str = "s0",
    buckets_subset: list[int] | None = None,
    mode: str = "overwrite",
    with_positions: bool = False,
    analyzer: str = "english_folded",
    dl_tokenizer=None,
    stored_fields: list[str] | None = None,
) -> dict:
    """Build the full index table set under ``out_dir``.

    analyzer: "english_folded" (reference chain: tokenize -> lowercase ->
    porter; the default) or "simple" (lowercase + [a-z0-9]+ runs, no
    stemming — SQL-portable, lets the whole engine be replayed by an
    external ANSI-SQL oracle). Recorded in corpus_stats.json; every
    query path reads it from there so index and query analysis always
    agree.

    dl_tokenizer: optional functions.bpe.BPETokenizer — BM25 doc lengths
    (dl, min_dl, avgdl, total_tokens) then come from the trained-BPE
    token count of each turn's raw text instead of the analyzed token
    count: the reference measures document length in tiktoken tokens
    (database/scripts/chunk_pdfs_oai.py:34-37), and this is that
    semantics under a corpus-trained vocabulary (functions/bpe.py
    module doc), computed inside the same single tokenize map pass.
    tf/df/positions are unchanged (analyzer terms). The merge list is
    persisted as ``bpe_merges.json`` in the index dir and
    ``dl_source: "bpe"`` recorded in corpus_stats.json, so appends and
    upserts reload the identical tokenizer automatically.

    stored_fields: extra input columns to carry into the forward docs
    table beyond the core transcript schema (the Lucene stored-fields
    analog) — they become available to ``_source`` projection, the ES
    ``exists``/``range`` clauses, ``collapse``, and
    ``function_score.field_value_factor``. Recorded in
    corpus_stats.json; append_segment re-projects every appended batch
    to the same set (a missing column fails loudly — parquet schema
    drift is never silent).

    buckets_subset/mode allow partial builds + resume (see resume()).
    Returns a stats dict (n_docs, avgdl, n_terms, wall-times).

    Single-tokenize design: the forward docs table is written WITHOUT a
    dl column (no tokenizer pass in the write); the one tokenize pass
    lives inside the run-merge pack (_pack_segment) whose map stage also
    emits the per-doc ``doc_stats`` runs. Corpus totals come from the
    vocab-sized term_stats table (Σ cf, exact int64 — bit-identical
    avgdl), written AFTER the pack since blocks are parameter-free.
    """
    spark = transcripts.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    os.makedirs(out_dir, exist_ok=True)
    if mode == "overwrite" and buckets_subset is None:
        # a fresh full build over a previously compacted directory starts
        # back at flat generation 0 (operators/generations.py)
        reset_generations(out_dir)
    t_start = time.monotonic()
    timings: dict[str, float] = {}

    # --- forward docs table (no tokenize in this pass) ----------------------
    docs = with_doc_ids(transcripts)
    docs_path = resolve(out_dir, "docs")
    stored = list(stored_fields or [])
    if mode == "overwrite" or not os.path.exists(docs_path):
        (
            docs.select("doc_id", "conv_id", "turn_idx", "role", "text",
                        "ts", *stored)
            .write.mode("overwrite")
            .parquet(docs_path)
        )
    docs_tbl = spark.read.parquet(docs_path)
    timings["docs_write_sec"] = round(time.monotonic() - t_start, 3)

    # n_docs from parquet footer metadata (no data read); Spark count as
    # fallback when the path isn't locally readable
    try:
        import pyarrow.dataset as pads

        n_docs = int(pads.dataset(docs_path, format="parquet").count_rows())
    except Exception:
        n_docs = docs_tbl.count()

    dl_ranks = None
    if dl_tokenizer is not None:
        dl_tokenizer.save(os.path.join(out_dir, "bpe_merges.json"))
        dl_ranks = dl_tokenizer._ranks_for_udf()

    t_pack = time.monotonic()
    timings.update(_pack_segment(
        docs_tbl, out_dir,
        n_buckets=n_buckets, max_group_postings=max_group_postings,
        n_partitions=n_partitions, snapshot_id=snapshot_id,
        buckets_subset=buckets_subset, mode=mode,
        with_positions=with_positions, analyzer=analyzer,
        dl_ranks=dl_ranks,
    ))
    timings["pack_total_sec"] = round(time.monotonic() - t_pack, 3)

    # total_tokens = Σ cf over term_stats (cf = Σ tf, exact int64 —
    # bit-identical avgdl to summing the pairs directly, which the r2
    # code did with a FULL extra pass over the 10^8-row pairs cache; the
    # vocab-sized term_stats read costs nothing). Written AFTER the pack:
    # nothing in the pack consumes corpus stats (blocks are param-free by
    # design), so stats derive from the already-written index tables.
    if dl_tokenizer is not None:
        # BPE dl: Σ cf counts ANALYZED tokens, but avgdl must normalize
        # in the same unit the dls are measured in — Σ doc_stats.dl (one
        # driver-side int32 column read over n_docs rows)
        total_tokens = _sum_doc_stats_dl(resolve(out_dir, "doc_stats"))
    else:
        total_tokens = _total_tokens_from_term_stats(
            resolve(out_dir, "term_stats"))
    avgdl = total_tokens / n_docs if n_docs else 0.0
    # committed-segment list: readers fence every postings/term_stats/
    # lineage read to these snapshot_ids (scorer.IndexReader._seg_expr),
    # so a reader never sees a segment whose stats aren't committed. A
    # fresh full build has exactly one; a resumed build's buckets may
    # span several — the footer census (zero Spark jobs) recovers them
    if mode == "overwrite" and buckets_subset is None:
        committed = [snapshot_id]
    else:
        census = snapshot_census(resolve(out_dir, "postings"))
        committed = (sorted(census) if census
                     else sorted({*_prev_snapshots(out_dir), snapshot_id}))
    corpus_stats = {"n_docs": n_docs, "avgdl": avgdl,
                    "snapshots": committed,
                    "total_tokens": total_tokens, "k1": k1, "b": b,
                    "n_buckets": n_buckets, "block_size": BLOCK_SIZE,
                    "positions": bool(with_positions),
                    "analyzer": analyzer,
                    "dl_source": ("bpe" if dl_tokenizer is not None
                                  else "analyzer"),
                    "stored_fields": stored,
                    # high-water mark for docID assignment: appends base new
                    # ids here, NOT on n_docs — a purging compaction shrinks
                    # n_docs while PRESERVING surviving docIDs, so basing on
                    # n_docs would re-issue live ids (ADVICE r4 medium)
                    "next_doc_id": n_docs}
    _write_stats_atomic(resolve(out_dir, "corpus_stats.json"), corpus_stats)

    # --- snapshot manifest (Iceberg-snapshot analog for resume) ------------
    manifest_path = os.path.join(out_dir, "manifest.json")
    done: set[int] = set()
    if mode == "append" and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            done = set(json.load(f)["completed_buckets"])
    done |= set(buckets_subset if buckets_subset is not None
                else range(n_buckets))
    with open(manifest_path, "w") as f:
        json.dump({"completed_buckets": sorted(done),
                   "n_buckets": n_buckets, "snapshot_id": snapshot_id}, f)

    wall = time.monotonic() - t_start
    return {**corpus_stats, "build_wall_sec": wall,
            "timings": timings,
            "turns_per_sec": (n_docs / wall if wall > 0 else float("inf"))}


def _write_stats_atomic(path: str, stats: dict) -> None:
    """One-os.replace corpus_stats.json write: this file is the commit
    point of the committed-segment fence (readers trust its 'snapshots'
    list + next_doc_id), so it must never be observable half-written."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, path)


def _prev_snapshots(out_dir: str) -> list:
    """Committed snapshot_ids recorded by the previous corpus_stats.json
    (empty for a first build / pre-fence index)."""
    try:
        with open(resolve(out_dir, "corpus_stats.json")) as f:
            return list(json.load(f).get("snapshots", []))
    except FileNotFoundError:
        return []


def _sum_doc_stats_dl(ds_path: str, min_doc_id: int | None = None) -> int:
    """Exact int64 Σ dl over doc_stats (optionally only doc_id >=
    min_doc_id — the just-appended segment; parquet row groups outside
    the id range are footer-skipped). The BPE-dl twin of
    _total_tokens_from_term_stats: under dl_source="bpe" the corpus
    token total is Σ per-doc BPE lengths, not Σ cf."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    ds = pads.dataset(ds_path, format="parquet")
    flt = (pc.field("doc_id") >= int(min_doc_id)
           if min_doc_id is not None else None)
    t = ds.to_table(columns=["dl"], filter=flt)
    return int(pc.sum(t["dl"]).as_py() or 0)


def _total_tokens_from_term_stats(ts_path: str,
                                  snapshot_id: str | None = None) -> int:
    """Exact int64 token total from the vocab-sized term_stats table
    (pyarrow, no Spark job). snapshot_id filters to one segment's rows
    (append path); None sums every segment."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    ds = pads.dataset(ts_path, format="parquet")
    # a delete-everything purge stages an empty term_stats dir (no data
    # files, or marker-only files with no usable schema): zero tokens
    if "cf" not in ds.schema.names:
        return 0
    flt = (pads.field("snapshot_id") == snapshot_id
           if snapshot_id is not None else None)
    tbl = ds.to_table(columns=["cf"], filter=flt)
    s = pc.sum(tbl["cf"]).as_py()
    return int(s or 0)


def _term_stats_from_postings(postings: DataFrame,
                              snapshot_id: str) -> DataFrame:
    """EXACT term_stats recomputed from a postings table itself:
    df = Σ posting_count, max_tf/min_dl from block metadata, and cf from
    decoding ONLY the tfs payload (one whole-partition varbyte decode +
    a segmented sum — gaps/dls/positions never decode). Used by the
    purging compaction, where the old term_stats rows still count the
    deleted docs and cannot be aggregated."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["posting_count"].to_numpy(np.int64)
            flat = vb_decode(
                b"".join(bytes(x) for x in pdf["tfs"])).astype(np.int64)
            starts = np.concatenate(
                ([0], np.cumsum(counts)[:-1])).astype(np.int64)
            cf_blk = np.add.reduceat(flat, starts) if flat.size else \
                np.zeros(0, dtype=np.int64)
            out = pd.DataFrame({
                "term": pdf["term"].to_numpy(),
                "df": counts, "cf": cf_blk,
                "max_tf": pdf["max_tf"].to_numpy(np.int64),
                "min_dl": pdf["min_dl"].to_numpy(np.int64),
                "bucket": pdf["bucket"].to_numpy(np.int64),
            })
            yield (out.groupby(["term", "bucket"], as_index=False)
                   .agg(df=("df", "sum"), cf=("cf", "sum"),
                        max_tf=("max_tf", "max"), min_dl=("min_dl", "min")))

    part = postings.select(
        "term", "bucket", "posting_count", "max_tf", "min_dl", "tfs",
    ).mapInPandas(
        partial,
        schema=("term string, bucket long, df long, cf long, "
                "max_tf long, min_dl long"))
    return (part.groupBy("term", "bucket")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                 F.max("max_tf").cast("int").alias("max_tf"),
                 F.min("min_dl").cast("int").alias("min_dl"))
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .select("term", "df", "cf", "max_tf", "min_dl", "snapshot_id",
                    F.col("bucket").cast("int").alias("bucket")))


def _pack_segment(
    docs_tbl: DataFrame,
    out_dir: str,
    n_buckets: int,
    max_group_postings: int,
    n_partitions: int,
    snapshot_id: str,
    buckets_subset: list[int] | None = None,
    mode: str = "overwrite",
    with_positions: bool = False,
    analyzer: str = "english_folded",
    dl_ranks: dict | None = None,
) -> dict:
    """Shared SPIMI run-merge pipeline: docs -> partition-local posting
    RUNS (one tokenize pass, map-side binaries) -> term_stats from run
    METADATA -> salted run shuffle -> merge into doc-sorted blocks ->
    postings + doc_stats + lineage. Used by full builds, bucket-resume,
    and streaming segment appends (docs_tbl = just the new segment
    there; corpus stats don't enter the pack at all — blocks are
    parameter-free, and idf/norms are recomputed at query time from the
    aggregated stats).

    The only O(postings) shuffle moves compressed RUNS (~1% of the bytes
    of one row per posting) and term_stats aggregates run metadata rows,
    never touching payloads — the r2/r3 row-shuffle was the single-JVM
    scaling bottleneck (BENCH/BASELINE.md).
    """
    from pyspark import StorageLevel

    from .codec import delta_decode

    spark = docs_tbl.sparkSession
    timings: dict[str, float] = {}
    t0 = time.monotonic()
    # Bound the map-stage input splits: Spark otherwise packs the docs
    # parquet's small files into ~128MB splits, handing the heaviest
    # python stage a handful of GIANT partitions — unbounded per-task
    # pandas memory AND a parallelism floor that can drop below the core
    # count. 16MB text splits keep per-task frames bounded and map tasks
    # >= cores at every width; the conf is read at each action's
    # planning, so it takes effect for the cache-materializing first
    # action below and is restored right after.
    split_key = "spark.sql.files.maxPartitionBytes"
    old_split = spark.conf.get(split_key, None)
    spark.conf.set(split_key, str(16 * 1024 * 1024))
    runs = docs_tbl.select("doc_id", "text").mapInPandas(
        _partition_runs_factory(with_positions, analyzer, dl_ranks),
        schema=RUNS_SCHEMA,
    ).withColumn(
        # JVM-side murmur bucket (a per-unique-term PYTHON murmur in the
        # map stage measurably slowed it); bit-identical to the reader's
        # driver-side routing (functions/mmh3, verified in tests)
        "bucket", F.pmod(F.hash("term"), F.lit(n_buckets)).cast("int")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # --- per-doc stats table (doc_id, dl) ----------------------------------
    # decoded from the kind=1 stat runs; each doc lives in exactly one
    # input partition, so the write needs NO shuffle. This first action
    # also materializes the runs cache (the expensive tokenize pass runs
    # exactly once). Skipped on bucket-resume (the full doc_stats already
    # exists from the original partial build).
    def _dec_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_l, dl_l = [], []
            for row in pdf.itertuples(index=False):
                ids_l.append(delta_decode(vb_decode(bytes(row.gaps))))
                dl_l.append(vb_decode(bytes(row.dls)).astype(np.int64))
            if ids_l:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(ids_l),
                    "dl": np.concatenate(dl_l).astype(np.int32)})

    ds_path = resolve(out_dir, "doc_stats")
    if buckets_subset is None or not os.path.exists(ds_path):
        (runs.filter(F.col("kind") == 1).select("gaps", "dls")
         .mapInPandas(_dec_stats, schema="doc_id bigint, dl int")
         .write.mode(mode).parquet(ds_path))
    else:
        runs.count()  # materialize the cache
    if old_split is None:
        spark.conf.unset(split_key)
    else:
        spark.conf.set(split_key, old_split)
    timings["doc_stats_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()

    post_runs = runs.filter(F.col("kind") == 0)
    if buckets_subset is not None:
        post_runs = post_runs.filter(
            F.col("bucket").isin([int(x) for x in buckets_subset]))

    # --- term stats (df, cf, bounds) from run metadata ---------------------
    term_stats = post_runs.groupBy("term", "bucket").agg(
        F.sum("n").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_dl").alias("min_dl"),
    ).withColumn("snapshot_id", F.lit(snapshot_id))
    ts_path = resolve(out_dir, "term_stats")
    # cluster by bucket before the partitioned write: one-ish file per
    # bucket dir instead of (tasks × buckets) shards — term lookups at
    # query time read a single small file per bucket. Sorted within the
    # partition so a file's rows do not follow shuffle-fetch order (same
    # input, same rows in the same order); the partitioned writer's own
    # sort by bucket is satisfied by this order, so no sort is added.
    term_stats.repartition(n_buckets, "bucket").sortWithinPartitions(
        *TERM_STATS_ORDER).write.mode(mode).partitionBy(
        "bucket").parquet(ts_path)
    timings["term_stats_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    term_stats = spark.read.parquet(ts_path).filter(
        F.col("snapshot_id") == snapshot_id)
    if buckets_subset is not None:
        term_stats = term_stats.filter(
            F.col("bucket").isin([int(x) for x in buckets_subset]))

    # --- salted run shuffle + merge ----------------------------------------
    # n_salts(term) = ceil(df / max_group_postings): hot terms' runs split
    # across reducers so no task merges a full hot posting list (north
    # rule: salted-key skew). The salt unit is the RUN (deterministic on
    # its first doc id); runs of one (term, salt) may interleave in doc
    # space and the merge re-sorts.
    salted = (
        post_runs.join(term_stats.select("term", "df"), "term")
        .withColumn(
            "n_salts",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("df") / F.lit(max_group_postings)).cast("int"),
            ),
        )
        .withColumn(
            "salt",
            F.when(F.col("n_salts") <= 1, F.lit(0)).otherwise(
                F.pmod(F.hash("first_doc_id"), F.col("n_salts"))
            ).cast("int"),
        )
        .select("term", "salt", "n", "gaps", "tfs", "dls", "poss")
    )
    packed = salted.repartition(n_partitions, "term", "salt").mapInPandas(
        _merge_runs_factory(snapshot_id, with_positions),
        schema=POSTINGS_SCHEMA,
    ).withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)).cast("int")
    ).withColumn("payload_xxh", _payload_xxh_col())

    post_path = resolve(out_dir, "postings")
    # same clustering and ordering rationale as term_stats; blocks are
    # already packed binaries so this shuffle moves ~1/100th of the pair
    # volume. Term-sorted files let parquet row-group stats skip the
    # other terms' row groups at query time.
    packed.repartition(n_buckets, "bucket").sortWithinPartitions(
        *POSTINGS_ORDER).write.mode(mode).partitionBy(
        "bucket").parquet(post_path)
    runs.unpersist()
    timings["spimi_pack_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()

    # --- lineage/metrics table (north rule fields) -------------------------
    # scoped to THIS snapshot's rows: in append mode the postings dir also
    # holds earlier segments, and re-aggregating those would inflate
    # posting_count/bytes and mix partition_ids across segments
    postings_tbl = spark.read.parquet(post_path).filter(
        F.col("snapshot_id") == snapshot_id)
    lineage = (
        postings_tbl.groupBy("partition_id")
        .agg(
            F.min("term").alias("term_lo"),
            F.max("term").alias("term_hi"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("posting_count").alias("posting_count"),
            F.sum(
                F.octet_length("doc_gaps")
                + F.octet_length("tfs")
                + F.octet_length("dls")
            ).alias("bytes"),
            F.max("wall_ms").alias("wall_ms"),
        )
        .withColumn("snapshot_id", F.lit(snapshot_id))
    )
    lineage.write.mode(mode).parquet(resolve(out_dir, "lineage"))
    timings["lineage_sec"] = round(time.monotonic() - t0, 3)
    return timings


def append_segment(transcripts: DataFrame, out_dir: str,
                   n_partitions: int | None = None,
                   snapshot_id: str | None = None,
                   _pre_commit_hook=None) -> dict:
    """Append a new segment of transcript turns to an existing index
    (streaming micro-batch path; Lucene-segment analog).

    New docs get docIDs after the current maximum, stably ordered by
    (conv_id, turn_idx) WITHIN the segment (cross-segment order is commit
    order, as in Lucene). Corpus stats are updated incrementally; idf and
    block upper bounds are computed at query time from the aggregated
    term_stats, so existing postings stay valid without rewriting.

    Commit protocol (VERDICT r4 "mid-append reader window"): data files
    first (docs parts, then postings/term_stats/lineage parts), then ONE
    atomic corpus_stats.json replace that both updates the stats and
    adds this segment's snapshot_id to the committed list. Readers fence
    every read on that list (+ next_doc_id for the forward tables), so a
    reader constructed at ANY instant of the append — even between the
    postings write and the stats write — sees exactly the pre-append
    index; one constructed after the replace sees the whole segment with
    matching stats. Symmetric with compaction's generation-pointer
    guarantee. A reader that should OBSERVE the append still calls
    ``reader.refresh()`` (memoized stats/file listings; ResearchEngine
    does this automatically).

    _pre_commit_hook: test seam, called after every data file is written
    and before the stats commit (the historical torn window).
    """
    spark = transcripts.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    stats_path = resolve(out_dir, "corpus_stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    # base on the docID high-water mark, never n_docs: a purging
    # compaction decrements n_docs but keeps surviving docIDs, so an
    # append after a partial purge would otherwise assign colliding ids
    # (pre-r5 indexes lack the key; for them no purge ever ran under the
    # old semantics where the bug was live, so n_docs == max id + 1)
    base = int(stats.get("next_doc_id", stats["n_docs"]))
    # the segment is MATERIALIZED once (eager localCheckpoint: lineage
    # truncated) and reused for the forward write, the count, and the
    # pack — never re-derived from the docs table: re-reading docs and
    # filtering doc_id >= base (the old shape) lists and footer-scans the
    # ENTIRE forward table once per micro-batch, which at 10^12 turns is
    # an O(all files) metadata pass per append. Checkpointing (not just
    # persist) means a lost partition can never silently recompute a
    # NON-deterministic caller input (sample/limit sources) into doc_ids
    # inconsistent with the already-written docs table (ADVICE r3) —
    # the pack consumes exactly the rows that were written, or fails.
    seg = (
        with_doc_ids(transcripts)
        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
        .select("doc_id", "conv_id", "turn_idx", "role", "text", "ts",
                *stats.get("stored_fields", []))
        .localCheckpoint(eager=True)
    )
    seg.write.mode("append").parquet(resolve(out_dir, "docs"))
    # one tokenize pass inside the run-merge pack; the segment's token
    # total comes from its term_stats rows (snapshot-filtered Σ cf — no
    # extra pass, mirrors build_index)
    n_new = seg.count()
    if snapshot_id is None:
        snapshot_id = f"seg_{base}"
    dl_ranks = None
    if stats.get("dl_source") == "bpe":
        from ..functions.bpe import BPETokenizer

        dl_ranks = BPETokenizer.load(
            os.path.join(out_dir, "bpe_merges.json"))._ranks_for_udf()
    _pack_segment(
        seg, out_dir, n_buckets=int(stats["n_buckets"]),
        max_group_postings=500_000, n_partitions=n_partitions,
        snapshot_id=snapshot_id, mode="append",
        with_positions=bool(stats.get("positions", False)),
        analyzer=stats.get("analyzer", "english_folded"),
        dl_ranks=dl_ranks,
    )
    # checkpoint blocks are reclaimed by the ContextCleaner once seg goes
    # out of scope (streaming appends don't accumulate pinned blocks)
    if dl_ranks is not None:
        # the appended docs all sit at doc_id >= base (footer-pruned read)
        seg_tokens = _sum_doc_stats_dl(
            resolve(out_dir, "doc_stats"), min_doc_id=base)
    else:
        seg_tokens = _total_tokens_from_term_stats(
            resolve(out_dir, "term_stats"), snapshot_id=snapshot_id)
    if _pre_commit_hook is not None:
        _pre_commit_hook()
    stats["n_docs"] = int(stats["n_docs"]) + int(n_new)
    stats["next_doc_id"] = base + int(n_new)
    stats["total_tokens"] = int(stats["total_tokens"]) + seg_tokens
    stats["avgdl"] = (stats["total_tokens"] / stats["n_docs"]
                      if stats["n_docs"] else 0.0)
    if "snapshots" in stats:
        stats["snapshots"] = list(dict.fromkeys(
            [*stats["snapshots"], snapshot_id]))
    _write_stats_atomic(stats_path, stats)
    return stats


def resume_index(transcripts: DataFrame, out_dir: str, **kwargs) -> dict:
    """Resume a partially-built index: consult the snapshot manifest,
    rebuild only the missing term buckets, append atomically (S7/§4
    checkpoint-resume analog of download_oai.py:33-43 offset checkpoints).
    """
    manifest_path = os.path.join(out_dir, "manifest.json")
    n_buckets = kwargs.get("n_buckets", 32)
    done: set[int] = set()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        done = set(m["completed_buckets"])
        n_buckets = m["n_buckets"]
    missing = [i for i in range(n_buckets) if i not in done]
    if not missing:
        with open(resolve(out_dir, "corpus_stats.json")) as f:
            return json.load(f)
    kwargs["n_buckets"] = n_buckets
    kwargs["buckets_subset"] = missing
    kwargs["mode"] = "append"
    kwargs.setdefault("snapshot_id", f"s{len(done)}")
    return build_index(transcripts, out_dir, **kwargs)


# ---------------------------------------------------------------------------
# Segment compaction (Lucene forceMerge / ES _forcemerge analog)
# ---------------------------------------------------------------------------

_COMPACT_TABLES = ("postings", "term_stats", "lineage")


def snapshot_census(post_path: str, stop_after: int | None = None) -> set | None:
    """Distinct snapshot_ids in a postings dir from parquet FOOTER column
    stats alone — a driver-side metadata pass, zero Spark jobs (the
    compaction gate runs per streaming micro-batch, so it must be free).
    Returns None when any footer lacks snapshot_id stats (caller falls
    back to a Spark distinct). Exact because every part-file's rows carry
    between min and max, and appends write one snapshot per file — when
    a file DOES span snapshots (min != max), both endpoints are counted
    and the ">1 snapshots" answer the gate needs is still exact.

    stop_after: early-exit once MORE than this many distinct snapshots
    are seen — gate callers only need "census exceeds K", and without
    the bound a long-unattended streaming index (thousands of segment
    files) would pay the full footer walk on every micro-batch.
    """
    import pyarrow.parquet as pq

    vals: set = set()
    for root, _dirs, files in os.walk(post_path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            try:
                md = pq.read_metadata(os.path.join(root, fn))
            except Exception:
                return None
            found = False
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if col.path_in_schema == "snapshot_id":
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return None
                        vals.add(st.min)
                        vals.add(st.max)
                        found = True
                        break
            if stop_after is not None and len(vals) > int(stop_after):
                return vals
            if md.num_row_groups and not found:
                return None
    return vals


def compact_index(
    spark: SparkSession,
    out_dir: str,
    max_group_postings: int = 500_000,
    n_partitions: int | None = None,
    snapshot_id: str | None = None,
    max_driver_mask_ids: int = 10_000_000,
    keep_generations: int = 2,
) -> dict:
    """Force-merge every appended segment into one compacted snapshot.

    max_driver_mask_ids: purge-mask strategy gate. At or below this many
    tombstone rows the deleted-id set is materialized once on the driver
    and broadcast (fastest); above it NOTHING materializes the full set —
    each merge task range-reads the tombstone parquet for its own docID
    span (segment-scoped mask; see _merge_runs_factory dead_path).

    Concurrency contract (single writer, concurrent readers OK): the
    whole new table set — postings, term_stats, lineage, and on a purge
    docs/doc_stats/corpus_stats/tombstones — is staged side-by-side as
    ``table@<gen>`` directories and published with ONE atomic pointer
    replace (operators/generations.py). A reader constructed at any
    instant resolves every table through the pointer snapshot it loaded,
    so it sees either entirely the old generation or entirely the new
    one — the r3 mid-swap stats-skew window no longer exists.

    keep_generations: how many generations of physical files survive the
    commit (Iceberg snapshot-expiry analog). The default 2 keeps the
    previous generation on disk so readers opened before the commit keep
    working (and keep returning their exact pre-compaction results)
    until gc_generations / the next compaction reclaims it; 1 reclaims
    immediately (single-reader deployments, today's disk footprint).

    The Lucene forceMerge / Elasticsearch ``_forcemerge`` analog the
    reference relies on implicitly (its single-node ES merges segments in
    the background; docker-compose.yml:3-10): after many streaming
    appends (append_segment / incremental_index_stream) a hot term's
    postings are scattered across per-segment block groups with small
    tail blocks, which inflates decode count and weakens the block-max
    prune bounds. Compaction re-merges ALL segments' posting blocks into
    full doc-sorted BLOCK_SIZE blocks under a single snapshot.

    Spark-first shape: the existing posting BLOCKS are themselves valid
    SPIMI runs (block-local delta with an absolute first docID — the same
    wire format the map stage emits), so compaction is exactly the
    build's reduce side re-run over compressed binaries: NO re-tokenize,
    no row-per-posting shuffle — the one shuffle moves the already
    compressed blocks keyed by (term, salt). Salts are re-derived from
    the aggregated df (n_salts = ceil(df / max_group_postings)), so a
    term that crossed the hot threshold through appends gets properly
    re-salted, and the compacted layout is structurally identical to a
    fresh full build's.

    Crash-safe by construction: nothing mutates the live generation
    before the single pointer replace. A crash mid-staging leaves only
    unreferenced ``table@<gen+1>`` dirs, swept by the next compaction
    (discard_uncommitted); a crash after the replace leaves a fully
    committed index plus old dirs for gc. On a non-purging compaction
    docs / doc_stats carry over untouched — compaction never changes
    docIDs, scores, or stats — while corpus_stats.json is re-staged with
    the new single-snapshot fence list (values unchanged).

    Returns {"compacted": bool, "n_snapshots_before", "n_blocks_before",
    "n_blocks_after", "snapshot_id", "wall_sec"}.
    """
    t0 = time.monotonic()
    # sweep stage leftovers of a compaction that crashed before its
    # pointer commit (a later commit must never reference a stale stage)
    discard_uncommitted(out_dir)
    # pin ONE generation snapshot for every read below; stage the next
    gen_map = table_mapping(out_dir)
    new_gen = current_gen(out_dir) + 1

    def _live(name: str) -> str:
        return os.path.join(out_dir, gen_map.get(name, name))

    def _staged(name: str) -> str:
        return os.path.join(out_dir, physical_name(name, new_gen))

    with open(_live("corpus_stats.json")) as f:
        stats = json.load(f)
    n_buckets = int(stats["n_buckets"])
    with_positions = bool(stats.get("positions", False))
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions",
                                          "32"))
    post_path = _live("postings")
    tomb_path = _live("tombstones")
    # tombstones force a (purging) compaction even with one snapshot;
    # their footer row count is as free as the snapshot census
    from .deletes import deleted_ids_sorted, n_tombstone_rows

    purge = n_tombstone_rows(out_dir, path=tomb_path) > 0
    # no-op gate from parquet footer stats: zero Spark jobs when there is
    # nothing to merge (the gate runs per micro-batch under compact_every)
    census = snapshot_census(post_path, stop_after=1)
    if not purge and census is not None and len(census) <= 1:
        return {"compacted": False, "n_snapshots_before": len(census),
                "n_blocks_before": None, "n_blocks_after": None,
                "snapshot_id": next(iter(census)) if census else None,
                "wall_sec": round(time.monotonic() - t0, 3)}
    postings = spark.read.parquet(post_path)
    # the gate census may have early-exited; re-walk without the bound
    # for the exact snapshot list (still driver-side metadata)
    census = snapshot_census(post_path)
    snaps = sorted(census) if census is not None else [
        r["snapshot_id"] for r in
        postings.select("snapshot_id").distinct().collect()]
    # block counts are parquet footer metadata — zero Spark jobs (r6)
    try:
        import pyarrow.dataset as pads

        n_blocks_before = int(pads.dataset(
            post_path, format="parquet").count_rows())
    except Exception:
        n_blocks_before = postings.count()
    if not purge and len(snaps) <= 1:
        return {"compacted": False, "n_snapshots_before": len(snaps),
                "n_blocks_before": int(n_blocks_before),
                "n_blocks_after": int(n_blocks_before),
                "snapshot_id": snaps[0] if snaps else None,
                "wall_sec": round(time.monotonic() - t0, 3)}
    if snapshot_id is None:
        snapshot_id = f"compact_{len(snaps)}"
    dead_bc = None
    dead_path = None
    if purge:
        if n_tombstone_rows(out_dir, path=tomb_path) <= max_driver_mask_ids:
            dead_bc = spark.sparkContext.broadcast(
                deleted_ids_sorted(out_dir, path=tomb_path))
        else:
            dead_path = tomb_path

    # exact per-term df across segments from block metadata (posting_count
    # sums; payload columns never enter this aggregation). Only HOT terms
    # (df > max_group_postings) need a salt count, and those are rare by
    # definition (Zipf tail: ~vocab/10^3 even at 10^12 postings), so they
    # broadcast — a left broadcast join instead of a full sort-merge join
    # spares the compressed payloads one entire shuffle (the only
    # remaining payload movement is the (term, salt) repartition below).
    hot = (
        postings.groupBy("term").agg(F.sum("posting_count").alias("df"))
        .filter(F.col("df") > int(max_group_postings))
        .withColumn(
            "n_salts",
            F.ceil(F.col("df") / F.lit(max_group_postings)).cast("int"))
        .select("term", "n_salts")
    )
    runs_like = (
        postings.select(
            "term",
            F.col("posting_count").alias("n"),
            F.col("doc_gaps").alias("gaps"),
            "tfs", "dls", "poss", "first_doc_id",
        )
        .join(F.broadcast(hot), "term", "left")
        .withColumn(
            "salt",
            F.when(F.col("n_salts").isNull(), F.lit(0)).otherwise(
                F.pmod(F.hash("first_doc_id"), F.col("n_salts"))
            ).cast("int"),
        )
        .select("term", "salt", "n", "gaps", "tfs", "dls", "poss")
    )
    merged = runs_like.repartition(n_partitions, "term", "salt").mapInPandas(
        _merge_runs_factory(snapshot_id, with_positions, dead_bc=dead_bc,
                            dead_path=dead_path),
        schema=POSTINGS_SCHEMA,
    ).withColumn("bucket",
                 F.pmod(F.hash("term"), F.lit(n_buckets)).cast("int")
    ).withColumn("payload_xxh", _payload_xxh_col())
    staged_post = _staged("postings")
    merged.repartition(n_buckets, "bucket").sortWithinPartitions(
        *POSTINGS_ORDER).write.mode("overwrite").partitionBy(
        "bucket").parquet(staged_post)
    # explicit read schema for the staged dir: a delete-everything purge
    # stages an EMPTY postings dir, where inference has nothing to read
    staged_schema = T.StructType(
        POSTINGS_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())])

    # term_stats: one row per (term, bucket) aggregated across segments —
    # same totals the reader already computes per query, persisted once.
    # A PURGING compaction can't aggregate the old rows (they count the
    # deleted docs): it recomputes term_stats EXACTLY from the staged
    # purged postings — df/max_tf/min_dl from block metadata, cf from a
    # tfs-only decode (the one payload column the metadata can't supply).
    ts_path = _live("term_stats")
    if purge:
        ts_new = _term_stats_from_postings(
            spark.read.schema(staged_schema).parquet(staged_post),
            snapshot_id)
    else:
        ts_new = (
            spark.read.parquet(ts_path)
            .groupBy("term", "bucket")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                 F.max("max_tf").alias("max_tf"),
                 F.min("min_dl").alias("min_dl"))
            .withColumn("snapshot_id", F.lit(snapshot_id))
            .select("term", "df", "cf", "max_tf", "min_dl", "snapshot_id",
                    "bucket")
        )
    ts_new.repartition(n_buckets, "bucket").sortWithinPartitions(
        *TERM_STATS_ORDER).write.mode("overwrite").partitionBy(
        "bucket").parquet(_staged("term_stats"))

    # lineage: rewritten from the compacted postings so the invariant
    # "lineage covers every current posting exactly once" holds
    compacted_tbl = spark.read.schema(staged_schema).parquet(staged_post)
    try:
        import pyarrow.dataset as pads

        n_blocks_after = int(pads.dataset(
            staged_post, format="parquet").count_rows())
    except Exception:
        n_blocks_after = compacted_tbl.count()
    lineage = (
        compacted_tbl.groupBy("partition_id")
        .agg(
            F.min("term").alias("term_lo"),
            F.max("term").alias("term_hi"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("posting_count").alias("posting_count"),
            F.sum(
                F.octet_length("doc_gaps")
                + F.octet_length("tfs")
                + F.octet_length("dls")
            ).alias("bytes"),
            F.max("wall_ms").alias("wall_ms"),
        )
        .withColumn("snapshot_id", F.lit(snapshot_id))
    )
    lineage.write.mode("overwrite").parquet(_staged("lineage"))

    n_purged = 0
    if purge:
        # physical purge of the forward tables + exact stats rebuild.
        # docIDs are PRESERVED (delta codecs handle the gaps), so no
        # other table needs renumbering and appended segments keep
        # composing.
        from .deletes import tombstones_df

        tomb = tombstones_df(spark, out_dir, path=tomb_path)
        if tomb is not None and dead_bc is not None:
            tomb = F.broadcast(tomb)  # small set; else shuffled anti-join
        for tbl in ("docs", "doc_stats"):
            src_tbl = spark.read.parquet(_live(tbl))
            if tomb is not None:
                src_tbl = src_tbl.join(tomb, "doc_id", "left_anti")
            src_tbl.write.mode("overwrite").parquet(_staged(tbl))
        import pyarrow.dataset as pads

        # count the staged DOCS table, not doc_stats: zero-token docs
        # (empty/whitespace text) have no doc_stats row but DO count in
        # n_docs, exactly as build_index counts them
        n_docs_new = int(pads.dataset(
            _staged("docs"), format="parquet").count_rows())
        n_purged = int(stats["n_docs"]) - n_docs_new
        if stats.get("dl_source") == "bpe":
            total_tokens = _sum_doc_stats_dl(_staged("doc_stats"))
        else:
            total_tokens = _total_tokens_from_term_stats(
                _staged("term_stats"))
        new_stats = dict(stats)
        new_stats.update(
            n_docs=n_docs_new,
            avgdl=(total_tokens / n_docs_new) if n_docs_new else 0.0,
            total_tokens=int(total_tokens),
            # docIDs are preserved through the purge, so the assignment
            # high-water mark must NOT shrink with n_docs — materialize it
            # from the pre-purge count for legacy stats that lack the key
            next_doc_id=int(stats.get("next_doc_id", stats["n_docs"])))
    else:
        new_stats = dict(stats)
    # the compacted postings/term_stats/lineage carry ONE new
    # snapshot_id: the staged corpus_stats.json must commit the matching
    # fence list (readers of the new generation filter on it), so it is
    # staged on EVERY compaction, purging or not
    new_stats["snapshots"] = [snapshot_id]
    with open(_staged("corpus_stats.json"), "w") as f:
        json.dump(new_stats, f)

    # commit point: every staged table is fully written (parquet
    # _SUCCESS); ONE atomic pointer replace publishes the generation
    tables = dict(gen_map)
    for tbl in _COMPACT_TABLES:
        tables[tbl] = physical_name(tbl, new_gen)
    tables["corpus_stats.json"] = physical_name("corpus_stats.json", new_gen)
    if purge:
        for tbl in ("docs", "doc_stats"):
            tables[tbl] = physical_name(tbl, new_gen)
        # the purge consumed the tombstones: the new generation maps them
        # to a (never-created => empty) versioned dir, while the OLD
        # generation keeps its tombstone files — readers pinned there
        # stay delete-correct until gc reclaims the whole generation
        tables["tombstones"] = physical_name("tombstones", new_gen)
    commit_generation(out_dir, new_gen, tables)
    gc_generations(out_dir, keep=keep_generations)
    if dead_bc is not None:
        dead_bc.unpersist()
    return {"compacted": True, "n_snapshots_before": len(snaps),
            "n_blocks_before": int(n_blocks_before),
            "n_blocks_after": int(n_blocks_after),
            "snapshot_id": snapshot_id, "n_purged": n_purged,
            "wall_sec": round(time.monotonic() - t0, 3)}
