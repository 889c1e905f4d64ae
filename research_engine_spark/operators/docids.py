"""Global dense docID assignment under stable (conv_id, turn_idx) ordering.

The reference's document identity is ``f"{paper_id}::{chunk_index}"`` with
insertion order = chunk_index ascending per paper (retrieval/
es_index_chunks_final.py:19; database/scripts/chunk_pdfs_oai.py:123). The
north rule requires docIDs from "stable (conv_id, turn_idx) ordering".

A naive ``dense_rank().over(Window.orderBy(conv_id, turn_idx))`` is a
single-partition global sort — a non-starter at 10^12 turns. Instead:

1. build the conversation dimension (one row per conv) — ~3 orders of
   magnitude smaller than the turn table — carrying n_turns AND a
   turn_idx-contiguity probe;
2. range-partition it by conv_id, cumulative-sum n_turns WITHIN partitions
   (parallel), and collect only one row per partition (totals + contiguity
   + conv count) to compute partition base offsets — a single tiny collect;
3. fast path (the input_hint shape, turn_idx == 0..n-1): doc_id =
   conv_offset + turn_idx — a broadcast join + projection, NO shuffle of
   the turn table. Fallback for gapped/duplicated turn_idx: doc_id =
   conv_offset + row_number(turn_idx) - 1 via a per-conv (keyed, never
   global) window. Both paths agree on contiguous input (tested).

Output docIDs are identical to the global-sort answer but the largest
shuffle is O(#convs), not O(#turns), and nothing is ever single-partition.
The conv dimension is broadcast only below 20M conversations; above that
(10^9 convs at 10^12 turns) Spark plans a sort-merge join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _offsets_with_meta(
    transcripts: DataFrame,
) -> tuple[DataFrame, int, bool]:
    """(offsets_df[conv_id, n_turns, conv_offset], n_convs, contiguous) —
    one aggregation + one O(#partitions) collect."""
    spark = transcripts.sparkSession
    n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    conv_dim = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        # contiguity probe: min==0, max==n-1, all distinct
        (
            (F.min("turn_idx") == F.lit(0))
            & (F.max("turn_idx") == F.count(F.lit(1)) - F.lit(1))
            & (F.countDistinct("turn_idx") == F.count(F.lit(1)))
        ).alias("contig"),
    ).persist()
    # persist BEFORE repartitionByRange: its range-boundary sampling job
    # otherwise re-runs the whole upstream scan+agg a second time — a
    # fixed, core-count-independent cost that flattens scaling legs.
    ranged = (
        conv_dim.repartitionByRange(n_partitions, "conv_id")
        .withColumn("pid", F.spark_partition_id())
    )
    w = Window.partitionBy("pid").orderBy("conv_id")
    ranged = ranged.withColumn(
        "local_cum", F.sum("n_turns").over(w) - F.col("n_turns")
    ).persist()
    # ONE tiny collect: per-partition totals + contiguity + conv count
    rows = (
        ranged.groupBy("pid")
        .agg(F.sum("n_turns").alias("tot"),
             F.count(F.lit(1)).alias("n_convs"),
             F.min("contig").alias("contig"))
        .collect()
    )
    conv_dim.unpersist()
    totals = {r["pid"]: r["tot"] for r in rows}
    n_convs = int(sum(r["n_convs"] for r in rows))
    contiguous = bool(all(r["contig"] for r in rows)) if rows else True
    base, acc = {}, 0
    for pid in sorted(totals):
        base[pid] = acc
        acc += totals[pid]
    base_df = spark.createDataFrame(
        [(int(p), int(b)) for p, b in base.items()], "pid int, base bigint"
    )
    offsets = (
        ranged.join(F.broadcast(base_df), "pid")
        .select(
            "conv_id",
            "n_turns",
            (F.col("base") + F.col("local_cum")).alias("conv_offset"),
        )
    )
    return offsets, n_convs, contiguous


def with_doc_ids(transcripts: DataFrame) -> DataFrame:
    """Attach a global dense ``doc_id`` column to the transcript table."""
    offsets, n_convs, contiguous = _offsets_with_meta(transcripts)
    slim = offsets.select("conv_id", "conv_offset")
    joined = transcripts.join(
        F.broadcast(slim) if n_convs <= 20_000_000 else slim, "conv_id")
    if contiguous:
        return joined.withColumn(
            "doc_id", F.col("conv_offset") + F.col("turn_idx").cast("long")
        ).drop("conv_offset")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return joined.withColumn(
        "doc_id", F.col("conv_offset") + F.row_number().over(w) - F.lit(1)
    ).drop("conv_offset")
