"""Training-data export operators: deterministic sharding and
sequence-packing geometry for handing a cleaned corpus to a trainer.

The reference ends its pipeline at an ES index + retrieval API; a
100 TB training-data pipeline ends at SHARDS — fixed-count output
files a data loader streams — and SEQUENCES — fixed-token-budget rows
a trainer packs documents into (the GPT concat-then-chunk convention).
Both need to be deterministic (same corpus -> same shards/sequences on
every run, any cluster size) and re-computable by an external engine
for audit, so both are hash-formula-based, not partition-id-based.

Scale notes:
- assign_shards: one md5 per row, no shuffle; the shard id is a pure
  column expression, portable verbatim to SQL engines (the DuckDB
  oracle runs the same formula). Balance is statistical (md5 uniform):
  expect shard-size spread ~ sqrt(N/n_shards).
- write_shards: ONE hash-partition shuffle on the shard id, then a
  partitioned parquet write — every shard is one output directory
  regardless of input partitioning.
- pack_sequences: the global token offset uses the SAME two-pass
  cumsum as docids.py (repartitionByRange on the order key,
  per-partition window, O(#partitions) collect of totals, broadcast
  base offsets) — there is NO single-partition global window at any
  corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import wide

_HEX = "0123456789abcdef"

# pack_sequences pins its ranged frame so the totals collect and the
# caller's final action share one computation; the pin from the PREVIOUS
# call is released on the next call (ADVICE r5: repeated calls in a long
# session otherwise accumulate cached partitions). An output DataFrame
# consumed after a later pack_sequences call simply recomputes.
_RANGED_PINS: list = []


def _shard_expr(id_col: str, n_shards: int, seed: int):
    """shard = (first 4 hex digits of md5(f"{seed}:{id}")) mod n_shards
    — written with substring+instr arithmetic so the IDENTICAL formula
    runs in Spark and in any SQL engine with md5() (no hex-parse
    builtin needed)."""
    md5 = f"md5(concat('{int(seed)}:', cast({id_col} as string)))"
    val = " + ".join(
        f"(instr('{_HEX}', substring({md5}, {i + 1}, 1)) - 1) "
        f"* {16 ** (3 - i)}"
        for i in range(4))
    return F.expr(f"cast(({val}) % {int(n_shards)} as int)")


def assign_shards(df: DataFrame, n_shards: int, id_col: str = "doc_id",
                  seed: int = 0) -> DataFrame:
    """Attach a deterministic ``shard`` column in [0, n_shards).

    Hash-based (md5 of ``seed:id``), so the assignment is independent
    of input partitioning, cluster size, and row order — the property
    a resumable export needs — and reproducible by external engines
    for audit. Different seeds give independent shardings (e.g. a
    re-shuffle between training epochs)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if n_shards > 65536:
        raise ValueError("n_shards > 65536 exceeds the 4-hex-digit "
                         "formula's resolution")
    return df.withColumn("shard", _shard_expr(id_col, n_shards, seed))


def write_shards(df: DataFrame, path: str, n_shards: int,
                 id_col: str = "doc_id", seed: int = 0) -> None:
    """Shard-partitioned parquet export: one hash shuffle on the shard
    id, then ``partitionBy("shard")`` so each shard is one directory
    (``shard=K/``) a data loader can open independently."""
    out = assign_shards(df, n_shards, id_col, seed)
    (out.repartition(n_shards, "shard")
        .write.partitionBy("shard").mode("overwrite").parquet(path))


def pack_sequences(df: DataFrame, seq_len: int, id_col: str = "doc_id",
                   text_col: str = "text",
                   n_partitions: int | None = None) -> DataFrame:
    """Sequence-packing geometry under the GPT concat-then-chunk
    convention: documents are concatenated in ``id_col`` order into one
    global token stream, which is cut into fixed ``seq_len`` training
    sequences; each document reports where it lands.

    Returns (doc_id, n_tokens, start_token, first_seq, last_seq,
    n_seqs): start_token = tokens in all docs ordered before this one;
    first/last_seq = the sequence indexes containing the doc's first
    and last token (empty docs report first_seq == last_seq at their
    stream position with n_seqs = 0). Total sequences =
    ceil(Σ n_tokens / seq_len), computable from the last row.

    The global offset is the docids.py two-pass cumsum — range
    partition on doc_id, per-partition window, one O(#partitions)
    collect — never a single-partition global window."""
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get(
            "spark.sql.shuffle.partitions", "32"))
    # parallelism floor (guide §2.5): a compacted corpus arrives as one
    # parquet split, serializing the tokenize pass (which otherwise runs
    # TWICE below — once for the range-partitioner's sample, once for
    # the real shuffle) onto one task. No-op on already-wide inputs.
    src = wide(df.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("_txt")))
    toks = F.filter(F.split(F.lower(F.col("_txt")), r"[^a-z0-9]+"),
                    lambda t: t != "")
    base = src.select("doc_id", F.size(toks).alias("n_tokens"))
    ranged = (base.repartitionByRange(n_partitions, "doc_id")
              .withColumn("pid", F.spark_partition_id()))
    w = Window.partitionBy("pid").orderBy("doc_id")
    while _RANGED_PINS:
        _RANGED_PINS.pop().unpersist()
    ranged = ranged.withColumn(
        "local_cum",
        F.sum("n_tokens").over(w).cast("long") - F.col("n_tokens")
    ).persist()
    _RANGED_PINS.append(ranged)
    try:
        rows = (ranged.groupBy("pid")
                .agg(F.sum("n_tokens").alias("tot")).collect())
    except Exception:
        ranged.unpersist()
        raise
    totals = {r["pid"]: int(r["tot"]) for r in rows}
    bases, acc = [], 0
    for pid in sorted(totals):
        bases.append((pid, acc))
        acc += totals[pid]
    base_df = spark.createDataFrame(bases, "pid int, base bigint")
    out = (ranged.join(F.broadcast(base_df), "pid")
           .withColumn("start_token",
                       (F.col("base") + F.col("local_cum")).cast("long"))
           .drop("pid", "base", "local_cum"))
    first = F.floor(F.col("start_token") / seq_len)
    last = F.floor((F.col("start_token")
                    + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                   / seq_len)
    return (out.withColumn("first_seq", first)
            .withColumn("last_seq", last)
            .withColumn("n_seqs",
                        F.when(F.col("n_tokens") > 0,
                               last - first + 1)
                        .otherwise(F.lit(0)).cast("long")))
