"""Typed scans/sinks for the reference's file formats (SURVEY.md §2.1).

The reference reads/writes CSV metadata (database/scripts/fetch_oai.py:24-58,
chunk_pdfs_oai.py:88-96) and JSONL chunk records
(retrieval/es_index_chunks_final.py:12-23) with implicit, re-parsed-per-
consumer schemas. Here every scan is an explicit StructType (no inference
in production paths) and parquet is the canonical table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# papers_meta CSV header (fetch_oai.py:26)
PAPERS_META_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("authors", T.StringType()),
    T.StructField("abstract", T.StringType()),
    T.StructField("categories", T.StringType()),
    T.StructField("created", T.StringType()),
])

# chunk JSONL record (chunk_pdfs_oai.py:124-131; README.md:33-35)
CHUNKS_SCHEMA = T.StructType([
    T.StructField("paper_id", T.StringType()),
    T.StructField("chunk_index", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("authors", T.StringType()),
    T.StructField("token_count", T.IntegerType()),
    T.StructField("chunk_text", T.StringType()),
])

TRANSCRIPT_STRUCT = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType = PAPERS_META_SCHEMA) -> DataFrame:
    """S1: header CSV scan with explicit schema (no inferSchema)."""
    return spark.read.option("header", True).schema(schema).csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S2: CSV sink (tests/interchange only; prod tables are parquet)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType = CHUNKS_SCHEMA) -> DataFrame:
    """S3: JSON-Lines scan with explicit schema."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: JSON-Lines sink."""
    df.write.mode(mode).json(path)


def read_transcripts(spark: SparkSession, path: str,
                     fmt: str = "parquet") -> DataFrame:
    """Canonical engine input scan (input_hint schema)."""
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPT_STRUCT).parquet(path)
    if fmt == "json":
        return spark.read.schema(TRANSCRIPT_STRUCT).json(path)
    if fmt == "csv":
        return read_csv(spark, path, TRANSCRIPT_STRUCT)
    raise ValueError(f"unsupported format: {fmt}")
