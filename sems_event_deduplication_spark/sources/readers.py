"""Declared-schema sources (SURVEY.md §2.1 S1-S5).

The reference reads schema-inferred CSVs discovered by recursive glob,
stamping date columns parsed from filenames
(``event_data_processing.py:101-110``), then concats three levels of
partial tables (``:112-125``). Spark-first equivalents:

- one partition-discovering read with a declared StructType,
- ``input_file_name()`` + ``regexp_extract`` for filename metadata,
- ``unionByName(allowMissingColumns=True)`` for heterogeneous unions
  (the reference's add-missing-``gdelt_search_keyword`` patch at
  ``event_data_processing.py:98-99,113-114``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

AUDIO_CLIPS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
])


def read_audio_clips(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Primary input: Iceberg table name or parquet path (S1)."""
    if "/" not in path_or_table:
        return spark.read.table(path_or_table)
    return spark.read.parquet(path_or_table)


def read_csv_with_filename_dates(
    spark: SparkSession,
    glob_path: str,
    schema: T.StructType,
    date_pattern: str = r"(\d{4}-\d{2}-\d{2})_(\d{4}-\d{2}-\d{2})",
) -> DataFrame:
    """S2: recursive CSV scan + start/end dates parsed from filenames.

    Reference stamps ``start_date``/``end_date`` from ``csvs.stem``
    (``event_data_processing.py:105-109``) in a Python loop per file;
    here one distributed read + two regexp_extracts.
    """
    df = spark.read.schema(schema).option("header", "true").csv(glob_path)
    fname = F.input_file_name()
    # try_to_date, not to_date: regexp_extract yields '' for a file
    # whose name lacks the pattern, and to_date('') RAISES under ANSI
    # mode (Spark 4 default) — one stray summary.csv in the glob would
    # kill the whole scan; unmatched files get null dates instead
    return df.withColumn(
        "start_date", F.try_to_date(F.regexp_extract(fname, date_pattern, 1))
    ).withColumn("end_date", F.try_to_date(F.regexp_extract(fname, date_pattern, 2)))


def union_hierarchical(parts: list[DataFrame]) -> DataFrame:
    """S3: n-level concat with missing-column tolerance."""
    if not parts:
        raise ValueError(
            "union_hierarchical: no parts to union (the source glob "
            "matched zero tables)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
