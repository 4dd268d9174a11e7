"""Text-format ingestion: JSONL / CSV readers with a corrupt-record error
channel, and the matching writers.

The reference ingests only media directories (SURVEY §2.a E1); a general
training-data pipeline also lands raw crawl shards as JSONL and tabular
exports as CSV. These wrappers pin the things a 100 TB ingest must get
right and that ad-hoc ``spark.read.json`` calls routinely miss:

- **Explicit schema, never inference.** Schema inference is a full extra
  pass over the data and lets one malformed shard silently retype a
  column for the whole corpus. Readers here REQUIRE the schema.
- **A bad line quarantines, never aborts or vanishes.** Each reader
  returns ``(good, errors)``: parseable lines with the declared columns,
  and the raw text of every corrupt line (the E8 error-containment
  contract, at ingest grain).
- **Why not the native corrupt-record column:** Spark refuses any query
  over a raw JSON/CSV scan whose referenced columns collapse to ONLY
  ``_corrupt_record`` (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
  COLUMN) — and column pruning collapses exactly that way on
  ``good.count()`` / ``errors.count()``; the documented workaround is
  caching the raw parse, a non-starter at corpus scale. So both branches
  here share ONE ``spark.read.text`` scan re-parsed with from_json /
  from_csv — the same parser the native reader uses — where the corrupt
  field is an ordinary struct member with no restrictions, and the
  OptimizeCsvJsonExprs rule still prunes unused fields out of the parse.
- **Split-friendliness.** Uncompressed / bzip2 JSONL+CSV split by line;
  gzip shards do NOT (one task per shard) — callers control shard sizing
  upstream, noted here so nobody "fixes" slow ingest by re-gzipping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def _split(
    spark: SparkSession,
    path: str,
    schema: StructType,
    parsed: Column,
    skip_line: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    lines = spark.read.text(path)
    if skip_line is not None:
        # per-shard CSV header lines (every part file carries one)
        lines = lines.filter(F.col("value") != F.lit(skip_line))
    both = lines.withColumn("_p", parsed)
    good = both.filter(F.col("_p").getField(CORRUPT_COL).isNull()).select(
        *[F.col("_p").getField(f.name).alias(f.name) for f in schema.fields]
    )
    errors = both.filter(F.col("_p").getField(CORRUPT_COL).isNotNull()).select(
        F.col("value").alias("raw_line")
    )
    return good, errors


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Read line-delimited JSON under an explicit schema.

    Returns ``(good, errors)`` — see the module docstring for the error-
    channel contract and why both branches share one text-grain scan."""
    parsed = F.from_json(
        F.col("value"),
        _with_corrupt(schema),
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    return _split(spark, path, schema, parsed)


def read_csv(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of read_jsonl — same (good, errors) contract, for
    comma-separated shards that each start with a header line."""
    # from_csv takes a DDL string, not a StructType (unlike from_json)
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in _with_corrupt(schema).fields
    )
    parsed = F.from_csv(
        F.col("value"),
        ddl,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    header_line = ",".join(f.name for f in schema.fields)
    return _split(spark, path, schema, parsed, skip_line=header_line)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Line-delimited JSON writer, one uncompressed (splittable) shard per
    task."""
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV writer, one shard per task, each with a header line."""
    df.write.mode("overwrite").option("header", True).csv(path)
