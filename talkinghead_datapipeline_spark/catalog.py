"""Table catalog over parquet fixtures (maps E5 path binding, SURVEY §2.a).

The reference binds each DataType column to ``{output_dir}/{key}/{name}{ext}``
by filesystem convention (``dpl/processor/engine.py:20-53``,
``dpl/processor/datatype.py:95-96``). Spark-first, the catalog is a table
registry: every dataset is a named parquet table; consumers get lazy
DataFrames and Catalyst handles pruning/pushdown against the files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType regardless of how the
    fixture's parquet physical type arrives:

    - parquet TIMESTAMP(NANOS) read as epoch-nanos LongType (via
      ``spark.sql.legacy.parquet.nanosAsLong``) → exact integer ``div 1000``
      then ``timestamp_micros`` (a double division would lose precision on
      int64 epoch-nanos);
    - parquet ``timestamp[us]`` with isAdjustedToUTC=false → TimestampNTZType
      → the naive-UTC wall clock becomes an instant WITHOUT touching the
      session timezone (ADVICE r4: mutating ``spark.sql.session.timeZone``
      inside a table loader changed timestamp semantics for every later
      query in an externally-created session). Epoch micros are rebuilt
      arithmetically from the NTZ wall-clock fields — ``CAST(ts AS DATE)``
      and ``date_part`` on an NTZ value never consult a timezone, so the
      conversion is exact under ANY session zone. (A
      ``convert_timezone('UTC', current_timezone(), …)`` round-trip is NOT:
      instants landing in a DST fall-back hour collapse to the wrong
      offset — pinned by tests/test_catalog_ts.py.) ``date_part('SECOND')``
      is DECIMAL(8,6), so the ×1e6 keeps fractional micros exactly;
    - TimestampType → passthrough.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros("
                "  CAST(unix_date(CAST(ts AS DATE)) AS BIGINT) * 86400000000"
                "  + (CAST(date_part('HOUR', ts) AS BIGINT) * 3600"
                "     + CAST(date_part('MINUTE', ts) AS BIGINT) * 60) * 1000000"
                "  + CAST(date_part('SECOND', ts) * 1000000 AS BIGINT))"
            ),
        )
    return df


# Scan-schema memo: (path, mtime_ns, size) -> the StructType this catalog
# reads that file with (post events-ts forcing). Schema inference re-reads
# the parquet footer on the DRIVER for every ``spark.read.parquet`` —
# measured 254ms/call vs 46ms with a supplied schema at sf0.1 — and query
# builders run once per bench rep, so the footer was re-read hundreds of
# times per bench. A real deployment pins schemas in a catalog (metastore /
# Iceberg manifest) for exactly this reason (guide §6: listing/planning is
# driver-side, single-threaded). This memoizes METADATA only — every run
# still computes results from the parquet bytes — and the stat-key
# invalidates the entry whenever the file (or split directory) changes, so
# tests that rewrite a path re-infer.
_SCHEMA_CACHE: dict = {}


def _schema_key(path: str):
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one catalog table; ``events.ts`` is normalized
    to TimestampType whatever the parquet footer says (see
    :func:`normalize_events_ts`).

    NTZ fast path: when the footer says ``timestamp[us]`` NTZ, re-open the
    scan with the SAME schema except ``ts`` forced to TimestampType — the
    vectorized reader then decodes the stored micros directly as instant
    micros (naive-UTC semantics, independent of the session timezone, no
    zone math anywhere). This costs one driver-side footer read and keeps
    the per-row cost at zero, where the expression-based rewrite measurably
    dragged every events window query (bench r5: s9_tumbling_volume 3.5×);
    it also keeps ts filters eligible for parquet pushdown, which any
    wrapping expression forfeits. The footer read happens once per file
    version per process (see ``_SCHEMA_CACHE``); ``normalize_events_ts``
    stays in the cached path and passes TimestampType through untouched,
    so both events branches behave identically on a cache hit.
    """
    from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

    if name == "events":
        # Runtime-set so externally-created sessions (the driver's) can read
        # a nanos-typed fixture too — harmless when the footer stores micros.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    try:
        key = _schema_key(path)
    except OSError:
        key = None
    cached = _SCHEMA_CACHE.get(key) if key is not None else None
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
        return normalize_events_ts(df) if name == "events" else df
    df = spark.read.parquet(path)
    scan_schema = df.schema
    if name == "events":
        if "ts" in df.columns and isinstance(
            df.schema["ts"].dataType, TimestampNTZType
        ):
            forced = StructType(
                [
                    StructField(
                        f.name,
                        TimestampType() if f.name == "ts" else f.dataType,
                        f.nullable,
                    )
                    for f in df.schema.fields
                ]
            )
            scan_schema = forced
            df = spark.read.schema(forced).parquet(path)
        else:
            # cache the pre-normalization SCAN schema; the hit path
            # re-applies normalize_events_ts to rebuild the expression.
            df = normalize_events_ts(df)
    if key is not None:
        _SCHEMA_CACHE[key] = scan_schema
    return df


def rebalance_for_compute(
    df: DataFrame, *keys: str, probe: "DataFrame | None" = None
) -> DataFrame:
    """Opt-in rebalance ahead of compute-DENSE per-row work (md5 shingle
    folds, 32-bit vote folds, pandas-UDF inference).

    Single-row-group fixture files are unsplittable: Spark gives the scan
    one task no matter how many cores exist, so a hash fold over the corpus
    runs 1-threaded. When the scan has fewer input FILES than the machine
    has cores, one cheap shuffle of the raw rows buys full-width execution
    of everything downstream. The guard reads ``df.inputFiles()`` — a
    driver-side file-index lookup — instead of ``df.rdd.getNumPartitions()``,
    which would force a full plan-to-RDD conversion per call. This is
    deliberately NOT applied in ``load_table``: for scan-bound queries the
    extra exchange costs more than it saves (measured at sf0.1), and at
    production scale inputs already arrive as many splits, making this a
    no-op (the guard fails; non-file sources report no files and are left
    untouched).

    With ``keys``, the rebalance HASH-partitions instead of round-robin:
    when every downstream groupBy/join leads with those keys, the one
    explicit exchange satisfies their ClusteredDistribution and Catalyst
    elides every later shuffle — the doc-grain text queries collapse from
    2-3 exchanges to 1 this way. Skew caveat applies: keys must be
    high-cardinality (doc_id), never a low-cardinality attribute.

    ``probe`` supplies the provenance frame for the guard when ``df``
    itself no longer reports input files (mid-plan frames whose lineage
    passes through barriers/joins return an empty ``inputFiles()``, which
    would silently no-op the guard in BOTH directions): pass the table
    frame the work derives from, and the many-splits-at-scale logic reads
    it instead of ``df``.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    src = probe if probe is not None else df
    if 0 < len(src.inputFiles()) < cores:
        return df.repartition(cores, *keys) if keys else df.repartition(cores)
    return df


def persist_once(df: "DataFrame") -> "DataFrame":
    """persist() unless this logical plan is already in the cache.

    Query builders run repeatedly in one session (bench reps, test
    suites); blindly re-persisting an identical plan makes CacheManager
    log 'Asked to cache already cached data' every rep and re-plans the
    lookup. storageLevel reflects the CacheManager's answer for THIS
    plan, so checking it first is both silent and free."""
    from pyspark import StorageLevel

    if df.storageLevel == StorageLevel.NONE:
        return df.persist()
    return df


_BARRIER_SEQ = iter(range(1, 1 << 30))


def pushdown_barrier(df: "DataFrame", tag: str = "bar") -> "DataFrame":
    """Stop predicate pushdown from re-evaluating an expensive projection.

    Filtering on a column built from heavy expressions (shingle HOF
    chains, array sorts, vector norms) triggers a Catalyst pathology:
    PushDownPredicates alias-substitutes the column's WHOLE defining
    expression into the predicate and sinks it below the projection, so
    the chain is evaluated once for the filter and AGAIN for the
    projection above — measured 2.9x on rolling_mad_anomalies and 1.9x on
    minhash_signatures at sf0.1. Spark 4 pushes deterministic conjuncts
    even past nondeterministic-field projects (a rand() column does NOT
    protect), but ``CollectMetrics`` (``df.observe``) is not among the
    nodes PushPredicateThroughNonJoin passes, and costs one accumulator
    row per batch — no shuffle, no materialization, semantics unchanged.

    Usage: build the expensive column, apply the barrier, THEN filter:
    ``barrier(df.select(k, heavy.alias("g"))).filter(F.size("g") >= 1)``.
    Select only needed columns first — column pruning also stops at the
    barrier, so an over-wide frame would over-read the scan. Each call
    takes a fresh observation name (Spark requires them unique per
    query), so a builder invoked N times in one query composes fine."""
    from pyspark.sql import functions as F

    return df.observe(
        f"_pdbar_{tag}_{next(_BARRIER_SEQ)}", F.count(F.lit(1)).alias("rows")
    )
