"""Pins for the events-timestamp catalog seam.

``events.parquet`` may arrive in any of several physical timestamp types.
These tests write each variant and assert ``unix_micros`` parity with
DuckDB's ``epoch_us`` on the same file, for a batch scan and a file stream
alike, under a NON-UTC session timezone too: the conversion must not lean
on ``spark.sql.session.timeZone``, and the loader must not mutate it.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table, normalize_events_ts, scan_schema
from talkinghead_datapipeline_spark.streaming.incremental import run_available_now

_TS = [
    datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
    datetime.datetime(2021, 3, 14, 7, 30, 0),  # inside a US DST transition
    datetime.datetime(2021, 11, 7, 6, 30, 0),  # fall-back ambiguous wall hour
    datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
]


def _write_variant(tmp_path, variant: str) -> str:
    if variant == "nanos_long":
        arr = pa.array(_TS, type=pa.timestamp("ns"))
    elif variant == "micros_ntz":
        arr = pa.array(_TS, type=pa.timestamp("us"))
    elif variant == "micros_utc":
        arr = pa.array(
            [t.replace(tzinfo=datetime.timezone.utc) for t in _TS],
            type=pa.timestamp("us", tz="UTC"),
        )
    else:  # pragma: no cover
        raise AssertionError(variant)
    table = pa.table({"user_id": list(range(len(_TS))), "ts": arr})
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    return path


def _micros(spark, tmp_path, reader: str) -> list[int]:
    """``unix_micros(ts)`` per row in ``user_id`` order, read from the
    events table in ``tmp_path`` by ``reader``."""
    sf_dir = str(tmp_path)
    if reader == "batch":
        df = load_table(spark, sf_dir, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
    else:
        src = tmp_path / "src"
        src.mkdir()
        (src / "events.parquet").symlink_to(tmp_path / "events.parquet")
        sink = str(tmp_path / "sink")
        run_available_now(
            spark,
            str(src),
            scan_schema(spark, sf_dir, "events"),
            normalize_events_ts,
            sink,
            str(tmp_path / "ckpt"),
        )
        df = spark.read.parquet(sink)
    return [
        r["um"]
        for r in df.select("user_id", F.unix_micros("ts").alias("um"))
        .orderBy("user_id")
        .collect()
    ]


# The batch reader's cases keep the bare variant as their id.
@pytest.mark.parametrize(
    "variant,reader",
    [
        pytest.param(v, r, id=v if r == "batch" else f"{v}-{r}")
        for r in ("batch", "stream")
        for v in ("nanos_long", "micros_ntz", "micros_utc")
    ],
)
@pytest.mark.parametrize("session_tz", ["UTC", "America/New_York"])
def test_events_ts_micros_match_duckdb(spark, tmp_path, variant, session_tz, reader):
    path = _write_variant(tmp_path, variant)
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT epoch_us(ts) FROM read_parquet('{path}') ORDER BY user_id"
        ).fetchall()
    ]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        got = _micros(spark, tmp_path, reader)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert got == want, f"{variant} under {session_tz} ({reader})"


def test_loader_does_not_mutate_session_timezone(spark, tmp_path):
    """Reading a table must not set spark.sql.session.timeZone as a side
    effect."""
    path = _write_variant(tmp_path, "micros_ntz")
    assert path
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        load_table(spark, str(tmp_path), "events").collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
