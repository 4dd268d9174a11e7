"""Tests: skew-salting operators (results identical to unsalted plans) and
the applyInPandasWithState custom stateful operator."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table, table_path
from talkinghead_datapipeline_spark.operators import skew


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, ["l_orderkey"]).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    salted = skew.salted_join(li, orders, ["l_orderkey"], n_salts=4).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    assert plain.collect() == salted.collect()


def test_salted_join_spreads_rows_across_salts(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    salted = skew.with_salt(li, 8)
    counts = salted.groupBy("_salt").count().collect()
    assert len(counts) == 8
    total = sum(r["count"] for r in counts)
    assert total == li.count()
    assert all(r["count"] > total / 32 for r in counts)  # roughly uniform


def test_two_phase_sum_matches_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    two = (
        skew.two_phase_sum(
            li,
            ["l_returnflag"],
            {"l_quantity": "raw_qty", "l_extendedprice": "raw_price"},
            n_salts=4,
        )
        .select(
            "l_returnflag",
            F.round("raw_qty", 2).alias("sum_qty"),
            F.round("raw_price", 2).alias("sum_price"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    assert plain == two


def test_hot_key_x64_salted_and_aqe_paths_match(spark, sf_dir):
    """Skewed-replication stress (VERDICT r13 #5 / r14 #7): ONE key owns
    64× the rows of every other key, pushed through (a) salted_join, (b)
    two_phase_sum, (c) the AQE skew-join path with thresholds forced low
    enough to actually split at test scale. All three must return exactly
    the plain plan's rows — salting and AQE splitting route rows, never
    change them."""
    n_keys, base = 64, 200
    # deterministic synthetic frame: key 7 is hot (×64)
    rows = spark.range(n_keys * base).select(
        (F.col("id") % n_keys).alias("k"), F.col("id").alias("v")
    )
    hot = spark.range(base * 63).select(
        F.lit(7).alias("k"), (F.col("id") + 10_000_000).alias("v")
    )
    skewed = rows.unionAll(hot)
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") * 11).alias("w")
    )

    plain = (
        skewed.join(dim, ["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
        .orderBy("k")
        .collect()
    )
    salted = (
        skew.salted_join(skewed, dim, ["k"], n_salts=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
        .orderBy("k")
        .collect()
    )
    assert salted == plain

    two_phase = (
        skew.two_phase_sum(skewed, ["k"], {"v": "s"}, n_salts=8)
        .join(dim, ["k"])
        .select("k", "s")
        .orderBy("k")
        .collect()
    )
    direct = (
        skewed.groupBy("k")
        .agg(F.sum("v").alias("s"))
        .join(dim, ["k"])
        .select("k", "s")
        .orderBy("k")
        .collect()
    )
    assert two_phase == direct

    # AQE skew-join split: force sort-merge (no broadcast) and drop the
    # skew thresholds so the hot key's partition qualifies at test scale;
    # runtime-settable confs, restored after.
    saved = {
        c: spark.conf.get(c, None)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        aqe = (
            skewed.join(dim, ["k"])
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v") + F.col("w")).alias("s"),
            )
            .orderBy("k")
            .collect()
        )
        assert aqe == plain
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_top_frequent_keys(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    top = skew.top_frequent_keys(ev, "event_type", k=3).collect()
    assert len(top) == 3
    assert top[0]["n_rows"] >= top[-1]["n_rows"]


def test_streaming_exact_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first arrival per content
    hash: three files with overlapping hashes stream through AvailableNow
    and only unique hashes reach the sink."""
    import pandas as pd

    from talkinghead_datapipeline_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "content_hash": ["a", "b", "a", "c", "b", "d"],
            "ts": [base + pd.Timedelta(minutes=m) for m in range(6)],
        }
    )
    # one file => one micro-batch under AvailableNow with no per-trigger
    # file limit; duplicates both within and across rows are covered.
    spark.createDataFrame(rows).coalesce(1).write.parquet(str(src / "batch"))

    stream = spark.readStream.schema(
        "doc_id bigint, content_hash string, ts timestamp"
    ).parquet(str(src / "batch"))
    query = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        r["content_hash"]: r["doc_id"]
        for r in spark.sql("SELECT * FROM stream_dedup").collect()
    }
    assert got == {"a": 1, "b": 2, "c": 4, "d": 6}


def test_stateful_running_totals_available_now(spark, sf_dir, tmp_path):
    from talkinghead_datapipeline_spark.streaming.stateful import running_user_totals

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    work = str(tmp_path)
    src = os.path.join(work, "src")
    os.makedirs(src)
    os.symlink(table_path(sf_dir, "events"), os.path.join(src, "events.parquet"))

    stream = spark.readStream.schema(schema).parquet(src)
    query = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.sql(
            # update mode appends one row per (user, micro-batch); keep the
            # final state per user.
            """
            SELECT user_id, n_events, sum_value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) AS rn
              FROM stateful_totals
            ) WHERE rn = 1
            """
        ).collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_stream_left_outer_null_emission_watermark_boundary(spark, tmp_path):
    """Pins the left-outer stream-stream join's null-emission cutoff that
    the streaming_purchase_view_left oracle encodes (empirically derived in
    round 6; this test fails loudly if a Spark upgrade shifts it):

    - global watermark W = MIN over both sides' per-operator watermarks,
      and each side's watermark tracks only ITS filtered stream — here
      W = max purchase ts (views run later);
    - an unmatched purchase emits its null row only when p_ts < W STRICTLY:
      the purchase exactly AT the watermark stays in state;
    - matched pairs emit in the processing batch regardless of W.
    """
    import pandas as pd

    from talkinghead_datapipeline_spark.queries.streaming_queries import (
        _purchase_view_join,
    )

    t = pd.Timestamp("2024-03-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    rows = pd.DataFrame(
        {
            "event_id": [100, 1, 2, 3, 101],
            "user_id": [1, 1, 2, 4, 3],
            "event_type": ["view", "purchase", "purchase", "purchase", "view"],
            "ts": [
                t,  # view matching purchase 1
                t + 5 * m,  # purchase 1: matched -> emits regardless of W
                t + 30 * m,  # purchase 2: unmatched, p_ts == W -> WITHHELD
                t + 29 * m,  # purchase 3: unmatched, p_ts < W -> null row
                t + 60 * m,  # late view: maxV > maxP, so W = maxP = t+30m
            ],
        }
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows).coalesce(1).write.parquet(str(src / "batch"))

    stream = spark.readStream.schema(
        "event_id bigint, user_id bigint, event_type string, ts timestamp"
    ).parquet(str(src / "batch"))
    query = (
        _purchase_view_join(stream, "leftOuter")
        .select("purchase_id", "view_id")
        .writeStream.format("memory")
        .queryName("ssleft_boundary")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = {
        (r["purchase_id"], r["view_id"])
        for r in spark.sql("SELECT * FROM ssleft_boundary").collect()
    }
    assert got == {(1, 100), (3, None)}, got


def test_full_outer_view_expiry_boundary_is_strict(spark, tmp_path):
    """Pin the full-outer view-side emission boundary on a crafted corpus:
    a view whose forward horizon (v_ts + 30min) is strictly below the
    final watermark W = min(max purchase ts, max view ts) emits its
    purchase-null row; the view whose horizon EQUALS W is withheld in
    state. (The oracle of streaming_purchase_view_full encodes exactly
    this.)"""
    import datetime as dt
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.queries.streaming_queries import (
        _events_stream_transform_base,
        _purchase_view_join,
    )
    from talkinghead_datapipeline_spark.streaming.incremental import (
        run_available_now,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1 has no purchases: every view is potentially unmatched
        (1, base + dt.timedelta(minutes=30), 1, "view", 1.0, "{}"),  # horizon == W
        (2, base + dt.timedelta(minutes=30, seconds=-1), 1, "view", 1.0, "{}"),  # horizon < W
        (3, base + dt.timedelta(minutes=60), 1, "view", 1.0, "{}"),  # sets view max → W
        # user 2's late purchase sets max purchase ts (above W)
        (4, base + dt.timedelta(minutes=90), 2, "purchase", 1.0, "{}"),
        # user 3: one matched pair (emits in the processing batch)
        (5, base, 3, "view", 1.0, "{}"),
        (6, base + dt.timedelta(minutes=5), 3, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    tmpp = str(tmp_path / "tmpp")
    df.coalesce(1).write.parquet(tmpp)
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(glob.glob(tmpp + "/part-*.parquet")[0], src + "/events.parquet")
    schema = spark.read.parquet(src + "/events.parquet").schema

    def transform(ev):
        return _purchase_view_join(
            _events_stream_transform_base(ev), "fullOuter"
        ).select(
            F.coalesce("user_id", "v_user_id").alias("any_user_id"),
            "purchase_id",
            "view_id",
        )

    run_available_now(
        spark,
        source_dir=src,
        schema=schema,
        transform=transform,
        sink_path=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        (r["any_user_id"], r["purchase_id"], r["view_id"])
        for r in spark.read.parquet(str(tmp_path / "sink")).collect()
    }
    assert got == {
        (3, 6, 5),  # matched pair, emitted in its micro-batch
        (1, None, 2),  # horizon strictly below W → purchase-null emitted
        # view 1 (horizon == W), view 3 (horizon > W), purchase 4 (> W):
        # all withheld in state at stream end
    }


def test_tws_gate_or_runs(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-handle stateful API) is
    environment-gated on google.protobuf (the API's Python state-server
    protocol dep; probed absent 2026-08-14, installs disallowed). If the
    dep ever appears, the operator must produce exactly the batch GROUP BY
    folds; until then the gate must raise the informative NotImplementedError
    BEFORE any stream starts (no half-started checkpoints)."""
    from talkinghead_datapipeline_spark.streaming.stateful import (
        tws_available,
        tws_user_type_stats,
    )
    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            tws_user_type_stats(ev)
        return
    from talkinghead_datapipeline_spark.queries.streaming_queries import (
        _run_events_stream,
    )

    got = _run_events_stream(spark, sf_dir, tws_user_type_stats, "twsstats").toPandas()
    exp = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .toPandas()
    )
    key = ["user_id", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got[key + ["n_events"]].equals(exp[key + ["n_events"]])
