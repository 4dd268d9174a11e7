"""Sessionized first/last-touch attribution (STAGED for r12).

Oracle differential (tests/test_queries_oracle.py) plus a hand-built
micro-corpus that pins every semantic branch (first vs last touch, direct,
session boundary resets the touch carry), a conservation identity on the
fixture data, and the three-axis invariance contract
(tests/test_split_invariance.py).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.behavior import (
    attribution_first_last_touch,
)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_micro_corpus_semantics(spark, tmp_path):
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1, session 1: view -> click -> purchase 10.00
        #   first touch = view, last touch = click
        (1, ts(0), 1, "view", 1.0, "{}"),
        (2, ts(5), 1, "click", 1.0, "{}"),
        (3, ts(10), 1, "purchase", 10.00, "{}"),
        # user 1, session 2 (gap 45 min > 30): purchase with NO prior touch
        #   -> direct/direct (the touch carry must reset at the boundary)
        (4, ts(55), 1, "purchase", 5.00, "{}"),
        # user 2, one session: click only, then two purchases
        #   both: first = last = click
        (5, ts(0), 2, "click", 1.0, "{}"),
        (6, ts(1), 2, "purchase", 2.50, "{}"),
        (7, ts(2), 2, "purchase", 2.50, "{}"),
        # user 3: touch in PREVIOUS session must not leak into the next
        (8, ts(0), 3, "view", 1.0, "{}"),
        (9, ts(40), 3, "purchase", 7.00, "{}"),  # 40 min gap -> new session
    ]
    _write_events(spark, tmp_path, rows)
    out = {r["channel"]: r for r in
           attribution_first_last_touch(spark, str(tmp_path)).collect()}
    assert set(out) == {"view", "click", "direct"}
    # first-touch credit: view gets u1s1 (10.00); click gets u2 (5.00);
    # direct gets u1s2 (5.00) + u3 (7.00)
    assert out["view"]["n_first_touch"] == 1
    assert out["view"]["first_touch_cents"] == 1000
    assert out["click"]["first_touch_cents"] == 500
    assert out["direct"]["first_touch_cents"] == 1200
    # last-touch credit: click gets u1s1 + u2 (10.00 + 5.00); view none
    assert out["click"]["last_touch_cents"] == 1500
    assert out["view"]["n_last_touch"] == 0
    assert out["direct"]["last_touch_cents"] == 1200
    # conservation: every purchase credited exactly once per touch type
    total = 1000 + 500 + 250 + 250 + 700
    assert sum(r["first_touch_cents"] for r in out.values()) == total
    assert sum(r["last_touch_cents"] for r in out.values()) == total
    assert sum(r["n_first_touch"] for r in out.values()) == 5
    # display division is exact
    assert out["click"]["last_touch_revenue"] == 15.0


def test_conservation_at_sf(spark, sf_dir):
    """On the real fixture: both credit assignments partition the exact
    purchase cent total (nothing dropped, nothing double-counted)."""
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    want = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(
            F.sum(round_half_away(F.col("value") * 100)).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    out = attribution_first_last_touch(spark, sf_dir).collect()
    assert sum(r["first_touch_cents"] for r in out) == want["c"]
    assert sum(r["last_touch_cents"] for r in out) == want["c"]
    assert sum(r["n_first_touch"] for r in out) == want["n"]
    assert sum(r["n_last_touch"] for r in out) == want["n"]
