"""Window & time-series layer (SURVEY §2 N12, S6, S8, S9; §7 phase 3).

The reference's frame-axis kernels become window specs over the `events`
time-series fixture: partition = clip (`user_id`), order = frame time
(`ts, event_id` full tiebreak so every window frame is deterministic).

Frame-spec parity note: `as_windowed` (dpl/processor/utils.py:68-98) pads
edges by replication; SQL window frames shrink at partition edges instead.
Simple queries adopt shrinking frames on BOTH engine and oracle sides; the
EXACT reference semantics are also covered — edge replication via per-key
collected arrays + clamped indexing (`n23_window_mean_edgepad`), and
savgol's polynomial edge refit via shared hat-matrix literals
(`s8_savgol_exact_w7`, `n12_emoca_bbox_pipeline`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.functions.windows import (
    as_windowed_bounds,
    centered_frame_bounds,
    savgol_coefficients,
)
from talkinghead_datapipeline_spark.queries import register

# Savitzky-Golay hat-matrix builders (shared by the exact savgol and N12
# pipeline oracles — same literals on both engines).
_SG_W, _SG_O = 7, 3


def _sg_hat(w: int, o: int) -> list[list[float]]:
    import numpy as np

    V = np.vander(np.arange(w, dtype=np.float64), o + 1, increasing=True)
    return (V @ np.linalg.pinv(V)).tolist()


def _sg_dot_sql(H: list[list[float]], row: int, base: str) -> str:
    """Σ_j H[row][j] * arr[base + j] — ``base`` is a 1-based SQL index expr."""
    w = len(H)
    return " + ".join(
        f"({H[row][j]!r} * arr[CAST({base} + {j} AS INT)])" for j in range(w)
    )


def _sg_case_sql(H: list[list[float]]) -> str:
    """Full savgol-with-edge-refit as one SQL CASE over a collected array
    (requires columns ``arr`` the series, ``i`` 0-based position and ``n``
    series length)."""
    w, half = len(H), len(H) // 2
    head = " ".join(
        f"WHEN i = {r} THEN {_sg_dot_sql(H, r, '1')}" for r in range(half)
    )
    tail = " ".join(
        f"WHEN n - i = {n_i} THEN {_sg_dot_sql(H, w - n_i, f'n - {w} + 1')}"
        for n_i in range(1, half + 1)
    )
    interior = _sg_dot_sql(H, half, f"i - {half} + 1")
    return (
        f"CASE WHEN n < {w} THEN arr[CAST(i + 1 AS INT)] {head} {tail} "
        f"ELSE {interior} END"
    )


def _savgol_exact_oracle(H: list[list[float]]) -> str:
    """The exact savgol of every user's value series by event_id, with the
    hat matrix ``H``'s edge refit, over per-user collected arrays."""
    return f"""
    WITH per_user AS (
      SELECT user_id,
             list(value ORDER BY event_id) AS arr,
             list(event_id ORDER BY event_id) AS ids
      FROM events GROUP BY user_id
    ),
    idx AS (
      SELECT user_id, arr, ids, len(arr) AS n,
             CAST(unnest(range(0, len(arr))) AS BIGINT) AS i
      FROM per_user
    )
    SELECT user_id, ids[CAST(i AS INT) + 1] AS event_id,
           round({_sg_case_sql(H)}, 6) AS smoothed
    FROM idx
    """


def _sg_case_col(H: list[list[float]], arr_col, i, n):
    """The Spark twin of _sg_case_sql — same literals, same fold order."""
    w, half = len(H), len(H) // 2

    def dot(row: int, base):
        acc = None
        for j in range(w):
            term = F.lit(H[row][j]) * F.element_at(arr_col, (base + j).cast("int"))
            acc = term if acc is None else acc + term
        return acc

    expr = F.when(n < w, F.element_at(arr_col, (i + 1).cast("int")))
    for r in range(half):
        expr = expr.when(i == r, dot(r, F.lit(1)))
    for n_i in range(1, half + 1):
        expr = expr.when(n - i == n_i, dot(w - n_i, n - w + 1))
    return expr.otherwise(dot(half, i - half + 1))


def _sg_rowbase_cols(w: int, i, n):
    """Hat-matrix row index and 1-based window base for position ``i`` of a
    length-``n`` series — the scalar twin of _sg_case_sql's branch
    structure (same precedence: head, then tail, then interior)."""
    half = w // 2
    r = F.when(i < half, i).when(n - i <= half, w - (n - i)).otherwise(F.lit(half))
    b = (
        F.when(i < half, F.lit(1))
        .when(n - i <= half, n - w + 1)
        .otherwise(i - half + 1)
    )
    return r, b


def _sg_dot_dynamic(hrow, arr_col, b, w: int):
    """Σ_j hrow[j] · arr[b + j], unrolled in the oracle's fold order.

    The w=25 CASE form (_sg_case_col) unrolls 26 branches × 25 terms —
    ~650 element_at calls in one expression — which overflows janino's
    64 KB method limit: the ERROR CodeGenerator path silently de-codegens
    the whole stage (measured interpreted fallback at sf0.01). Selecting
    the hat row BY INDEX first keeps one 25-term dot product; ``hrow``
    and ``b`` must be pre-staged as aliased columns so each evaluates
    once. Identical IEEE result: same literals, same left-assoc sum."""
    acc = None
    for j in range(w):
        term = F.element_at(hrow, j + 1) * F.element_at(
            arr_col, (b + j).cast("int")
        )
        acc = term if acc is None else acc + term
    return acc


_SG_H = _sg_hat(_SG_W, _SG_O)


# ---------------------------------------------------------------------------
# N12 — rolling min/max extent over neighboring frames
# (dpl/processor/nodes/bboxes.py:123-145; window_size=5)
# ---------------------------------------------------------------------------

_N12_LO, _N12_HI = centered_frame_bounds(5)  # (-2, 2): w//2 preceding/following


@register(
    "n12_rolling_extent",
    oracle=f"""
    SELECT user_id, event_id,
           round(min(value) OVER w, 6) AS roll_min,
           round(max(value) OVER w, 6) AS roll_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN {-_N12_LO} PRECEDING AND {_N12_HI} FOLLOWING)
    """,
)
def n12_rolling_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling extent over w=5 neighbor frames (bboxes.py:123-145), O(N) via
    sliding window frame instead of the reference's O(N·w) loop
    (bboxes.py:128-129 TODO)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(_N12_LO, _N12_HI)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.min("value").over(w), 6).alias("roll_min"),
        F.round(F.max("value").over(w), 6).alias("roll_max"),
    )


# ---------------------------------------------------------------------------
# S6 / N23 — sliding-window mean, reference frame convention
# window i covers [i-(size-size//2), i+size//2) (dpl/processor/utils.py:68-98)
# ---------------------------------------------------------------------------

_S6_LO, _S6_HI = as_windowed_bounds(16)  # (-8, 7)


@register(
    "s6_sliding_mean",
    oracle=f"""
    SELECT user_id, event_id,
           round(avg(value) OVER w, 6) AS win_avg,
           count(*) OVER w AS win_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN {-_S6_LO} PRECEDING AND {_S6_HI} FOLLOWING)
    """,
)
def s6_sliding_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`average_features` sliding mean, w=16 (dpl/processor/nodes/h5.py:235-237
    via utils.py:68-98): frame [i-8, i+8) → ROWS BETWEEN 8 PRECEDING AND 7
    FOLLOWING, shrinking at edges."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(_S6_LO, _S6_HI)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("win_avg"),
        F.count(F.lit(1)).over(w).alias("win_n"),
    )


# ---------------------------------------------------------------------------
# S8 — Savitzky–Golay smoothing as FIR dot product over lags
# (scipy savgol_filter(x, 7, 3) parity on interior rows)
# ---------------------------------------------------------------------------


def _savgol_fir_sql() -> str:
    coefs = savgol_coefficients(7, 3)
    half = 3
    terms = []
    for k, c in enumerate(coefs):
        off = k - half
        if off < 0:
            col = f"lag(value, {-off}) OVER w"
        elif off > 0:
            col = f"lead(value, {off}) OVER w"
        else:
            col = "value"
        terms.append(f"({c!r}) * ({col})")
    expr = " + ".join(terms)
    return f"""
    SELECT user_id, event_id, round(smoothed, 6) AS smoothed
    FROM (
      SELECT user_id, event_id, {expr} AS smoothed,
             count(*) OVER (PARTITION BY user_id ORDER BY event_id
                            ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING) AS n_in
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ) WHERE n_in = 7
    """


@register("s8_savgol_fir", oracle=_savgol_fir_sql())
def s8_savgol_fir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savgol(w=7, o=3) smoothing (callers: bboxes.py:159-162, emoca.py:91-97)
    as a fixed-coefficient FIR over lag/lead columns; interior rows only
    (scipy's 'interp' edge mode is handled by the applyInPandas variant in
    operators.rolling)."""
    ev = load_table(spark, sf_dir, "events")
    coefs = savgol_coefficients(7, 3)
    half = 7 // 2
    w = W.partitionBy("user_id").orderBy("event_id")
    wcnt = w.rowsBetween(-half, half)
    acc = None
    for k, c in enumerate(coefs):
        off = k - half
        if off < 0:
            term = F.lit(c) * F.lag("value", -off).over(w)
        elif off > 0:
            term = F.lit(c) * F.lead("value", off).over(w)
        else:
            term = F.lit(c) * F.col("value")
        acc = term if acc is None else acc + term
    return (
        ev.select(
            "user_id",
            "event_id",
            acc.alias("_smoothed"),
            F.count(F.lit(1)).over(wcnt).alias("_n_in"),
        )
        .filter(F.col("_n_in") == 7)
        .select("user_id", "event_id", F.round("_smoothed", 6).alias("smoothed"))
    )


@register("s8_savgol_exact", oracle=_savgol_exact_oracle(_sg_hat(25, 3)))
def s8_savgol_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact scipy-parity savgol(w=25, o=3) incl. 'interp' edge refit —
    applyInPandas per user series (operators.rolling). The edge refit is a
    fixed linear map (hat-matrix rows), so the oracle expresses it as a SQL
    CASE over per-key collected arrays (same scheme as s8_savgol_exact_w7);
    round(, 6) on both sides absorbs polyfit-vs-projector ULP noise. This entry
    driver-verifies the applyInPandas operator path itself."""
    from talkinghead_datapipeline_spark.operators.rolling import savgol_smooth

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    out = savgol_smooth(ev, "user_id", "event_id", ["value"], window=25)
    return out.select(
        "user_id", "event_id", F.round("value", 6).alias("smoothed")
    )


def _n12_oracle() -> str:
    H25 = _sg_hat(25, 3)
    return f"""
    WITH base AS (
      SELECT user_id, event_id,
             min(value) OVER w AS lo,
             max(value) OVER w AS hi
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    ),
    derived AS (
      SELECT user_id, event_id, lo, hi,
             (lo + hi) / 2 AS center, hi - lo AS size
      FROM base
    ),
    eq AS (
      -- make_equal_size (bboxes.py:180-194): size = quantile.astype(int)
      -- (truncation; sizes >= 0 so floor == int()), then parity bump.
      SELECT user_id,
             CAST(CAST(floor(quantile_cont(size, 0.75)) AS BIGINT)
                  + CAST(floor(quantile_cont(size, 0.75)) AS BIGINT) % 2
                  AS DOUBLE) AS size_eq
      FROM derived GROUP BY user_id
    ),
    per_user AS (
      SELECT user_id,
             list(center ORDER BY event_id) AS arr,
             list(event_id ORDER BY event_id) AS ids,
             list(lo ORDER BY event_id) AS los,
             list(hi ORDER BY event_id) AS his,
             list(size ORDER BY event_id) AS sizes
      FROM derived GROUP BY user_id
    ),
    idx AS (
      SELECT user_id, arr, ids, los, his, sizes, len(arr) AS n,
             CAST(unnest(range(0, len(arr))) AS BIGINT) AS i
      FROM per_user
    )
    SELECT x.user_id,
           ids[CAST(i AS INT) + 1] AS event_id,
           round(los[CAST(i AS INT) + 1], 6) AS lo,
           round(his[CAST(i AS INT) + 1], 6) AS hi,
           round({_sg_case_sql(H25)}, 6) AS center,
           round(sizes[CAST(i AS INT) + 1], 6) AS size,
           round(e.size_eq, 6) AS size_eq
    FROM idx x JOIN eq e ON x.user_id = e.user_id
    """


@register("n12_emoca_bbox_pipeline", oracle=_n12_oracle())
def n12_emoca_bbox_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EmocaLikeBboxes chain (bboxes.py:84-195), ALL stages oracle-
    checked: rolling extent w=5 (O(N) window frame) → exact savgol(25,3)
    center smoothing WITH edge refit (shared hat-matrix literals, see
    s8_savgol_exact_w7) → q=0.75 size equalization (quantile truncated to
    int + even-parity bump, make_equal_size bboxes.py:180-194). Two shuffles total: the
    window partition and the per-key collect (same key → exchange reuse)."""
    H25 = _sg_hat(25, 3)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 2)
    derived = ev.select(
        "user_id",
        "event_id",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    ).withColumns(
        {"center": (F.col("lo") + F.col("hi")) / 2, "size": F.col("hi") - F.col("lo")}
    )
    # make_equal_size parity (bboxes.py:180-194): astype(int) truncation
    # (sizes >= 0, so floor == int()) then even-parity bump — NOT nearest-
    # even rounding.
    _q = F.floor(F.percentile("size", F.lit(0.75))).cast("bigint")
    eq = derived.groupBy("user_id").agg(
        (_q + _q % 2).cast("double").alias("size_eq")
    )
    per_user = derived.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("event_id", "lo", "hi", "center", "size"))
        ).alias("_p")
    )
    arrs = per_user.select(
        "user_id",
        F.transform("_p", lambda p: p["center"]).alias("arr"),
        F.transform("_p", lambda p: p["event_id"]).alias("ids"),
        F.transform("_p", lambda p: p["lo"]).alias("los"),
        F.transform("_p", lambda p: p["hi"]).alias("his"),
        F.transform("_p", lambda p: p["size"]).alias("sizes"),
    )
    ex = arrs.select(
        "user_id", "arr", "los", "his", "sizes",
        F.posexplode("ids").alias("i", "event_id"),
    )
    at = lambda c: F.element_at(F.col(c), (F.col("i") + 1).cast("int"))  # noqa: E731
    # Stage the hat row + window base as aliases (each evaluated once);
    # see _sg_dot_dynamic for why the unrolled CASE form must not be used
    # at w=25.
    hmat = F.array(*[F.array(*[F.lit(v) for v in row]) for row in H25])
    r25, b25 = _sg_rowbase_cols(25, F.col("i"), F.size("arr"))
    ex = ex.withColumns(
        {"_hrow": F.element_at(hmat, (r25 + 1).cast("int")), "_b": b25}
    )
    smoothed = F.when(
        F.size("arr") < 25, F.element_at("arr", (F.col("i") + 1).cast("int"))
    ).otherwise(_sg_dot_dynamic(F.col("_hrow"), F.col("arr"), F.col("_b"), 25))
    return ex.join(eq, "user_id").select(
        "user_id",
        "event_id",
        F.round(at("los"), 6).alias("lo"),
        F.round(at("his"), 6).alias("hi"),
        F.round(smoothed, 6).alias("center"),
        F.round(at("sizes"), 6).alias("size"),
        F.round("size_eq", 6).alias("size_eq"),
    )


# ---------------------------------------------------------------------------
# S9 — tumbling windows (volume envelope, dpl/wav2vec/inference.py:94-106)
# ---------------------------------------------------------------------------


@register(
    "s9_tumbling_volume",
    oracle="""
    SELECT user_id,
           CAST(floor(event_id / 50) AS BIGINT) AS block,
           round(avg(abs(value)), 6) AS volume,
           count(*) AS n_samples
    FROM events
    GROUP BY 1, 2
    """,
)
def s9_tumbling_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume envelope: mean |amp| per fixed-count block
    (dpl/wav2vec/inference.py:94-106) → floor-bucketed groupBy."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id",
        F.floor(F.col("event_id") / 50).cast("bigint").alias("block"),
    ).agg(
        F.round(F.avg(F.abs("value")), 6).alias("volume"),
        F.count(F.lit(1)).alias("n_samples"),
    )


@register(
    "s9_tumbling_hourly",
    oracle="""
    SELECT event_type,
           date_trunc('hour', ts) AS hour_ts,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def s9_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based tumbling window (the streaming `window()` analog in batch)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Running / cumulative + lag-delta surface (general window coverage)
# ---------------------------------------------------------------------------


@register(
    "running_sum_per_user",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
             AS frame_idx
    FROM events WHERE event_type = 'purchase'
    """,
)
def running_sum_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum + frame index assignment (the engine's ordinal frame_idx
    derivation for frame-grain tables, SURVEY §1.4)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 4
        ).alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("frame_idx"),
    )


@register(
    "lag_delta_per_user",
    oracle="""
    SELECT user_id, event_id,
           round(value - lag(value, 1) OVER w, 6) AS delta,
           CAST(date_diff('second', lag(ts, 1) OVER w, ts) AS BIGINT) AS gap_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def lag_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-to-frame delta (lag) + inter-event gap in whole seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    prev_ts = F.lag("ts", 1).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
        ).cast("bigint").alias("gap_s"),
    )


# ---------------------------------------------------------------------------
# S6/N23 EXACT edge-replicated sliding mean (as_windowed, utils.py:68-98 +
# average_features, h5.py:235-237). Spark's shrinking frames differ at the
# edges; the reference pads (w - w//2, w//2) by edge REPLICATION. Collected
# per-key arrays + clamped indexing reproduce that bit-for-bit — and the
# DuckDB oracle does the identical clamped fold.
# ---------------------------------------------------------------------------

_N23_W = 16


@register(
    "n23_window_mean_edgepad",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             list(value ORDER BY event_id) AS arr,
             list(event_id ORDER BY event_id) AS ids
      FROM events
      GROUP BY user_id
    ),
    idx AS (
      SELECT user_id, arr, ids, CAST(unnest(range(0, len(arr))) AS BIGINT) AS i
      FROM per_user
    )
    SELECT user_id,
           ids[CAST(i AS INT) + 1] AS event_id,
           round(list_sum(list_transform(range({-(_N23_W - _N23_W // 2)}, {_N23_W // 2}),
                 k -> arr[CAST(least(greatest(i + k, 0), len(arr) - 1) AS INT) + 1]))
                 / {_N23_W}.0, 6) AS win_mean
    FROM idx
    """,
)
def n23_window_mean_edgepad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT reference sliding mean, edge-replicated: window i averages
    original indices [i-(w-w//2), i+w//2) with indices clamped into range
    (np.pad mode='edge'), w=16 — N23's feature averaging. Implementation:
    per-key collected array (one shuffle) + clamped element_at fold per
    position. Spark Window frames shrink at partition edges and cannot
    express replication; the array form can, and stays O(n·w) per key."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("event_id", "value"))).alias("_pairs")
    )
    lo, hi = -(_N23_W - _N23_W // 2), _N23_W // 2 - 1
    arrs = per_user.select(
        "user_id",
        F.transform("_pairs", lambda p: p["value"]).alias("arr"),
        F.transform("_pairs", lambda p: p["event_id"]).alias("ids"),
    )
    exploded = arrs.select(
        "user_id", "arr", F.posexplode("ids").alias("i", "event_id")
    )
    n = F.size("arr")
    win_sum = F.aggregate(
        F.sequence(F.lit(lo), F.lit(hi)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.element_at(
            F.col("arr"),
            (F.least(F.greatest(F.col("i") + k, F.lit(0)), n - 1) + 1).cast("int"),
        ),
    )
    return exploded.select(
        "user_id",
        "event_id",
        F.round(win_sum / _N23_W, 6).alias("win_mean"),
    )


# ---------------------------------------------------------------------------
# S8 EXACT savgol (w=7, o=3) WITH edge refit — oracle-matched.
# The 'interp' edge handling is a fixed linear map: smoothed[i] is a dot
# product of hat-matrix row coefficients with the first/last w samples
# (polyfit+polyval == applying the least-squares projector). Both engines
# evaluate the SAME literal coefficients in the same order, so the edge
# polynomial refit — "non-SQL-expressible" as a window frame — becomes an
# exact SQL expression over per-key collected arrays.
# ---------------------------------------------------------------------------



@register("s8_savgol_exact_w7", oracle=_savgol_exact_oracle(_SG_H))
def s8_savgol_exact_w7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact savgol(7,3) INCLUDING the polynomial edge refit, as pure SQL:
    per-key collected series + per-position hat-matrix dot products
    (utils S8; emoca.py:91-97 pose smoothing uses w=7). One shuffle
    (the groupBy), then codegen-resident arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("event_id", "value"))).alias("_p")
    )
    arrs = per_user.select(
        "user_id",
        F.transform("_p", lambda p: p["value"]).alias("arr"),
        F.transform("_p", lambda p: p["event_id"]).alias("ids"),
    )
    ex = arrs.select("user_id", "arr", F.posexplode("ids").alias("i", "event_id"))
    expr = _sg_case_col(_SG_H, F.col("arr"), F.col("i"), F.size("arr"))
    return ex.select("user_id", "event_id", F.round(expr, 6).alias("smoothed"))
