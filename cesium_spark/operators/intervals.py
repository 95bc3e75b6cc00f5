"""Time-interval operators: range-based rolling aggregates, interval
containment join, heartbeat/uptime aggregation, time-in-state
accounting, and CUSUM changepoint detection — the time-window family
SURVEY.md §2.9 mandates around the retention tiers (trailing-window
stats a dashboard reads next to the bucketed rollups; outage and
state-duration accounting; drift alarms).

All five are pure native expressions (codegen end-to-end, no UDF):

* ``rolling_window`` — per-point trailing-``span_s`` mean/min/max/count
  over a RANGE frame keyed on integer milliseconds. One hash exchange
  on (conv_id, channel) — the series' natural layout, elided when the
  input is already bucketed that way.
* ``interval_join`` — points-in-intervals containment join WITHOUT a
  cartesian: intervals explode to the fixed-width time buckets they
  overlap (``F.sequence``, bounded by ``max_span_s``), the join is an
  equi-join on (keys…, bucket) — broadcastable when the interval side
  is small — and the exact ``lo <= ts < hi`` predicate refines. Each
  point lives in exactly ONE bucket, so a qualifying pair appears
  exactly once: no post-join dedup shuffle.
* ``heartbeat_uptime`` — TimescaleDB ``heartbeat_agg`` semantics: a
  series is "live" for ``min(gap, heartbeat_s)`` after each point;
  summed per retention-tier bucket of the EARLIER point (deterministic
  bucket attribution, exactly restatable in SQL). One window exchange.
* ``state_agg`` — TimescaleDB ``state_agg`` semantics: wall seconds
  spent in each state (role/tool/status) per (conv, tier bucket), the
  span attributed to the earlier turn's bucket and state. One window
  exchange + one hash agg with map-side partials.
* ``cusum_changepoints`` — two-sided CUSUM drift alarm. The textbook
  recursion S_i = max(0, S_{i-1} + z_i - k) is not a plain window
  aggregate, but it equals ``C_i - min_{j<=i} C_j`` for the prefix sum
  C of (z - k) — running max-of-0 is prefix-sum minus running-min — so
  both sides compile to two stacked window functions over ONE exchange,
  no UDF, no recursion, and the identical arithmetic replays in any
  SQL engine.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import tier_window


def rolling_window(series: DataFrame, span_s: float) -> DataFrame:
    """Per-point trailing-window stats: for each series point, the
    mean/min/max/count of ``y`` over ``[t - span_s, t]`` (inclusive
    both ends — RANGE frame semantics) within the same (conv_id,
    channel).

    The frame is keyed on ``tms = round(t * 1000)`` (integer
    milliseconds) so the boundary arithmetic is exact integer
    comparison — a double-keyed RANGE frame would make inclusion of a
    point sitting exactly ``span_s`` back depend on float rounding.
    Ties in ``tms`` are RANGE peers (all included), so the result is
    partitioning- and intra-tie-order-independent.
    """
    if span_s <= 0:
        raise ValueError(f"span_s must be positive, got {span_s}")
    span_ms = int(round(span_s * 1000))
    # floor(x·1e3 + 0.5) instead of round(): Spark's round is
    # exact-decimal HALF_UP while most engines round doubles in float —
    # the floor form is the same fp op everywhere, so the frame's
    # integer key (and therefore point inclusion at the exact span
    # boundary) is engine-independent (EWMA/gapfill-interp precedent)
    out = series.withColumn(
        "tms", F.floor(F.col("t") * 1000 + F.lit(0.5)).cast("long"))
    w = (Window.partitionBy("conv_id", "channel")
         .orderBy("tms").rangeBetween(-span_ms, 0))
    return out.select(
        "conv_id", "channel", "turn_idx", "ts", "t", "y",
        F.avg("y").over(w).alias("roll_mean"),
        F.min("y").over(w).alias("roll_min"),
        F.max("y").over(w).alias("roll_max"),
        F.count("y").over(w).alias("roll_n"),
    )


def interval_join(points: DataFrame, intervals: DataFrame,
                  keys: Sequence[str] = (), ts_col: str = "ts",
                  lo_col: str = "lo", hi_col: str = "hi",
                  bucket_s: int = 3600,
                  max_span_s: int | None = 7 * 86400,
                  broadcast_intervals: bool = True) -> DataFrame:
    """Containment join: every (point, interval) pair with
    ``lo <= ts < hi`` (half-open, the convention every windowing op in
    this engine uses), equi-keyed on ``keys`` first.

    Spark has no range-join optimizer rule in OSS; a naive
    ``JOIN ON ts BETWEEN lo AND hi`` plans as BroadcastNestedLoopJoin
    (every point tests every interval — quadratic at 10^12 turns). The
    standard decomposition: quantize time into ``bucket_s``-wide
    buckets, explode each interval to the buckets it overlaps (bounded
    by ``max_span_s`` — a runaway open interval raises instead of
    exploding 10^6 rows), equi-join on (keys…, bucket), refine with the
    exact predicate. A point has exactly one bucket so no duplicate
    pairs arise. Interval-side blowup = span/bucket_s rows per
    interval — pick bucket_s near the median span.

    With ``broadcast_intervals`` (the common shape: few thousand
    incident/maintenance windows vs 10^12 points) the exploded interval
    side broadcasts and the point side NEVER shuffles.
    """
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be positive, got {bucket_s}")
    lo_s = F.col(lo_col).cast("double")
    hi_s = F.col(hi_col).cast("double")
    b = F.lit(int(bucket_s))
    # hi is exclusive: an interval ending exactly on a bucket edge does
    # not cover that bucket. The span guard is woven INTO the sequence
    # bound (not a separate dropped column, which column pruning would
    # silently optimize away): a runaway open interval raises instead
    # of exploding millions of bucket rows.
    end_bucket = F.floor((hi_s - F.lit(1e-9)) / b)
    if max_span_s is not None:
        end_bucket = F.when(
            hi_s - lo_s > F.lit(float(max_span_s)),
            F.raise_error(F.concat(
                F.lit(f"interval span exceeds max_span_s={max_span_s}: "),
                (hi_s - lo_s).cast("string"), F.lit(" s"))).cast("long")
        ).otherwise(end_bucket)
    ivals = intervals.withColumn(
        "__bucket", F.explode(F.sequence(F.floor(lo_s / b), end_bucket)))
    if broadcast_intervals:
        ivals = F.broadcast(ivals)
    pts = points.withColumn(
        "__bucket", F.floor(F.col(ts_col).cast("double") / b))
    cond = [pts["__bucket"] == ivals["__bucket"]]
    for k in keys:
        cond.append(pts[k] == ivals[k])
    joined = pts.join(ivals, cond, "inner").where(
        (pts[ts_col].cast("double") >= ivals[lo_col].cast("double"))
        & (pts[ts_col].cast("double") < ivals[hi_col].cast("double")))
    drop = [ivals["__bucket"], pts["__bucket"]] + [ivals[k] for k in keys]
    for c in drop:
        joined = joined.drop(c)
    return joined


def heartbeat_uptime(series: DataFrame, tier: str,
                     heartbeat_s: float,
                     t_grid: int | None = None) -> DataFrame:
    """Uptime accounting (TimescaleDB ``heartbeat_agg`` semantics): a
    series is considered live for ``min(gap_to_next, heartbeat_s)``
    seconds after each point (the final point contributes
    ``heartbeat_s`` of liveness — it has not yet been contradicted).
    Summed per (conv_id, channel, tier bucket) where the bucket is the
    EARLIER point's — gap time is attributed where the gap started,
    deterministic and exactly restatable in SQL without splitting a
    gap across buckets.

    Returns (conv_id, channel, bucket, live_s, dead_s, n_beats,
    n_gaps): ``dead_s`` is observed span minus live time (clamped at
    0 per pair), ``n_gaps`` counts pairs whose gap exceeded the
    heartbeat. One window exchange on the series' natural key, then
    one hash aggregation with map-side partials.

    ``t_grid``: when ``t`` is timestamp-derived it sits exactly on the
    1/t_grid-second lattice (t_grid=1_000_000 for µs-precision
    timestamps); live/dead spans are then computed and summed as exact
    int64 lattice units and divided back to seconds ONCE — the §4.3
    exact-sufficient-statistics discipline, bit-stable across any
    partition count / shuffle order. ``None`` keeps the float sum for
    off-grid ``t``.
    """
    bucket = tier_window("ts", tier)
    if heartbeat_s <= 0:
        raise ValueError(f"heartbeat_s must be positive, got {heartbeat_s}")
    w = Window.partitionBy("conv_id", "channel").orderBy("t", "turn_idx")
    if t_grid is not None:
        g = float(t_grid)
        tc = F.round(F.col("t") * F.lit(g)).cast("long")
        gap = F.lead(tc).over(w) - tc
        hb = F.lit(int(round(heartbeat_s * g)))
        live = F.when(gap.isNull(), hb).otherwise(F.least(gap, hb))
        dead = F.when(gap.isNull(), F.lit(0)) \
                .otherwise(F.greatest(gap - hb, F.lit(0)))
        live_s = F.sum("__live").cast("double") / F.lit(g)
        dead_s = F.sum("__dead").cast("double") / F.lit(g)
    else:
        gap = F.lead("t").over(w) - F.col("t")
        hb = F.lit(float(heartbeat_s))
        live = F.when(gap.isNull(), hb).otherwise(F.least(gap, hb))
        dead = F.when(gap.isNull(), F.lit(0.0)) \
                .otherwise(F.greatest(gap - hb, F.lit(0.0)))
        live_s = F.sum("__live")
        dead_s = F.sum("__dead")
    return (
        series
        .withColumn("bucket", bucket)
        .withColumn("__live", live)
        .withColumn("__dead", dead)
        .withColumn("__gapped", (gap > hb).cast("long"))
        .groupBy("conv_id", "channel", "bucket")
        .agg(live_s.alias("live_s"),
             dead_s.alias("dead_s"),
             F.count(F.lit(1)).alias("n_beats"),
             F.coalesce(F.sum("__gapped"), F.lit(0)).alias("n_gaps"))
    )


def cusum_changepoints(series: DataFrame, k: float = 0.5,
                       h: float = 5.0,
                       grid_dp: int | None = None) -> DataFrame:
    """Two-sided standardized CUSUM drift detector per (conv_id,
    channel): z_i = (y_i - mean)/std over the whole series (population
    std; a zero-variance series has no changepoints by definition and
    is dropped), then

        S⁺_i = max(0, S⁺_{i-1} + z_i - k)
        S⁻_i = max(0, S⁻_{i-1} - z_i - k)

    flagged when either exceeds ``h`` (Page 1954 tabular CUSUM;
    k = slack in σ units, h = decision threshold). The recursion is
    computed WITHOUT a recursion: for the prefix sum C_i of (z - k),
    ``S⁺_i = C_i - min_{j<=i} C_j`` (and symmetrically for S⁻) — the
    running-floor identity turns max(0, ·) chains into two stacked
    window aggregates. Plan: one hash exchange on (conv_id, channel);
    the per-series mean/std come from an unbounded frame over the SAME
    partitioning, so Catalyst reuses the sort — no second shuffle, and
    the identical arithmetic replays in the DuckDB oracle.

    Returns only the flagged points: (conv_id, channel, turn_idx, ts,
    t, y, s_pos, s_neg) ordered upstream of any sink by (conv_id,
    channel, t, turn_idx).

    ``grid_dp`` snaps S to a 10^-dp grid — the same
    ``floor(x·10^dp + 0.5)/10^dp`` float op in any engine — BEFORE the
    threshold compare, so alarm membership cannot flip on the ~1e-12
    cross-engine drift a long prefix sum accumulates (two identical
    jobs, or the engine vs an audit replay, must flag the SAME rows).
    """
    if k < 0 or h <= 0:
        raise ValueError(f"need k >= 0 and h > 0, got k={k} h={h}")
    part = Window.partitionBy("conv_id", "channel")
    full = part.orderBy("t", "turn_idx") \
               .rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    cum = part.orderBy("t", "turn_idx") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mean = F.avg("y").over(full)
    std = F.stddev_pop("y").over(full)
    z = (F.col("y") - mean) / std
    stepped = (
        series
        .withColumn("__std", std)
        .where(F.col("__std") > 0)
        .withColumn("__cp", (z - F.lit(float(k))))
        .withColumn("__cn", (-z - F.lit(float(k))))
        .withColumn("__Cp", F.sum("__cp").over(cum))
        .withColumn("__Cn", F.sum("__cn").over(cum))
        # running floor includes the current row, so S >= 0 by
        # construction; min over [start, i] of the prefix sum, with an
        # implicit 0 floor for the empty prefix (C_0 = 0)
        .withColumn("s_pos", F.col("__Cp")
                    - F.least(F.lit(0.0), F.min("__Cp").over(cum)))
        .withColumn("s_neg", F.col("__Cn")
                    - F.least(F.lit(0.0), F.min("__Cn").over(cum)))
    )
    if grid_dp is not None:
        scale = float(10 ** grid_dp)
        snap = lambda c: F.floor(c * scale + F.lit(0.5)) / scale  # noqa: E731
        stepped = stepped.withColumn("s_pos", snap(F.col("s_pos"))) \
                         .withColumn("s_neg", snap(F.col("s_neg")))
    return (stepped
            .where((F.col("s_pos") > h) | (F.col("s_neg") > h))
            .select("conv_id", "channel", "turn_idx", "ts", "t", "y",
                    "s_pos", "s_neg"))


def state_agg(turns: DataFrame, state_col: str, tier: str,
              key: str = "conv_id", ts_col: str = "ts",
              order_col: str = "turn_idx",
              t_grid: int | None = None) -> DataFrame:
    """Time-in-state accounting (TimescaleDB ``state_agg`` semantics):
    each turn holds its state (role, tool, status, …) until the next
    turn in the same conversation; wall seconds per state are summed
    per (key, tier bucket). The natural transcript question — "how
    much wall-clock did this conversation spend in role=assistant vs
    waiting on tools, per day?".

    Attribution follows the ``heartbeat_uptime`` convention: a
    turn→next-turn span is attributed whole to the EARLIER turn's
    bucket and state (deterministic, exactly restatable in SQL — no
    interval fragmentation across bucket edges), and the final turn of
    a conversation contributes 0 seconds (its state has no observed
    end) but still counts in ``n_turns``.

    Returns (key, bucket, state, dur_s, n_turns, n_closed) where
    ``n_closed`` counts spans with an observed end. Plan: one window
    exchange on ``key`` (lead over the conversation order) + one hash
    aggregation with map-side partials on (key, bucket, state) — the
    shuffle carries one row per observed (key, bucket, state), never
    raw turns twice. NULL states are kept as a real group (a missing
    role is an observation, not a row to lose).

    ``t_grid``: as in ``heartbeat_uptime`` — timestamps sit exactly on
    the 1/t_grid-second lattice (1_000_000 for µs precision), so spans
    sum as exact int64 lattice units with one terminal division.
    """
    bucket = tier_window(ts_col, tier)
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    if t_grid is not None:
        g = float(t_grid)
        tc = F.round(F.col(ts_col).cast("double") * F.lit(g)).cast("long")
        nxt = F.lead(tc).over(w)
        dur = F.coalesce(nxt - tc, F.lit(0))
        dur_s = F.sum("__dur").cast("double") / F.lit(g)
    else:
        nxt = F.lead(F.col(ts_col).cast("double")).over(w)
        dur = F.coalesce(nxt - F.col(ts_col).cast("double"), F.lit(0.0))
        dur_s = F.sum("__dur")
    return (
        turns
        .withColumn("bucket", bucket)
        .withColumn("__dur", dur)
        .withColumn("__closed", nxt.isNotNull().cast("long"))
        .groupBy(key, "bucket", F.col(state_col).alias("state"))
        .agg(dur_s.alias("dur_s"),
             F.count(F.lit(1)).alias("n_turns"),
             F.sum("__closed").alias("n_closed"))
    )


ROLLQ_SCHEMA = ("conv_id string, channel string, turn_idx long, "
                "t double, y double, roll_q double")


def rolling_quantile(series: DataFrame, q: float,
                     window_rows: int) -> DataFrame:
    """Trailing rolling quantile per point: the linearly-interpolated
    q-quantile of the last ``window_rows`` rows (shrinking at the
    series head) within (conv_id, channel) — the rolling-p95-latency
    every dashboard draws next to `rolling_window`'s mean/min/max.
    Spark has no quantile window function (percentile over a moving
    frame recomputes a full sort per row JVM-side and
    ``percentile_approx`` has rank error), so the kernel is the
    `hampel` shape: one hash exchange into ``applyInPandas``, interior
    windows via ONE ``sliding_window_view`` + ``np.quantile`` over the
    window axis (vectorized, O(n·w log w) per series), the < w head
    windows handled explicitly to match the SQL ROWS frame.

    ``np.quantile(method='linear')`` computes the same
    ``x[floor(h)] + (h−floor(h))·(x[ceil(h)]−x[floor(h)])`` order-
    statistic interpolation as SQL ``quantile_cont`` — order stats on
    identical window contents, so values agree to the last few ulp and
    a 6-dp round is stable (the exact-quantile precedent of
    ``rollup_quantiles``).
    """
    if not (0.0 <= q <= 1.0):
        raise ValueError(f"q must be in [0, 1], got {q}")
    if window_rows < 2:
        raise ValueError(f"window_rows must be >= 2, got {window_rows}")
    import numpy as np

    w = int(window_rows)

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        y = pdf["y"].to_numpy(dtype=np.float64)
        n = len(y)
        out = np.empty(n)
        head = min(w - 1, n)
        for i in range(head):          # shrunk head windows
            out[i] = np.quantile(y[:i + 1], q, method="linear")
        if n >= w:
            win = np.lib.stride_tricks.sliding_window_view(y, w)
            out[w - 1:] = np.quantile(win, q, axis=1, method="linear")
        pdf["roll_q"] = out
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, ROLLQ_SCHEMA)
    )

def peak_concurrency(transcripts: DataFrame, tier: str = "1h",
                     bucket_s: int = 86400,
                     max_span_s: int | None = 90 * 86400) -> DataFrame:
    """Sweep-line peak concurrency per tier window: how many
    conversations are simultaneously open — the capacity/serving
    metric (max sessions in flight) a naive per-window count of
    *touching* conversations overstates and a count of *starting*
    ones understates.

    Sweep-line identity: with closed spans [first ts, last ts],
    instantaneous concurrency only increases at a span START, so
    every local maximum is attained at some start instant. The
    concurrency AT each start = number of spans containing it — a
    containment self-join, computed through the engine's bucketed
    ``interval_join`` (equi-join on time buckets + exact refine;
    never a BroadcastNestedLoopJoin). Per window this reports
    ``n_starts`` and ``peak_concurrency`` = max over the window's
    start instants; windows with no conversation start carry no row
    (their concurrency is inherited from earlier starts and is
    bounded by an earlier window's reported peak — the GLOBAL peak is
    always reported exactly).

    Closed-span containment rides the half-open interval_join by
    shifting hi one microsecond (the timestamp resolution): lo ≤ t <
    hi+1µs  ⟺  lo ≤ t ≤ hi. Zero-duration (single-turn)
    conversations therefore count themselves — concurrency ≥ 1.

    Scale: the span table is conversation-sized (one aggregate off
    the scan); explode = span/bucket_s rows per span, guarded by
    ``max_span_s``; the join is a hash equi-join on the bucket.
    """
    window = tier_window("ts", tier)
    spans = (transcripts.groupBy("conv_id")
             .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
             .withColumn("hi_x", F.expr(
                 "hi + INTERVAL 1 MICROSECOND")))
    # the point side is a SEPARATE aggregate over the input, not a
    # projection of `spans` — a same-lineage self-join makes Spark's
    # analyzer reject the containment predicate as ambiguous (both
    # sides carry the same `lo` attribute id). Costs one extra scan
    # of the (conversation-sized) aggregate input, buys an
    # unambiguous plan.
    points = (transcripts.groupBy("conv_id")
              .agg(F.min("ts").alias("ts"))
              .select(F.col("conv_id").alias("start_conv"), "ts"))
    pairs = interval_join(points,
                          spans.select("conv_id", "lo",
                                       F.col("hi_x").alias("hi")),
                          bucket_s=bucket_s, max_span_s=max_span_s,
                          broadcast_intervals=False)
    conc = (pairs.groupBy("start_conv", "ts")
            .agg(F.count(F.lit(1)).alias("conc")))
    return (conc
            .withColumn("window_start", window)
            .groupBy("window_start")
            .agg(F.count(F.lit(1)).cast("long").alias("n_starts"),
                 F.max("conc").cast("long").alias("peak_concurrency"))
            .withColumn("tier", F.lit(tier)))
