"""Counter-rate rollup: per-tier increase rate of a monotone counter
channel with reset detection (the PromQL ``rate()`` semantics,
re-expressed as one window pass + one aggregation — SURVEY.md §2.9's
continuous-aggregate family applied to counter-typed channels such as
cumulative token counts or tool-call totals).

Counters reset to ~0 when a process restarts; a naive ``max - min`` per
bucket under-counts across resets and a naive delta sum goes negative.
The standard correction: per consecutive pair, the increase is
``y - lag(y)`` when non-negative, else ``y`` (the counter restarted —
everything since the reset counts). Summing corrected increases per
bucket and dividing by the bucket's span gives increase/sec.

Plan shape: one window exchange on (conv_id, channel) — already the
series' natural layout, elided on a bucketed table — then one hash
aggregation with map-side partials. No UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.exact import require_int
from cesium_spark.operators.rollup import tier_span_s, tier_window


def counter_rate(series: DataFrame, tier: str,
                 grid: int | None = None) -> DataFrame:
    """Returns (conv_id, channel, bucket, increase, rate_per_s,
    n_resets, n). First point of each series has no predecessor and
    contributes nothing (PromQL parity: rate needs >= 2 points).

    ``grid``: when the value channel sits on a 1/grid lattice (e.g.
    grid=100 for cent-valued counters), increments are computed and
    summed as exact int64 lattice units and divided back to seconds
    ONCE at the end — the §4.3 exact-sufficient-statistics discipline
    (welch/allan precedent), making the aggregate independent of
    partition count and shuffle order at the bit level. ``None`` keeps
    the native float sum for off-grid values; ValueError for the
    calendar tiers, whose buckets have no fixed span to divide by.
    """
    span = F.lit(tier_span_s(tier))
    w = Window.partitionBy("conv_id", "channel").orderBy("t", "turn_idx")
    if grid is not None:
        yc = F.round(F.col("y") * F.lit(float(grid))).cast("long")
        prev = F.lag(yc).over(w)
        inc = F.when(prev.isNull(), F.lit(None)) \
               .when(yc >= prev, yc - prev) \
               .otherwise(yc)
        reset = (prev.isNotNull() & (yc < prev)).cast("long")
        g = F.lit(float(grid))
        increase = F.sum("__inc").cast("double") / g
        rate = F.sum("__inc").cast("double") / g / span
    else:
        prev = F.lag("y").over(w)
        inc = F.when(prev.isNull(), F.lit(None)) \
               .when(F.col("y") >= prev, F.col("y") - prev) \
               .otherwise(F.col("y"))
        reset = (prev.isNotNull() & (F.col("y") < prev)).cast("long")
        increase = F.sum("__inc")
        rate = F.sum("__inc") / span
    return (
        series
        .withColumn("bucket", tier_window("ts", tier))
        .withColumn("__inc", inc)
        .withColumn("__reset", reset)
        .groupBy("conv_id", "channel", "bucket")
        .agg(
            increase.alias("increase"),
            rate.alias("rate_per_s"),
            F.sum("__reset").alias("n_resets"),
            F.count("__inc").alias("n"),
        )
        # buckets whose only point is a series head carry no rate info
        .where(F.col("n") > 0)
    )


def time_weighted_avg(series: DataFrame, tier: str,
                      method: str = "locf") -> DataFrame:
    """Time-weighted average per (conv_id, channel, tier bucket) over
    irregularly-sampled points — the TimescaleDB ``time_weight()``
    semantics (SURVEY.md §2.9 continuous-aggregate family). A plain
    ``avg(y)`` over-weights burst periods; the time-weighted form
    integrates y over the observed span and divides by its length, so
    a turn-latency series sampled 100×/s during a tool storm and
    1×/min while idle still averages to the true duty cycle.

    ``method='locf'``: each point's value holds until the next sample
    (step integral, Σ yᵢ·(tᵢ₊₁−tᵢ)). ``method='linear'``: trapezoid
    (Σ (yᵢ+yᵢ₊₁)/2·(tᵢ₊₁−tᵢ)). Integration covers [t_first, t_last]
    WITHIN the bucket (observed span only — no extrapolation to bucket
    edges); a single-point or zero-span bucket returns that point's
    value (first by (t, turn_idx) order) with span_s = 0.

    Plan shape: ONE hash exchange — the lead() window partitions by the
    full (conv_id, channel, bucket) key, so the following aggregation
    on the same key reuses the partitioning (exchange elided; the only
    extra cost vs a plain rollup is the in-partition sort). No UDF.
    Rows with NULL y are dropped up front (an integral over NULL is
    undefined; gap-fill first if NULLs are meaningful).
    """
    bucket = tier_window("ts", tier)
    if method not in ("locf", "linear"):
        raise ValueError(f"method must be 'locf' or 'linear', got {method!r}")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .withColumn("bucket", bucket))
    w = (Window.partitionBy("conv_id", "channel", "bucket")
         .orderBy("t", "turn_idx"))
    nxt_t = F.lead("t").over(w)
    dt = nxt_t - F.col("t")
    if method == "locf":
        seg = F.col("y") * dt
    else:
        seg = (F.col("y") + F.lead("y").over(w)) / 2.0 * dt
    okey = F.struct(F.col("t"), F.col("turn_idx"))
    return (
        s.withColumn("__seg", seg)
        .groupBy("conv_id", "channel", "bucket")
        .agg(
            F.sum("__seg").alias("__integral"),
            (F.max("t") - F.min("t")).alias("span_s"),
            F.min_by("y", okey).alias("__y_first"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "twa",
            F.when(F.col("span_s") > 0,
                   F.col("__integral") / F.col("span_s"))
            .otherwise(F.col("__y_first")))
        .select("conv_id", "channel", "bucket", "twa", "span_s", "n")
    )


def gauge_delta(series: DataFrame, tier: str) -> DataFrame:
    """PromQL ``delta()`` for gauges: last − first value per (conv_id,
    channel, tier bucket), plus idelta (the last adjacent difference in
    the bucket) — the gauge twin of ``counter_rate`` (no reset
    handling: a gauge moving down is signal, not a counter reset).

    One hash exchange: the lag window and the bucket aggregation both
    key on supersets of (conv_id, channel); first/last are
    ``min_by``/``max_by`` over the (t, turn_idx) order struct —
    deterministic under ties, map-side partial, exactly restatable as
    SQL arg_min/arg_max. Single-point buckets emit delta = 0 and
    idelta NULL (no adjacent pair observed — NULL means undefined,
    never a fake 0; PromQL's extrapolating delta needs >= 2 points
    too, divergence documented: we report the in-bucket observed
    delta, not an extrapolation to bucket edges).
    """
    bucket = tier_window("ts", tier)
    w = Window.partitionBy("conv_id", "channel").orderBy("t", "turn_idx")
    prev = F.lag("y").over(w)
    prev_ts = F.lag("ts").over(w)
    ordk = F.struct(F.col("t"), F.col("turn_idx"))
    return (
        series
        .withColumn("bucket", bucket)
        # an adjacent pair only counts when BOTH its points are in this
        # bucket — otherwise a single-point bucket would report a
        # cross-boundary idelta it doesn't own
        .withColumn("__adj", F.when(
            tier_window(prev_ts, tier) == F.col("bucket"),
            F.col("y") - prev))
        .groupBy("conv_id", "channel", "bucket")
        .agg(
            (F.max_by("y", ordk) - F.min_by("y", ordk)).alias("delta"),
            # last IN-BUCKET adjacent pair: rows without one get a NULL
            # order key, which max_by ignores — so a trailing
            # boundary-crossing point can't shadow an earlier real pair
            F.max_by("__adj", F.when(F.col("__adj").isNotNull(), ordk))
            .alias("idelta"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def leaky_bucket(series: DataFrame, rate_num: int, rate_den: int,
                 burst: int) -> DataFrame:
    """Leaky-bucket / single-server queue replay per conversation —
    "which conversations would hit a rate limit of rate_num/rate_den
    requests per second with burst headroom ``burst``?"  The Lindley
    recursion q_t = max(0, q_{t−1} + 1 − r·Δt) needs no recursion
    (the cusum insight): with increments a_i = 1 − r·Δt_i,

        q_t = S_t − min(0, min_{j≤t} S_j),   S_t = Σ_{i≤t} a_i,

    a running sum minus a running min.  EXACT integer arithmetic by
    clearing denominators: the rate enters as the RATIONAL
    rate_num/rate_den (never a float), so q_t·rate_den =
    Σ(rate_den − rate_num·Δt_i) is int64 and the throttle test
    q_t > burst compares integers (burst·rate_den) — no float exists
    anywhere in the operator.  Δt = the integer-second gap column
    ``y`` (the burstiness pre-grid contract; floats raise, negative
    gaps raise — time running backwards is corrupt input).  The first
    turn of a conversation has no gap (y NULL) and is charged a full
    burst-free arrival: its increment is rate_den (Δt treated as 0).

    Output per conversation: n, n_throttled (turns whose POST-arrival
    queue exceeds burst), max_queue ≈ max q (reported in EXACT
    rate_den units as max_queue_num plus the divided double),
    first_throttle (turn_idx or NULL).

    Plan: two prefix windows + one hash aggregate, conv-keyed → ONE
    exchange, no UDF, no join (the cusum plan).
    """
    for name, v in (("rate_num", rate_num), ("rate_den", rate_den),
                    ("burst", burst)):
        if not isinstance(v, int) or v < 0 or (name != "burst" and v <= 0):
            raise ValueError(f"leaky_bucket: {name} must be a "
                             f"{'non-negative' if name == 'burst' else 'positive'} "
                             f"int, got {v!r}")
    require_int(series, "leaky_bucket", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.coalesce(F.col("y").cast("long"), F.lit(0))
    checked = F.when(
        gap < 0,
        F.expr("raise_error('leaky_bucket: negative gap — time runs "
               "backwards in the input')").cast("long")).otherwise(gap)
    inc = F.lit(rate_den) - F.lit(rate_num) * checked
    s = series.select("conv_id", "turn_idx",
                      F.sum(inc).over(w_run).alias("__s"))
    q = (F.col("__s")
         - F.least(F.min("__s").over(w_run), F.lit(0)))
    s = s.select("conv_id", "turn_idx", q.alias("__q"))
    thr = F.lit(burst * rate_den)
    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__q") > thr, 1).otherwise(0))
        .alias("n_throttled"),
        F.max("__q").alias("max_queue_num"),
        F.min(F.when(F.col("__q") > thr, F.col("turn_idx")))
        .alias("first_throttle"))
    return g.select(
        "conv_id", "n",
        F.col("n_throttled").cast("long").alias("n_throttled"),
        F.col("max_queue_num").cast("long").alias("max_queue_num"),
        (F.col("max_queue_num").cast("double")
         / F.lit(float(rate_den))).alias("max_queue"),
        F.col("first_throttle").cast("int").alias("first_throttle"))
