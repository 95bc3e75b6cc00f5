"""Series statistics per conversation: autocorrelation, changepoint,
rank, dispersion, tail and randomness tests over the same
per-conversation series the rollups consume (SURVEY.md §2.9 family;
cesium's periodicity features stay on the Lomb–Scargle path).

The exact-integer rule: an operator that promises bit-for-bit results
takes integer ``y``, forms exact int64 sums and makes one division at
the end, in a fixed double tree its oracle restates verbatim.  The
shared pieces of that rule live in ``operators/exact.py``:
``require_int`` (the input check), ``acf_sums`` (the ACF numerators
behind pacf3, hac_mean_se, dominant_lag, ljung_box, spectral_entropy
and ess_acf), ``midrank2`` (the integer 2·mid-rank behind pettitt,
spearman_channels, kruskal_wallis, dunn_posthoc and
wilcoxon_signed_rank) and ``ties`` (the tie-block size behind the
midrank and the tie masses).

Operators are windows and aggregates keyed by the conversation (the
Mann–Kendall pair alone runs a grouped pandas kernel); each docstring
states its hash-exchange count, and tests/test_plan_shapes.py pins
those counts against the executed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.exact import (acf_sums, midrank2, require_int,
                                          ties)


def acf(series: DataFrame, max_lag: int) -> DataFrame:
    """Sample autocorrelation per (conv_id, channel) at turn lags
    1..max_lag — one row per series with columns ``acf_1..acf_K`` plus
    ``n``. Estimator: Pearson correlation of (yₜ, yₜ₋ₖ) pairs (the
    ``corr`` aggregate both Spark and DuckDB define identically with
    (n−1) normalization), computed over the lag-aligned pairs only.
    A constant series (zero variance) yields NULL, and so do series
    with fewer than lag+2 points — NULL means "undefined", never 0.
    Under ANSI mode (Spark 4 default) the built-in ``corr`` THROWS
    DIVIDE_BY_ZERO on those degenerate groups, so the ratio is spelled
    out as ``try_divide(covar_pop, σ·σ)`` over the pair-restricted
    columns — algebraically the same r (the pop/samp normalization
    cancels), but degenerate groups come back NULL instead of killing
    a 10^12-turn job because one conversation repeated itself.

    Plan: one window (K lag exprs over one sort) + one aggregation on
    the window's own partition key → ONE exchange, no join, no UDF.
    Lags are TURN lags (positional), the natural unit for transcript
    series; resample onto a regular grid first (gapfill) if wall-clock
    lags are wanted.
    """
    if not (1 <= max_lag <= 64):
        raise ValueError(f"max_lag must be in [1, 64], got {max_lag}")
    w = (Window.partitionBy("conv_id", "channel")
         .orderBy("t", "turn_idx"))
    s = series.where(F.col("y").isNotNull() & F.col("t").isNotNull())
    for k in range(1, max_lag + 1):
        s = s.withColumn(f"__lag{k}", F.lag("y", k).over(w))

    def _r(k: int):
        # pair-restricted Pearson: rows where the lag partner exists
        paired_y = f"CASE WHEN __lag{k} IS NOT NULL THEN y END"
        return F.expr(
            f"try_divide(covar_pop(y, __lag{k}), "
            f"stddev_pop({paired_y}) * stddev_pop(__lag{k}))")

    return (
        s.groupBy("conv_id", "channel")
        .agg(F.count(F.lit(1)).alias("n"),
             *[_r(k).alias(f"acf_{k}") for k in range(1, max_lag + 1)])
    )


def seasonal_zscore(series: DataFrame, threshold: float = 3.0,
                    season: str = "hour_of_day") -> DataFrame:
    """Seasonal-baseline anomaly scoring: each point's z-score against
    the mean/std of ITS OWN series restricted to the same seasonal slot
    (hour-of-day or day-of-week) — the "this conversation is loud for
    3 am" alert, robust to per-series level differences and daily
    rhythm. Returns the anomalous points (|z| > threshold) with the
    baseline that fired.

    Population std (ddof=0) over the slot; slots with zero variance or
    a single point yield no anomalies (z undefined → filtered, never
    ±inf). Baseline via windows partitioned by (conv_id, channel,
    slot) — no self-join, ONE exchange; the filter keeps the output
    tiny (anomalies only), so this composes as a cheap tail stage on
    a 10^12-turn scan.
    """
    slots = {"hour_of_day": F.hour("ts"), "day_of_week": F.dayofweek("ts")}
    if season not in slots:
        raise ValueError(f"season must be one of {sorted(slots)}")
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    s = (series
         .where(F.col("y").isNotNull())
         .withColumn("slot", slots[season]))
    w = Window.partitionBy("conv_id", "channel", "slot")
    mu = F.avg("y").over(w)
    sd = F.stddev_pop("y").over(w)
    return (
        s.withColumn("slot_mean", mu)
        .withColumn("slot_std", sd)
        .withColumn("slot_n", F.count(F.lit(1)).over(w))
        .withColumn("z", (F.col("y") - F.col("slot_mean"))
                    / F.col("slot_std"))
        .where((F.col("slot_std") > 0)
               & (F.abs(F.col("z")) > threshold))
        .select("conv_id", "channel", "turn_idx", "ts", "y",
                "slot", "slot_mean", "slot_std", "slot_n", "z")
    )


def channel_corr(series: DataFrame, ch_a: str, ch_b: str) -> DataFrame:
    """Cross-channel Pearson correlation per conversation: align the
    two channels on (conv_id, turn_idx) — both values of a pair come
    from the SAME turn — and correlate the aligned pairs. The
    multivariate question the single-channel features can't answer:
    "do long-latency turns carry more tokens in this conversation?".

    Turns present in only one channel are dropped (latency starts at
    turn 1, tokens at turn 0 — pairwise-complete semantics, the same
    rule ``corr()`` applies to NULLs). Degenerate groups (constant
    channel, < 2 pairs) return NULL via ``try_divide`` — under ANSI
    mode the built-in ``corr`` would THROW on a zero-variance group,
    and one monotone conversation must not kill a 10^12-turn job. The
    pop/samp normalization cancels in the ratio, so this IS Pearson r.

    Plan: two hash exchanges, both shrinking — the alignment agg keys
    on (conv_id, turn_idx) and its map-side partials collapse the
    channel rows to one row per turn, then the corr agg keys on
    conv_id over one row per turn. No join: alignment is conditional
    aggregation, so the channel table is scanned ONCE (a self-join
    alignment would scan twice and shuffle both copies).
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__ya"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__yb"))
        .where(F.col("__ya").isNotNull() & F.col("__yb").isNotNull())
    )
    return (
        aligned.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.expr("try_divide(covar_pop(__ya, __yb), "
                    "stddev_pop(__ya) * stddev_pop(__yb))").alias("r"),
             F.avg("__ya").alias("mean_a"),
             F.avg("__yb").alias("mean_b"))
    )


def classical_decompose(series: DataFrame, period: int) -> DataFrame:
    """Classical additive seasonal decomposition per (conv_id,
    channel) at turn-position period ``period`` (the
    statsmodels-``seasonal_decompose``/textbook method — the cheap
    deterministic sibling of STL, whose loess fits are neither
    SQL-restatable nor bit-stable):

    * ``trend``    — centered moving average over ``period`` rows
      (period must be ODD so the window is symmetric); NULL on the
      (period−1)/2 edge rows of each series — the classical method
      leaves edges undefined, and an honest NULL beats an
      edge-shrunken fake;
    * ``seasonal`` — per-slot (turn_idx mod period) mean of the
      detrended series, centered by the UNWEIGHTED mean of the slot
      means so the seasonal component sums to ~0 over one period
      (slot means weighted by row counts would double-count slots the
      trend's edge NULLs trimmed asymmetrically);
    * ``resid``    — y − trend − seasonal.

    Plan: every window — the centered MA on (conv, channel), the slot
    mean on (conv, channel, slot), the slot-dedup row_number and the
    centering mean back on (conv, channel) — partitions on a SUPERSET
    of the first exchange's (conv_id, channel) key, so the whole
    decomposition is ONE hash exchange, zero joins, zero UDFs, and
    replays exactly in any SQL engine.
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(
            f"period must be an odd integer >= 3, got {period}")
    half = (period - 1) // 2
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull()))
    order = (Window.partitionBy("conv_id", "channel")
             .orderBy("t", "turn_idx"))
    ma = order.rowsBetween(-half, half)
    s = (s
         .withColumn("__rn", F.row_number().over(order) - 1)
         .withColumn("__n", F.count(F.lit(1)).over(
             Window.partitionBy("conv_id", "channel")))
         .withColumn("slot", F.col("__rn") % period)
         .withColumn("trend", F.when(
             (F.col("__rn") >= half) & (F.col("__rn") < F.col("__n") - half),
             F.avg("y").over(ma)))
         .withColumn("__det", F.col("y") - F.col("trend")))
    slot_w = Window.partitionBy("conv_id", "channel", "slot")
    s = (s
         .withColumn("__slot_mean", F.avg("__det").over(slot_w))
         .withColumn("__slot_rn", F.row_number().over(
             slot_w.orderBy("t", "turn_idx"))))
    center_w = Window.partitionBy("conv_id", "channel")
    s = s.withColumn("__center", F.avg(
        F.when(F.col("__slot_rn") == 1, F.col("__slot_mean"))).over(center_w))
    return (s
            .withColumn("seasonal",
                        F.col("__slot_mean") - F.col("__center"))
            .withColumn("resid",
                        F.col("y") - F.col("trend") - F.col("seasonal"))
            .select("conv_id", "channel", "turn_idx", "ts", "t", "y",
                    "slot", "trend", "seasonal", "resid"))


def channel_xcorr(series: DataFrame, ch_a: str, ch_b: str,
                  max_lag: int) -> DataFrame:
    """Lagged cross-correlation per conversation: Pearson r of
    (a_t, b_{t+k}) for turn lags k = −max_lag..max_lag — the lead/lag
    question (`does token count LEAD latency by a turn?`) that the
    zero-lag ``channel_corr`` can't answer. ``r_pk`` = corr(a_t,
    b_{t+k}): a's present against b's FUTURE — high r_pk means a
    LEADS b by k turns; symmetrically high ``r_mk`` = corr(a_t,
    b_{t−k}) means b leads a.

    Alignment is the same one-scan conditional aggregation as
    ``channel_corr``; the shifted partners come from lead/lag windows
    over the aligned turn order, and every lag's correlation reduces
    in ONE aggregation pass (pair-restricted covar/σ per lag, NULL on
    degenerate lags via try_divide — ANSI-safe). Three exchanges, all
    shrinking: alignment (conv, turn) → shift window (conv) → the
    final agg reuses the window's partitioning.
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    if not (1 <= max_lag <= 32):
        raise ValueError(f"max_lag must be in [1, 32], got {max_lag}")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__ya"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__yb"))
        .where(F.col("__ya").isNotNull() & F.col("__yb").isNotNull())
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    for k in range(1, max_lag + 1):
        aligned = aligned.withColumn(f"__bp{k}", F.lead("__yb", k).over(w))
        aligned = aligned.withColumn(f"__bm{k}", F.lag("__yb", k).over(w))

    def _r_at(bcol: str):
        paired_a = f"CASE WHEN {bcol} IS NOT NULL THEN __ya END"
        return F.expr(
            f"try_divide(covar_pop(__ya, {bcol}), "
            f"stddev_pop({paired_a}) * stddev_pop({bcol}))")

    cols = [_r_at(f"__bm{k}").alias(f"r_m{k}")
            for k in range(max_lag, 0, -1)]
    cols.append(F.expr(
        "try_divide(covar_pop(__ya, __yb), "
        "stddev_pop(__ya) * stddev_pop(__yb))").alias("r_0"))
    cols += [_r_at(f"__bp{k}").alias(f"r_p{k}")
             for k in range(1, max_lag + 1)]
    return (aligned.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"), *cols))


def ar1_fit(series: DataFrame) -> DataFrame:
    """Yule–Walker AR(1) fit per (conv_id, channel): the cheapest
    parametric memory model for a transcript series — "how sticky is
    this conversation's latency?" — and the standard whitening step
    before anomaly scoring (an AR(1) residual z-score fires on real
    surprises instead of on autocorrelated drift).

    Estimator (classic lag-1 Yule–Walker, spelled out so the oracle
    can restate it term-for-term):

        ȳ     = avg(y)                       (whole series)
        φ̂     = Σ (yₜ−ȳ)(yₜ₋₁−ȳ) / Σ (yₜ−ȳ)²   (num over the n−1
                                              adjacent pairs, den over
                                              all n points — the
                                              |φ̂|≤1-biased-but-stable
                                              textbook form)
        c     = ȳ·(1−φ̂)                      (process intercept)
        σ²̂    = (1−φ̂²)·var_pop(y)            (innovation variance)
        ŷ₊₁   = ȳ + φ̂·(y_last − ȳ)           (one-step forecast)

    Degenerates come back NULL, never a fake number: a constant series
    has zero denominator → φ̂ NULL via try_divide (ANSI mode would
    otherwise throw DIVIDE_BY_ZERO and kill a 10^12-turn job on one
    conversation that repeated itself); a 1-point series has no pairs
    → NULL. y_last is picked by max_by over turn_idx — unique within a
    series by construction, so the pick is deterministic under any
    partitioning.

    Plan: one ordered window (lag) + one unordered window (ȳ) + one
    aggregation, all partitioned by the series key → ONE hash
    exchange, no join, no UDF (plan-asserted in pytest).
    """
    w_part = Window.partitionBy("conv_id", "channel")
    w_ord = w_part.orderBy("t", "turn_idx")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .withColumn("__prev", F.lag("y").over(w_ord))
         .withColumn("__ybar", F.avg("y").over(w_part)))
    dy = F.col("y") - F.col("__ybar")
    dprev = F.col("__prev") - F.col("__ybar")
    agg = (
        s.groupBy("conv_id", "channel")
        .agg(F.count(F.lit(1)).alias("n"),
             F.first("__ybar").alias("ybar"),
             F.sum(F.when(F.col("__prev").isNotNull(), dy * dprev))
             .alias("__num"),
             F.sum(dy * dy).alias("__den"),
             F.var_pop("y").alias("__var"),
             F.expr("max_by(y, turn_idx)").alias("__ylast"))
    )
    phi = F.expr("try_divide(__num, __den)")
    return agg.select(
        "conv_id", "channel", "n", "ybar",
        phi.alias("phi"),
        (F.col("ybar") * (F.lit(1.0) - phi)).alias("intercept"),
        ((F.lit(1.0) - phi * phi) * F.col("__var")).alias("sigma2"),
        (F.col("ybar") + phi * (F.col("__ylast") - F.col("ybar")))
        .alias("forecast"))


def drift_psi(series: DataFrame, split_ts: str, edges: list[float],
              alpha: float = 0.5) -> DataFrame:
    """Population-drift scoring per channel between the reference
    window (ts < split_ts) and the current window (ts >= split_ts) —
    the "did the distribution move?" gate a training-data pipeline
    runs before trusting a new ingest batch. Reports the Population
    Stability Index Σ(pᵢ−qᵢ)·ln(pᵢ/qᵢ) (industry rule of thumb:
    > 0.25 = major shift), KL(ref‖cur), and total-variation distance
    ½Σ|pᵢ−qᵢ| over a FIXED bucket grid (histogram.bucket_expr le
    semantics, so tier histograms and drift read the same buckets).

    Additive (Laplace) smoothing with ``alpha`` keeps every term
    finite: pᵢ = (cᵢ+α)/(n+αB) over B = len(edges)+1 buckets. Buckets
    observed in NEITHER window still shift smoothed mass when the two
    windows have different totals, so their closed-form contribution
    (identical for every absent bucket) is added as
    (B − buckets_present)·f(0,0) — no bucket-spine join, no driver
    materialization, and the oracle restates the same closed form.

    NULL y or NULL ts rows are dropped (no bucket / no side). An
    empty reference window degrades to "cur vs uniform" (smoothing
    mass only) rather than dividing by zero.

    Scale shape: one scan → two-phase count on (channel, bucket)
    [shuffle carries ≤ B rows per channel per partition] → per-channel
    totals via window + final aggregate on the tiny bucket table. Two
    shrinking hash exchanges, no join, no UDF.
    """
    from cesium_spark.operators.histogram import bucket_expr
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    nbuckets = len(edges) + 1
    s = (series
         .where(F.col("y").isNotNull() & F.col("ts").isNotNull())
         .withColumn("__b", bucket_expr("y", edges))
         .withColumn("__cur",
                     (F.col("ts") >= F.to_timestamp(F.lit(split_ts)))
                     .cast("long")))
    per_bucket = (s.groupBy("channel", "__b")
                  .agg(F.sum(F.lit(1) - F.col("__cur")).alias("c_ref"),
                       F.sum("__cur").alias("c_cur")))
    w = Window.partitionBy("channel")
    t = (per_bucket
         .withColumn("n_ref", F.sum("c_ref").over(w))
         .withColumn("n_cur", F.sum("c_cur").over(w)))

    def _p(c, n):
        return (c + F.lit(alpha)) / (n + F.lit(alpha * nbuckets))

    p = _p(F.col("c_ref"), F.col("n_ref"))
    q = _p(F.col("c_cur"), F.col("n_cur"))
    p0 = _p(F.lit(0.0), F.col("n_ref"))  # absent-bucket closed form
    q0 = _p(F.lit(0.0), F.col("n_cur"))
    missing = F.lit(nbuckets) - F.count(F.lit(1))
    return (t.groupBy("channel").agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        (F.sum((p - q) * F.log(p / q))
         + missing * F.first((p0 - q0) * F.log(p0 / q0))).alias("psi"),
        (F.sum(p * F.log(p / q))
         + missing * F.first(p0 * F.log(p0 / q0))).alias("kl"),
        ((F.sum(F.abs(p - q)) + missing * F.first(F.abs(p0 - q0)))
         / F.lit(2.0)).alias("tvd"))
        .select("channel",
                F.col("n_ref").cast("long").alias("n_ref"),
                F.col("n_cur").cast("long").alias("n_cur"),
                "psi", "kl", "tvd"))

def ar1_backtest(series: DataFrame, min_train: int = 3,
                 rel_tol: float = 1e-9) -> DataFrame:
    """Rolling-origin (expanding-window) one-step backtest of the
    AR(1) Yule–Walker fit: at every position i ≥ ``min_train`` the
    model is fit on the prefix y₁..yᵢ and forecasts y_{i+1}; the
    per-series MAE/RMSE of those out-of-sample errors is the honest
    forecast-quality number (ar1_fit's in-sample σ² is not) — the
    backtesting loop every forecasting deployment runs, here as ONE
    window pass instead of n model refits.

    The per-prefix fit reuses ar1_fit's estimator through prefix
    closed forms (all cumulative ROWS-frame sums, so the whole
    backtest is O(n) per series):

        S1ᵢ = Σy,  S2ᵢ = Σy²,  Pᵢ = Σ yₜ·yₜ₋₁   (cumulative)
        ȳᵢ   = S1ᵢ/i
        denᵢ = S2ᵢ − i·ȳᵢ²
        numᵢ = Pᵢ − ȳᵢ·(2·S1ᵢ − y₁ − yᵢ) + (i−1)·ȳᵢ²
        φᵢ   = numᵢ/denᵢ,   fᵢ = ȳᵢ + φᵢ·(yᵢ − ȳᵢ)
        errᵢ₊₁ = yᵢ₊₁ − fᵢ

    Degeneracy guard: the expanded den cancels catastrophically on a
    (near-)constant prefix — unlike ar1_fit's centered den it lands on
    a tiny FLOAT RESIDUAL, not exact 0, and φ through it is noise
    amplified by 1/den. A prefix is therefore fit only when
    ``denᵢ > rel_tol · S2ᵢ`` (scale-relative); failing prefixes yield
    NULL forecasts whose errors are excluded from n_pred/MAE/RMSE —
    stated in the oracle with the identical comparison.

    Plan: lag + four cumulative window sums + one lag of the forecast
    + one aggregate, every one partitioned by the series key → ONE
    hash exchange, no join, no UDF, O(1) state per row.
    """
    if min_train < 2:
        raise ValueError(f"min_train must be >= 2, got {min_train}")
    key = ["conv_id", "channel"]
    w_ord = Window.partitionBy(*key).orderBy("t", "turn_idx")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .withColumn("__prev", F.lag("y").over(w_ord))
         .withColumn("__i", F.row_number().over(w_ord)))
    y, prev, i = F.col("y"), F.col("__prev"), F.col("__i")
    s = (s
         .withColumn("__s1", F.sum(y).over(w_cum))
         .withColumn("__s2", F.sum(y * y).over(w_cum))
         .withColumn("__p", F.sum(F.when(prev.isNotNull(), y * prev))
                     .over(w_cum))
         .withColumn("__y1", F.first(y).over(w_cum)))
    ybar = F.col("__s1") / i
    den = F.col("__s2") - i * ybar * ybar
    num = (F.col("__p") - ybar * (2 * F.col("__s1") - F.col("__y1") - y)
           + (i - 1) * ybar * ybar)
    phi = F.when(den > F.lit(rel_tol) * F.col("__s2"), num / den)
    fc = F.when(i >= min_train, ybar + phi * (y - ybar))
    s = s.withColumn("__f", fc)
    err = y - F.lag("__f").over(w_ord)
    s = s.withColumn("__err", err)
    e = F.col("__err")
    return (s.groupBy(*key).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(e).cast("long").alias("n_pred"),
        F.avg(F.abs(e)).alias("mae"),
        F.sqrt(F.avg(e * e)).alias("rmse")))

def ks_exponential(series: DataFrame) -> DataFrame:
    """Per-series Kolmogorov–Smirnov test of the inter-arrival gaps
    against the exponential fit — "is this conversation's cadence
    Poisson, or does it burst?" The distribution-level cadence
    statistic the reference's scalar cadence family (avg/med/std of
    dt, cad_probs) cannot express: a bursty and a regular series can
    share every moment yet have opposite KS distances.

    Statistic: gaps dtᵢ = tᵢ − tᵢ₋₁; the exponential MLE telescopes,
    λ̂ = m / (t_last − t_first) with m = n−1 gaps; against
    F(x) = 1 − e^(−λ̂x) the two one-sided distances over the sorted
    gaps dt₍ⱼ₎ are D⁺ = max(j/m − F), D⁻ = max(F − (j−1)/m),
    KS = max(D⁺, D⁻). Ties need no special-casing: row_number ranks
    tied gaps arbitrarily but the max over ALL rows includes the
    extreme j of each tie run, which is where the sup is attained.
    ``reject_95`` uses the asymptotic 95% band 1.36/√m on the
    6-dp-rounded margin (boundary engine-stable).

    Degenerates honest: < 2 gaps → NULL statistic; a zero-duration
    series (all turns same t) has λ̂ undefined → NULL via try_divide.

    Scale shape: one lag window (series order) + one rank window
    (gap order) + one aggregate, all on the conv_id key → ONE hash
    exchange, no join, no UDF.
    """
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    s = (series
         .where(F.col("t").isNotNull())
         .withColumn("__dt", F.col("t") - F.lag("t").over(w_ord)))
    gaps = s.where(F.col("__dt").isNotNull())
    w_rank = Window.partitionBy("conv_id").orderBy("__dt", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    g = (gaps
         .withColumn("__j", F.row_number().over(w_rank))
         .withColumn("__m", F.count(F.lit(1)).over(w_all))
         .withColumn("__span", F.sum("__dt").over(w_all)))
    lam = F.expr("try_divide(cast(__m AS double), __span)")
    fx = F.lit(1.0) - F.exp(-lam * F.col("__dt"))
    j, m = F.col("__j").cast("double"), F.col("__m").cast("double")
    dplus = j / m - fx
    dminus = fx - (j - 1) / m
    agg = (g.groupBy("conv_id").agg(
        F.first("__m").cast("long").alias("n_gaps"),
        F.first(lam).alias("lambda_hat"),
        F.max(F.greatest(dplus, dminus)).alias("ks")))
    margin = F.round(
        F.col("ks") - F.lit(1.36) / F.sqrt(F.col("n_gaps")), 6)
    return agg.select(
        "conv_id", "n_gaps",
        F.when(F.col("n_gaps") >= 2, F.col("lambda_hat"))
        .alias("lambda_hat"),
        F.when(F.col("n_gaps") >= 2, F.col("ks")).alias("ks"),
        F.when((F.col("n_gaps") >= 2) & F.col("ks").isNotNull(),
               margin > 0).alias("reject_95"))

def mahalanobis2(series: DataFrame, ch_a: str, ch_b: str,
                 threshold: float = 9.21) -> DataFrame:
    """Bivariate Mahalanobis anomaly scoring per conversation: align
    two channels on (conv_id, turn_idx) (channel_corr's conditional-
    aggregation alignment — one scan, no join) and score every
    aligned turn by d² = (zₐ² − 2ρzₐz_b + z_b²)/(1−ρ²), the squared
    Mahalanobis distance under the conversation's own 2×2 covariance.
    The genuinely MULTIVARIATE anomaly the per-channel z-scores miss:
    a turn whose latency and tokens are each unremarkable but jointly
    inconsistent (long latency with few tokens in a conversation
    where they correlate) scores high.

    Default threshold 9.21 = χ²₂(0.99): under bivariate normality d²
    is chi-squared with 2 dof, so ~1% of in-distribution turns flag.
    The flag compares ``round(d², 6) > threshold`` (grid convention,
    engine-stable). Per-conversation output — ``n_points``,
    ``n_anomalies``, ``max_d2`` — not per-point rows: the summary is
    the gate input, and row counts stay series-sized.

    Degenerates honest: a constant channel (σ = 0) or perfectly
    collinear pair (|ρ| = 1 ⇒ singular covariance) yields NULL d²
    via try_divide — those conversations report n_anomalies = 0 with
    NULL max_d2 rather than fabricated distances.

    Plan: alignment agg on (conv_id, turn_idx) → stat windows on
    conv_id → final agg on conv_id: two shrinking hash exchanges
    (alignment partials collapse channel rows map-side), no join, no
    UDF.
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__ya"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__yb"))
        .where(F.col("__ya").isNotNull() & F.col("__yb").isNotNull())
    )
    w = Window.partitionBy("conv_id")
    a = (aligned
         .withColumn("__ma", F.avg("__ya").over(w))
         .withColumn("__mb", F.avg("__yb").over(w))
         .withColumn("__sa", F.stddev_pop("__ya").over(w))
         .withColumn("__sb", F.stddev_pop("__yb").over(w))
         .withColumn("__cov", F.covar_pop("__ya", "__yb").over(w)))
    za = F.expr("try_divide(__ya - __ma, __sa)")
    zb = F.expr("try_divide(__yb - __mb, __sb)")
    rho = F.expr("try_divide(__cov, __sa * __sb)")
    a = a.withColumn("__za", za).withColumn("__zb", zb) \
         .withColumn("__rho", rho)
    d2 = F.expr(
        "try_divide(__za * __za - 2 * __rho * __za * __zb"
        " + __zb * __zb, 1 - __rho * __rho)")
    a = a.withColumn("__d2", d2)
    flag = F.round(F.col("__d2"), 6) > F.lit(float(threshold))
    return (a.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.coalesce(F.sum(F.when(flag, 1)), F.lit(0)).cast("long")
        .alias("n_anomalies"),
        F.max("__d2").alias("max_d2")))


def runs_test(series: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs-up-and-down randomness test per series:
    are consecutive moves independent, or does the series trend /
    oscillate? The sign pattern of FIRST DIFFERENCES is summarized as
    the number of runs R (maximal blocks of same-direction moves); a
    trending series has far fewer runs than chance, a mean-reverting
    saw far more. Complements ``ks_exponential`` (cadence
    distribution) and ``acf`` (linear memory) with a distribution-free
    SIGN statistic no moment family expresses.

    Semantics (classic runs-up-and-down, Knuth TAOCP §3.3.2 form):
    moves are sign(yᵢ − yᵢ₋₁); ZERO differences carry no direction
    and are dropped (the standard tie treatment — a tie is neither up
    nor down); n = retained moves, R = 1 + (number of adjacent
    RETAINED sign changes). Under randomness E[R] = (2n+1)/3,
    Var[R] = (16n−13)/90 (the n-moves form of the classical
    (2N−1)/3, (16N−29)/90 with N = n+1 observations), and
    z = (R − E[R])/√Var[R] is asymptotically standard normal.
    ``reject_95`` compares the 6-dp-rounded |z| margin against 1.96
    (grid convention, engine-stable boundary).

    Determinism: differences are exact double subtractions and every
    sign compare is exact — no grid anywhere before the final
    report; R and n are integers, so z is one closed-form expression
    of two exact integers, bit-identical in any engine.

    "Adjacent retained" is computed WITHOUT filtering (so every
    conversation keeps its row even when all moves tie): the previous
    retained sign is ``last(sign) IGNORE NULLS`` over the preceding
    frame, which skips over zero-difference rows in place.

    NULL y rows are dropped up front (the family convention —
    pettitt/permutation_entropy/theil_sen all do the same), so the
    test runs over the OBSERVED values: y=[1, NULL, 2, 3] is two
    up-moves, not one move with two NULL-poisoned neighbors.

    Scale shape: two windows (lag + last-ignore-nulls, same key and
    order) + one aggregate, all on conv_id → ONE hash exchange, no
    join, no UDF. Degenerates: n = 0 → NULL R (no moves at all);
    n < 2 → NULL z / reject (a single move has no adjacency).
    """
    w = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    d = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .withColumn("__d", F.col("y") - F.lag("y").over(w)))
    sgn = (F.when(F.col("__d") > 0, F.lit(1))
           .when(F.col("__d") < 0, F.lit(-1)))  # NULL: tie or edge
    prev = F.last(sgn, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    chg = F.when(sgn.isNotNull() & prev.isNotNull() & (sgn != prev),
                 F.lit(1)).otherwise(F.lit(0))
    agg = (d.select("conv_id", sgn.alias("__sgn"), chg.alias("__chg"))
           .groupBy("conv_id")
           .agg(F.count("__sgn").alias("n_moves"),
                F.sum("__chg").alias("__nchg")))
    n = F.col("n_moves").cast("double")
    r = (F.col("__nchg") + 1).cast("double")
    mu = (F.lit(2.0) * n + F.lit(1.0)) / F.lit(3.0)
    var = (F.lit(16.0) * n - F.lit(13.0)) / F.lit(90.0)
    z = (r - mu) / F.sqrt(var)
    margin = F.round(F.abs(z) - F.lit(1.96), 6)
    return agg.select(
        "conv_id",
        F.col("n_moves").cast("long").alias("n_moves"),
        F.when(F.col("n_moves") > 0, F.col("__nchg") + 1)
        .cast("long").alias("n_runs"),
        F.when(F.col("n_moves") >= 2, mu).alias("expected_runs"),
        F.when(F.col("n_moves") >= 2, z).alias("z"),
        F.when(F.col("n_moves") >= 2, margin > 0).alias("reject_95"))


def permutation_entropy(series: DataFrame) -> DataFrame:
    """Bandt–Pompe permutation entropy (order m = 3) per series: the
    Shannon entropy of the ORDINAL PATTERN distribution of
    consecutive value triples — the standard model-free complexity
    measure (Bandt & Pompe 2002). A monotone ramp uses 1 of the 6
    patterns (H = 0), white noise uses all 6 uniformly (H_norm → 1);
    the statistic is invariant to any monotone rescaling of y, which
    no moment or ACF feature is.

    Pattern encoding: for each window (y₀,y₁,y₂) the rank of element
    i is ``#{j : yⱼ < yᵢ} + #{j : yⱼ = yᵢ and j < i}`` — exactly the
    stable-argsort tie rule of the original paper (earlier index
    wins). Every comparison is an exact double compare, so the
    pattern code (r₀·9 + r₁·3 + r₂, a base-3 injection of the
    permutation) is engine-identical with no grid.

    Entropy uses the exact-cancellation form H = (n·log2(n) −
    Σc·log2(c))/n — with ONE pattern the two terms are the SAME
    rounded double (c = n), so a deterministic series lands on
    exactly 0.0 (the doc_lexical form log2(n) − Σ/n does NOT: the
    division by a non-power-of-two n rounds the second term one ulp
    away — found live); ``h_norm`` divides by log2(6), the m = 3
    maximum. Incomplete triples at the series tail contribute
    nothing; a conversation with < 3 turns has no window at all and
    drops out (ks_exponential's n_gaps≥1 precedent).

    Scale shape: two lead windows (same key/order) + one (conv,
    pattern) count + one per-conv aggregate → the shuffle carries
    distinct (conv, pattern) pairs (≤ 6 per conversation, however
    long) — TWO shrinking hash exchanges, no join, no UDF.
    """
    w = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    t3 = (series
          .where(F.col("t").isNotNull() & F.col("y").isNotNull())
          .select("conv_id", F.col("y").alias("__y0"),
                  F.lead("y", 1).over(w).alias("__y1"),
                  F.lead("y", 2).over(w).alias("__y2"))
          .where(F.col("__y1").isNotNull() & F.col("__y2").isNotNull()))
    y0, y1, y2 = F.col("__y0"), F.col("__y1"), F.col("__y2")

    def _lt(a, b):  # 1 if a < b else 0, as int
        return F.when(a < b, F.lit(1)).otherwise(F.lit(0))

    # rank with stable ties: strictly-smaller anywhere + equal-earlier
    r0 = _lt(y1, y0) + _lt(y2, y0)
    r1 = (_lt(y0, y1) + _lt(y2, y1)
          + F.when(y0 == y1, F.lit(1)).otherwise(F.lit(0)))
    r2 = (_lt(y0, y2) + _lt(y1, y2)
          + F.when(y0 == y2, F.lit(1)).otherwise(F.lit(0))
          + F.when(y1 == y2, F.lit(1)).otherwise(F.lit(0)))
    code = r0 * 9 + r1 * 3 + r2
    counts = (t3.select("conv_id", code.alias("pattern"))
              .groupBy("conv_id", "pattern")
              .agg(F.count(F.lit(1)).alias("__c")))
    c = F.col("__c").cast("double")
    agg = counts.groupBy("conv_id").agg(
        F.sum("__c").alias("n_windows"),
        F.count(F.lit(1)).alias("n_patterns"),
        F.sum(c * F.log2(c)).alias("__sclc"))
    nw = F.col("n_windows").cast("double")
    h = (nw * F.log2(nw) - F.col("__sclc")) / nw
    return agg.select(
        "conv_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_patterns").cast("int").alias("n_patterns"),
        h.alias("h_bits"),
        (h / F.log2(F.lit(6.0))).alias("h_norm"))


def pettitt(series: DataFrame) -> DataFrame:
    """Pettitt (1979) rank-based changepoint test per series: the
    distribution-free single-shift detector — where, if anywhere, did
    the LEVEL of the series change? CUSUM (``cusum``) needs a known
    in-control mean and threshold; Pettitt needs nothing: it maximizes
    the Mann–Whitney statistic over every split point, so a latency
    regression mid-conversation surfaces with a p-value and a location
    without any tuning.

    Statistic (midrank form): with midranks rᵢ over y (average of the
    tied min/max ranks), Uₖ = 2·Σᵢ≤ₖ rᵢ − k(n+1) equals the double sum
    Σᵢ≤ₖ Σⱼ>ₖ sign(yᵢ − yⱼ) — ties contribute 0 via the midrank,
    which is why the O(n) rank identity holds (pinned against the
    O(n²) brute force in pytest). K = max ₖ₌₁..ₙ₋₁ |Uₖ|; the asymptotic
    p-value is min(1, 2·exp(−6K²/(n³+n²))) (Pettitt's approximation).

    Exactness: 2rᵢ = 2·rank + (ties−1) is an INTEGER (bigint), so
    every Uₖ and K is exact integer arithmetic — the argmax cannot
    flip between engines; ties on |Uₖ| break to the EARLIEST k.
    The p-value and the mean shift are one closed form of exact
    integers / an order-identical cumulative double sum.

    Output: one row per conv with n, k_change (1-based count of
    pre-change rows), t_change (t of the last pre-change row), K
    (max |U|), p_approx, and delta_mean (mean after − mean before,
    from the SAME cumulative sum, so both engines add in time order).
    Conversations with n < 2 have no admissible split and drop out
    (``permutation_entropy`` precedent).

    Scale shape: value-rank windows (rank + a RANGE(0,0) tie count,
    both partitioned on conv_id ONLY — the tie count deliberately
    avoids a (conv_id, y) partition key, which would add a second
    exchange), time-cumulative windows on the same key, one
    row_number argmax filter → ONE hash exchange, no join, no UDF.
    """
    wo = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = wo.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    base = (series
            .where(F.col("t").isNotNull() & F.col("y").isNotNull())
            .select("conv_id", "turn_idx", "t", "y",
                    midrank2("y").alias("__r2")))
    stat = (
        base
        .withColumn("__k", F.row_number().over(wo).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wall).cast("long"))
        .withColumn("__s2", F.sum("__r2").over(wcum))
        .withColumn("__sy", F.sum("y").over(wcum))
        .withColumn("__sy_tot", F.last("__sy").over(wall)))
    u = F.col("__s2") - F.col("__k") * (F.col("n") + 1)
    cand = (stat
            .where(F.col("__k") < F.col("n"))  # split leaves both sides
            .withColumn("__absu", F.abs(u))
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy("conv_id")
                .orderBy(F.col("__absu").desc(), F.col("__k").asc())))
            .where(F.col("__rn") == 1))
    k = F.col("__k").cast("double")
    n = F.col("n").cast("double")
    kk = F.col("__absu").cast("double")
    p = F.least(F.lit(1.0),
                F.lit(2.0) * F.exp(F.lit(-6.0) * kk * kk
                                   / (n * n * n + n * n)))
    delta = ((F.col("__sy_tot") - F.col("__sy")) / (n - k)
             - F.col("__sy") / k)
    return cand.select(
        "conv_id", "n",
        F.col("__k").alias("k_change"),
        F.col("t").alias("t_change"),
        F.col("__absu").alias("K"),
        p.alias("p_approx"),
        delta.alias("delta_mean"))


def theil_sen(series: DataFrame, max_points: int = 128) -> DataFrame:
    """Theil–Sen robust trend per series: slope = median of all
    pairwise slopes (yⱼ−yᵢ)/(tⱼ−tᵢ), intercept = median(y) −
    slope·median(t) — the classic outlier-proof trend line (breakdown
    point ~29%, vs 0% for OLS: ONE spiked turn can swing ``regr_slope``
    arbitrarily; pytest plants exactly that).

    The estimator is inherently O(n²) pairs. At transcript scale that
    is bounded the same way ``all_times_nhist`` is: series longer than
    ``max_points`` are DETERMINISTICALLY thinned first — the first
    point of each of ``max_points`` equal-count rank slots (keep row
    k iff ⌊(k−1)·m/n⌋ > ⌊(k−2)·m/n⌋, the sax_symbolize segment rule),
    which uses the FULL point budget for every n (a ⌈n/m⌉ stride
    would keep as few as m/2+1 points for n just above the cap,
    discontinuously doubling the estimator's variance — found in
    review). Systematic sampling preserves the trend structure;
    ``capped`` flags thinned rows so downstream knows the estimate is
    over a subsample. Pairs with tᵢ = tⱼ carry no slope information
    and are dropped (strict tⱼ > tᵢ).

    Exactness: thinning is integer row-number arithmetic; each pair
    slope is one exact double expression; the median is the linear
    interpolation both engines define identically (``percentile`` ↔
    ``quantile_cont``, the ts_quantiles_1d precedent). Conversations
    with no admissible pair keep their row with NULL slope.

    Scale shape: one window pass (conv_id) → thin → self-equi-join on
    conv_id (≤ max_points² pairs per conv, bounded by construction) →
    one aggregate on conv_id → one-row-per-conv join of two tiny
    aggregates. Every exchange is on conv_id; no cartesian, no UDF.
    """
    if not (2 <= max_points <= 4096):
        raise ValueError(f"max_points must be in [2, 4096], got "
                         f"{max_points}")
    wo = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    wall = wo.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    base = (series
            .where(F.col("t").isNotNull() & F.col("y").isNotNull())
            .withColumn("__k", F.row_number().over(wo).cast("long"))
            .withColumn("__n", F.count(F.lit(1)).over(wall)
                        .cast("long")))
    m = int(max_points)
    slot = F.expr(f"((__k - 1) * {m}) DIV __n")
    prev_slot = F.expr(f"((__k - 2) * {m}) DIV __n")
    kept = base.where((F.col("__k") == 1) | (slot > prev_slot))
    med = kept.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_used"),
        F.percentile("t", F.lit(0.5)).alias("__med_t"),
        F.percentile("y", F.lit(0.5)).alias("__med_y"))
    a = kept.select("conv_id", F.col("__k").alias("__ka"),
                    F.col("t").alias("__ta"), F.col("y").alias("__ya"))
    b = kept.select("conv_id", F.col("__k").alias("__kb"),
                    F.col("t").alias("__tb"), F.col("y").alias("__yb"))
    pairs = (a.join(b, "conv_id")
             .where((F.col("__kb") > F.col("__ka"))
                    & (F.col("__tb") > F.col("__ta"))))
    slope_expr = ((F.col("__yb") - F.col("__ya"))
                  / (F.col("__tb") - F.col("__ta")))
    slopes = pairs.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(slope_expr, F.lit(0.5)).alias("slope"))
    out = med.join(slopes, "conv_id", "left")
    return out.select(
        "conv_id", "n", "n_used",
        (F.col("n") > F.lit(max_points)).alias("capped"),
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
        .alias("n_pairs"),
        F.col("slope"),
        (F.col("__med_y") - F.col("slope") * F.col("__med_t"))
        .alias("intercept"))


def cross_series_corr(series: DataFrame, min_overlap: int = 10,
                      top_k: int = 20) -> DataFrame:
    """Correlation SEARCH across conversations: which pairs of series
    co-move? Each conversation is reduced to its daily-mean grid, the
    grids are aligned on the day, and Pearson r over the shared days
    ranks the most positively co-moving pairs — the monitoring
    question ("what else moved when this moved") that per-series
    features and within-conversation ``channel_corr`` cannot answer.

    Determinism: grid values are ROUNDED (6 dp, −0.0 normalized)
    before the correlation, so both engines correlate identical
    inputs; the ranking orders by the ROUNDED r with (conv_a, conv_b)
    tiebreaks, so the top-k boundary cannot flip on summation-order
    ulps. Degenerate pairs (a constant series) are NULL via try_divide
    and excluded from the ranking; pairs sharing fewer than
    ``min_overlap`` days are excluded (r over 3 points is noise).

    Scale caveat (stated like exact cosine pairs): candidate
    generation is the day-aligned self-join — QUADRATIC in the number
    of series co-active per day. This is the exact/verification mode;
    at 10^6+ concurrent series the scale path prunes candidates first
    (sketch/bucket the grids, or restrict to a watchlist) and feeds
    the survivors through this same aggregation. The join shuffles on
    the day key; the pair aggregation shrinks to one row per pair.
    """
    if min_overlap < 3:
        raise ValueError(f"min_overlap must be >= 3, got {min_overlap}")
    if not (1 <= top_k <= 10_000):
        raise ValueError(f"top_k must be in [1, 10000], got {top_k}")
    grid = (series
            .where(F.col("y").isNotNull() & F.col("ts").isNotNull())
            .groupBy("conv_id", F.date_trunc("DAY", F.col("ts"))
                     .alias("__day"))
            .agg((F.round(F.avg("y"), 6) + F.lit(0.0)).alias("__g")))
    a = grid.select(F.col("conv_id").alias("conv_a"), "__day",
                    F.col("__g").alias("__ga"))
    b = grid.select(F.col("conv_id").alias("conv_b"), "__day",
                    F.col("__g").alias("__gb"))
    pairs = a.join(b, "__day").where(F.col("conv_a") < F.col("conv_b"))
    agg = (pairs.groupBy("conv_a", "conv_b")
           .agg(F.count(F.lit(1)).alias("n_days"),
                F.expr("try_divide(covar_pop(__ga, __gb), "
                       "stddev_pop(__ga) * stddev_pop(__gb))")
                .alias("__r")))
    r6 = F.round(F.col("__r"), 6) + F.lit(0.0)
    ranked = (agg
              .where((F.col("n_days") >= F.lit(min_overlap))
                     & F.col("__r").isNotNull())
              .select("conv_a", "conv_b",
                      F.col("n_days").cast("long").alias("n_days"),
                      r6.alias("r"))
              .orderBy(F.desc("r"), "conv_a", "conv_b")
              .limit(top_k))
    return ranked


MK_SCHEMA = ("conv_id string, n long, s_stat long, tied_pairs long, "
             "var18 long")


def _mk_counts(y):
    """Exact MK integers for one time-ordered value array: (n, S,
    tied_pairs, 18·var) — S via the O(n·log²n) mergesort inversion
    count (shared by mann_kendall and its seasonal variant)."""
    import numpy as np
    n = len(y)
    a = y.copy()
    inv = 0
    width = 1
    while width < n:
        for lo in range(0, n - width, 2 * width):
            mid = lo + width
            hi = min(lo + 2 * width, n)
            left = a[lo:mid]
            inv += int((mid - lo
                        - np.searchsorted(left, a[mid:hi],
                                          side="right")).sum())
            a[lo:hi] = np.sort(a[lo:hi], kind="mergesort")
        width *= 2
    _, counts = np.unique(y, return_counts=True)
    cnt = [int(c) for c in counts]
    total = n * (n - 1) // 2
    tied = sum(c * (c - 1) // 2 for c in cnt)
    s = total - tied - 2 * inv
    var18 = (n * (n - 1) * (2 * n + 5)
             - sum(c * (c - 1) * (2 * c + 5) for c in cnt))
    return n, s, tied, var18


def mann_kendall(series: DataFrame) -> DataFrame:
    """Mann–Kendall monotonic-trend test per series (Mann 1945,
    Kendall 1975) — the distribution-free "is it drifting?" question
    that ``theil_sen`` answers with a slope and Pettitt answers for a
    single SHIFT. S = Σ_{i<j} sign(yⱼ − yᵢ) over time order counts
    concordant-minus-discordant pairs; the tie-corrected normal
    approximation z = (S ∓ 1)/sqrt(var(S)) with

        18·var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)

    (t_g = value-tie group sizes) is the standard screen, and
    Kendall's τ_b = S/sqrt((T−U)·T) (T = n(n−1)/2 total pairs, U =
    tied pairs; the time axis is the strict turn sequence, so its tie
    term is zero by construction) is the effect size.

    Exactness: the kernel emits INTEGERS ONLY — S via an O(n·log²n)
    bottom-up mergesort inversion count (S = T − U − 2·inversions,
    pinned against the O(n²) brute force in pytest; counting, not
    float math, so no summation-order question exists), U and the
    18·var numerator from np.unique tie counts, all as Python ints
    before the int64 cast so no intermediate overflows silently.
    z and τ_b are fixed double expression trees over those integers,
    restated verbatim in SQL; all-tied series (var18 = 0) yield NULL
    z/τ rather than ±inf.

    Scale shape: ONE hash exchange into a per-series applyInPandas
    kernel (the holt/croston contract) — no pair join, no O(n²)
    shuffle; a million-turn conversation costs n·log²n vectorized
    searchsorted work inside one task. The SQL oracle replays S by
    the literal pair definition (self-join, fine at test scale).
    """
    import numpy as np
    import pandas as pd

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        n, s, tied, var18 = _mk_counts(
            pdf["y"].to_numpy(dtype=np.float64))
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n": [n], "s_stat": [s], "tied_pairs": [tied],
            "var18": [var18]})

    base = (series
            .where(F.col("t").isNotNull() & F.col("y").isNotNull())
            .select("conv_id", "turn_idx", "t", "y")
            .groupBy("conv_id")
            .applyInPandas(_kernel, MK_SCHEMA)
            .where(F.col("n") >= 2))
    s = F.col("s_stat").cast("double")
    v = F.col("var18").cast("double")
    z = (F.when(F.col("var18") == 0, F.lit(None).cast("double"))
         .when(F.col("s_stat") > 0, (s - 1) / F.sqrt(v / F.lit(18.0)))
         .when(F.col("s_stat") < 0, (s + 1) / F.sqrt(v / F.lit(18.0)))
         .otherwise(F.lit(0.0)))
    total = (F.col("n") * (F.col("n") - 1) / F.lit(2)).cast("double")
    untied = total - F.col("tied_pairs").cast("double")
    tau = F.when(untied * total > 0, s / F.sqrt(untied * total))
    return base.select("conv_id", "n", "s_stat", "tied_pairs", "var18",
                       z.alias("z"), tau.alias("tau_b"))


def variance_ratio(series: DataFrame, q: int = 4) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per conversation (Lo &
    MacKinlay 1988, "Stock Market Prices Do Not Follow Random Walks")
    — the random-walk screen completing the memory triple next to
    ``ar1_fit`` (how sticky?) and ``mann_kendall`` (is it drifting?):
    if a series is a random walk, the variance of q-step increments is
    exactly q times the variance of 1-step increments, so

        VR(q) = σ̂²_c(q) / σ̂²_a            (overlapping estimator)

    sits at 1; VR < 1 flags mean reversion, VR > 1 momentum.  With
    integer levels y₀..y_{N−1} (n = N−1 increments, D = y_{N−1} − y₀,
    μ̂ = D/n) both variance estimators reduce to exact int64 sufficient
    statistics because (d_k − D/n)² = (n·d_k − D)²/n²:

        A = Σ_{k=1..n}   (n·(y_k − y_{k−1}) − D)²      (1-step)
        C = Σ_{k=q..n}   (n·(y_k − y_{k−q}) − q·D)²    (q-step,
                                                        overlapping)
        VR = C·(n−1) / (A·m),  m = q·(n−q+1)·(1 − q/n)  (Lo–MacKinlay
                                                         bias-adjusted
                                                         denominator;
                                                         the n² cancels)
        z  = (VR − 1) / sqrt(2(2q−1)(q−1) / (3·q·n))    (homoskedastic
                                                         asymptotic)

    Exactness contract (the ols_fit2 rule): inputs MUST be integer —
    float inputs raise, pre-grid them explicitly — so A, C, D, n are
    exact int64 hash-aggregate sums (ANSI overflow raises: |n·d| must
    stay under ~3e9 at million-turn conversations, documented not
    silently wrapped) and VR / z are fixed double expression trees
    over those integers, restated verbatim in SQL.  A constant series
    (A = 0) and n ≤ q both yield NULL VR/z, never ±inf or 0/0; every
    division sits INSIDE a when() branch because CaseWhen branch
    laziness is the only div-by-zero guard ANSI Spark honors.

    Plan: one ordered lag window + one hash aggregate, both keyed by
    conv_id → ONE exchange, no join, no UDF, no pair blowup; the
    overlapping q-increments come from lag(y, q) over the same window.
    """
    if not isinstance(q, int) or q < 2:
        raise ValueError(f"variance_ratio: q must be an int >= 2, got {q!r}")
    require_int(series, "variance_ratio", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select(
             "conv_id",
             y.alias("__y"),
             F.lag(y, 1).over(w_ord).alias("__y1"),
             F.lag(y, q).over(w_ord).alias("__yq"),
             F.count(F.lit(1)).over(w_all).alias("__cnt"),
             (F.first(y).over(w_ord)).alias("__y0"),
             F.max(F.struct(F.col("t"), F.col("turn_idx"),
                            y.alias("v"))).over(w_all)
             .getField("v").alias("__ylast")))
    # n = increments = N-1; D = y_last - y_0 (both exact int64)
    n_i = F.col("__cnt") - F.lit(1)
    d_i = F.col("__ylast") - F.col("__y0")
    agg = (
        s.groupBy("conv_id")
        .agg(F.max(n_i).alias("n_inc"),
             F.max(d_i).alias("drift"),
             F.sum(F.when(
                 F.col("__y1").isNotNull(),
                 (n_i * (F.col("__y") - F.col("__y1")) - d_i)
                 * (n_i * (F.col("__y") - F.col("__y1")) - d_i)))
             .alias("a_num"),
             F.sum(F.when(
                 F.col("__yq").isNotNull(),
                 (n_i * (F.col("__y") - F.col("__yq")) - F.lit(q) * d_i)
                 * (n_i * (F.col("__y") - F.col("__yq")) - F.lit(q) * d_i)))
             .alias("c_num")))
    n = F.col("n_inc").cast("double")
    a = F.col("a_num").cast("double")
    c = F.col("c_num").cast("double")
    m = F.lit(float(q)) * (n - F.lit(float(q)) + F.lit(1.0)) \
        * (F.lit(1.0) - F.lit(float(q)) / n)
    ok = (F.col("n_inc") > q) & (F.col("a_num") > 0)
    vr = F.when(ok, c * (n - F.lit(1.0)) / (a * m))
    phi = F.lit(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q))
    z = F.when(ok, (c * (n - F.lit(1.0)) / (a * m) - F.lit(1.0))
               / F.sqrt(phi / n))
    return agg.select(
        "conv_id",
        (F.col("n_inc") + F.lit(1)).alias("n_points"),
        "drift", "a_num", "c_num",
        vr.alias("vr"), z.alias("z"))


def hurst_rs(series: DataFrame,
             windows: tuple = (8, 16, 32, 64)) -> DataFrame:
    """Hurst exponent per conversation by classical rescaled-range
    analysis (Hurst 1951; Mandelbrot & Wallis 1969) — the long-memory
    screen completing the memory family: ``ar1_fit`` measures lag-1
    stickiness, ``variance_ratio`` tests the random-walk null at one
    horizon, H summarizes scaling across ALL horizons (H ≈ 0.5 random
    walk, → 1 trending/persistent, → 0 mean-reverting).

    For each window size w, the time-ordered series splits into
    ⌊n/w⌋ FULL blocks (trailing remainder dropped — the textbook
    protocol); per block with values v₁..v_w, S = Σv, Q = Σv²,
    cumⱼ = Σ_{i≤j} vᵢ, the cumulative deviation Zⱼ = cumⱼ − j·S/w
    scaled by w is the exact integer

        numⱼ = w·cumⱼ − j·S,

    so R/S = (max num − min num) / sqrt(w·Q − S²): integer range over
    the square root of an integer — BOTH block statistics are exact
    int64 (block-local, so bounded by w·max|y|² — no overflow risk at
    any series length; the integer-input contract of variance_ratio
    applies and floats raise).  Zero-variance blocks are excluded (the
    standard practice — their R/S is 0/0); per (conv, w) the block
    R/S values average via an ORDERED cumulative fold in block order
    (never a parallel float sum), and H is the closed-form OLS slope
    of ln(avg R/S) on ln(w) — with the w grid FIXED, the slope is
    Σ cᵢ·ln(avg_rsᵢ) for precomputed literal weights cᵢ =
    (ln wᵢ − mean ln w)/Σ(ln wⱼ − mean ln w)², a fixed
    left-associated 4-term tree restated verbatim in SQL.  H is NULL
    unless EVERY window level has ≥1 valid block (n ≥ max(w) and not
    everywhere-constant) — a partial grid would silently bias the
    slope.

    Plan: explode over the literal w grid (rows ×|w|), then three
    shrinking exchanges — (conv,w,block) window+aggregate on 4n rows,
    (conv,w) ordered fold on n/8 block rows, final per-conv pivot on
    |w| rows — no UDF, no join, no pair blowup anywhere.
    """
    ws = tuple(int(w) for w in windows)
    if len(ws) < 2 or any(w < 2 for w in ws) or len(set(ws)) != len(ws):
        raise ValueError(f"hurst_rs: need >=2 distinct window sizes >= 2, "
                         f"got {windows!r}")
    require_int(series, "hurst_rs", "y")
    import math
    lw = [math.log(w) for w in ws]
    mlw = sum(lw) / len(lw)
    dev = [x - mlw for x in lw]
    den = sum(d * d for d in dev)
    coef = [d / den for d in dev]          # Σcᵢ·ln(rsᵢ) = slope

    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    base = (series
            .where(F.col("y").isNotNull() & F.col("t").isNotNull())
            .select("conv_id",
                    (F.row_number().over(w_ord) - 1).alias("rank"),
                    F.col("y").cast("long").alias("y"),
                    F.count(F.lit(1)).over(w_all).alias("n")))
    ex = (base
          .select("conv_id", "rank", "y", "n",
                  F.explode(F.array(*[F.lit(w) for w in ws])).alias("w"))
          .withColumn("block", F.expr("rank div w"))
          .withColumn("j", F.expr("rank % w + 1"))
          .where(F.col("block") < F.expr("n div w")))
    wb = Window.partitionBy("conv_id", "w", "block")
    wbo = wb.orderBy("j")
    num = (F.col("w") * F.sum("y").over(wbo)
           - F.col("j") * F.sum("y").over(wb))
    stats = (ex
             .select("conv_id", "n", "w", "block",
                     num.alias("num"),
                     F.sum("y").over(wb).alias("sb"),
                     F.sum(F.col("y") * F.col("y")).over(wb).alias("qb"))
             .groupBy("conv_id", "w", "block")
             .agg(F.first("n").alias("n"),
                  (F.max("num") - F.min("num")).alias("rng"),
                  (F.first("w") * F.first("qb")
                   - F.first("sb") * F.first("sb")).alias("s2")))
    rs_b = F.when(F.col("s2") > 0,
                  F.col("rng").cast("double")
                  / F.sqrt(F.col("s2").cast("double")))
    wcw = Window.partitionBy("conv_id", "w").orderBy("block")
    folded = (stats
              .select("conv_id", "n", "w", "block",
                      F.sum(rs_b).over(wcw).alias("cum_rs"),
                      rs_b.alias("rs_b"))
              .groupBy("conv_id", "w")
              .agg(F.first("n").alias("n"),
                   # rs_b >= 0, so the ordered cumulative sum is
                   # nondecreasing and max == the full fold total;
                   # max's NULL semantics are identical on both
                   # engines (max_by/arg_max edge rules are not)
                   F.max("cum_rs").alias("tot_rs"),
                   F.count("rs_b").alias("k_valid")))
    avg_rs = F.when(F.col("k_valid") > 0,
                    F.col("tot_rs") / F.col("k_valid").cast("double"))
    per_w = folded.select("conv_id", "n", "w", avg_rs.alias("avg_rs"))
    pivots = [F.max(F.when(F.col("w") == w, F.col("avg_rs")))
              .alias(f"rs_{w}") for w in ws]
    wide = (per_w.groupBy("conv_id")
            .agg(F.first("n").alias("n_points"), *pivots))
    all_ok = None
    for w in ws:
        c = F.col(f"rs_{w}").isNotNull()
        all_ok = c if all_ok is None else (all_ok & c)
    slope = None
    for cf, w in zip(coef, ws):
        term = F.lit(cf) * F.log(F.col(f"rs_{w}"))
        slope = term if slope is None else (slope + term)
    return wide.select(
        "conv_id", "n_points",
        *[F.col(f"rs_{w}") for w in ws],
        F.when(all_ok, slope).alias("hurst"))


def pacf3(series: DataFrame) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per conversation via the
    Durbin–Levinson recursion unrolled to closed form — the AR-order
    identification screen next to ``acf`` (which mixes direct and
    indirect correlation) and ``ar1_fit`` (which assumes order 1
    outright): φ_kk is the correlation at lag k AFTER removing the
    shorter-lag linear dependence, so an AR(p) series shows φ_kk ≈ 0
    for k > p — the textbook "which p?" plot, here as columns.

    Sample ACF on integer levels is exact: with S = Σy, n = count,
    (y_t − S/n)(y_{t+k} − S/n)·n² = (n·y_t − S)(n·y_{t+k} − S), so

        N_k = Σ_{t>k} (n·y_t − S)(n·y_{t−k} − S)     (exact int64)
        r_k = N_k / N_0                               (one division)

    and the Durbin–Levinson closed forms are fixed double trees over
    r₁..r₃, restated verbatim in SQL:

        φ₁₁ = r₁
        φ₂₂ = (r₂ − r₁²) / (1 − r₁²)
        φ₂₁ = r₁ − φ₂₂·r₁
        φ₃₃ = (r₃ − φ₂₁·r₂ − φ₂₂·r₁)
              / (1 − φ₂₁·r₁ − φ₂₂·r₂)

    Integer contract (the variance_ratio rule): float inputs raise;
    ANSI overflow raises rather than wrapping — |n·y| must stay under
    ~3e9 and Σ(n·y−S)² under int64, which holds for token-scale values
    up to million-turn conversations.  Degenerates are NULL, never
    ±inf: constant series (N₀ = 0), |r₁| = 1 (zero φ₂₂ denominator),
    singular φ₃₃ denominator, and series too short for a lag (no
    pairs → N_k NULL propagates).  Every division sits inside its
    when() branch (ANSI CaseWhen laziness is the only guard).

    Plan: three lag windows + two unordered windows + ONE hash
    aggregate, all keyed by conv_id → one exchange, no UDF, no join.
    """
    require_int(series, "pacf3", "y")
    agg = acf_sums(series, (1, 2, 3))
    nz = F.col("n0") > 0
    r1 = F.when(nz, F.col("n1").cast("double") / F.col("n0").cast("double"))
    r2 = F.when(nz, F.col("n2").cast("double") / F.col("n0").cast("double"))
    r3 = F.when(nz, F.col("n3").cast("double") / F.col("n0").cast("double"))
    step1 = agg.select("conv_id", "n",
                       r1.alias("r1"), r2.alias("r2"), r3.alias("r3"))
    d22 = F.lit(1.0) - F.col("r1") * F.col("r1")
    p22 = F.when(d22 != 0,
                 (F.col("r2") - F.col("r1") * F.col("r1")) / d22)
    step2 = step1.select("*", p22.alias("pacf2"))
    p21 = F.col("r1") - F.col("pacf2") * F.col("r1")
    step3 = step2.select("*", p21.alias("__p21"))
    d33 = (F.lit(1.0) - F.col("__p21") * F.col("r1")
           - F.col("pacf2") * F.col("r2"))
    p33 = F.when(d33 != 0,
                 (F.col("r3") - F.col("__p21") * F.col("r2")
                  - F.col("pacf2") * F.col("r1")) / d33)
    return step3.select(
        "conv_id", "n", "r1", "r2", "r3",
        F.col("r1").alias("pacf1"), "pacf2", p33.alias("pacf3"))


def spearman_channels(series: DataFrame, ch_a: str,
                      ch_b: str) -> DataFrame:
    """Cross-channel SPEARMAN rank correlation per conversation — the
    monotone-association twin of ``channel_corr``'s Pearson r: rank
    both channels within the paired sample and correlate the ranks,
    so one whale turn cannot dominate the statistic and any monotone
    (not just linear) coupling shows as |ρ| → 1.

    Exactness — the whole statistic reduces to exact int64: with
    average ranks for ties, 2·rank_avg = 2·rank() + (ties − 1) is an
    INTEGER (rank() = ANSI sparse rank, ties = the value's multiplicity
    in the conversation), and Pearson over (2·rank_a, 2·rank_b) equals
    Pearson over the average ranks (the factor 2 cancels), so n, Σx,
    Σy, Σx², Σy², Σxy are exact int64 hash-aggregate sums and ρ is the
    one fixed double tree

        ρ = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − Σx²̲)·(n·Σy² − Σy²̲)),

    restated verbatim in SQL.  Either channel constant over the pairs
    (zero variance) → NULL, never 0/0; < 2 pairs → NULL.  Rank sums
    are O(n²) in magnitude: int64-safe up to ~10^4.5-million-pair
    conversations, far past any real transcript (ANSI raises, not
    wraps, beyond).

    Plan: the channel_corr single-scan conditional-aggregation
    alignment (no self-join), then two rank windows + two tie-count
    windows + one aggregate, ALL keyed by conv_id → two exchanges
    total ((conv,turn) alignment, then conv windows+agg), both
    shrinking.
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__ya"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__yb"))
        .where(F.col("__ya").isNotNull() & F.col("__yb").isNotNull())
    )
    ranked = aligned.select("conv_id", midrank2("__ya").alias("__ra"),
                            midrank2("__yb").alias("__rb"))
    x, y = F.col("__ra"), F.col("__rb")
    g = ranked.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"))

    def d(c):
        return F.col(c).cast("double")

    n, sx, sy = d("n_pairs"), d("sx"), d("sy")
    sxx, syy, sxy = d("sxx"), d("syy"), d("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    rho = F.when((F.col("n_pairs") >= 2)
                 & (vx > 0) & (vy > 0),
                 (n * sxy - sx * sy) / F.sqrt(vx * vy))
    return g.select("conv_id", "n_pairs", rho.alias("rho"))


def cusum(series: DataFrame, target: int, slack: int = 0,
          h: int | None = None) -> DataFrame:
    """Page's CUSUM control statistic per conversation (Page 1954) —
    the SEQUENTIAL drift alarm completing the change-detection pair
    with ``pettitt`` (retrospective single-shift locator): how far has
    the series run above/below its in-control ``target``, with
    ``slack`` absorbing innocuous wobble and ``h`` the alarm fence.

    The textbook recursion S⁺_k = max(0, S⁺_{k−1} + y_k − target −
    slack) needs no recursion at all: with the prefix sums
    A_k = Σ_{i≤k}(y_i − target − slack),

        S⁺_k = A_k − min_{0≤j≤k} A_j        (and symmetrically
        S⁻_k = B_k − min B_j,  B_k = Σ(target − slack − y_i)),

    i.e. a running sum minus a running min — two ordered windows,
    entirely native, and on the house integer contract EVERY quantity
    is exact int64 (target/slack/h are integer GRID parameters by
    signature; float inputs raise; the implicit A_0 = 0 enters as a
    least(min, 0)).  No reset-after-alarm: the operator reports the
    UNRESET statistic's maxima and first crossings (the common
    monitoring readout); a reset variant is a different, stateful
    operator and deliberately out of scope here.

    Output per conversation: n, s_up_max, s_dn_max (exact ints),
    crossed_up / crossed_dn (NULL when h is None), first_up /
    first_dn — the first turn_idx whose statistic exceeds h, NULL if
    never.

    Plan: two prefix windows + one hash aggregate, all keyed by
    conv_id → ONE exchange, no UDF, no join (plan-asserted).
    """
    for name, v in (("target", target), ("slack", slack)):
        if not isinstance(v, int):
            raise ValueError(f"cusum: {name} must be an int (pre-grid "
                             f"floats explicitly), got {v!r}")
    if h is not None and (not isinstance(h, int) or h <= 0):
        raise ValueError(f"cusum: h must be a positive int, got {h!r}")
    require_int(series, "cusum", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("y").cast("long")
    up_inc = y - F.lit(target) - F.lit(slack)
    dn_inc = F.lit(target) - F.lit(slack) - y
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", "turn_idx", "t",
                 F.sum(up_inc).over(w_run).alias("__a"),
                 F.sum(dn_inc).over(w_run).alias("__b")))
    # S_k = A_k - min(0, min_{j<=k} A_j): the implicit A_0 = 0 start
    s = s.select(
        "conv_id", "turn_idx",
        (F.col("__a")
         - F.least(F.min("__a").over(w_run), F.lit(0))).alias("__su"),
        (F.col("__b")
         - F.least(F.min("__b").over(w_run), F.lit(0))).alias("__sd"))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.max("__su").alias("s_up_max"),
            F.max("__sd").alias("s_dn_max")]
    if h is not None:
        aggs += [
            F.min(F.when(F.col("__su") > h, F.col("turn_idx")))
            .alias("first_up"),
            F.min(F.when(F.col("__sd") > h, F.col("turn_idx")))
            .alias("first_dn")]
    g = s.groupBy("conv_id").agg(*aggs)
    if h is None:
        return g.select(
            "conv_id", "n", "s_up_max", "s_dn_max",
            F.lit(None).cast("boolean").alias("crossed_up"),
            F.lit(None).cast("boolean").alias("crossed_dn"),
            F.lit(None).cast("int").alias("first_up"),
            F.lit(None).cast("int").alias("first_dn"))
    return g.select(
        "conv_id", "n", "s_up_max", "s_dn_max",
        (F.col("s_up_max") > h).alias("crossed_up"),
        (F.col("s_dn_max") > h).alias("crossed_dn"),
        F.col("first_up").cast("int").alias("first_up"),
        F.col("first_dn").cast("int").alias("first_dn"))


def gini_concentration(series: DataFrame) -> DataFrame:
    """Gini coefficient of the per-turn value distribution within each
    conversation — the concentration question ("is the content packed
    into a few whale turns or spread evenly?") that mean/std cannot
    answer: G = 0 perfectly even, → 1 one turn carries everything.

    Computed by the rank formulation over the value-sorted series,

        G = Σᵢ (2·i − n − 1)·y_(i) / (n · Σy),

    which is EXACT on the integer contract: with i = row_number over
    (y, turn_idx) order, the numerator and n·Σy are exact int64 —
    and tie order cannot matter because the weights of a tied group
    sum to a fixed total regardless of who gets which position (the
    group's positions are fixed as a set).  Requires non-negative
    values (validated in-plan: a negative y raises via an ANSI
    assertion expression, because Gini over mixed signs is undefined
    and a silent wrong number is worse than a failed job).  All-zero
    series → NULL (0/0); n = 1 → G = 0 exactly.

    Plan: one rank window + one hash aggregate, both keyed by conv_id
    → ONE exchange, no UDF, no join (plan-asserted).
    """
    require_int(series, "gini_concentration", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("y", "turn_idx")
    y = F.col("y").cast("long")
    checked = F.when(
        y < 0,
        F.expr("raise_error('gini_concentration: negative value — "
               "Gini over mixed signs is undefined')").cast("long")
    ).otherwise(y)
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id", checked.alias("__y"),
                 F.row_number().over(w_ord).alias("__i")))
    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("total"),
        F.sum((F.lit(2) * F.col("__i")) * F.col("__y")).alias("__wsum"))
    num = (F.col("__wsum")
           - (F.col("n") + F.lit(1)) * F.col("total")).cast("double")
    den = (F.col("n") * F.col("total")).cast("double")
    gini = F.when(F.col("total") > 0, num / den)
    return g.select("conv_id", "n",
                    F.col("total").cast("long").alias("total"),
                    gini.alias("gini"))


def hac_mean_se(series: DataFrame, max_lag: int = 3) -> DataFrame:
    """Newey–West HAC standard error of the conversation mean (Newey &
    West 1987, Bartlett kernel, lag window L=``max_lag``) — the honest
    error bar: a sticky series (ar1_fit φ > 0) makes the naive
    se = σ/√n overconfident by the factor this operator reports as
    ``inflation``.  The long-run variance

        lrv = γ̂₀ + 2·Σ_{l=1..L} (1 − l/(L+1))·γ̂_l

    is PSD by the Bartlett weights, and on the integer contract every
    autocovariance reduces to the exact int64 numerators of pacf3:
    N_l = Σ(n·y_t − S)(n·y_{t−l} − S), γ̂_l = N_l/n³.  So

        se_iid    = sqrt(N₀)/n²
        se_hac    = sqrt(greatest(N₀ + 2·Σ w_l·N_l, 0)) / n²
        inflation = se_hac / se_iid                    (NULL if N₀=0)

    — fixed double trees over exact integers (the Bartlett weights
    for the default L=3 are the dyadic 3/4, 1/2, 1/4: exactly
    representable literals on both engines); the greatest(…, 0) clamp
    absorbs the ≤1-ulp float cancellation a mathematically-zero lrv
    can leave (the ols_granger SSE clamp precedent).  Constant series
    → NULL se ratios; series shorter than a lag simply contribute
    NULL N_l which the tree treats as missing → NULL se_hac (an
    UNDERSTATED error bar is the one thing this operator must never
    emit).

    Plan: identical to pacf3 — L lag windows + two unordered windows
    + ONE conv-keyed hash aggregate, one exchange, no UDF.
    """
    if not isinstance(max_lag, int) or not (1 <= max_lag <= 8):
        raise ValueError(f"hac_mean_se: max_lag must be an int in "
                         f"[1, 8], got {max_lag!r}")
    require_int(series, "hac_mean_se", "y")
    agg = acf_sums(series, range(1, max_lag + 1))
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    wsum = None
    for l in range(1, max_lag + 1):
        term = F.lit(1.0 - l / (max_lag + 1.0)) \
            * F.col(f"n{l}").cast("double")
        wsum = term if wsum is None else (wsum + term)
    lrv_num = F.col("n0").cast("double") + F.lit(2.0) * wsum
    # clamp via when, NOT greatest: greatest() SKIPS nulls, which would
    # turn a too-short-series NULL into a silent se_hac of 0 — the
    # understated error bar this operator must never emit
    lrv_pos = F.when(lrv_num < 0, F.lit(0.0)).otherwise(lrv_num)
    all_lags = None
    for l in range(1, max_lag + 1):
        c = F.col(f"n{l}").isNotNull()
        all_lags = c if all_lags is None else (all_lags & c)
    n2 = nd * nd
    se_iid = F.when(F.col("n0") > 0,
                    F.sqrt(F.col("n0").cast("double")) / n2)
    se_hac = F.when((F.col("n0") > 0) & all_lags,
                    F.sqrt(lrv_pos) / n2)
    infl = F.when((F.col("n0") > 0) & all_lags,
                  F.sqrt(lrv_pos / F.col("n0").cast("double")))
    return agg.select("conv_id", "n", mean.alias("mean"),
                      se_iid.alias("se_iid"), se_hac.alias("se_hac"),
                      infl.alias("inflation"))


def ks_two_sample(series: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between the FIRST and
    SECOND half of each conversation — the distribution-shape change
    detector completing the drift row: cusum alarms on the mean,
    pettitt locates one shift, this asks whether the whole
    DISTRIBUTION of values changed mid-conversation (variance blowup,
    new mode, censoring — things a mean test cannot see).

    Exactness: with halves split at n div 2 in time order, the KS
    statistic's numerator is exact int64 —

        D = max_v |c₁(v)·n₂ − c₂(v)·n₁| / (n₁·n₂)

    where c_i(v) counts sample-i values ≤ v via a RANGE-framed
    cumulative count over the value order (the RANGE frame absorbs
    ties exactly like the ECDF definition; every row of a tied group
    carries the same counts, so max over rows = max over distinct
    values).  D is ONE terminal division; λ = D·√(n₁n₂/(n₁+n₂)) and
    the one-term Kolmogorov bound p ≈ min(1, 2·e^(−2λ²)) are fixed
    double trees — p is the standard large-sample upper bound,
    documented as such, NOT the full series expansion.  n < 2 →
    NULL everything (a half is empty).

    Plan: one time-order window (rank), one value-order RANGE window
    (ECDF counts), one hash aggregate — all keyed by conv_id, ONE
    exchange, no UDF, no join (plan-asserted).
    """
    require_int(series, "ks_two_sample", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", y.alias("__y"),
                 (F.row_number().over(w_ord) - 1).alias("__rk"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    n1 = F.expr("__n div 2")
    s = s.select("conv_id", "__y", "__n", n1.alias("__n1"),
                 (F.col("__rk") >= n1).cast("long").alias("__h"))
    w_val = (Window.partitionBy("conv_id").orderBy("__y")
             .rangeBetween(Window.unboundedPreceding, 0))
    s = s.select(
        "conv_id", "__n", "__n1",
        (F.sum(F.lit(1) - F.col("__h")).over(w_val)).alias("__c1"),
        (F.sum("__h").over(w_val)).alias("__c2"))
    n2 = F.col("__n") - F.col("__n1")
    diff = F.abs(F.col("__c1") * n2 - F.col("__c2") * F.col("__n1"))
    g = (s.groupBy("conv_id")
         .agg(F.max("__n").alias("n"),
              F.max("__n1").alias("n1"),
              F.max(diff).alias("d_num")))
    n1d = F.col("n1").cast("double")
    n2d = (F.col("n") - F.col("n1")).cast("double")
    ok = F.col("n1") > 0
    d = F.when(ok, F.col("d_num").cast("double") / (n1d * n2d))
    lam = F.when(ok, (F.col("d_num").cast("double") / (n1d * n2d))
                 * F.sqrt(n1d * n2d / (n1d + n2d)))
    lam2 = (F.col("d_num").cast("double") / (n1d * n2d)) \
        * F.sqrt(n1d * n2d / (n1d + n2d))
    p = F.when(ok, F.least(F.lit(1.0),
                           F.lit(2.0) * F.exp(F.lit(-2.0) * lam2 * lam2)))
    return g.select(
        "conv_id", "n",
        F.col("n1").cast("long").alias("n1"),
        (F.col("n") - F.col("n1")).cast("long").alias("n2"),
        F.col("d_num").cast("long").alias("d_num"),
        d.alias("d"), lam.alias("lambda"), p.alias("p_bound"))


def burstiness(series: DataFrame) -> DataFrame:
    """Goh–Barabási burstiness and memory of an inter-event-gap
    series (Goh & Barabási 2008, "Burstiness and memory in complex
    systems") — the two-number cadence fingerprint: B ∈ [−1, 1]
    classifies the gap DISTRIBUTION (−1 metronome, 0 Poisson, → 1
    bursty), M the correlation of CONSECUTIVE gaps (do long gaps
    follow long gaps).  Input y = the integer-gridded gaps (the
    caller pre-grids, e.g. round() to whole seconds — the variance_
    ratio float-reject contract; second-gridding also keeps Σg² in
    int64 up to ~10⁶ gaps of ~10⁵ s, ANSI raises beyond).

        B = (σ − μ)/(σ + μ) = (sqrt(n·Q − S²) − S)
                              / (sqrt(n·Q − S²) + S)   (n cancels!)
        M = Pearson r over the (gᵢ, gᵢ₊₁) pairs with the
            Goh–Barabási convention: means/stds of the FIRST n−1 and
            LAST n−1 gaps separately (the exact-int64 six-sum tree).

    Degenerates NULL, never ±inf: all-zero gaps (σ + μ = 0), constant
    gaps (σ = 0 makes M's denominator 0 — B is exactly −1 there,
    which IS the metronome answer), < 2 gaps for B, < 3 for M.
    Negative gaps raise in-plan (a gap series with time running
    backwards is corrupt input, not a statistic).

    Plan: one lead window + one hash aggregate, conv-keyed → ONE
    exchange, no UDF, no join.
    """
    require_int(series, "burstiness", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    y = F.col("y").cast("long")
    checked = F.when(
        y < 0,
        F.expr("raise_error('burstiness: negative gap — time runs "
               "backwards in the input')").cast("long")).otherwise(y)
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", checked.alias("__g"),
                 F.lead(y).over(w_ord).alias("__gn")))
    pair = F.col("__gn").isNotNull()
    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("__g").alias("s1"),
        F.sum(F.col("__g") * F.col("__g")).alias("q1"),
        F.sum(F.when(pair, F.col("__g"))).alias("sx"),
        F.sum(F.when(pair, F.col("__gn"))).alias("sy"),
        F.sum(F.when(pair, F.col("__g") * F.col("__g"))).alias("sxx"),
        F.sum(F.when(pair, F.col("__gn") * F.col("__gn"))).alias("syy"),
        F.sum(F.when(pair, F.col("__g") * F.col("__gn"))).alias("sxy"))
    nd = F.col("n_gaps").cast("double")
    s1 = F.col("s1").cast("double")
    disc = nd * F.col("q1").cast("double") - s1 * s1
    root = F.sqrt(disc)
    b_ok = (F.col("n_gaps") >= 2) & ((F.col("q1") > 0) | (F.col("s1") > 0))
    b = F.when(b_ok, (root - s1) / (root + s1))
    npd = (F.col("n_gaps") - 1).cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = npd * sxx - sx * sx
    vy = npd * syy - sy * sy
    m = F.when((F.col("n_gaps") >= 3) & (vx > 0) & (vy > 0),
               (npd * sxy - sx * sy) / F.sqrt(vx * vy))
    mean = F.when(F.col("n_gaps") > 0, s1 / nd)
    return g.select("conv_id", "n_gaps", mean.alias("mean_gap"),
                    b.alias("b"), m.alias("m"))


def trimmed_stats(series: DataFrame, trim: float = 0.1) -> DataFrame:
    """Trimmed and winsorized mean per conversation — the robust
    location pair between the mean (whale-sensitive) and the median
    (discards 98% of the data): drop (trimmed) or clamp (winsorized)
    the k = ⌊trim·n⌋ most extreme values at EACH end and average the
    rest.  The outlier-resistant per-conversation location a
    token-consumption dashboard actually wants.

    Exactness on the integer contract: ranks come from row_number
    over the deterministic (y, turn_idx) order, k = ⌊trim·n⌋ is
    integer arithmetic (the float trim enters ONLY through floor of
    trim·n — computed as the same double product on both engines,
    never a data comparison), the trimmed sum and the two winsor
    boundary values y_(k+1), y_(n−k) are exact int64 conditional
    aggregates, and each mean is ONE terminal division:

        trimmed_mean = Σ_{k<i≤n−k} y_(i) / (n − 2k)
        winsor_mean  = (Σ_middle + k·y_(k+1) + k·y_(n−k)) / n

    n − 2k < 1 (trim too aggressive for the series) → NULL, never a
    mean over nothing.  Plan: one rank window + one hash aggregate,
    conv-keyed → ONE exchange, no UDF.
    """
    if not (0.0 <= trim < 0.5):
        raise ValueError(f"trimmed_stats: trim must be in [0, 0.5), "
                         f"got {trim!r}")
    require_int(series, "trimmed_stats", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("y", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id", y.alias("__y"),
                 F.row_number().over(w_ord).alias("__i"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    k = F.floor(F.lit(float(trim)) * F.col("__n").cast("double"))
    s = s.select("conv_id", "__y", "__i", "__n", k.alias("__k"))
    mid = (F.col("__i") > F.col("__k")) \
        & (F.col("__i") <= F.col("__n") - F.col("__k"))
    g = s.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k"),
        F.sum(F.when(mid, F.col("__y"))).alias("mid_sum"),
        F.max(F.when(F.col("__i") == F.col("__k") + 1, F.col("__y")))
        .alias("lo_cut"),
        F.max(F.when(F.col("__i") == F.col("__n") - F.col("__k"),
                     F.col("__y"))).alias("hi_cut"))
    kept = F.col("n") - F.lit(2) * F.col("k")
    ok = kept >= 1
    tmean = F.when(ok, F.col("mid_sum").cast("double")
                   / kept.cast("double"))
    wsum = (F.col("mid_sum") + F.col("k") * F.col("lo_cut")
            + F.col("k") * F.col("hi_cut"))
    wmean = F.when(ok, wsum.cast("double") / F.col("n").cast("double"))
    return g.select("conv_id", "n",
                    F.col("k").cast("long").alias("k"),
                    "lo_cut", "hi_cut",
                    tmean.alias("trimmed_mean"),
                    wmean.alias("winsor_mean"))


def tail_stats(series: DataFrame) -> DataFrame:
    """Tail-heaviness profile per conversation — the robust/classical
    cross-check pair: quartile statistics (exact order statistics)
    against moment statistics (skew, excess kurtosis), plus the
    normal-consistency ratio that flags heavy tails when they
    disagree:

        q1/q2/q3       type-1 (lower) order statistics at ⌈p·n⌉ —
                       exact INTEGER picks, no interpolation
        bowley         (q3 + q1 − 2·q2)/(q3 − q1), robust skew,
                       NULL when IQR = 0
        skew_g1        M3/n / (M2/n)^{3/2}   (biased population g1,
                       the §2.4 convention)
        kurtosis_ex    n·M4/M2² − 3
        tail_ratio     IQR / (1.3489795003921634·σ) — exactly 1 for
                       a normal; < 1 ⇒ the σ is inflated by tails
                       the quartiles don't see

    Exactness: central moments expand over the exact int64 RAW power
    sums Σy..Σy⁴ (NOT the scaled-deviation trick — (n·y−S)⁴ would
    overflow int64 at token scale, Σy⁴ does not until max|y| ~ 5·10³
    at 10⁶-row conversations; ANSI raises beyond, documented), μ is
    one division, and every output is a fixed double tree over those
    sums restated verbatim in SQL; the 2·Φ⁻¹(3/4) constant is the
    same Python float literal on both sides.  Constant series → NULL
    moments/ratios; n < 4 → NULL kurtosis.

    Plan: one rank window + one hash aggregate, conv-keyed → ONE
    exchange, no UDF.
    """
    require_int(series, "tail_stats", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("y", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id", y.alias("__y"),
                 F.row_number().over(w_ord).alias("__i"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))

    def _at(p_num, p_den):
        # type-1 quantile: the ceil(p*n)-th order statistic, integer
        # arithmetic only: ceil(a/b) = (a + b - 1) div b
        rank = F.expr(f"(__n * {p_num} + {p_den} - 1) div {p_den}")
        return F.max(F.when(F.col("__i") == rank, F.col("__y")))

    g = s.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.sum("__y").alias("s1"),
        F.sum(F.col("__y") * F.col("__y")).alias("s2"),
        F.sum(F.col("__y") * F.col("__y") * F.col("__y")).alias("s3"),
        F.sum(F.col("__y") * F.col("__y") * F.col("__y") * F.col("__y"))
        .alias("s4"),
        _at(1, 4).alias("q1"), _at(1, 2).alias("q2"),
        _at(3, 4).alias("q3"))
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mu = s1 / nd
    m2 = s2 - s1 * mu                      # Σ(y−μ)² = Σy² − n·μ²
    m3 = s3 - F.lit(3.0) * mu * s2 + F.lit(2.0) * nd * mu * mu * mu
    m4 = (s4 - F.lit(4.0) * mu * s3 + F.lit(6.0) * mu * mu * s2
          - F.lit(3.0) * nd * mu * mu * mu * mu)
    nz = m2 > 0
    skew = F.when(nz, (m3 / nd) / F.pow(m2 / nd, F.lit(1.5)))
    kurt = F.when(nz & (F.col("n") >= 4),
                  nd * m4 / (m2 * m2) - F.lit(3.0))
    iqr = (F.col("q3") - F.col("q1")).cast("double")
    bowley = F.when(
        F.col("q3") > F.col("q1"),
        (F.col("q3") + F.col("q1") - F.lit(2) * F.col("q2"))
        .cast("double") / iqr)
    sigma = F.sqrt(m2 / nd)
    tail = F.when(nz, iqr / (F.lit(1.3489795003921634) * sigma))
    return g.select("conv_id", "n", "q1", "q2", "q3",
                    bowley.alias("bowley"), skew.alias("skew_g1"),
                    kurt.alias("kurtosis_ex"), tail.alias("tail_ratio"))


def sprt_bernoulli(series: DataFrame, p0: float, p1: float,
                   alpha: float = 0.05, beta: float = 0.2) -> DataFrame:
    """Wald's Sequential Probability Ratio Test per conversation
    (Wald 1945) — the sequential decision engine behind every
    "stop the experiment early" framework: walk the log-likelihood
    ratio of H₁: rate = p1 against H₀: rate = p0 over the 0/1 event
    stream and stop at the FIRST boundary crossing,

        llr_t = pos_t·ln(p1/p0) + (t − pos_t)·ln((1−p1)/(1−p0))
        accept H₁ when llr ≥ A = ln((1−β)/α)
        accept H₀ when llr ≤ B = ln(β/(1−α))

    with the textbook error guarantees (≈α false-accept of H₁,
    ≈β false-accept of H₀).  The input column y must be 0/1 integers
    (validated in-plan — any other value raises; a silently coerced
    y=2 would double-count evidence).

    Exactness: pos_t and t are exact int64 running counts (ordered
    windows); the four ln() constants are computed ONCE in Python
    and inlined as identical double literals on both engines, so
    llr_t is the fixed tree pos·L1 + neg·L0 over exact integers —
    the crossing comparison is therefore engine-identical arithmetic
    except for the two literal thresholds, also Python floats.
    Output per conversation: n, n_pos, final llr, decision
    ('accept_h1' / 'accept_h0' / 'continue' — whichever boundary is
    crossed FIRST in time wins, not whichever is crossed at the end),
    decided_at (turn_idx, NULL when still in 'continue').

    Plan: one ordered window pass + one hash aggregate, conv-keyed →
    ONE exchange, no UDF, no join.
    """
    import math
    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0) or p0 == p1:
        raise ValueError(f"sprt_bernoulli: need distinct p0, p1 in "
                         f"(0,1), got {p0}, {p1}")
    if not (0.0 < alpha < 1.0 and 0.0 < beta < 1.0):
        raise ValueError("sprt_bernoulli: alpha, beta must be in (0,1)")
    l1 = math.log(p1 / p0)
    l0 = math.log((1.0 - p1) / (1.0 - p0))
    a_bound = math.log((1.0 - beta) / alpha)
    b_bound = math.log(beta / (1.0 - alpha))
    require_int(series, "sprt_bernoulli", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("y").cast("long")
    checked = F.when(
        (y < 0) | (y > 1),
        F.expr("raise_error('sprt_bernoulli: outcome outside {0,1}')")
        .cast("long")).otherwise(y)
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", "turn_idx", "t", checked.alias("__x")))
    pos = F.sum("__x").over(w_run)
    cnt = F.count(F.lit(1)).over(w_run)
    llr = (pos.cast("double") * F.lit(l1)
           + (cnt - pos).cast("double") * F.lit(l0))
    s = s.select("conv_id", "turn_idx", "__x", llr.alias("__llr"))
    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("n_pos"),
        F.min(F.when(F.col("__llr") >= F.lit(a_bound),
                     F.col("turn_idx"))).alias("__t1"),
        F.min(F.when(F.col("__llr") <= F.lit(b_bound),
                     F.col("turn_idx"))).alias("__t0"),
        F.expr("max_by(__llr, turn_idx)").alias("llr_final"))
    first1 = F.col("__t1")
    first0 = F.col("__t0")
    h1_first = first1.isNotNull() & (first0.isNull()
                                     | (first1 <= first0))
    decision = (F.when(h1_first, F.lit("accept_h1"))
                .when(first0.isNotNull(), F.lit("accept_h0"))
                .otherwise(F.lit("continue")))
    decided_at = (F.when(h1_first, first1)
                  .when(first0.isNotNull(), first0))
    return g.select(
        "conv_id", "n",
        F.col("n_pos").cast("long").alias("n_pos"),
        decision.alias("decision"),
        decided_at.cast("int").alias("decided_at"),
        F.col("llr_final"))


def record_stats(series: DataFrame) -> DataFrame:
    """Records-based distribution-free trend evidence per conversation
    (Foster & Stuart 1954): count UPPER records (y_t strictly exceeds
    every earlier value) and LOWER records; under exchangeability
    both counts have mean H_n (the harmonic number), so

        d = rec_up − rec_dn,     z = d / sqrt(2·(H_n − 1))

    is the classic records test — drift shows as an up/down record
    imbalance, robust to any monotone transform of y (records only
    see the ORDER).  Also reports the longest strictly-increasing
    run, the streak diagnostic.

    Exactness: records and streaks are pure integer window logic
    (running max/min with the 1-row-shifted frame so the first value
    counts as both kinds of record, run-length via the
    gaps-and-islands pair); H_n is the ordered cumulative fold
    Σ 1/i over the rank sequence — both engines fold the same 1/i
    doubles in the same order (max of a nondecreasing running sum).
    z is NULL for n < 2 (H_n − 1 = 0).  Ties break records ONLY when
    strictly exceeded — documented, and the reason the test is
    two-sided on ties (a tie extends no record on either side).

    Plan: one ordered window pass + one hash aggregate, conv-keyed →
    ONE exchange, no UDF, no join.
    """
    require_int(series, "record_stats", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", "turn_idx", "t", y.alias("__y"),
                 F.row_number().over(w_ord).alias("__i")))
    prev_max = F.max("__y").over(w_prev)
    prev_min = F.min("__y").over(w_prev)
    lagy = F.lag("__y").over(w_ord)
    s = s.select(
        "conv_id", "turn_idx", "t", "__y", "__i",
        (prev_max.isNull() | (F.col("__y") > prev_max))
        .cast("long").alias("__up"),
        (prev_min.isNull() | (F.col("__y") < prev_min))
        .cast("long").alias("__dn"),
        # strictly-increasing streak: break when not greater
        F.when(lagy.isNull() | (F.col("__y") <= lagy), 1)
        .otherwise(0).alias("__brk"),
        (F.lit(1.0) / F.col("__i").cast("double")).alias("__inv"))
    s = s.select("conv_id", "__up", "__dn",
                 F.sum("__brk").over(w_run).alias("__runid"),
                 F.sum("__inv").over(w_run).alias("__cum_h"))
    runs = Window.partitionBy("conv_id", "__runid")
    s = s.select("conv_id", "__up", "__dn", "__cum_h",
                 F.count(F.lit(1)).over(runs).alias("__rlen"))
    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__up").alias("rec_up"),
        F.sum("__dn").alias("rec_dn"),
        F.max("__rlen").alias("longest_up_run"),
        F.max("__cum_h").alias("__hn"))
    d = F.col("rec_up") - F.col("rec_dn")
    z = F.when(F.col("n") >= 2,
               d.cast("double")
               / F.sqrt(F.lit(2.0) * (F.col("__hn") - F.lit(1.0))))
    return g.select(
        "conv_id", "n",
        F.col("rec_up").cast("long").alias("rec_up"),
        F.col("rec_dn").cast("long").alias("rec_dn"),
        F.col("longest_up_run").cast("long").alias("longest_up_run"),
        d.cast("long").alias("d"), z.alias("z"))


def hill_tail(series: DataFrame, k: int = 20) -> DataFrame:
    """Hill estimator of the power-law tail index per conversation
    (Hill 1975) — the extreme-value refinement of ``tail_stats``'
    one-number tail ratio: over the k largest values,

        1/α̂ = (1/k)·Σ_{i=1..k} ln( y_(n−i+1) / y_(n−k) ),

    α̂ ≈ 2 means heavy Pareto-like tails (infinite variance below 2),
    α̂ large means thin tails.  The operator answers "HOW heavy" where
    tail_stats answers "heavier than normal?".

    Determinism/exactness: the top-k membership and the threshold
    y_(n−k) are exact integer ORDER statistics (rank over the
    deterministic (y, turn_idx) order — no float enters the cut);
    the ln-ratio terms are non-negative BY CONSTRUCTION (every
    member ≥ the threshold), so the per-conversation fold is the
    ordered max-of-nondecreasing-cumsum (rank order), and α̂ is one
    terminal division.  Guards: n must exceed k (else NULL — the
    estimator needs a bulk to anchor the threshold), the threshold
    must be > 0 (ln of a zero/negative threshold is undefined —
    NULL, documented: Hill applies to positive heavy-tailed data),
    and a zero Σln (all top-k equal to the threshold) yields NULL α̂
    rather than ∞.

    Plan: one rank window + one ordered fold + one hash aggregate,
    conv-keyed → ONE exchange, no UDF, no join.
    """
    if not isinstance(k, int) or k < 2:
        raise ValueError(f"hill_tail: k must be an int >= 2, got {k!r}")
    require_int(series, "hill_tail", "y")
    w_ord = Window.partitionBy("conv_id").orderBy(
        F.desc("y"), F.desc("turn_idx"))
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id", y.alias("__y"),
                 F.row_number().over(w_ord).alias("__r"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    # threshold = the (k+1)-th largest = y_(n-k)
    thr = F.max(F.when(F.col("__r") == k + 1, F.col("__y"))).over(w_all)
    s = s.select("conv_id", "__y", "__r", "__n", thr.alias("__thr"))
    term = F.when(
        (F.col("__r") <= k) & (F.col("__thr") > 0),
        F.log(F.col("__y").cast("double")
              / F.col("__thr").cast("double"))).otherwise(F.lit(0.0))
    w_fold = Window.partitionBy("conv_id").orderBy("__r")
    s = s.select("conv_id", "__n", "__thr",
                 F.sum(term).over(w_fold).alias("__cum"))
    g = s.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__thr").alias("threshold"),
        F.max("__cum").alias("sum_ln"))
    ok = (F.col("n") > k) & (F.col("threshold") > 0) \
        & (F.col("sum_ln") > 0)
    alpha = F.when(ok, F.lit(float(k)) / F.col("sum_ln"))
    return g.select("conv_id", "n",
                    F.lit(k).alias("k"),
                    "threshold", F.col("sum_ln").alias("sum_ln"),
                    alpha.alias("alpha"))


def anova_oneway(series: DataFrame, group_col: str = "channel") -> DataFrame:
    """One-way ANOVA per conversation across a categorical factor —
    the k-group generalization of the Welch two-sample screen: does
    the factor (role, tool, hour bucket …) explain the value's
    variance?  Reports the effect size η² = SS_between/SS_total and
    the classical F statistic with its two degrees of freedom.

    Exactness: per-(conv, group) sums n_g, S_g and the global n, S, Q
    are exact int64; the decomposition

        SS_total   = Q − S²/n
        SS_between = Σ_g S_g²/n_g − S²/n

    needs one float term per GROUP (S_g²/n_g ≥ 0), folded in ORDERED
    group sequence (nondecreasing cumsum — the chi2 cell contract),
    then fixed trees for η² and F.  Degenerates NULL, never ±inf or
    fake certainty: k < 2 (no factor), n ≤ k (no residual df),
    SS_total = 0 (constant data).  Perfect separation (SS_within = 0
    exactly) reports η² = 1 with NULL F — an infinite F is a data
    property to surface, not a number to fabricate.  The classic
    float-cancellation hazard (SS_within = SST − SSB computed as a
    difference of near-equal doubles) is clamped at 0 (the
    ols_granger residue rule).

    Plan: one (conv, group) aggregate (map-side collapse to k rows
    per conv), one ordered fold over the k cells, one final conv
    aggregate — two shrinking exchanges, no UDF, no join.
    """
    require_int(series, "anova_oneway", "y")
    y = F.col("y").cast("long")
    cells = (series
             .where(F.col("y").isNotNull()
                    & F.col(group_col).isNotNull())
             .groupBy("conv_id", F.col(group_col).alias("__g"))
             .agg(F.count(F.lit(1)).alias("ng"),
                  F.sum(y).alias("sg"),
                  F.sum(y * y).alias("qg")))
    w_all = Window.partitionBy("conv_id")
    w_ord = w_all.orderBy("__g")
    term = (F.col("sg").cast("double") * F.col("sg").cast("double")
            / F.col("ng").cast("double"))
    enriched = cells.select(
        "conv_id",
        F.sum("ng").over(w_all).alias("__n"),
        F.sum("sg").over(w_all).alias("__s"),
        F.sum("qg").over(w_all).alias("__q"),
        F.count(F.lit(1)).over(w_all).alias("__k"),
        F.sum(term).over(w_ord).alias("__cum_b"))
    g = enriched.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k"),
        F.max("__s").alias("__s"),
        F.max("__q").alias("__q"),
        F.max("__cum_b").alias("__b"))
    nd = F.col("n").cast("double")
    sd = F.col("__s").cast("double")
    qd = F.col("__q").cast("double")
    sst = qd - sd * sd / nd
    ssb_raw = F.col("__b") - sd * sd / nd
    # clamp both: tiny negative cancellation residue must not leak
    ssb = F.when(ssb_raw < 0, F.lit(0.0)).otherwise(ssb_raw)
    ssw_raw = sst - ssb
    ssw = F.when(ssw_raw < 0, F.lit(0.0)).otherwise(ssw_raw)
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (sst > 0)
    eta2 = F.when(ok, ssb / sst)
    kf = F.col("k").cast("double")
    fstat = F.when(ok & (ssw > 0),
                   (ssb / (kf - F.lit(1.0)))
                   / (ssw / (nd - kf)))
    return g.select(
        "conv_id", "n",
        F.col("k").cast("int").alias("k"),
        F.when(ok, ssb).alias("ss_between"),
        F.when(ok, ssw).alias("ss_within"),
        eta2.alias("eta2"), fstat.alias("f_stat"))


def dominant_lag(series: DataFrame, max_lag: int = 12) -> DataFrame:
    """Dominant integer period per conversation — argmax over lags
    2..max_lag of the sample autocorrelation, decided ENTIRELY in
    integers: r_l = N_l/N₀ shares the positive denominator N₀, so

        best_lag = argmax_l  N_l,
        N_l = Σ (n·y_t − S)(n·y_{t−l} − S)   (exact int64,
                                              ``exact.acf_sums``)

    — the argmax compares exact integers, ties break to the LOWEST
    lag, and no float ever enters the decision (the one place a
    periodicity detector usually goes engine-flaky).  r at the best
    lag is reported as the one terminal division.  This is the
    integer-period complement of the Lomb–Scargle family: LS scans a
    continuous frequency grid on irregular cadence; this answers
    "every how many TURNS does the pattern repeat" on the regular
    turn axis.  Lag 1 is deliberately excluded — plain stickiness
    (ar1_fit) would win on almost every real series and mask true
    periodicity.

    NULL contract: lags with no pairs (series too short) get N_l =
    NULL and are skipped by greatest()'s null-skipping — here that
    semantics is CORRECT and exploited (a lag that cannot be
    measured cannot win); all-lags-NULL or constant series (N₀ = 0)
    → NULL best_lag.

    Plan: max_lag−1 lag windows + two unordered windows + ONE
    conv-keyed aggregate (``acf_sums``) — one exchange, no UDF.
    """
    if not isinstance(max_lag, int) or not (2 <= max_lag <= 24):
        raise ValueError(f"dominant_lag: max_lag must be an int in "
                         f"[2, 24], got {max_lag!r}")
    require_int(series, "dominant_lag", "y")
    lags = list(range(2, max_lag + 1))
    agg = acf_sums(series, lags)
    best_val = F.greatest(*[F.col(f"n{l}") for l in lags])
    best_lag = None
    for l in lags:  # lowest lag wins ties: first match in order
        cond = F.col(f"n{l}").isNotNull() & (F.col(f"n{l}") == best_val)
        pick = F.lit(l)
        best_lag = F.when(cond, pick) if best_lag is None \
            else best_lag.when(cond, pick)
    ok = (F.col("n0") > 0) & best_val.isNotNull()
    r_best = F.when(ok, best_val.cast("double")
                    / F.col("n0").cast("double"))
    return agg.select(
        "conv_id", "n",
        F.when(ok, best_lag).cast("int").alias("best_lag"),
        r_best.alias("r_best"))


def time_weighted_quantiles(series: DataFrame) -> DataFrame:
    """Time-weighted quartiles of a value series per conversation —
    "what level did this conversation SIT at half the time": each
    turn's value y holds for the integer-second duration until the
    next turn (``w`` column, the burstiness pre-grid contract), and
    the weighted type-1 quantile at p is the smallest value whose
    cumulative holding time reaches p of the total.  The
    event-weighted quartiles (tail_stats) over-count rapid-fire
    turns; the TWA operator gives the time-weighted MEAN; this is
    the missing time-weighted ORDER statistic.

    Pure-integer decisions: with integer weights, the p = 1/4, 1/2,
    3/4 cuts are the integer comparisons 4·cumw ≥ W, 4·cumw ≥ 2·W,
    4·cumw ≥ 3·W over the value-ordered cumulative weight — no float
    exists ANYWHERE in the operator, including the cut (denominators
    cleared, the leaky_bucket rule).  The pick is min(y) among rows
    clearing the line (value order makes that the first crossing).
    Zero-weight rows cannot be picked unless they tie a positive-
    weight value (cumw unchanged ⇒ they clear the line exactly when
    their value-group does — the standard weighted-quantile tie
    semantics).  Zero TOTAL weight → NULL quartiles.

    Plan: one value-ordered window + one hash aggregate, conv-keyed
    → ONE exchange, no UDF, no join.
    """
    require_int(series, "time_weighted_quantiles", "y", "w")
    w_ord = Window.partitionBy("conv_id").orderBy("y", "turn_idx")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    wgt = F.col("w").cast("long")
    checked = F.when(
        wgt < 0,
        F.expr("raise_error('time_weighted_quantiles: negative "
               "duration')").cast("long")).otherwise(wgt)
    s = (series
         .where(F.col("y").isNotNull() & F.col("w").isNotNull())
         .select("conv_id", y.alias("__y"),
                 F.sum(checked).over(w_run).alias("__cw"),
                 F.sum(checked).over(w_all).alias("__tw")))

    def _pick(mult, thresh_mult):
        # smallest y whose 4*cumw >= thresh_mult*W
        return F.min(F.when(
            F.lit(mult) * F.col("__cw")
            >= F.lit(thresh_mult) * F.col("__tw"), F.col("__y")))

    g = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__tw").alias("total_w"),
        _pick(4, 1).alias("__q1"),
        _pick(4, 2).alias("__q2"),
        _pick(4, 3).alias("__q3"))
    ok = F.col("total_w") > 0
    return g.select(
        "conv_id", "n",
        F.col("total_w").cast("long").alias("total_w"),
        F.when(ok, F.col("__q1")).alias("tw_q1"),
        F.when(ok, F.col("__q2")).alias("tw_q2"),
        F.when(ok, F.col("__q3")).alias("tw_q3"))


def kruskal_wallis(series: DataFrame, group_col: str = "channel") -> DataFrame:
    """Kruskal–Wallis H test per conversation (Kruskal & Wallis 1952)
    — the RANK twin of ``anova_oneway``: does the factor shift the
    value's *distribution*, judged on ranks so a single whale turn
    cannot buy significance the way it can in the parametric F?

        H = 12/(N(N+1)) · Σ_g R̄²_g·n_g·… − 3(N+1)
          = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),
        tie correction  C = 1 − Σ_v(t_v³−t_v)/(N³−N),  H_corr = H/C.

    Exactness: mid-ranks arrive as the INTEGER 2·avg-rank (the
    spearman_channels contract): a tie block occupying positions
    a..a+t−1 has 2·avg = 2a+t−1 via rank() + ``ties``, so the
    per-group rank sums 2R_g and the tie masses Σ(t³−t) are exact
    int64 and the only float work is one Σ_g (2R_g)²/(4n_g) term per
    group, folded in ORDERED group sequence (the anova cum_b
    contract), then fixed trees for H and H/C.  Cancellation residue
    is clamped at 0 (H ≥ 0 mathematically).  Degenerates NULL: k < 2
    (no factor), N < 2, or C = 0 (every value identical — ranks carry
    no information, reporting H = 0 as "no effect" would be fake
    certainty).

    Overflow bound: 2R_g ≤ 2N², exact in int64 to N ~ 2^31 rows per
    conversation; (2R_g)² is formed in DOUBLE and stays exact to
    N ≈ 5·10⁴ (2N² ≤ 2^26.3, square ≤ 2^53) — far beyond any
    conversation; t³ ≤ N³ int64-safe to N ≈ 2·10⁶.

    Plan: two windows on the conv_id partition key (rank fold + group
    fold) and one final conv aggregate — one hash exchange on
    conv_id reused throughout, no UDF, no join (plan-asserted).
    """
    require_int(series, "kruskal_wallis", "y")
    y = F.col("y").cast("long")
    base = (series
            .where(F.col("y").isNotNull() & F.col(group_col).isNotNull())
            .select("conv_id", F.col(group_col).alias("__g"), y.alias("__y")))
    ranked = base.select(
        "conv_id", "__g", midrank2("__y").alias("__r2"),
        ties("__y").alias("__t"))
    cells = ranked.groupBy("conv_id", "__g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("__r2").alias("r2g"),
        # Σ_blocks(t³−t) = Σ_rows(t²−1): every row of a t-block
        # contributes t²−1, so the conv-level fold needs no
        # once-per-block bookkeeping even when a block spans groups
        F.sum(F.col("__t") * F.col("__t") - F.lit(1)).alias("tg"))
    w_all = Window.partitionBy("conv_id")
    w_ord = w_all.orderBy("__g")
    term = (F.col("r2g").cast("double") * F.col("r2g").cast("double")
            / (F.lit(4.0) * F.col("ng").cast("double")))
    enriched = cells.select(
        "conv_id",
        F.sum("ng").over(w_all).alias("__n"),
        F.count(F.lit(1)).over(w_all).alias("__k"),
        F.sum("tg").over(w_all).alias("__tm"),
        F.sum(term).over(w_ord).alias("__cum_b"))
    g = enriched.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k"),
        F.max("__tm").alias("tie_mass"),
        F.max("__cum_b").alias("__b"))
    nd = F.col("n").cast("double")
    h_raw = (F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("__b")
             - F.lit(3.0) * (nd + F.lit(1.0)))
    h = F.when(h_raw < 0, F.lit(0.0)).otherwise(h_raw)
    corr = (F.lit(1.0)
            - F.col("tie_mass").cast("double") / (nd * nd * nd - nd))
    ok = (F.col("k") >= 2) & (F.col("n") >= 2) & (corr > 0)
    return g.select(
        "conv_id", "n",
        F.col("k").cast("int").alias("k"),
        F.col("tie_mass").cast("long").alias("tie_mass"),
        F.when(ok, h).alias("h_stat"),
        F.when(ok, h / corr).alias("h_corrected"))


def ljung_box(series: DataFrame) -> DataFrame:
    """Ljung–Box portmanteau test per conversation (Ljung & Box 1978)
    at lags 1–3 — the "is it white noise AT ALL" screen that belongs
    in front of every member of the ACF family (ar1_fit fits lag 1,
    pacf3 isolates 1–3, dominant_lag argmaxes 2–12; this one asks
    whether ANY of the low-lag structure is jointly distinguishable
    from noise):

        Q = n(n+2) · Σ_{k=1..3} ρ̂_k² / (n−k)   ~  χ²(3) under H₀.

    Exactness: the autocorrelation numerators N_k = Σ (n·y_t − S)
    (n·y_{t−k} − S) and denominator N₀ = Σ (n·y_t − S)² are exact
    int64 (``exact.acf_sums``);
    each ρ̂_k = N_k/N₀ is one division and Q is a fixed left-assoc
    double tree restated verbatim in SQL.  Degenerates NULL: n ≤ 3
    (lag-3 pairs or residual df missing) or N₀ = 0 (constant series
    — "definitely white" would be fake certainty; a constant is
    degenerate, not noise).

    Plan: 3 lag windows + one unordered window + ONE conv aggregate —
    one hash exchange on conv_id, no UDF, no join.
    """
    require_int(series, "ljung_box", "y")
    agg = acf_sums(series, (1, 2, 3))
    nd = F.col("n").cast("double")
    ok = (F.col("n") > 3) & (F.col("n0") > 0)
    r = {k: F.col(f"n{k}").cast("double") / F.col("n0").cast("double")
         for k in (1, 2, 3)}
    q = (nd * (nd + F.lit(2.0))
         * (r[1] * r[1] / (nd - F.lit(1.0))
            + r[2] * r[2] / (nd - F.lit(2.0))
            + r[3] * r[3] / (nd - F.lit(3.0))))
    return agg.select(
        "conv_id", "n",
        *[F.when(ok, r[k]).alias(f"rho{k}") for k in (1, 2, 3)],
        F.when(ok, q).alias("q_lb"))


def allan_variance(series: DataFrame,
                   ms: tuple[int, ...] = (1, 2, 4)) -> DataFrame:
    """Non-overlapped Allan variance of the inter-turn gaps (Allan
    1966) at averaging factors m — the cadence-STABILITY metric next
    to burstiness's cadence-shape one: how much does the local mean
    gap wander between adjacent m-gap blocks?  White-noise cadence
    halves AVAR per doubling of m; a drifting cadence (agent slowing
    down, rate limits kicking in) keeps it flat or growing.

        AVAR(m) = Σ_k (B_{k+1} − B_k)² / (2(K−1)m²),
        B_k = sum of the k-th complete block of m consecutive gaps.

    Exactness: gaps are integer seconds, block sums B_k and the
    numerator D = Σ(B_{k+1}−B_k)² are exact int64 (bound: |ΔB| ≤
    m·max_gap — at m=4 and day-long gaps that is 2^18.4, squared
    2^37, summed over 10⁶ blocks still < 2^57 … raise-free for any
    real transcript); AVAR is ONE terminal division by the exact
    integer 2(K−1)m².  Incomplete tail blocks are dropped (the
    standard estimator), K < 2 → NULL, negative gaps raise in-plan
    (non-monotone timestamps are data corruption, not cadence).

    Output is LONG — one row per (conv_id, m) — so the m-grid is an
    explode, not three joins: one generate + one (conv, m, block)
    aggregate + one (conv, m) window/aggregate — two shrinking
    conv-keyed exchanges total, no UDF, no join.
    """
    for m in ms:
        if not isinstance(m, int) or m < 1:
            raise ValueError(f"allan_variance: bad averaging factor {m!r}")
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap_raw = (F.col("ts").cast("long")
               - F.lag(F.col("ts").cast("long")).over(w_ord))
    gap = F.when(
        gap_raw < 0,
        F.expr("raise_error('allan_variance: negative gap — "
               "non-monotone timestamps')").cast("long")
    ).otherwise(gap_raw)
    gaps = (series
            .select("conv_id", "turn_idx", gap.alias("__g"))
            .where(F.col("__g").isNotNull())
            .select("conv_id", "__g",
                    (F.row_number().over(
                        Window.partitionBy("conv_id")
                        .orderBy("turn_idx")) - 1).alias("__i"),
                    F.count(F.lit(1)).over(
                        Window.partitionBy("conv_id")).alias("__ng")))
    long = gaps.select(
        "conv_id", "__g", "__i", "__ng",
        F.explode(F.array(*[F.lit(m) for m in ms])).alias("m"))
    # floor(), not a double→int cast: Spark's cast truncates but
    # DuckDB's ROUNDS, so the oracle replay must share an explicit
    # floor — and so must we
    blocks = (long
              .where(F.floor(F.col("__i") / F.col("m"))
                     < F.floor(F.col("__ng") / F.col("m")))
              .groupBy("conv_id", "m",
                       F.floor(F.col("__i") / F.col("m"))
                       .cast("long").alias("__b"))
              .agg(F.sum("__g").alias("__bs"),
                   F.max("__ng").alias("__ng")))
    w_b = Window.partitionBy("conv_id", "m").orderBy("__b")
    diffs = blocks.select(
        "conv_id", "m", "__ng",
        (F.col("__bs") - F.lag("__bs").over(w_b)).alias("__d"))
    g = diffs.groupBy("conv_id", "m").agg(
        F.max("__ng").alias("n_gaps"),
        F.count(F.lit(1)).alias("k_blocks"),
        F.sum(F.col("__d") * F.col("__d")).alias("d_sum"))
    kb = F.col("k_blocks")
    ok = kb >= 2
    avar = (F.col("d_sum").cast("double")
            / (F.lit(2.0) * (kb - F.lit(1)).cast("double")
               * (F.col("m") * F.col("m")).cast("double")))
    return g.select(
        "conv_id", F.col("m").cast("int").alias("m"),
        F.col("n_gaps").cast("long").alias("n_gaps"),
        kb.cast("long").alias("k_blocks"),
        F.when(ok, F.col("d_sum")).cast("long").alias("d_sum"),
        F.when(ok, avar).alias("avar"))


def kendall_channels(series: DataFrame, ch_a: str, ch_b: str,
                     max_points: int = 128) -> DataFrame:
    """Cross-channel Kendall τ-b per conversation — the CONCORDANCE
    member of the association family (Pearson ``channel_corr`` hears
    linear coupling, Spearman ``spearman_channels`` monotone coupling
    through ranks; τ-b counts agreeing vs disagreeing PAIRS, the most
    outlier-proof of the three and the one with the cleanest tie
    story):

        τ_b = S / sqrt((P − T_x)(P − T_y)),
        S = Σ_{i<j} sgn(Δx)·sgn(Δy),   P = n(n−1)/2,
        T_x/T_y = #pairs tied in x / in y.

    Exactness: S, P, T_x, T_y are exact int64 pair counts — sgn
    comparisons are exact for ANY orderable type, so no integer-grid
    precondition at all; τ is ONE fixed tree S/sqrt(A·B) with the
    product formed in double (A·B ≤ n⁴ would wrap int64 past n ≈
    55 k pairs; doubles lose nothing — A, B ≤ 2^53 individually).

    The estimator is inherently O(n²) pairs and is bounded exactly
    like ``theil_sen``: aligned series beyond ``max_points`` are
    deterministically slot-thinned (⌊(k−1)m/n⌋ > ⌊(k−2)m/n⌋, full
    budget at every n) with a ``capped`` flag.  Degenerates NULL:
    < 2 aligned pairs, or either channel constant on the kept
    sample (A or B = 0 — association with a constant is undefined,
    not zero).

    Plan: single-scan conditional-aggregation alignment (no join),
    one thinning window, one conv-keyed self-equi-join bounded to
    max_points² pairs, one aggregate — all exchanges on conv_id.
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    if not (2 <= max_points <= 4096):
        raise ValueError(f"max_points must be in [2, 4096], got "
                         f"{max_points}")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__xa"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__xb"))
        .where(F.col("__xa").isNotNull() & F.col("__xb").isNotNull()))
    wo = Window.partitionBy("conv_id").orderBy("turn_idx")
    wall = wo.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    base = (aligned
            .withColumn("__k", F.row_number().over(wo).cast("long"))
            .withColumn("__n", F.count(F.lit(1)).over(wall)
                        .cast("long")))
    m = int(max_points)
    slot = F.expr(f"((__k - 1) * {m}) DIV __n")
    prev_slot = F.expr(f"((__k - 2) * {m}) DIV __n")
    kept = base.where((F.col("__k") == 1) | (slot > prev_slot))
    counts = kept.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_used"))
    a = kept.select("conv_id", F.col("__k").alias("__ka"),
                    F.col("__xa").alias("__aa"),
                    F.col("__xb").alias("__ab"))
    b = kept.select("conv_id", F.col("__k").alias("__kb"),
                    F.col("__xa").alias("__ba"),
                    F.col("__xb").alias("__bb"))
    dx = F.col("__ba") - F.col("__aa")
    dy = F.col("__bb") - F.col("__ab")
    pairs = (a.join(b, "conv_id")
             .where(F.col("__kb") > F.col("__ka"))
             .groupBy("conv_id")
             .agg((F.sum(F.signum(dx).cast("long")
                         * F.signum(dy).cast("long"))).alias("s_stat"),
                  F.sum(F.when(dx == 0, 1).otherwise(0)).alias("tx"),
                  F.sum(F.when(dy == 0, 1).otherwise(0)).alias("ty")))
    out = counts.join(pairs, "conv_id", "left")
    nu = F.col("n_used")
    p = (nu * (nu - F.lit(1))).cast("long") / F.lit(2)
    av = (p - F.col("tx")).cast("double")
    bv = (p - F.col("ty")).cast("double")
    ok = (nu >= 2) & F.col("s_stat").isNotNull() \
        & (av > 0) & (bv > 0)
    tau = F.when(ok, F.col("s_stat").cast("double")
                 / F.sqrt(av * bv))
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.col("n_used").cast("long").alias("n_used"),
        (F.col("n") > F.lit(max_points)).alias("capped"),
        F.coalesce(F.col("s_stat"), F.lit(0)).cast("long")
        .alias("s_stat"),
        F.coalesce(F.col("tx"), F.lit(0)).cast("long").alias("tx"),
        F.coalesce(F.col("ty"), F.lit(0)).cast("long").alias("ty"),
        tau.alias("tau_b"))


def lorenz_deciles(series: DataFrame) -> DataFrame:
    """Empirical Lorenz curve at the deciles, per conversation — the
    SHAPE behind gini_concentration's single number: L(d/10) = share
    of the total carried by the smallest ⌊n·d/10⌋ values.  A perfectly
    even conversation has L on the diagonal (L(p) = p); "one whale
    turn carries half the tokens" reads directly as L(0.9) ≈ 0.5.

    Exactness: NO float exists until the terminal divisions — values
    are required integer, the value-ordered cumulative sums S_k and
    the total S_n are exact int64, the decile indices k_d = (n·d) DIV
    10 are integer arithmetic, and each L_d = S_{k_d}/S_n is one
    division of exact integers (bit-identical in any engine,
    unrounded).  Ties need no tie-break rule: the sum of the k
    smallest values is the same under any ordering of equals (unlike
    a quantile PICK, a prefix SUM over ties is order-invariant — the
    ordered window still uses (y, turn_idx) so the cumsum column
    itself is deterministic for the k_d probe).  k_d = 0 → L_d = 0.

    Degenerates: S_n = 0 (all-zero values) → NULL curve (shares of
    nothing are undefined); negative values raise in-plan (the
    Lorenz curve is a nonnegative-mass construction; a negative
    token count is corruption, not inequality).

    Plan: one ordered conv window + one conv aggregate — one hash
    exchange, no UDF, no join.
    """
    require_int(series, "lorenz_deciles", "y")
    y_raw = F.col("y").cast("long")
    y = F.when(
        y_raw < 0,
        F.expr("raise_error('lorenz_deciles: negative value — the "
               "Lorenz curve needs nonnegative mass')").cast("long")
    ).otherwise(y_raw)
    w_ord = Window.partitionBy("conv_id").orderBy("y", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id",
                 F.row_number().over(w_ord).alias("__rn"),
                 F.sum(y).over(
                     w_ord.rowsBetween(Window.unboundedPreceding, 0))
                 .alias("__cum"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    picks = [
        F.max(F.when(F.col("__rn")
                     == F.expr(f"(__n * {d}) DIV 10"),
                     F.col("__cum"))).alias(f"__s{d}")
        for d in range(1, 10)]
    g = s.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__cum").alias("__tot"),
        *picks)
    ok = F.col("__tot") > 0
    out_cols = ["conv_id", F.col("n").cast("long").alias("n"),
                F.col("__tot").cast("long").alias("total")]
    for d in range(1, 10):
        # k_d = 0 → no probe row matched → the smallest-0 share is 0
        ld = (F.coalesce(F.col(f"__s{d}"), F.lit(0)).cast("double")
              / F.col("__tot").cast("double"))
        out_cols.append(F.when(ok, ld).alias(f"l{d}0"))
    return g.select(*out_cols)


def decomposition_strength(series: DataFrame,
                           period: int) -> DataFrame:
    """Trend and seasonal STRENGTH per (conv_id, channel) (Hyndman &
    Athanasopoulos, FPP "STL features" — here over the deterministic
    ``classical_decompose``): the two numbers a monitoring stack keys
    dashboards on,

        F_T = max(0, 1 − Var(R)/Var(T+R)),
        F_S = max(0, 1 − Var(R)/Var(S+R)),

    ≈ 0 for structureless noise, → 1 when trend (resp. seasonality)
    explains the series.

    Determinism: the decomposition itself is the already-oracled
    window pipeline; the three variances fold Σv and Σv² in strict
    (t, turn_idx) order (ordered cumsum, terminal pick by row number
    — max_by, since nothing here is monotone) and use the fixed tree
    q/n − (s/n)·(s/n), clamped at 0 against cancellation residue.
    Rows where the decomposition is undefined (the MA edge NULLs) are
    excluded — the classical estimator's own domain.

    Degenerates NULL: Var(T+R) = 0 (resp. Var(S+R) = 0) — strength
    against a flat reference is undefined, not 1; fewer than
    ``period`` usable rows likewise (no slot is even fully
    populated).

    Plan: inherits the decomposition's ONE (conv, channel) exchange;
    the folds ride the same key; one terminal aggregate.  No UDF,
    no join.
    """
    dec = classical_decompose(series, period)
    s = (dec.where(F.col("resid").isNotNull())
         .select("conv_id", "channel", "t", "turn_idx",
                 F.col("resid").alias("__r"),
                 (F.col("trend") + F.col("resid")).alias("__tr"),
                 (F.col("seasonal") + F.col("resid")).alias("__sr")))
    w_ord = (Window.partitionBy("conv_id", "channel")
             .orderBy("t", "turn_idx")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("conv_id", "channel")
    cols = {}
    for nm in ("r", "tr", "sr"):
        v = F.col(f"__{nm}")
        cols[f"s_{nm}"] = F.sum(v).over(w_ord)
        cols[f"q_{nm}"] = F.sum(v * v).over(w_ord)
    folded = s.select(
        "conv_id", "channel",
        F.row_number().over(
            Window.partitionBy("conv_id", "channel")
            .orderBy("t", "turn_idx")).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        *[c.alias(k) for k, c in cols.items()])
    g = folded.groupBy("conv_id", "channel").agg(
        F.max("__n").alias("n_used"),
        *[F.max_by(F.col(k), F.col("__rn")).alias(k)
          for k in cols])
    nd = F.col("n_used").cast("double")

    def var(nm):
        sv, qv = F.col(f"s_{nm}"), F.col(f"q_{nm}")
        raw = qv / nd - (sv / nd) * (sv / nd)
        return F.when(raw < 0, F.lit(0.0)).otherwise(raw)

    vr, vtr, vsr = var("r"), var("tr"), var("sr")
    okn = F.col("n_used") >= F.lit(period)

    def strength(vref):
        raw = F.lit(1.0) - vr / vref
        clamped = F.when(raw < 0, F.lit(0.0)).otherwise(raw)
        return F.when(okn & (vref > 0), clamped)

    return g.select(
        "conv_id", "channel",
        F.col("n_used").cast("long").alias("n_used"),
        strength(vtr).alias("trend_strength"),
        strength(vsr).alias("seasonal_strength"))


def sample_entropy(series: DataFrame, r: int, max_n: int = 256) -> DataFrame:
    """Sample entropy per conversation (Richman & Moorman 2000),
    m = 2: the regularity member of the complexity family —
    permutation_entropy hears ORDINAL pattern diversity, SampEn asks
    the amplitude question "when two length-2 windows agree within
    tolerance r, how often do they STILL agree one step later":

        SampEn = −ln(A/B),
        B = #{i<j: max(|Δy|, |Δy₁|) ≤ r},
        A = #{i<j: max(|Δy|, |Δy₁|, |Δy₂|) ≤ r}

    (Chebyshev template matching, self-matches excluded by i<j).
    Low SampEn = regular/predictable; high = irregular.

    Exactness: y and the tolerance are INTEGERS, so every template
    match is an exact integer comparison — no float enters until the
    single −ln(A/B) tree (A, B exact int64).  A = 0 or B = 0 → NULL
    (the estimator is undefined — "infinitely irregular" is a data
    property to surface, not a number).

    The estimator is inherently O(n²) template pairs; the bound here
    is a documented PREFIX cap (first ``max_n`` rows per
    conversation, ``capped`` flag) — unlike theil_sen's slot
    thinning, SampEn's templates are CONSECUTIVE points, and a
    thinned series would measure the regularity of a different
    process.  The cap bounds template STARTS: a template starting at
    row ≤ max_n still reads its full m+1 consecutive values (the two
    rows past the boundary included), so no boundary template is
    mutilated.

    Plan: one ordered conv window (lead ×2 + row_number) + one
    conv-keyed self-equi-join bounded to max_n²/2 pairs + one
    aggregate — all exchanges on conv_id, no UDF.
    """
    if not isinstance(r, int) or r < 0:
        raise ValueError(f"sample_entropy: tolerance must be a "
                         f"nonnegative int, got {r!r}")
    if not (8 <= max_n <= 4096):
        raise ValueError(f"sample_entropy: max_n must be in "
                         f"[8, 4096], got {max_n}")
    require_int(series, "sample_entropy", "y")
    wo = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    wall = wo.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    y = F.col("y").cast("long")
    base = (series
            .where(F.col("y").isNotNull() & F.col("t").isNotNull())
            .select("conv_id", y.alias("__y"),
                    F.lead(y, 1).over(wo).alias("__y1"),
                    F.lead(y, 2).over(wo).alias("__y2"),
                    F.row_number().over(wo).alias("__k"),
                    F.count(F.lit(1)).over(wall).alias("__n")))
    kept = base.where(F.col("__k") <= max_n)
    counts = kept.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.count(F.lit(1)).alias("n_used"))
    # Richman–Moorman count BOTH A and B over the SAME template-start
    # set i <= N-m-1 (where the m+1-window is valid) — B on the first
    # two coordinates, A on all three; using all N-1 length-2 starts
    # for B would be a (common but different) variant
    tmpl = kept.where(F.col("__y2").isNotNull())
    a = tmpl.select("conv_id", F.col("__k").alias("__ka"),
                    F.col("__y").alias("__ay"),
                    F.col("__y1").alias("__ay1"),
                    F.col("__y2").alias("__ay2"))
    b = tmpl.select("conv_id", F.col("__k").alias("__kb"),
                    F.col("__y").alias("__by"),
                    F.col("__y1").alias("__by1"),
                    F.col("__y2").alias("__by2"))
    m_b = (F.abs(F.col("__ay") - F.col("__by")) <= r) \
        & (F.abs(F.col("__ay1") - F.col("__by1")) <= r)
    m_a = m_b & (F.abs(F.col("__ay2") - F.col("__by2")) <= r)
    pairs = (a.join(b, "conv_id")
             .where(F.col("__kb") > F.col("__ka"))
             .groupBy("conv_id")
             .agg(F.sum(F.when(m_b, 1).otherwise(0)).alias("b_count"),
                  F.sum(F.when(m_a, 1).otherwise(0)).alias("a_count")))
    out = counts.join(pairs, "conv_id", "left")
    ok = (F.col("a_count") > 0) & (F.col("b_count") > 0)
    sampen = F.when(ok, -F.log(F.col("a_count").cast("double")
                               / F.col("b_count").cast("double")))
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.col("n_used").cast("long").alias("n_used"),
        (F.col("n") > F.lit(max_n)).alias("capped"),
        F.coalesce(F.col("b_count"), F.lit(0)).cast("long")
        .alias("b_count"),
        F.coalesce(F.col("a_count"), F.lit(0)).cast("long")
        .alias("a_count"),
        sampen.alias("sampen"))


def dfa(series: DataFrame, boxes: tuple = (4, 8, 16),
        max_n: int = 1024) -> DataFrame:
    """Detrended fluctuation analysis per conversation (Peng et al.
    1994) — the nonstationarity-robust twin of ``hurst_rs``: R/S
    rescales raw block ranges, DFA first integrates to the profile
    and removes a per-box LINEAR trend, so a drifting baseline (the
    agent slowing down) does not masquerade as long memory.  α ≈ 0.5
    uncorrelated, → 1 persistent, ≈ 1.5 Brownian.

    Exact-integer layout: with prefix length n, sum S and ordered
    cumsum cum_j, the scaled profile P_j = n·cum_j − j·S is EXACT
    int64, and every box statistic — U = ΣP, W = Σx·P, V = ΣP² —
    is an exact int64 aggregate (order-free, no float fold needed at
    box level).  V is the binding overflow bound: s·(n²·y_max)² must
    stay under 2^63, which holds to y_max ≈ 2.9·10³ at the default
    1024-row prefix cap (ANSI raises, not wraps, beyond — the
    documented-grid discipline).  The per-box RSS is then ONE fixed
    double tree (V − U²/s) − (W − A·U/s)²/(B − A²/s) with integer
    constants A = s(s+1)/2, B = s(s+1)(2s+1)/6, clamped at 0; box
    RSS values are ≥ 0, so the per-(conv,s) fold is a nondecreasing
    ordered cumsum whose max IS the total (the hurst_rs fold rule).
    F(s) = sqrt(ΣRSS/(k·s))/n — the /n un-scales the profile; since
    scaling multiplies every F by the same factor, α is unaffected
    either way.

    α = Σ cᵢ·ln Fᵢ with fixed literal weights (the hurst_rs
    closed-form slope); NULL unless every box level has ≥ 1 full box
    AND F > 0 (a constant prefix has F exactly 0 — ln(0) is not a
    memory exponent).  Prefix cap semantics as in sample_entropy
    (``capped`` flag).

    Plan: two conv windows (prefix rank, then cumsum/S over the
    prefix) + explode over the literal s grid + one (conv,s,block)
    aggregate + one (conv,s) ordered fold + one per-conv pivot —
    all exchanges on conv_id-prefixed keys, no UDF, no join.
    """
    bs = tuple(int(b) for b in boxes)
    if len(bs) < 2 or any(b < 3 for b in bs) or len(set(bs)) != len(bs):
        raise ValueError(f"dfa: need >=2 distinct box sizes >= 3, "
                         f"got {boxes!r}")
    if not (32 <= max_n <= 8192):
        raise ValueError(f"dfa: max_n must be in [32, 8192], got {max_n}")
    require_int(series, "dfa", "y")
    import math
    lb = [math.log(b) for b in bs]
    mlb = sum(lb) / len(lb)
    dev = [x - mlb for x in lb]
    den = sum(d * d for d in dev)
    coef = [d / den for d in dev]

    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    pre = (series
           .where(F.col("y").isNotNull() & F.col("t").isNotNull())
           .select("conv_id", "t", "turn_idx",
                   F.col("y").cast("long").alias("y"),
                   F.row_number().over(w_ord).alias("__k")))
    w_all_pre = Window.partitionBy("conv_id")
    pre = pre.withColumn("__n", F.count(F.lit(1)).over(w_all_pre))
    kept = pre.where(F.col("__k") <= max_n)
    w_ord2 = Window.partitionBy("conv_id").orderBy("__k")
    w_all = Window.partitionBy("conv_id")
    prof = kept.select(
        "conv_id", "__n",
        (F.col("__k") - 1).alias("rank"),
        F.col("__k").alias("j_global"),
        F.count(F.lit(1)).over(w_all).alias("nu"),
        (F.count(F.lit(1)).over(w_all)
         * F.sum("y").over(w_ord2.rowsBetween(
             Window.unboundedPreceding, 0))
         - F.col("__k") * F.sum("y").over(w_all)).alias("p"))
    ex = (prof
          .select("conv_id", "__n", "rank", "nu", "p",
                  F.explode(F.array(*[F.lit(b) for b in bs])).alias("s"))
          .withColumn("block", F.expr("rank div s"))
          .withColumn("x", F.expr("rank % s + 1"))
          .where(F.col("block") < F.expr("nu div s")))
    stats = (ex.groupBy("conv_id", "s", "block")
             .agg(F.first("nu").alias("nu"),
                  F.first("__n").alias("__n"),
                  F.sum("p").alias("u"),
                  F.sum(F.col("x") * F.col("p")).alias("w"),
                  F.sum(F.col("p") * F.col("p")).alias("v")))
    sd = F.col("s").cast("double")
    a_c = (F.col("s") * (F.col("s") + 1)).cast("double") / F.lit(2.0)
    b_c = (F.col("s") * (F.col("s") + 1)
           * (F.lit(2) * F.col("s") + 1)).cast("double") / F.lit(6.0)
    ud, wd, vd = (F.col(c).cast("double") for c in ("u", "w", "v"))
    rss_raw = ((vd - ud * ud / sd)
               - (wd - a_c * ud / sd) * (wd - a_c * ud / sd)
               / (b_c - a_c * a_c / sd))
    rss = F.when(rss_raw < 0, F.lit(0.0)).otherwise(rss_raw)
    wcs = Window.partitionBy("conv_id", "s").orderBy("block")
    folded = (stats
              .select("conv_id", "__n", "nu", "s", "block",
                      F.sum(rss).over(wcs).alias("cum_rss"))
              .groupBy("conv_id", "s")
              .agg(F.first("nu").alias("nu"),
                   F.first("__n").alias("__n"),
                   F.max("cum_rss").alias("tot_rss"),
                   F.count(F.lit(1)).alias("k_blocks")))
    f_s = (F.sqrt(F.col("tot_rss")
                  / (F.col("k_blocks") * F.col("s")).cast("double"))
           / F.col("nu").cast("double"))
    per_s = folded.select("conv_id", "__n", "nu", "s", f_s.alias("f"))
    pivots = [F.max(F.when(F.col("s") == b, F.col("f")))
              .alias(f"f_{b}") for b in bs]
    wide = (per_s.groupBy("conv_id")
            .agg(F.first("nu").alias("n_used"),
                 F.first("__n").alias("__n"), *pivots))
    all_ok = None
    for b in bs:
        c = F.col(f"f_{b}").isNotNull() & (F.col(f"f_{b}") > 0)
        all_ok = c if all_ok is None else (all_ok & c)
    slope = None
    for cf, b in zip(coef, bs):
        term = F.lit(cf) * F.log(F.col(f"f_{b}"))
        slope = term if slope is None else (slope + term)
    return wide.select(
        "conv_id",
        F.col("n_used").cast("long").alias("n_used"),
        # strict pre-cap convention (sample_entropy/kendall_channels):
        # capped ⇔ rows were actually truncated, not merely n == max_n
        (F.col("__n") > F.lit(max_n)).alias("capped"),
        *[F.col(f"f_{b}") for b in bs],
        F.when(all_ok, slope).alias("alpha"))


def mi_channels(series: DataFrame, ch_a: str, ch_b: str,
                edges_a: list, edges_b: list,
                min_pairs: int = 8) -> DataFrame:
    """Binned mutual information between two channels per
    conversation — the INFORMATION member closing the association
    quartet: Pearson hears linear, Spearman monotone, Kendall
    concordance, and MI any dependence at all (a U-shaped coupling
    scores ~0 on all three correlations but lights up MI; pinned in
    pytest):

        MI = Σ_cells (n_xy/n)·ln( n·n_xy / (n_x·n_y) ),
        NMI = MI/√(H_x·H_y)   (0 when either marginal is constant →
                               NULL — dependence on a constant is
                               undefined, not zero).

    Binning is by FIXED literal edges (the drift_psi contract —
    data-dependent edges would make the statistic incomparable
    across conversations and unreplayable): bin = #edges ≤ y, an
    exact integer comparison count.  All cell and marginal counts
    are exact int64; each cell/marginal term is one fixed double
    tree and the three sums fold in ORDERED cell sequence (bx·B+by
    scalar key — the effective_rank terminal-pick rule does not
    apply because every term n_xy > 0 makes each sum a sum over
    existing cells only; absent cells contribute exactly 0 and are
    correctly absent).  MI ≥ 0 up to rounding; clamped at 0.

    Plan: the spearman single-scan alignment, one (conv, bx, by)
    cell aggregate, two marginal window sums riding the same conv
    key, one ordered fold + terminal aggregate — all exchanges on
    conv_id, no UDF, no join.
    """
    if ch_a == ch_b:
        raise ValueError(f"channels must differ, got {ch_a!r} twice")
    if not edges_a or not edges_b:
        raise ValueError("mi_channels: edges must be non-empty")
    ea = sorted(float(e) for e in edges_a)
    eb = sorted(float(e) for e in edges_b)

    def _bin(col, edges):
        b = F.lit(0)
        for e in edges:
            b = b + F.when(col >= F.lit(e), 1).otherwise(0)
        return b.cast("int")

    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, F.col("y")))
             .alias("__ya"),
             F.max(F.when(F.col("channel") == ch_b, F.col("y")))
             .alias("__yb"))
        .where(F.col("__ya").isNotNull() & F.col("__yb").isNotNull()))
    binned = aligned.select(
        "conv_id",
        _bin(F.col("__ya"), ea).alias("__bx"),
        _bin(F.col("__yb"), eb).alias("__by"))
    cells = binned.groupBy("conv_id", "__bx", "__by").agg(
        F.count(F.lit(1)).alias("nxy"))
    w_all = Window.partitionBy("conv_id")
    w_x = Window.partitionBy("conv_id", "__bx")
    w_y = Window.partitionBy("conv_id", "__by")
    nb = len(eb) + 1
    key = (F.col("__bx") * F.lit(nb) + F.col("__by"))
    w_ord = (Window.partitionBy("conv_id").orderBy("__key")
             .rowsBetween(Window.unboundedPreceding, 0))
    enr = cells.select(
        "conv_id", "nxy",
        key.alias("__key"),
        F.sum("nxy").over(w_all).alias("n"),
        F.sum("nxy").over(w_x).alias("nx"),
        F.sum("nxy").over(w_y).alias("ny"),
        (F.row_number().over(
            Window.partitionBy("conv_id", "__bx").orderBy("__by")) == 1
         ).alias("__fx"),
        (F.row_number().over(
            Window.partitionBy("conv_id", "__by").orderBy("__bx")) == 1
         ).alias("__fy"))
    nd = F.col("n").cast("double")
    nxy = F.col("nxy").cast("double")
    nx, ny = F.col("nx").cast("double"), F.col("ny").cast("double")
    mi_term = nxy / nd * F.log(nd * nxy / (nx * ny))
    hx_term = F.when(F.col("__fx"), -(nx / nd) * F.log(nx / nd)) \
        .otherwise(F.lit(0.0))
    hy_term = F.when(F.col("__fy"), -(ny / nd) * F.log(ny / nd)) \
        .otherwise(F.lit(0.0))
    folded = enr.select(
        "conv_id", "__key", "n",
        F.sum(mi_term).over(w_ord).alias("__mi"),
        F.sum(hx_term).over(w_ord).alias("__hx"),
        F.sum(hy_term).over(w_ord).alias("__hy"))
    g = folded.groupBy("conv_id").agg(
        F.max("n").alias("n_pairs"),
        F.max_by(F.col("__mi"), F.col("__key")).alias("__mi"),
        F.max_by(F.col("__hx"), F.col("__key")).alias("__hx"),
        F.max_by(F.col("__hy"), F.col("__key")).alias("__hy"))
    mi = F.when(F.col("__mi") < 0, F.lit(0.0)).otherwise(F.col("__mi"))
    ok = F.col("n_pairs") >= min_pairs
    both = (F.col("__hx") > 0) & (F.col("__hy") > 0)
    return g.select(
        "conv_id",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.when(ok, mi).alias("mi"),
        F.when(ok, F.col("__hx")).alias("h_a"),
        F.when(ok, F.col("__hy")).alias("h_b"),
        F.when(ok & both,
               mi / F.sqrt(F.col("__hx") * F.col("__hy"))).alias("nmi"))


def spectral_coeffs(n_lags: int = 6, n_freqs: int = 8):
    """The (frequency, lag) cosine/Bartlett literal table shared by
    the engine AND the oracle generator so the two cannot drift:
    entry [m][k] = 2·(1 − k/(K+1))·cos(2π·f_m·k) for k ≥ 1, with
    f_m = m/(2·n_freqs), plus the k = 0 weight 1.0."""
    import math
    out = []
    for m in range(1, n_freqs + 1):
        f = m / (2.0 * n_freqs)
        out.append([2.0 * (1.0 - k / (n_lags + 1.0))
                    * math.cos(2.0 * math.pi * f * k)
                    for k in range(1, n_lags + 1)])
    return out


def spectral_entropy(series: DataFrame, n_lags: int = 6,
                     n_freqs: int = 8) -> DataFrame:
    """Spectral entropy per conversation — the flat-vs-peaked summary
    of the power spectrum (the tsfresh/feature-engineering classic)
    computed WITHOUT an FFT via Wiener–Khinchin from the family's
    exact ACF integers: the Bartlett-windowed estimate

        S(f_m) = N₀ + Σ_{k=1..K} 2(1 − k/(K+1))·cos(2πf_m k)·N_k

    over the fixed grid f_m = m/(2M), where N_k are the EXACT int64
    scaled-deviation autocovariance numerators shared with
    ljung_box/pacf3/dominant_lag (their common n³ scale cancels in
    the normalization, so it is never divided out).  The Bartlett
    lag window is the Fejér-kernel smoothing whose estimate is
    nonnegative in exact arithmetic; float residue is clamped at 0.

        H = −Σ p_m ln p_m / ln M,   p_m = S_m / Σ S

    → 1 for white noise (flat spectrum), → 0 as power concentrates
    in one bin (strong periodicity); ``peak_bin`` is the argmax bin
    (lowest bin on exact ties — the dominant_lag chain rule),
    f = peak_bin/(2M) cycles/turn.

    Degenerates NULL: constant series (N₀ = 0 — a constant has no
    spectrum) or n ≤ K (unmeasurable lags).  Every cosine/Bartlett
    factor is a PYTHON-computed literal injected into both engines
    from ``spectral_coeffs`` — the textrank cannot-drift rule.

    Plan: the ljung_box single-aggregate shape (K lag windows + one
    conv aggregate) then pure fixed trees — ONE exchange, no UDF.
    """
    if not (2 <= n_lags <= 24) or not (2 <= n_freqs <= 64):
        raise ValueError(f"spectral_entropy: bad grid "
                         f"({n_lags}, {n_freqs})")
    require_int(series, "spectral_entropy", "y")
    import math
    coeffs = spectral_coeffs(n_lags, n_freqs)
    agg = acf_sums(series, range(1, n_lags + 1))
    spec = []
    for m in range(n_freqs):
        sm = F.col("n0").cast("double")
        for k in range(1, n_lags + 1):
            sm = sm + F.lit(coeffs[m][k - 1]) \
                * F.col(f"n{k}").cast("double")
        spec.append(F.when(sm < 0, F.lit(0.0)).otherwise(sm))
    agg = agg.select("conv_id", "n", "n0",
                     *[sp.alias(f"s{m + 1}")
                       for m, sp in enumerate(spec)])
    tot = None
    for m in range(1, n_freqs + 1):
        c = F.col(f"s{m}")
        tot = c if tot is None else tot + c
    h = None
    for m in range(1, n_freqs + 1):
        p = F.col(f"s{m}") / tot
        term = F.when(F.col(f"s{m}") > 0, -(p * F.log(p))) \
            .otherwise(F.lit(0.0))
        h = term if h is None else h + term
    best = F.greatest(*[F.col(f"s{m}") for m in range(1, n_freqs + 1)])
    peak = None
    for m in range(1, n_freqs + 1):
        cond = F.col(f"s{m}") == best
        peak = F.when(cond, F.lit(m)) if peak is None \
            else peak.when(cond, F.lit(m))
    ok = (F.col("n0") > 0) & (F.col("n") > n_lags) & (tot > 0)
    return agg.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.when(ok, h / F.lit(math.log(float(n_freqs))))
        .alias("spec_entropy"),
        F.when(ok, peak).cast("int").alias("peak_bin"))


def dispersion_index(transcripts: DataFrame,
                     bucket: str = "hour") -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of per-bucket
    turn counts per conversation — the COUNT-domain twin of
    ``burstiness``'s gap-domain fingerprint, and the classic "is this
    traffic Poisson?" screen (Cox & Lewis 1966): Poisson arrivals
    have ID = 1; ID ≫ 1 is clumping (burst-pause agents), ID < 1
    regular pacing (rate-limited clients).

        ID = Var(c)/Mean(c) = (B·Q − S²)/(B·S)

    over ALL buckets in the conversation's [first, last] span —
    including the EMPTY ones (counting only occupied buckets is the
    classic bias: it deletes exactly the silence that makes traffic
    bursty; the span grid is a sequence() explode, bounded by the
    conversation's own lifetime).  S = Σc, Q = Σc², B are exact
    int64, so ID is ONE division of exact integers (unrounded,
    bit-identical — the ts_allan rule).  D = (B−1)·ID is the χ²(B−1)
    dispersion statistic; B < 2 → NULL D (no degrees of freedom),
    and ID = NULL too (a single bucket has no variance to compare).

    Plan: one conv aggregate for the span + counts-per-bucket
    aggregate + one sequence explode left-joined to the counts +
    one final conv aggregate — all exchanges on conv_id, no UDF.
    """
    if bucket not in ("hour", "day"):
        raise ValueError(f"dispersion_index: bucket must be "
                         f"'hour' or 'day', got {bucket!r}")
    b = F.date_trunc(bucket, F.col("ts"))
    cnt = (transcripts.where(F.col("ts").isNotNull())
           .groupBy("conv_id", b.alias("__b"))
           .agg(F.count(F.lit(1)).alias("__c")))
    span = cnt.groupBy("conv_id").agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
    step = "interval 1 hour" if bucket == "hour" else "interval 1 day"
    grid = span.select(
        "conv_id",
        F.explode(F.expr(f"sequence(__lo, __hi, {step})"))
        .alias("__b"))
    filled = (grid.join(cnt, ["conv_id", "__b"], "left")
              .select("conv_id",
                      F.coalesce(F.col("__c"), F.lit(0)).alias("__c")))
    g = filled.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("__c").alias("n_turns"),
        F.sum(F.col("__c") * F.col("__c")).alias("__q"))
    bn = F.col("n_buckets")
    sv, qv = F.col("n_turns"), F.col("__q")
    ok = bn >= 2
    idx = ((bn * qv - sv * sv).cast("double")
           / (bn * sv).cast("double"))
    return g.select(
        "conv_id",
        bn.cast("long").alias("n_buckets"),
        sv.cast("long").alias("n_turns"),
        F.when(ok, idx).alias("dispersion"),
        F.when(ok, (bn - F.lit(1)).cast("double") * idx)
        .alias("d_stat"))


def brown_forsythe(series: DataFrame,
                   group_col: str = "channel") -> DataFrame:
    """Brown–Forsythe variance-homogeneity test per conversation
    (Brown & Forsythe 1974 — Levene's test with MEDIAN centers, the
    robust variant): does the factor shift the SPREAD, not the
    level?  The missing member next to ``anova_oneway`` (level
    shift) and ``kruskal_wallis`` (distribution shift): an agent
    whose latency mean is steady but whose variance doubles fails
    only this screen.

    The device that keeps the family's integer contract intact: the
    transformed value is the DOUBLED absolute deviation from the
    group median, z = |2y − 2·med_g| — the interpolated median of
    integers is k or k+0.5, so 2·med is an exact integer (the
    spearman 2·avg-rank trick applied to order statistics), z is
    exact int64, and the one-way ANOVA over z runs verbatim through
    ``anova_oneway``'s exact cells, ordered fold, and clamped
    decomposition — this operator ADDS no float of its own.  The
    reported F is invariant to the doubling (numerator and
    denominator both scale by 4).

    Degenerates inherit anova_oneway's NULL contract (k < 2,
    n ≤ k, all-z-equal).  Plan: one extra (conv, group) percentile
    window on the SAME key the ANOVA already exchanges on — still
    effectively one conv-keyed exchange family, no UDF, no join.
    """
    require_int(series, "brown_forsythe", "y")
    y = F.col("y").cast("long")
    w_g = Window.partitionBy("conv_id", group_col)
    med2 = F.round(F.percentile(y, F.lit(0.5)).over(w_g)
                   * F.lit(2.0), 0).cast("long")
    z = (series
         .where(F.col("y").isNotNull() & F.col(group_col).isNotNull())
         .select("conv_id", "turn_idx", group_col,
                 F.abs(F.lit(2) * y - med2).alias("y")))
    out = anova_oneway(z, group_col=group_col)
    return out.select(
        "conv_id", "n", "k",
        F.col("eta2").alias("spread_eta2"),
        F.col("f_stat").alias("bf_stat"))


def grubbs_stat(series: DataFrame) -> DataFrame:
    """Grubbs' max-studentized-deviation statistic per conversation
    (Grubbs 1950) — "WHICH turn is the single most anomalous, and
    how far out is it": the one-outlier screen next to the
    sequence-level detectors (hampel smooths, seasonal_zscore flags
    per-slot, this one names the conversation's single extreme):

        G = max_t |y_t − ȳ| / s_pop
          = max_t |n·y_t − S| / sqrt(n·Q − S²)

    — the right-hand form is the exactness contract: the argmax
    compares EXACT int64 scaled deviations |n·y_t − S| (no float can
    reorder the pick; ties break to the EARLIEST turn via min_by on
    (−dev, turn)), and G is one fixed tree over exact integers.
    Degenerates NULL: constant series (s = 0 — everything is the
    outlier of nothing) or n < 3 (Grubbs' minimum).

    Plan: one unordered conv window + one conv aggregate — one
    exchange, no UDF, no join.
    """
    require_int(series, "grubbs_stat", "y")
    y = F.col("y").cast("long")
    w_all = Window.partitionBy("conv_id")
    s = (series
         .where(F.col("y").isNotNull())
         .select("conv_id", "turn_idx", y.alias("__y"),
                 F.sum(y).over(w_all).alias("__s"),
                 F.sum(y * y).over(w_all).alias("__q"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    dev = F.abs(F.col("__n") * F.col("__y") - F.col("__s"))
    g = (s.select("conv_id", "turn_idx", "__n", "__s", "__q",
                  dev.alias("__d"))
         .groupBy("conv_id")
         .agg(F.max("__n").alias("n"),
              F.max("__s").alias("__s"),
              F.max("__q").alias("__q"),
              F.max("__d").alias("__dmax"),
              F.expr("min_by(turn_idx, struct(-__d, turn_idx))")
              .alias("peak_turn")))
    nd = F.col("n").cast("double")
    var_n = (F.col("n") * F.col("__q")
             - F.col("__s") * F.col("__s"))
    ok = (F.col("n") >= 3) & (var_n > 0)
    # |n·y−S| = n·|y−ȳ| and sqrt(nQ−S²) = n·s_pop: the n cancels
    gg = F.when(ok, F.col("__dmax").cast("double")
                / F.sqrt(var_n.cast("double")))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.when(ok, F.col("peak_turn")).cast("long").alias("peak_turn"),
        gg.alias("g_stat"))


def cusumsq(series: DataFrame) -> DataFrame:
    """CUSUM-of-squares variance-changepoint per conversation
    (Brown, Durbin & Evans 1975) — the VARIANCE member of the
    changepoint trio: ``pettitt`` locates a LEVEL shift by ranks,
    ``cusum`` alarms on mean drift sequentially, and CUSUMSQ asks
    "did the VOLATILITY change, and where" — the agent whose mean
    latency is steady while its jitter doubles trips only this one:

        D_k = C_k/C_n − k/n,   C_k = Σ_{t≤k} y_t²,
        stat = max_k |D_k|,    changepoint = argmax

    decided ENTIRELY in integers: |n·C_k − k·C_n| is exact int64,
    the argmax compares integers (ties → earliest k via min_by on
    (−num, k)), and the statistic is ONE terminal division by the
    exact n·C_n.  Overflow bound documented: n·C_n < 2^63 means
    n²·ȳ² < 2^63 — safe to n = 10⁶ turns of |y| ≤ 3000 (ANSI
    raises beyond, never wraps).  C_n = 0 (all-zero series) → NULL;
    n < 2 → NULL.

    Plan: one ordered conv window (the cumsum) + one conv
    aggregate — one exchange, no UDF, no join.
    """
    require_int(series, "cusumsq", "y")
    y = F.col("y").cast("long")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id",
                 F.row_number().over(w_ord).alias("__k"),
                 F.sum(y * y).over(
                     w_ord.rowsBetween(Window.unboundedPreceding, 0))
                 .alias("__ck"),
                 F.sum(y * y).over(w_all).alias("__cn"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    num = F.abs(F.col("__n") * F.col("__ck")
                - F.col("__k") * F.col("__cn"))
    g = (s.select("conv_id", "__k", "__n", "__cn", num.alias("__num"))
         .groupBy("conv_id")
         .agg(F.max("__n").alias("n"),
              F.max("__cn").alias("__cn"),
              F.max("__num").alias("__nmax"),
              F.expr("min_by(__k, struct(-__num, __k))")
              .alias("changepoint")))
    ok = (F.col("n") >= 2) & (F.col("__cn") > 0)
    stat = F.when(ok, F.col("__nmax").cast("double")
                  / (F.col("n") * F.col("__cn")).cast("double"))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.when(ok, F.col("changepoint")).cast("long")
        .alias("changepoint"),
        stat.alias("d_stat"))


def partial_corr(series: DataFrame, ch_a: str, ch_b: str,
                 ch_c: str) -> DataFrame:
    """First-order partial correlation per conversation — does A
    relate to B once C is CONTROLLED for (the confound question the
    whole association quartet cannot ask: latency and tokens may
    correlate only because tool calls drive both):

        r_ab·c = (r_ab − r_ac·r_bc) / sqrt((1 − r_ac²)(1 − r_bc²))

    over the TRIPLE-complete aligned sample (turns where all three
    channels exist — the three pairwise r's must share one sample or
    the formula is incoherent).

    Exactness: integer values required; all ten sufficient sums (n,
    ΣX, ΣX², ΣXY over the three channels) are exact int64 from ONE
    conditional aggregate, each pairwise r is the fixed
    (nΣxy − ΣxΣy)/√(…) tree, and the partial is one more fixed tree
    over those three doubles — no fold, no ordering hazard anywhere.
    Degenerates NULL: n < 3, any channel constant on the aligned
    sample, or |r_ac| = 1 / |r_bc| = 1 exactly (C explains a
    partner completely — partialling out everything leaves nothing).

    Plan: single-scan conditional-aggregation alignment + one conv
    aggregate — one exchange, no UDF, no join.
    """
    if len({ch_a, ch_b, ch_c}) != 3:
        raise ValueError("partial_corr: channels must be distinct")
    require_int(series, "partial_corr", "y")
    y = F.col("y").cast("long")
    aligned = (
        series
        .where(F.col("channel").isin([ch_a, ch_b, ch_c])
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.max(F.when(F.col("channel") == ch_a, y)).alias("__a"),
             F.max(F.when(F.col("channel") == ch_b, y)).alias("__b"),
             F.max(F.when(F.col("channel") == ch_c, y)).alias("__c"))
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull()
               & F.col("__c").isNotNull()))
    a, b, c = F.col("__a"), F.col("__b"), F.col("__c")
    g = aligned.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a).alias("sa"), F.sum(b).alias("sb"),
        F.sum(c).alias("sc"),
        F.sum(a * a).alias("saa"), F.sum(b * b).alias("sbb"),
        F.sum(c * c).alias("scc"),
        F.sum(a * b).alias("sab"), F.sum(a * c).alias("sac"),
        F.sum(b * c).alias("sbc"))

    def d(col):
        return F.col(col).cast("double")

    nd = d("n")

    def r(sxy, sx, sy, sxx, syy):
        vx = nd * d(sxx) - d(sx) * d(sx)
        vy = nd * d(syy) - d(sy) * d(sy)
        # try_divide, not /: Spark's common-subexpression elimination
        # hoists the division OUT of the guarding CASE branch, so a
        # constant channel trips ANSI DIVIDE_BY_ZERO even though the
        # guard is false (found live; the ar1_fit rule)
        return (F.try_divide(nd * d(sxy) - d(sx) * d(sy),
                             F.sqrt(vx * vy)), vx, vy)

    rab, va, vb = r("sab", "sa", "sb", "saa", "sbb")
    rac, _, vc = r("sac", "sa", "sc", "saa", "scc")
    rbc, _, _ = r("sbc", "sb", "sc", "sbb", "scc")
    den2 = (F.lit(1.0) - rac * rac) * (F.lit(1.0) - rbc * rbc)
    ok = (F.col("n") >= 3) & (va > 0) & (vb > 0) & (vc > 0)
    part = F.when(ok & (den2 > 0),
                  F.try_divide(rab - rac * rbc, F.sqrt(den2)))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n_pairs"),
        F.when(ok, rab).alias("r_ab"),
        F.when(ok, rac).alias("r_ac"),
        F.when(ok, rbc).alias("r_bc"),
        part.alias("r_ab_c"))


SMK_SCHEMA = ("conv_id string, slot int, n long, s_stat long, "
              "var18 long")


def seasonal_mann_kendall(series: DataFrame,
                          period: int) -> DataFrame:
    """Seasonal Mann–Kendall trend test per conversation (Hirsch &
    Slack 1984): run MK WITHIN each season slot (turn position mod
    ``period``) and combine — the trend screen that a strong
    periodic component would otherwise drown (plain MK on a
    sawtooth+drift series compares across phases and dilutes S;
    within-slot pairs never straddle phases — pinned in pytest by a
    series where plain MK misses the drift seasonal MK nails):

        S* = Σ_g S_g,    var* = Σ_g var_g   (slots independent),
        z  = (S* ∓ 1)/sqrt(var*)

    with per-slot S_g and 18·var_g the EXACT MK integers from the
    shared ``_mk_counts`` mergesort kernel (counting, not float
    math), combined by plain integer addition.  All-tied everywhere
    (var* = 0) → NULL z.

    Plan: one hash exchange into a per-(conv, slot) applyInPandas
    kernel (finer keys than plain MK — MORE parallelism, smaller
    tasks), then one conv-keyed integer aggregate.  The SQL oracle
    replays S* by the literal within-slot pair definition.
    """
    if not isinstance(period, int) or not (2 <= period <= 64):
        raise ValueError(f"seasonal_mann_kendall: period must be an "
                         f"int in [2, 64], got {period!r}")
    import numpy as np
    import pandas as pd

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        n, s, tied, var18 = _mk_counts(
            pdf["y"].to_numpy(dtype=np.float64))
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "slot": [int(pdf["slot"].iloc[0])],
            "n": [n], "s_stat": [s], "var18": [var18]})

    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    slotted = (series
               .where(F.col("t").isNotNull() & F.col("y").isNotNull())
               .select("conv_id", "turn_idx", "t", "y",
                       ((F.row_number().over(w_ord) - 1)
                        % period).cast("int").alias("slot")))
    per_slot = (slotted.groupBy("conv_id", "slot")
                .applyInPandas(_kernel, SMK_SCHEMA))
    g = per_slot.groupBy("conv_id").agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_slots"),
        F.sum("s_stat").alias("s_stat"),
        F.sum("var18").alias("var18"))
    s = F.col("s_stat").cast("double")
    v = F.col("var18").cast("double")
    z = (F.when(F.col("var18") == 0, F.lit(None).cast("double"))
         .when(F.col("s_stat") > 0, (s - 1) / F.sqrt(v / F.lit(18.0)))
         .when(F.col("s_stat") < 0, (s + 1) / F.sqrt(v / F.lit(18.0)))
         .otherwise(F.lit(0.0)))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.col("n_slots").cast("int").alias("n_slots"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("var18").cast("long").alias("var18"),
        z.alias("z"))


def gumbel_maxima(transcripts: DataFrame, threshold_s: int,
                  bucket: str = "day") -> DataFrame:
    """Gumbel extreme-value fit over per-bucket latency MAXIMA by the
    method of moments (Gumbel 1958; the block-maxima route into
    extreme-value theory, complementing ``hill_tail``'s
    peaks-over-threshold route): collect each day's worst inter-turn
    gap, fit the Gumbel location/scale

        β = s·√6/π,   μ = m − γ·β       (γ = Euler–Mascheroni),

    and report P(day's worst gap > threshold) = 1 − exp(−exp(−(T−μ)/β))
    — the "how often will we breach the SLA" number computed from the
    distribution extremes actually follow (a normal fit underestimates
    breach odds badly; EVT is the published practice).

    Exactness: per-bucket maxima are exact integer seconds (floored —
    the ts_allan rule), the moment sums ΣM, ΣM², B are exact int64,
    and μ/β/P are fixed double trees with γ, √6/π, and the threshold
    as Python literals.  Degenerates NULL: B < 2 blocks or all maxima
    equal (s = 0 — a constant has no tail).  Negative gaps raise
    (non-monotone timestamps).

    Plan: one (conv, bucket) max aggregate + one conv aggregate —
    two shrinking conv-keyed exchanges, no UDF, no join.
    """
    if bucket not in ("hour", "day"):
        raise ValueError(f"gumbel_maxima: bucket must be 'hour' or "
                         f"'day', got {bucket!r}")
    if threshold_s <= 0:
        raise ValueError(f"gumbel_maxima: threshold must be > 0, "
                         f"got {threshold_s}")
    import math
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap_raw = (F.col("ts").cast("long")
               - F.lag(F.col("ts").cast("long")).over(w_ord))
    gap = F.when(
        gap_raw < 0,
        F.expr("raise_error('gumbel_maxima: negative gap — "
               "non-monotone timestamps')").cast("long")
    ).otherwise(gap_raw)
    blocks = (transcripts
              .select("conv_id", "turn_idx", "ts", gap.alias("__g"))
              .where(F.col("__g").isNotNull())
              .groupBy("conv_id",
                       F.date_trunc(bucket, F.col("ts")).alias("__b"))
              .agg(F.max("__g").alias("__m")))
    g = blocks.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("__m").alias("__s"),
        F.sum(F.col("__m") * F.col("__m")).alias("__q"))
    bd = F.col("n_blocks").cast("double")
    sd_num = (F.col("n_blocks") * F.col("__q")
              - F.col("__s") * F.col("__s"))
    ok = (F.col("n_blocks") >= 2) & (sd_num > 0)
    sd = F.sqrt(sd_num.cast("double")) / bd
    beta = F.lit(math.sqrt(6.0) / math.pi) * sd
    mu = (F.col("__s").cast("double") / bd
          - F.lit(0.5772156649015329) * beta)
    p = (F.lit(1.0)
         - F.exp(-F.exp(-((F.lit(float(threshold_s)) - mu) / beta))))
    return g.select(
        "conv_id",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.when(ok, mu).alias("mu"),
        F.when(ok, beta).alias("beta"),
        F.when(ok, p).alias("p_exceed"))


def cronbach_alpha(series: DataFrame,
                   channels: tuple = ("latency", "tokens", "tool"),
                   min_pairs: int = 3) -> DataFrame:
    """Cronbach's α per conversation (Cronbach 1951) — the internal-
    consistency member opening the reliability family: do the k
    channels move TOGETHER enough to be read as one underlying
    "intensity" scale?  α ≈ 1 means any one channel is a good proxy
    for the composite; α ≤ 0 means they measure different things
    (averaging them into one health score — which dashboards love to
    do — would be noise):

        α = k/(k−1) · (1 − Σᵢ σ²ᵢ / σ²_total),

    σ²ᵢ the population variance of channel i, σ²_total the variance
    of the per-turn SUM across channels, both over the k-complete
    aligned turns.

    Exactness: integer values required (the partial_corr alignment
    contract); per-channel and sum-score Σ/Σ² are exact int64 from
    ONE conditional aggregate — the sum score t = Σᵢ yᵢ is formed
    per turn in integers BEFORE squaring, so σ²_total is exact too,
    not assembled from channel covariances; α is one fixed tree with
    the variance ratio's numerator summed in fixed channel order
    (literal expansion, not a fold).  Degenerates NULL: fewer than
    ``min_pairs`` aligned turns or σ²_total = 0 (a constant
    composite has no consistency to measure).

    Plan: single-scan alignment + one conv aggregate — one exchange,
    no UDF, no join.
    """
    if len(channels) < 2 or len(set(channels)) != len(channels):
        raise ValueError(f"cronbach_alpha: need >= 2 distinct "
                         f"channels, got {channels!r}")
    require_int(series, "cronbach_alpha", "y")
    k = len(channels)
    y = F.col("y").cast("long")
    aligned = (
        series
        .where(F.col("channel").isin(list(channels))
               & F.col("y").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(*[F.max(F.when(F.col("channel") == ch, y))
               .alias(f"__c{i}")
               for i, ch in enumerate(channels)]))
    notnull = None
    for i in range(k):
        c = F.col(f"__c{i}").isNotNull()
        notnull = c if notnull is None else (notnull & c)
    aligned = aligned.where(notnull)
    tot = None
    for i in range(k):
        c = F.col(f"__c{i}")
        tot = c if tot is None else tot + c
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        c = F.col(f"__c{i}")
        aggs += [F.sum(c).alias(f"s{i}"),
                 F.sum(c * c).alias(f"q{i}")]
    aggs += [F.sum(tot).alias("st"), F.sum(tot * tot).alias("qt")]
    g = aligned.groupBy("conv_id").agg(*aggs)
    nd = F.col("n").cast("double")

    def var(sname, qname):
        sd = F.col(sname).cast("double")
        qd = F.col(qname).cast("double")
        return qd / nd - (sd / nd) * (sd / nd)

    item_vars = None
    for i in range(k):
        v = var(f"s{i}", f"q{i}")
        item_vars = v if item_vars is None else item_vars + v
    vt = var("st", "qt")
    ok = (F.col("n") >= min_pairs) & (vt > 0)
    alpha = (F.lit(float(k)) / F.lit(float(k - 1))
             * (F.lit(1.0) - item_vars / vt))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n_turns"),
        F.when(ok, vt).alias("var_total"),
        F.when(ok, item_vars).alias("var_items"),
        F.when(ok, alpha).alias("alpha"))


def dunn_posthoc(series: DataFrame,
                 group_col: str = "channel") -> DataFrame:
    """Dunn's post-hoc pairwise comparisons (Dunn 1964) — the WHICH
    question after ``kruskal_wallis``'s omnibus: KW says the factor
    shifts the distribution somewhere; Dunn says between WHICH pairs,
    on the same midranks:

        z_gh = (R̄_g − R̄_h) / sqrt( (n(n+1)/12 − T/(12(n−1)))
                                     · (1/n_g + 1/n_h) ),

    R̄ the groups' mean midranks over the POOLED ranking, T the
    Σ(t³−t) tie mass.  (Consumers apply their own multiple-comparison
    control — ``bh_fdr`` exists for exactly that; baking one
    correction in here would pick the caller's α policy for them.)

    Exactness: the 2·avg-rank integers, per-group rank sums 2R_g,
    and the tie mass are the kruskal_wallis sufficient statistics
    COMPUTED THE SAME WAY (one ranking discipline, two consumers);
    R̄_g = 2R_g/(2n_g) and z are fixed double trees.  Pairs emit in
    canonical (group_a < group_b) order.  Degenerates NULL: pooled
    variance term ≤ 0 (all-tied conversation — no ranking
    information), n < 3.

    Plan: the kruskal rank windows + one cell aggregate + a per-conv
    cell self-join bounded by k²/2 pairs (k = #groups, single
    digits) — all exchanges on conv_id.
    """
    require_int(series, "dunn_posthoc", "y")
    y = F.col("y").cast("long")
    base = (series
            .where(F.col("y").isNotNull() & F.col(group_col).isNotNull())
            .select("conv_id", F.col(group_col).alias("__g"),
                    y.alias("__y")))
    ranked = base.select(
        "conv_id", "__g", midrank2("__y").alias("__r2"),
        ties("__y").alias("__t"))
    cells = ranked.groupBy("conv_id", "__g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("__r2").alias("r2g"),
        F.sum(F.col("__t") * F.col("__t") - F.lit(1)).alias("tg"))
    w_all = Window.partitionBy("conv_id")
    enr = cells.select(
        "conv_id", "__g", "ng", "r2g",
        F.sum("ng").over(w_all).alias("__n"),
        F.sum("tg").over(w_all).alias("__tm"))
    a = enr.select("conv_id", F.col("__g").alias("group_a"),
                   F.col("ng").alias("__na"),
                   F.col("r2g").alias("__ra"),
                   "__n", "__tm")
    b = enr.select("conv_id", F.col("__g").alias("group_b"),
                   F.col("ng").alias("__nb"),
                   F.col("r2g").alias("__rb"))
    pairs = a.join(b, "conv_id").where(
        F.col("group_a") < F.col("group_b"))
    nd = F.col("__n").cast("double")
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    mean_a = F.col("__ra").cast("double") / (F.lit(2.0) * na)
    mean_b = F.col("__rb").cast("double") / (F.lit(2.0) * nb)
    pooled = (nd * (nd + F.lit(1.0)) / F.lit(12.0)
              - F.col("__tm").cast("double")
              / (F.lit(12.0) * (nd - F.lit(1.0))))
    ok = (F.col("__n") >= 3) & (pooled > 0)
    z = F.when(ok, (mean_a - mean_b)
               / F.sqrt(pooled * (F.lit(1.0) / na + F.lit(1.0) / nb)))
    return pairs.select(
        "conv_id", "group_a", "group_b",
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.when(ok, mean_a).alias("mean_rank_a"),
        F.when(ok, mean_b).alias("mean_rank_b"),
        z.alias("z"))


def wilcoxon_signed_rank(series: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank test per conversation (Wilcoxon 1945) —
    the PAIRED-continuous member next to McNemar's paired-binary:
    did the value LEVEL move between the first and second half of
    the same conversation, judged on ranks of the paired differences
    so one whale turn cannot buy the verdict (the paired twin of
    kruskal/anova's independent-groups question).

    Pairing is positional: turn j of the first half against turn
    j + ⌊n/2⌋ (the ks_two_sample halves convention); d_j = y₂ − y₁,
    zero differences DROPPED (the classic Wilcoxon rule — a zero
    carries no sign information), |d| midranked with the 2·avg-rank
    integers, and

        2T⁺ = Σ_{d>0} 2·rank(|d|)   (exact int64),
        z = (T⁺ − m(m+1)/4) / sqrt( m(m+1)(2m+1)/24 − Σ(t³−t)/48 )

    with m = non-zero pairs and the tie mass from the |d| ranking
    (the kruskal Σ_rows(t²−1) identity).  Everything before z is
    exact integers; z is one fixed tree.  Degenerates NULL: m < 2
    or zero variance (all |d| tied AND... the variance term ≤ 0 —
    no ranking information).

    Plan: one self-pairing window (lead by the half-length — a
    per-conv dynamic lead is expressed as an equi-join on
    (conv, j + half)), one rank window over pairs, one conv
    aggregate — all exchanges on conv_id.
    """
    require_int(series, "wilcoxon_signed_rank", "y")
    y = F.col("y").cast("long")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    base = (series
            .where(F.col("y").isNotNull() & F.col("t").isNotNull())
            .select("conv_id", y.alias("__y"),
                    F.row_number().over(w_ord).alias("__j"),
                    F.count(F.lit(1)).over(w_all).alias("__n")))
    half = F.expr("__n DIV 2")
    first = base.where(F.col("__j") <= half).select(
        "conv_id", F.col("__j").alias("__ja"),
        F.col("__y").alias("__y1"),
        (F.col("__j") + half).alias("__match"))
    second = base.select("conv_id", F.col("__j").alias("__jb"),
                         F.col("__y").alias("__y2"))
    pairs = (first.join(second,
                        (first["conv_id"] == second["conv_id"])
                        & (F.col("__match") == F.col("__jb")))
             .drop(second["conv_id"])
             .select("conv_id",
                     (F.col("__y2") - F.col("__y1")).alias("__d"))
             .where(F.col("__d") != 0))
    ranked = pairs.select(
        "conv_id", "__d", midrank2(F.abs(F.col("__d"))).alias("__r2"),
        ties(F.abs(F.col("__d"))).alias("__t"))
    g = ranked.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("__d") > 0, F.col("__r2"))
              .otherwise(F.lit(0))).alias("tplus2"),
        F.sum(F.col("__t") * F.col("__t") - F.lit(1)).alias("tie_mass"))
    md = F.col("m").cast("double")
    tplus = F.col("tplus2").cast("double") / F.lit(2.0)
    mean = md * (md + F.lit(1.0)) / F.lit(4.0)
    var = (md * (md + F.lit(1.0)) * (F.lit(2.0) * md + F.lit(1.0))
           / F.lit(24.0)
           - F.col("tie_mass").cast("double") / F.lit(48.0))
    ok = (F.col("m") >= 2) & (var > 0)
    z = F.when(ok, (tplus - mean) / F.sqrt(var))
    return g.select(
        "conv_id", F.col("m").cast("long").alias("n_pairs"),
        F.col("tplus2").cast("long").alias("tplus2"),
        F.col("tie_mass").cast("long").alias("tie_mass"),
        z.alias("z"))


def mood_median(series: DataFrame,
                group_col: str = "channel") -> DataFrame:
    """Mood's median test per conversation (Mood 1950) — completing
    the center/spread quartet: ``anova_oneway`` compares MEANS,
    ``kruskal_wallis`` whole distributions, ``brown_forsythe``
    SPREADS, and Mood asks the bluntest, most outlier-proof question
    of all — do the groups sit on the same side of the POOLED median
    in the right proportions?  (It trades power for robustness: a
    monitoring gate that must never be bought by any reweighting of
    tail values uses Mood.)

        χ² = Σ_g [ (a_g − n_g·A/N)²/(n_g·A/N)
                 + (r_g − n_g·R/N)²/(n_g·R/N) ]   ~  χ²(k−1)

    with a_g = #{y > pooled median} in group g (ties sit BELOW —
    the classic dichotomy), r_g = n_g − a_g, A/R the pooled counts.

    Exactness: the pooled median enters as the exact integer
    2·median (interpolated medians of integers land on halves — the
    brown_forsythe device), so the dichotomy 2y > M₂ is an integer
    compare; all counts are exact int64; the χ² terms fold in
    ORDERED group sequence (the chi2 cell contract).  Degenerates
    NULL: k < 2, A = 0 or R = 0 (every value on one side of its own
    median — no split to test).

    Plan: one conv percentile window + one (conv, group) aggregate
    + one ordered fold — all on the conv key family, no UDF, no
    join.
    """
    require_int(series, "mood_median", "y")
    y = F.col("y").cast("long")
    w_conv = Window.partitionBy("conv_id")
    base = (series
            .where(F.col("y").isNotNull() & F.col(group_col).isNotNull())
            .select("conv_id", F.col(group_col).alias("__g"),
                    y.alias("__y"),
                    F.round(F.percentile(y, F.lit(0.5)).over(w_conv)
                            * F.lit(2.0), 0).cast("long").alias("__m2")))
    cells = base.groupBy("conv_id", "__g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.when(F.lit(2) * F.col("__y") > F.col("__m2"), 1)
              .otherwise(0)).alias("ag"))
    w_all = Window.partitionBy("conv_id")
    w_ord = w_all.orderBy("__g")
    enr = cells.select(
        "conv_id", "__g", "ng", "ag",
        F.sum("ng").over(w_all).alias("__n"),
        F.sum("ag").over(w_all).alias("__a"),
        F.count(F.lit(1)).over(w_all).alias("__k"))
    nd = F.col("__n").cast("double")
    ad = F.col("__a").cast("double")
    rd = nd - ad
    ngd = F.col("ng").cast("double")
    ea = ngd * ad / nd
    er = ngd * rd / nd
    # try_divide: the A>0 guard does not stop common-subexpression
    # elimination from hoisting these divisions (the partial_corr
    # lesson); A=0 conversations are NULLed by the guard either way
    term = (F.try_divide((F.col("ag").cast("double") - ea)
                         * (F.col("ag").cast("double") - ea), ea)
            + F.try_divide(((ngd - F.col("ag").cast("double")) - er)
                           * ((ngd - F.col("ag").cast("double")) - er),
                           er))
    folded = enr.select(
        "conv_id", "__g", "__n", "__a", "__k",
        F.sum(F.when((F.col("__a") > 0) & (F.col("__a") < F.col("__n")),
                     term).otherwise(F.lit(0.0)))
        .over(w_ord).alias("__cum"))
    g = folded.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k"),
        F.max("__a").alias("n_above"),
        F.max("__cum").alias("__chi2"))
    ok = (F.col("k") >= 2) & (F.col("n_above") > 0) \
        & (F.col("n_above") < F.col("n"))
    return g.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k"),
        F.col("n_above").cast("long").alias("n_above"),
        F.when(ok, F.col("__chi2")).alias("chi2"))


def ess_acf(series: DataFrame) -> DataFrame:
    """Effective sample size per conversation from the truncated
    integrated autocorrelation time (the MCMC/clickstream diagnostic
    next to ``hac_mean_se`` — HAC widens the error bar, ESS restates
    the same correlation penalty as "how many INDEPENDENT turns is
    this conversation worth", the number sample-size gates consume):

        τ_int = 1 + 2(ρ₁ + ρ₂ + ρ₃),    ESS = n / τ_int.

    ρ_k are single divisions of the family's exact int64 ACF
    numerators (``exact.acf_sums``, shared by the whole ACF
    family); τ and ESS are fixed
    trees.  τ ≤ 0 (strong anti-correlation at this truncation) →
    NULL ESS with τ still reported — ESS > n is a real phenomenon
    for antithetic sequences but a NEGATIVE τ is a truncation
    artifact, not a sample size.  Constant series or n ≤ 3 → NULL.

    Plan: the ljung_box single-aggregate shape — ONE exchange.
    """
    require_int(series, "ess_acf", "y")
    agg = acf_sums(series, (1, 2, 3))
    ok = (F.col("n") > 3) & (F.col("n0") > 0)
    r = {k: F.col(f"n{k}").cast("double") / F.col("n0").cast("double")
         for k in (1, 2, 3)}
    tau = (F.lit(1.0)
           + F.lit(2.0) * (r[1] + r[2] + r[3]))
    ess = F.when(tau > 0, F.col("n").cast("double") / tau)
    return agg.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.when(ok, tau).alias("tau_int"),
        F.when(ok, ess).alias("ess"))


def von_neumann(series: DataFrame) -> DataFrame:
    """Von Neumann successive-difference ratio per conversation (von
    Neumann 1941, "Distribution of the ratio of the mean square
    successive difference to the variance") — the oldest and bluntest
    serial-dependence screen, completing the randomness family next to
    ``runs_test`` (sign pattern) and ``acf`` (linear memory): a
    trending / positively-autocorrelated series makes consecutive
    values close (small successive differences relative to the
    spread), a mean-reverting saw makes them far apart.

        η = δ̂² / s²,   δ̂² = Σ_{i<N}(y_{i+1}−y_i)² / (N−1),
                        s² = Σ(y−ȳ)² / N

    Under iid normality E[η] = 2N/(N−1) and Var[η] =
    4·N²·(N−2)/((N+1)·(N−1)³) (Hart 1942 exact moments);
    z = (η − E[η])/√Var[η].  ``trending_95`` ⇔ the 6-dp-rounded
    z + 1.96 margin is negative (small η = positive dependence),
    ``oscillating_95`` the symmetric upper flag.

    Exactness (the variance_ratio contract): y MUST be integer —
    Sd2 = Σd², S = Σy, Q = Σy² are exact int64 hash-aggregate sums,
    SS = N·Q − S² is exact, and

        η = N² · Sd2 / ((N−1) · SS)

    is ONE double expression over exact integers (the N from s² and
    the (N−1) from δ̂² both explicit), restated verbatim in SQL.
    Degenerates NULL: N < 3, or SS = 0 (constant series — the ratio
    of two zeros is not evidence of anything).

    Plan: one lag window + one hash aggregate on conv_id → ONE
    exchange, no join, no UDF.
    """
    require_int(series, "von_neumann", "y")
    w = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    y = F.col("y").cast("long")
    d = y - F.lag(y).over(w)
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", y.alias("__y"), d.alias("__d")))
    agg = s.groupBy("conv_id").agg(
        F.count("__y").alias("n"),
        F.sum("__y").alias("__s"),
        F.sum(F.col("__y") * F.col("__y")).alias("__q"),
        F.coalesce(F.sum(F.col("__d") * F.col("__d")), F.lit(0))
        .alias("__sd2"))
    n = F.col("n").cast("double")
    ss = (F.col("n") * F.col("__q")
          - F.col("__s") * F.col("__s"))          # N²·Σ(y−ȳ)², int64
    # η = δ̂²/s² = [Sd2/(N−1)] / [(SS/N²)/N · N] = N²·Sd2/((N−1)·SS)
    # (SS = N·Q − S² = N²·Σ(y−ȳ)²/N → Σ(y−ȳ)² = SS/N, s² = SS/N²)
    eta = (n * n * F.col("__sd2").cast("double")
           / ((n - F.lit(1.0)) * ss.cast("double")))
    mu = F.lit(2.0) * n / (n - F.lit(1.0))
    var = (F.lit(4.0) * n * n * (n - F.lit(2.0))
           / ((n + F.lit(1.0)) * (n - F.lit(1.0))
              * (n - F.lit(1.0)) * (n - F.lit(1.0))))
    z = (eta - mu) / F.sqrt(var)
    ok = (F.col("n") >= 3) & (ss > 0)
    zr = F.round(z, 6)
    return agg.select(
        "conv_id",
        F.col("n").cast("long").alias("n"),
        F.when(ok, eta).alias("vn_ratio"),
        F.when(ok, z).alias("z"),
        F.when(ok, zr < F.lit(-1.96)).alias("trending_95"),
        F.when(ok, zr > F.lit(1.96)).alias("oscillating_95"))


def snht(series: DataFrame) -> DataFrame:
    """Standard Normal Homogeneity Test changepoint per conversation
    (Alexandersson 1986) — the MEAN-shift member of the changepoint
    family: pettitt asks the rank question (outlier-proof, location-
    free), cusum watches drift against a slack band, SNHT asks the
    sharpest parametric question — at which split k do the two
    segment means, standardized by the POOLED variance, differ most:

        T(k) = k·z̄₁² + (n−k)·z̄₂²,   z̄ᵢ = (meanᵢ − ȳ)/σ̂

    Algebraic core (derived once, replayed verbatim in SQL): with
    prefix sum S_k, total S, Q = Σy², both segment deviations share
    ONE numerator U_k = n·S_k − k·S, and

        T(k) = n · U_k² / (k·(n−k)·V),   V = n·Q − S²

    so the whole scan is ONE ordered cumsum window + a fixed double
    tree per row over exact int64 statistics (y MUST be integer —
    the variance_ratio contract; U_k and V are exact, U_k² is the
    one product evaluated in double: |U| ≤ n·|S| can pass 2^26.5 and
    its square 2^53, but both engines square the SAME exact double
    cast, so the value is bit-identical even where it is rounded).

    Argmax: earliest k among 9-dp-rounded-T ties (the cusum grid-snap
    rule — a double argmax without a snap can flip between engines on
    1-ulp noise). Output: (conv_id, n, k_snht — 1-based split AFTER
    which the second segment starts, t_change — the t of the LAST
    first-segment row, T_max, mean_left, mean_right, delta_mean).
    Degenerates DROP: n < 3 or V = 0 (constant series) yield no row —
    a homogeneity test over a constant or 2-point series has no
    interior split to report.

    Plan: one ordered-cumsum window + one argmax aggregate on
    conv_id → ONE exchange, no join, no UDF.
    """
    require_int(series, "snht", "y")
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", "t", "turn_idx", y.alias("__y")))
    pre = s.select(
        "conv_id", "t",
        F.row_number().over(w_ord).alias("__k"),
        F.sum("__y").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__sk"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.sum("__y").over(w_all).alias("__s"),
        F.sum(F.col("__y") * F.col("__y")).over(w_all).alias("__q"))
    k = F.col("__k")
    n_i = F.col("__n")
    u = n_i * F.col("__sk") - k * F.col("__s")     # exact int64
    v = n_i * F.col("__q") - F.col("__s") * F.col("__s")
    t_stat = (n_i.cast("double") * u.cast("double") * u.cast("double")
              / (k.cast("double") * (n_i - k).cast("double")
                 * v.cast("double")))
    interior = pre.where((k < n_i) & (v > 0) & (n_i >= 3))
    scored = interior.select(
        "conv_id", "t", "__k", "__sk", "__n", "__s",
        F.round(t_stat, 9).alias("__ts"))
    best = (scored.groupBy("conv_id")
            .agg(F.max_by(
                F.struct(F.col("__k"), F.col("t"), F.col("__sk"),
                         F.col("__n"), F.col("__s"), F.col("__ts")),
                # max T, then EARLIEST k: negate k in the ordering key
                F.struct(F.col("__ts"), (-F.col("__k")).cast("long")))
                .alias("b")))
    b = F.col("b")
    mean_l = b["__sk"].cast("double") / b["__k"].cast("double")
    mean_r = ((b["__s"] - b["__sk"]).cast("double")
              / (b["__n"] - b["__k"]).cast("double"))
    return best.select(
        "conv_id",
        b["__n"].cast("long").alias("n"),
        b["__k"].cast("long").alias("k_snht"),
        b["t"].alias("t_change"),
        b["__ts"].alias("t_max"),
        mean_l.alias("mean_left"),
        mean_r.alias("mean_right"),
        (mean_r - mean_l).alias("delta_mean"))


def page_hinkley(series: DataFrame, delta: float = 0.0,
                 lam: float = 10.0, grid: int = 4) -> DataFrame:
    """Page–Hinkley drift detector per conversation (Page 1954 §5, the
    CUSUM variant tuned for a sustained MEAN drift; the standard
    concept-drift monitor in streaming-ML references, e.g. Gama 2014
    §3.2) — the twin of ``cusum_changepoints`` that standardizes
    against the SERIES MEAN rather than a z-score band:

        m_T = Σ_{i≤T} (y_i − ȳ − δ)          (increase arm)
        PH⁺_T = m_T − min_{t≤T} m_t,  alarm when PH⁺ > λ

    (the min ranges over REAL prefixes t ∈ [1, T] — no virtual
    m₀ = 0 — Page's M_T convention; a variant seeding 0 alarms one
    step earlier on series whose first step already moves)

    and symmetrically PH⁻ with (ȳ − y_i − δ) for a downward drift.
    δ is the tolerated drift per step, λ the alarm threshold, both in
    y units.

    Exactness: y MUST be integer (the variance_ratio contract); δ and
    λ must sit on the 1/``grid`` lattice (validated loudly). Then
    G_T = grid·n·m_T = grid·(n·S_T − T·S) − T·n·(grid·δ) is EXACT
    int64 (prefix sum S_T, total S), the running min is an int64
    window min, and the alarm compare G_T − min G > grid·n·λ is an
    exact integer compare — no float ever decides an alarm. The
    reported excursions divide back by grid·n ONCE (the
    counter_rate/heartbeat terminal-division discipline).

    Output: (conv_id, n, alarm_inc_idx, alarm_dec_idx — 1-based first
    crossing per arm, NULL if never — max_exc_inc, max_exc_dec,
    alarmed). Plan: one ordered window (cumsum + running min, shared
    frame) + one aggregate on conv_id → ONE exchange, no join, no UDF.
    """
    if lam <= 0:
        raise ValueError(f"page_hinkley: lam must be > 0, got {lam}")
    if delta < 0:
        raise ValueError(f"page_hinkley: delta must be >= 0, got {delta}")
    if grid < 1 or abs(delta * grid - round(delta * grid)) > 1e-9 \
            or abs(lam * grid - round(lam * grid)) > 1e-9:
        raise ValueError(
            f"page_hinkley: delta ({delta}) and lam ({lam}) must sit "
            f"on the 1/{grid} lattice (pass a matching grid=)")
    require_int(series, "page_hinkley", "y")
    dg = int(round(delta * grid))
    lg = int(round(lam * grid))
    g = int(grid)
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", "t", "turn_idx", y.alias("__y")))
    pre = s.select(
        "conv_id",
        F.row_number().over(w_ord).alias("__k"),
        F.sum("__y").over(w_run).alias("__sk"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.sum("__y").over(w_all).alias("__s"))
    k, n_i = F.col("__k"), F.col("__n")
    # G⁺ = g·(n·S_T − T·S) − T·n·gδ ; G⁻ is its negation shifted by
    # the same slack, so one cumsum serves both arms. The running min
    # orders by __k — the row_number over the SAME (t, turn_idx) order,
    # still present after `pre` projects t/turn_idx away.
    w_runk = (Window.partitionBy("conv_id").orderBy("__k")
              .rowsBetween(Window.unboundedPreceding, 0))
    core = F.lit(g) * (n_i * F.col("__sk") - k * F.col("__s"))
    g_inc = core - k * n_i * F.lit(dg)
    g_dec = -core - k * n_i * F.lit(dg)
    scored = pre.select(
        "conv_id", "__k", "__n",
        (g_inc - F.min(g_inc).over(w_runk)).alias("__ph_i"),
        (g_dec - F.min(g_dec).over(w_runk)).alias("__ph_d"))
    thr_i = F.lit(lg) * n_i
    out = scored.groupBy("conv_id").agg(
        F.max("__n").alias("n"),
        F.min(F.when(F.col("__ph_i") > thr_i, F.col("__k")))
        .alias("alarm_inc_idx"),
        F.min(F.when(F.col("__ph_d") > thr_i, F.col("__k")))
        .alias("alarm_dec_idx"),
        F.max("__ph_i").alias("__mi"),
        F.max("__ph_d").alias("__md"))
    den = (F.col("n") * F.lit(g)).cast("double")
    return out.select(
        "conv_id",
        F.col("n").cast("long").alias("n"),
        F.col("alarm_inc_idx").cast("long").alias("alarm_inc_idx"),
        F.col("alarm_dec_idx").cast("long").alias("alarm_dec_idx"),
        (F.col("__mi").cast("double") / den).alias("max_exc_inc"),
        (F.col("__md").cast("double") / den).alias("max_exc_dec"),
        (F.col("alarm_inc_idx").isNotNull()
         | F.col("alarm_dec_idx").isNotNull()).alias("alarmed"))


def turning_points(series: DataFrame) -> DataFrame:
    """Kendall turning-points randomness test per conversation
    (Kendall & Stuart, *The Advanced Theory of Statistics* vol. 3 —
    the classic peaks-and-troughs screen): a turning point is an
    interior value strictly greater than both neighbors (peak) or
    strictly less (trough). Too few flags a trend, too many flags
    alternation — the EXTREMA twin of ``runs_test``'s sign statistic
    and ``von_neumann``'s magnitude statistic (the three randomness
    screens hear different departures; a slow sine fools runs but not
    turning points).

    Tie handling: triples containing ANY equality (y₋ = y₀ or
    y₀ = y₊) are neither peak nor trough and count toward n but not T
    (the strict-inequality convention; the classic test assumes a
    continuous variate, so ties are simply not extrema). Under iid:

        E[T] = 2(n−2)/3,   Var[T] = (16n − 29)/90

    z = (T − E)/√Var, flags on the 6-dp-rounded margin vs 1.96.

    Exactness: T, n are exact integers from exact compares (y is any
    orderable type — no grid needed; equality of doubles is exact);
    z is one fixed double tree over two integers. Degenerates NULL:
    n < 4 (variance formula needs interior mass; n = 3 has Var < 0
    protection as a bonus).

    Plan: one lag/lead window + one aggregate on conv_id → ONE
    exchange, no join, no UDF.
    """
    w = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    prev = F.lag("y").over(w)
    nxt = F.lead("y").over(w)
    is_tp = (prev.isNotNull() & nxt.isNotNull()
             & (((F.col("y") > prev) & (F.col("y") > nxt))
                | ((F.col("y") < prev) & (F.col("y") < nxt))))
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", is_tp.cast("long").alias("__tp")))
    agg = s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__tp").alias("n_turning"))
    n = F.col("n").cast("double")
    t_cnt = F.col("n_turning").cast("double")
    mu = F.lit(2.0) * (n - F.lit(2.0)) / F.lit(3.0)
    var = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    z = (t_cnt - mu) / F.sqrt(var)
    ok = F.col("n") >= 4
    zr = F.round(z, 6)
    return agg.select(
        "conv_id",
        F.col("n").cast("long").alias("n"),
        F.col("n_turning").cast("long").alias("n_turning"),
        F.when(ok, mu).alias("expected"),
        F.when(ok, z).alias("z"),
        F.when(ok, zr < F.lit(-1.96)).alias("trending_95"),
        F.when(ok, zr > F.lit(1.96)).alias("alternating_95"))


def esd_outliers(series: DataFrame, k: int = 3) -> DataFrame:
    """Generalized ESD multi-outlier screen per conversation (Rosner
    1983, "Percentage points for a generalized ESD many-outlier
    procedure" — the iterative engine inside Twitter's S-H-ESD
    anomaly detector): ``grubbs_stat`` names ONE extreme, but a
    second outlier masks the first (it inflates s); ESD removes the
    current extreme and RECOMPUTES mean/std up to ``k`` times,
    reporting each round's studentized deviate

        R_i = max_t |y_t − ȳ_i| / s_i   over the remaining points.

    This implementation reports the (R_i, turn_i) ladder and leaves
    the λ_i critical compare to the caller (the grubbs_stat
    convention — Rosner's λ_i needs a t-quantile, which neither
    engine has natively; the LADDER is the exactly-replayable part,
    and any caller-side threshold applied to it reproduces the
    published procedure).

    Exactness: each round runs on sufficient statistics only —
    removal of the round-i extreme updates (n, S, Q) by that one
    value, so every round's argmax compares EXACT int64 scaled
    deviations |n_i·y − S_i| (earliest-turn ties, the grubbs rule)
    and every R_i is the grubbs fixed tree |n·y−S|/√(nQ−S²) over
    exact integers. y MUST be integer.

    Rounds with fewer than 3 remaining points or zero remaining
    variance report NULL (R over a constant rump is not evidence).
    Plan: k statically-unrolled passes, each one window + one
    aggregate + one broadcast-sized anti-join of the picks — all
    keyed on conv_id; k is small and fixed (the kcore unroll rule).
    """
    if not isinstance(k, int) or not (1 <= k <= 8):
        raise ValueError(f"esd_outliers: k must be an int in [1, 8], "
                         f"got {k!r}")
    require_int(series, "esd_outliers", "y")
    base = (series
            .where(F.col("y").isNotNull())
            .select("conv_id", "turn_idx",
                    F.col("y").cast("long").alias("__y")))
    remaining = base
    picks = []
    for i in range(1, k + 1):
        w_all = Window.partitionBy("conv_id")
        st = remaining.select(
            "conv_id", "turn_idx", "__y",
            F.sum("__y").over(w_all).alias("__s"),
            F.sum(F.col("__y") * F.col("__y")).over(w_all).alias("__q"),
            F.count(F.lit(1)).over(w_all).alias("__n"))
        dev = F.abs(F.col("__n") * F.col("__y") - F.col("__s"))
        g = (st.select("conv_id", "turn_idx", "__n", "__s", "__q",
                       dev.alias("__d"))
             .groupBy("conv_id")
             .agg(F.max("__n").alias("__n"),
                  F.max("__s").alias("__s"),
                  F.max("__q").alias("__q"),
                  F.max("__d").alias("__dmax"),
                  F.expr("min_by(turn_idx, struct(-__d, turn_idx))")
                  .alias("__peak")))
        var_n = (F.col("__n") * F.col("__q")
                 - F.col("__s") * F.col("__s"))
        ok = (F.col("__n") >= 3) & (var_n > 0)
        # R = max|y−ȳ|/s_pop = |n·y−S|/√(nQ−S²)  (the grubbs tree)
        r_i = (F.col("__dmax").cast("double")
               / F.sqrt(var_n.cast("double")))
        pick = g.select(
            "conv_id",
            F.col("__n").cast("long").alias(f"n_{i}"),
            F.when(ok, r_i).alias(f"r_{i}"),
            F.when(ok, F.col("__peak")).cast("long")
            .alias(f"turn_{i}"))
        picks.append(pick)
        if i < k:
            gone = pick.select(
                "conv_id", F.col(f"turn_{i}").alias("turn_idx"))
            remaining = remaining.join(
                gone.where(F.col("turn_idx").isNotNull()),
                ["conv_id", "turn_idx"], "left_anti")
    out = picks[0]
    for p in picks[1:]:
        out = out.join(p, "conv_id", "left")
    cols = ["conv_id", F.col("n_1").alias("n")]
    for i in range(1, k + 1):
        cols += [F.col(f"r_{i}"), F.col(f"turn_{i}")]
    return out.select(*cols)
