"""EWMA smoothing per series (SURVEY.md §2.9 continuous-aggregate
family — the exponentially-weighted moving average every monitoring
stack exposes, e.g. Graphite ``ewma()`` / Prometheus ``holt_winters``'s
level term; no reference counterpart: cesium's features are
whole-series scalars, not per-point smoothed streams).

The recurrence s₀ = y₀, sᵢ = (1−α)·sᵢ₋₁ + α·yᵢ is sequential per
series BY DEFINITION (each output depends on the previous), so — like
LTTB — the parallelism is across series, never within one: a single
hash exchange on (conv_id, channel) into a vectorized per-series
``applyInPandas`` kernel, O(n) work per series, with the in-kernel
stable sort keeping output partitioning-independent (§4.3 policy).
The kernel body is pandas ``ewm(alpha, adjust=False).mean()`` —
C-speed, no per-row Python.

Determinism / oracle story: pandas' adjust=False update is
``s = ((1−α)·s_prev + α·y) / ((1−α) + α)`` (pinned bit-for-bit against
an explicit scalar recurrence in pytest). For DYADIC α (0.25, 0.5,
0.125…) the divisor (1−α)+α is exactly 1.0 and the equal-value update
``(1−α)·s + α·s`` reproduces s exactly (checked over 2M random doubles
for α=0.25; false for α=0.3), so the whole stream is bit-replayable by
the plain recurrence ``s = (1−α)·s_prev + α·y`` — which the DuckDB
oracle restates as a recursive CTE. Non-dyadic α still computes
correctly but loses the bit-replay guarantee; ``ewma`` warns via
ValueError unless ``allow_non_dyadic=True``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.exact import require_int

EWMA_SCHEMA = ("conv_id string, channel string, turn_idx long, "
               "t double, y double, y_smooth double")


def _is_dyadic(alpha: float) -> bool:
    # dyadic rational with small denominator: alpha * 2^k integral
    m = alpha * 4096.0
    return m == int(m)


def ewma(series: DataFrame, alpha: float,
         allow_non_dyadic: bool = False) -> DataFrame:
    """Append ``y_smooth`` = EWMA(alpha, adjust=False) of y per
    (conv_id, channel), points ordered by (t, turn_idx). Rows with
    NULL t/y are dropped up front (a smoothed NULL is undefined;
    gap-fill first if NULLs are meaningful)."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if not allow_non_dyadic and not _is_dyadic(alpha):
        raise ValueError(
            f"alpha={alpha} is not dyadic — the bit-exact oracle "
            "guarantee does not hold; pass allow_non_dyadic=True "
            "to proceed anyway")

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        pdf["y_smooth"] = pdf["y"].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, EWMA_SCHEMA)
    )


HAMPEL_SCHEMA = ("conv_id string, channel string, turn_idx long, "
                 "t double, y double, med double, mad double, "
                 "is_outlier boolean, y_clean double")


def hampel(series: DataFrame, k: int = 3, n_sigma: float = 3.0,
           grid_dp: int | None = 6) -> DataFrame:
    """Hampel despike filter per (conv_id, channel): for each point,
    the median and MAD of the CENTERED window of up to 2k+1 rows
    (shrinking at the series edges — the first point's window is just
    its k successors plus itself), flag
    ``|y − med| > n_sigma · 1.4826 · MAD``, and emit ``y_clean`` = the
    window median for outliers, y otherwise. The standard robust
    despiker (Pearson's recommendation over sigma-clipping: one spike
    inflates a std but not a median).

    Kernel: one hash exchange into ``applyInPandas``; interior windows
    are a single ``sliding_window_view`` + ``np.median`` over the
    window axis — vectorized O(n·k log k) per series, no per-row
    Python — with the ≤ 2k edge windows handled explicitly (they
    shrink, matching the SQL ROWS frame the oracle uses). MAD is the
    median of |window − window's own med| (the true Hampel form, not
    the rolling-MAD-of-global-median shortcut).

    Cross-engine determinism: medians are order statistics —
    bit-identical across engines given identical window contents (the
    even-count midpoint average (a+b)/2 is the same single fp op) —
    and the outlier DECISION is snapped to a 10^-grid_dp grid before
    the compare (CUSUM precedent) so ~1-ulp MAD drift between two
    engines' pipelines cannot flip flag membership. NULL t/y rows are
    dropped up front (despiking a NULL is undefined; gap-fill first).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_sigma <= 0:
        raise ValueError(f"n_sigma must be > 0, got {n_sigma}")
    import numpy as np

    scale = 1.4826  # MAD -> sigma under normality
    snap = None if grid_dp is None else float(10 ** grid_dp)

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        y = pdf["y"].to_numpy(dtype=np.float64)
        n = len(y)
        med = np.empty(n)
        mad = np.empty(n)
        if n > 2 * k:
            win = np.lib.stride_tricks.sliding_window_view(y, 2 * k + 1)
            med[k:n - k] = np.median(win, axis=1)
            mad[k:n - k] = np.median(
                np.abs(win - med[k:n - k, None]), axis=1)
        for i in range(min(k, n)):          # shrunk leading windows
            w = y[:i + k + 1]
            med[i] = np.median(w)
            mad[i] = np.median(np.abs(w - med[i]))
        for i in range(max(n - k, k), n):   # shrunk trailing windows
            w = y[i - k:]
            med[i] = np.median(w)
            mad[i] = np.median(np.abs(w - med[i]))
        dev = np.abs(y - med)
        thr = n_sigma * scale * mad
        if snap is not None:
            dev = np.floor(dev * snap + 0.5) / snap
            thr = np.floor(thr * snap + 0.5) / snap
        out = dev > thr
        pdf["med"] = med
        pdf["mad"] = mad
        pdf["is_outlier"] = out
        pdf["y_clean"] = np.where(out, med, y)
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, HAMPEL_SCHEMA)
    )


HOLT_SCHEMA = ("conv_id string, channel string, turn_idx long, "
               "t double, y double, level double, trend double, "
               "forecast double, residual double")


def holt_linear(series: DataFrame, alpha: float, beta: float,
                allow_non_dyadic: bool = False) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per (conv_id,
    channel) — the level+trend half of Holt–Winters (Prometheus
    ``holt_winters()``/``double_exponential_smoothing()``):

        l₀ = y₀,  b₀ = y₁ − y₀
        lᵢ = α·yᵢ + (1−α)·(lᵢ₋₁ + bᵢ₋₁)
        bᵢ = β·(lᵢ − lᵢ₋₁) + (1−β)·bᵢ₋₁

    with ``forecast``ᵢ = lᵢ₋₁ + bᵢ₋₁ (the one-step-ahead prediction —
    NULL at i=0,1 where the state is still initializing, never a fake
    0) and ``residual`` = y − forecast, the drift-alarm input.
    Single-point series emit level = y, trend/forecast NULL.

    The recursion is sequential per series BY DEFINITION (EWMA/LTTB
    precedent): parallelism is across series — one hash exchange into
    ``applyInPandas``, O(n) work per series. The state update is a
    scalar float64 loop in the kernel (the coupled l/b recursion has
    no pandas C path like ``ewm``; at ~5M updates/s/core the loop is
    never the bottleneck when the parallelism is across 10^8
    conversations — documented trade-off, an Arrow compute kernel is
    the drop-in upgrade).

    Determinism / oracle story (EWMA precedent): for DYADIC α and β
    every coefficient is exactly representable and the update is the
    same fixed expression tree in any IEEE-double engine, so the whole
    stream is bit-replayable by a recursive CTE that restates the
    recurrences verbatim. Non-dyadic values require
    ``allow_non_dyadic=True``.
    """
    for name, v in (("alpha", alpha), ("beta", beta)):
        if not (0.0 < v < 1.0):
            raise ValueError(f"{name} must be in (0, 1), got {v}")
        if not allow_non_dyadic and not _is_dyadic(v):
            raise ValueError(
                f"{name}={v} is not dyadic — the bit-exact oracle "
                "guarantee does not hold; pass allow_non_dyadic=True "
                "to proceed anyway")
    import numpy as np

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        y = pdf["y"].to_numpy(dtype=np.float64)
        n = len(y)
        level = np.full(n, np.nan)
        trend = np.full(n, np.nan)
        fcst = np.full(n, np.nan)
        if n == 1:
            level[0] = y[0]
        elif n >= 2:
            l_prev = y[0]
            b_prev = y[1] - y[0]
            level[0] = l_prev
            trend[0] = b_prev
            for i in range(1, n):
                # fixed expression tree — restated verbatim in the
                # recursive-CTE oracle; do not refactor the arithmetic
                f = l_prev + b_prev
                li = alpha * y[i] + (1.0 - alpha) * (l_prev + b_prev)
                bi = beta * (li - l_prev) + (1.0 - beta) * b_prev
                if i >= 2:
                    fcst[i] = f
                level[i] = li
                trend[i] = bi
                l_prev, b_prev = li, bi
        pdf["level"] = level
        pdf["trend"] = trend
        pdf["forecast"] = fcst
        pdf["residual"] = pdf["y"] - pdf["forecast"]
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, HOLT_SCHEMA)
    )


HW_SCHEMA = ("conv_id string, channel string, turn_idx long, "
             "t double, y double, level double, trend double, "
             "seasonal double, forecast double, residual double")


def holt_winters(series: DataFrame, alpha: float, beta: float,
                 gamma: float, period: int,
                 allow_non_dyadic: bool = False) -> DataFrame:
    """Holt–Winters ADDITIVE triple exponential smoothing per
    (conv_id, channel) — the seasonal completion of
    :func:`holt_linear` (level + trend + a ``period``-slot seasonal
    state; Hyndman & Athanasopoulos §8.3, additive form):

        sᵢ read  = seasonal state from i − period
        lᵢ = α·(yᵢ − sᵢ₋ₚ) + (1−α)·(lᵢ₋₁ + bᵢ₋₁)
        bᵢ = β·(lᵢ − lᵢ₋₁) + (1−β)·bᵢ₋₁
        sᵢ = γ·(yᵢ − lᵢ) + (1−γ)·sᵢ₋ₚ

    with the classical first-season initialization — l = mean of the
    first period, b = (second-season mean − first-season mean)/period,
    sᵢ = yᵢ − l for the first period — and one-step forecasts
    fᵢ = lᵢ₋₁ + bᵢ₋₁ + sᵢ₋ₚ from i = period on (NULL during the
    init season; residual = y − f is the seasonal-aware drift alarm).
    Series shorter than 2·period cannot initialize the trend and drop
    out (an honest refusal beats a garbage fit over half a season).

    Determinism / oracle story (holt_linear precedent, one extension):
    the recursion is the same fixed expression tree in the kernel and
    in the recursive-CTE oracle, which carries the ``period`` live
    seasonal values as a rotating LIST in the recursion state. The
    INIT means are order-dependent float sums, so they are ROUNDED to
    the 6-dp grid before the recursion starts — both engines then
    recur from identical state with identical arithmetic. Dyadic
    α/β/γ required unless ``allow_non_dyadic=True``.

    Scale shape: one hash exchange into ``applyInPandas``, O(n) per
    series; parallelism across series (sequential-by-definition
    precedent stated on holt_linear).
    """
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not (0.0 < v < 1.0):
            raise ValueError(f"{name} must be in (0, 1), got {v}")
        if not allow_non_dyadic and not _is_dyadic(v):
            raise ValueError(
                f"{name}={v} is not dyadic — the bit-exact oracle "
                "guarantee does not hold; pass allow_non_dyadic=True "
                "to proceed anyway")
    if not (2 <= period <= 1000):
        raise ValueError(f"period must be in [2, 1000], got {period}")
    import numpy as np

    p = int(period)

    def _g6(x: float) -> float:
        # the 6-dp grid both engines share (floor(x*1e6+0.5)/1e6,
        # the driver's round convention for non-negative-biased vals)
        return float(np.floor(x * 1e6 + 0.5) / 1e6)

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        y = pdf["y"].to_numpy(dtype=np.float64)
        n = len(y)
        level = np.full(n, np.nan)
        trend = np.full(n, np.nan)
        seas = np.full(n, np.nan)
        fcst = np.full(n, np.nan)
        if n >= 2 * p:
            # ordered (index-order) accumulation, rounded to the grid
            m1 = 0.0
            for v in y[:p]:
                m1 += v
            m1 /= p
            m2 = 0.0
            for v in y[p:2 * p]:
                m2 += v
            m2 /= p
            l_prev = _g6(m1)
            b_prev = _g6((m2 - m1) / p)
            s = [_g6(y[i] - m1) for i in range(p)]
            for i in range(p):
                seas[i] = s[i]
            level[p - 1] = l_prev
            trend[p - 1] = b_prev
            for i in range(p, n):
                # fixed expression tree — restated verbatim in the
                # recursive-CTE oracle; do not refactor the arithmetic
                s_old = s[0]
                f = l_prev + b_prev + s_old
                li = alpha * (y[i] - s_old) \
                    + (1.0 - alpha) * (l_prev + b_prev)
                bi = beta * (li - l_prev) + (1.0 - beta) * b_prev
                si = gamma * (y[i] - li) + (1.0 - gamma) * s_old
                fcst[i] = f
                level[i] = li
                trend[i] = bi
                seas[i] = si
                s = s[1:] + [si]
                l_prev, b_prev = li, bi
        pdf["level"] = level
        pdf["trend"] = trend
        pdf["seasonal"] = seas
        pdf["forecast"] = fcst
        pdf["residual"] = pdf["y"] - pdf["forecast"]
        if n < 2 * p:
            return pdf.head(0)   # cannot initialize: honest drop
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, HW_SCHEMA)
    )


CROSTON_SCHEMA = ("conv_id string, channel string, turn_idx long, "
                  "t double, y double, is_demand boolean, "
                  "level double, interval double, forecast double, "
                  "forecast_sba double")


def croston(series: DataFrame, alpha: float = 0.25,
            allow_non_dyadic: bool = False) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand — the
    forecaster for series that are mostly zeros (tool invocations,
    error events, purchases per period), where Holt/EWMA chase the
    zeros down and systematically under-forecast the spikes. Croston
    smooths two separate streams, updated ONLY when demand occurs:

        z  = α·y  + (1−α)·z   (demand SIZE when y > 0)
        p  = α·q  + (1−α)·p   (inter-demand INTERVAL, q = periods
                               since the previous demand)

    with ``forecast``ᵢ = zᵢ₋₁/pᵢ₋₁ (demand per period, one step ahead;
    NULL until the first demand initializes the state with z = y,
    p = periods from series start) and ``forecast_sba`` =
    (1 − α/2)·z/p — the Syntetos–Boylan (2001) correction for
    Croston's positive bias. Negative demand is refused loudly
    (demand is a count/size; a negative value upstream is a bug).

    Same execution/determinism contract as holt_linear: one hash
    exchange into a per-series applyInPandas kernel, sequential by
    definition; for dyadic α every update is a fixed IEEE expression
    tree (q is an exact integer), so the stream is bit-replayable by
    a recursive CTE restating the recurrences verbatim.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if not allow_non_dyadic and not _is_dyadic(alpha):
        raise ValueError(
            f"alpha={alpha} is not dyadic — the bit-exact oracle "
            "guarantee does not hold; pass allow_non_dyadic=True "
            "to proceed anyway")
    import numpy as np
    sba_c = 1.0 - alpha / 2.0

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        y = pdf["y"].to_numpy(dtype=np.float64)
        if (y < 0).any():
            raise ValueError(
                "croston: negative demand encountered — demand must "
                "be a non-negative size/count")
        n = len(y)
        lvl = np.full(n, np.nan)
        itv = np.full(n, np.nan)
        fcst = np.full(n, np.nan)
        z = p = None
        q = 0
        for i in range(n):
            if z is not None:
                fcst[i] = z / p  # state BEFORE seeing y[i]
            qc = q + 1
            if y[i] > 0:
                if z is None:
                    z = y[i]
                    p = float(qc)
                else:
                    # fixed expression trees — restated verbatim in
                    # the recursive-CTE oracle; do not refactor
                    z = alpha * y[i] + (1.0 - alpha) * z
                    p = alpha * float(qc) + (1.0 - alpha) * p
                q = 0
            else:
                q = qc
            if z is not None:
                lvl[i] = z
                itv[i] = p
        pdf["is_demand"] = y > 0
        pdf["level"] = lvl
        pdf["interval"] = itv
        pdf["forecast"] = fcst
        pdf["forecast_sba"] = sba_c * fcst
        return pdf

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, CROSTON_SCHEMA)
    )


def forecast_scores(scored: DataFrame,
                    forecast_col: str = "forecast") -> DataFrame:
    """Forecast-accuracy scoring per series over ANY operator output
    carrying (conv_id, turn_idx, y, forecast) — holt_linear,
    holt_winters, ar1 backtests: MAE, RMSE, and MASE (Hyndman &
    Koehler 2006), the scale-free benchmark ratio mae /
    mean|yᵢ − yᵢ₋₁| — MASE < 1 beats the naive last-value forecast,
    the bar every production forecaster must clear and the number
    that makes models comparable across series with different units.

    Rows with NULL forecast (warm-up) are excluded from the error
    means but their y still participates in the naive scaling (the
    standard in-sample definition). Constant series have naive MAE 0
    → NULL MASE via try_divide, never an infinity. A row count
    ``n_scored`` = 0 (nothing forecastable) keeps NULL errors.

    Scale shape: one lag window + one aggregate on the same conv_id
    key → ONE hash exchange, no join, no UDF.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    f = F.col(forecast_col)
    err = F.when(f.isNotNull(), F.col("y") - f)
    naive = F.abs(F.col("y") - F.lag("y").over(w))
    base = scored.select("conv_id", "turn_idx", "y", f.alias("__f"),
                         err.alias("__e"), naive.alias("__nv"))
    return (base.groupBy("conv_id")
            .agg(F.count("__f").cast("long").alias("n_scored"),
                 F.avg(F.abs(F.col("__e"))).alias("mae"),
                 F.sqrt(F.avg(F.col("__e") * F.col("__e")))
                 .alias("rmse"),
                 F.avg("__nv").alias("__naive_mae"))
            .select("conv_id", "n_scored", "mae", "rmse",
                    F.expr("try_divide(mae, __naive_mae)")
                    .alias("mase")))


def theta_forecast(series: DataFrame, h: int = 3) -> DataFrame:
    """Theta-method point forecasts per (conv_id, channel)
    (Assimakopoulos & Nikolopoulos 2000 — the M3-competition winner;
    Hyndman & Billah 2003 showed it equals SES-with-drift): the
    series is split into two "theta lines" — θ=0 (the pure linear
    trend) and θ=2 (curvature doubled, Z_i = 2·y_i − (a + b·i)) —
    the θ=2 line is smoothed with simple exponential smoothing
    (α = 1/2, dyadic — the ewma bit-replay rule), and the h-step
    forecast averages the two:

        ŷ_{n+h} = ((a + b·(n+h)) + ses_n) / 2

    (SES of a θ=2 line is flat, so its h-step forecast is its level.)

    Exactness: with integer y and ranks i = 1..n, the OLS line is
    exact-integer sufficient statistics (b_num = n·Σiy − Σi·Σy,
    b_den = n·Σi² − (Σi)² — the ols_fit discipline); Z and the SES
    fold are doubles, but the fold is an ORDERED reverse-time cumsum
    of (1/2)^{j+1}·Z_{n−j} (plus the (1/2)^{n−1}·Z_1 boundary term),
    a deterministic left-to-right window fold both engines execute in
    the identical order — bit-replayable in SQL with the same window,
    and terms below 2⁻⁵³ vanish identically on both sides.

    Degenerates NULL: n < 3, or zero rank-variance (can't happen for
    distinct ranks — kept as an explicit guard for the b_den
    division). Plan: one ordered window (rank + reverse cumsum) + one
    aggregate on (conv_id, channel) → ONE exchange, no UDF, no join.
    """
    if not isinstance(h, int) or not (1 <= h <= 24):
        raise ValueError(f"theta_forecast: h must be an int in "
                         f"[1, 24], got {h!r}")
    require_int(series, "theta_forecast", "y")
    w_ord = Window.partitionBy("conv_id", "channel") \
                  .orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id", "channel")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", "channel", "turn_idx", "t",
                 y.alias("__y"),
                 F.row_number().over(w_ord).alias("__i")))
    st = s.select(
        "conv_id", "channel", "__y", "__i",
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.sum("__y").over(w_all).alias("__sy"),
        F.sum(F.col("__i") * F.col("__y")).over(w_all).alias("__siy"),
        F.sum(F.col("__i").cast("long") * F.col("__i"))
        .over(w_all).alias("__sii"),
        F.sum(F.col("__i").cast("long")).over(w_all).alias("__si"))
    n_i = F.col("__n")
    b_num = n_i * F.col("__siy") - F.col("__si") * F.col("__sy")
    b_den = n_i * F.col("__sii") - F.col("__si") * F.col("__si")
    # try_divide is load-bearing (the partial_corr lesson): a 1-row
    # prefix has b_den = 0, and common-subexpression elimination can
    # hoist a plain division out of its guarding CASE branch — ANSI
    # then throws mid-job instead of yielding the guarded NULL
    b = F.try_divide(b_num.cast("double"), b_den.cast("double"))
    a = ((F.col("__sy").cast("double") - b * F.col("__si").cast("double"))
         / n_i.cast("double"))
    z = F.lit(2.0) * F.col("__y").cast("double") \
        - (a + b * F.col("__i").cast("double"))
    # SES(α=1/2, adjust=False) closed form as a reverse-time fold:
    # e_n = Σ_{j=0..n−2} (1/2)^{j+1}·Z_{n−j}  +  (1/2)^{n−1}·Z_1
    j = n_i - F.col("__i")                          # 0 for the last row
    coef = F.when(F.col("__i") == 1,
                  F.pow(F.lit(0.5), (n_i - 1).cast("double"))) \
            .otherwise(F.pow(F.lit(0.5), (j + 1).cast("double")))
    w_rev = (Window.partitionBy("conv_id", "channel")
             .orderBy(F.col("__i").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
    folded = st.select(
        "conv_id", "channel", "__i", "__n", "__sy", "__si",
        "__siy", "__sii",
        F.sum(coef * z).over(w_rev).alias("__ses_cum"))
    # the FULL fold value sits on the EARLIEST row (last in reverse
    # order) — an ordered min_by pick, never a max (the effective_rank
    # terminal-fold rule: the cumsum of signed terms is non-monotone)
    g = (folded.groupBy("conv_id", "channel")
         .agg(F.max("__n").alias("n"),
              F.max("__sy").alias("__sy"),
              F.max("__si").alias("__si"),
              F.max("__siy").alias("__siy"),
              F.max("__sii").alias("__sii"),
              F.min_by(F.col("__ses_cum"), F.col("__i")).alias("__ses")))
    nn = F.col("n")
    b_num2 = nn * F.col("__siy") - F.col("__si") * F.col("__sy")
    b_den2 = nn * F.col("__sii") - F.col("__si") * F.col("__si")
    ok = (nn >= 3) & (b_den2 > 0)
    b2 = F.try_divide(b_num2.cast("double"), b_den2.cast("double"))
    a2 = ((F.col("__sy").cast("double")
           - b2 * F.col("__si").cast("double")) / nn.cast("double"))
    cols = ["conv_id", "channel",
            nn.cast("long").alias("n"),
            F.when(ok, a2).alias("intercept"),
            F.when(ok, b2).alias("slope"),
            F.when(ok, F.col("__ses")).alias("ses_level")]
    for step in range(1, h + 1):
        trend = a2 + b2 * (nn + F.lit(step)).cast("double")
        cols.append(F.when(ok, (trend + F.col("__ses")) / F.lit(2.0))
                    .alias(f"fc_{step}"))
    return g.select(*cols)


def theta_backtest(series: DataFrame, h: int = 3) -> DataFrame:
    """Rolling-origin-free holdout backtest of the Theta forecaster
    per (conv_id, channel): the LAST ``h`` points are held out, Theta
    is fit on the prefix, and the h forecasts are scored with the two
    standard scale-free accuracy metrics (Hyndman & Koehler 2006,
    "Another look at measures of forecast accuracy"):

        MASE  = mean_h |y − ŷ| / (Σ_train |y_i − y_{i−1}| / (m−1))
        sMAPE = mean_h 200·|y − ŷ| / (|y| + |ŷ|)

    MASE < 1 beats the in-sample naive-1 forecast — THE publishable
    number for a forecaster; ``ts_ar1_backtest`` scores a different
    model with a rolling origin, this is its fixed-origin twin for
    the theta family.

    Exactness: the naive-1 denominator Σ|Δy| is an exact int64
    aggregate over the integer training prefix; forecasts and errors
    are the theta fixed trees; each metric is a fixed double tree
    with try-style NULL guards (zero denominator → NULL, never inf:
    a constant training series has no naive error to scale by).
    Degenerates DROP: conversations whose training prefix cannot be
    fit (fewer than h + 3 points) yield no row — there is no forecast
    to score.

    Plan: the theta pass on the prefix (one exchange) + one holdout
    aggregate joined on the group key — bounded, no UDF.
    """
    if not isinstance(h, int) or not (1 <= h <= 24):
        raise ValueError(f"theta_backtest: h must be an int in "
                         f"[1, 24], got {h!r}")
    require_int(series, "theta_backtest", "y")
    w_ord = Window.partitionBy("conv_id", "channel") \
                  .orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id", "channel")
    s = (series
         .where(F.col("t").isNotNull() & F.col("y").isNotNull())
         .select("conv_id", "channel", "turn_idx", "t",
                 F.col("y").cast("long").alias("__y"),
                 F.row_number().over(w_ord).alias("__i"),
                 F.count(F.lit(1)).over(w_all).alias("__cnt")))
    train = (s.where(F.col("__i") <= F.col("__cnt") - h)
             .select("conv_id", "channel", "turn_idx", "t",
                     F.col("__y").alias("y")))
    fc = theta_forecast(train, h=h)
    # naive-1 denominator over the training prefix: exact int64
    wtr = Window.partitionBy("conv_id", "channel") \
                .orderBy("t", "turn_idx")
    naive = (train
             .withColumn("__d", F.abs(F.col("y").cast("long")
                                      - F.lag(F.col("y").cast("long"))
                                      .over(wtr)))
             .groupBy("conv_id", "channel")
             .agg(F.sum("__d").alias("__sad"),
                  F.count("__d").alias("__m1")))
    # holdout actuals keyed by step = i − (cnt − h)
    hold = (s.where(F.col("__i") > F.col("__cnt") - h)
            .select("conv_id", "channel",
                    (F.col("__i") - (F.col("__cnt") - h)).alias("__st"),
                    F.col("__y").alias("__act")))
    fc_long = fc.select(
        "conv_id", "channel", "n",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("__st"),
                     F.col(f"fc_{i}").alias("__fc"))
            for i in range(1, h + 1)])).alias("e")) \
        .select("conv_id", "channel", "n",
                F.col("e.__st").alias("__st"),
                F.col("e.__fc").alias("__fc"))
    j = (fc_long.join(hold, ["conv_id", "channel", "__st"])
         # a conversation whose prefix cannot be fit (n_train < 3 or
         # degenerate ranks) has NULL forecasts — drop it entirely,
         # matching the oracle's fit filter (no NULL-metric husk rows)
         .where(F.col("__fc").isNotNull())
         .withColumn("__ae", F.abs(F.col("__act").cast("double")
                                   - F.col("__fc")))
         .withColumn(
             "__smape_t",
             F.when(F.abs(F.col("__act").cast("double"))
                    + F.abs(F.col("__fc")) > 0,
                    F.lit(200.0) * F.col("__ae")
                    / (F.abs(F.col("__act").cast("double"))
                       + F.abs(F.col("__fc"))))))
    per = (j.groupBy("conv_id", "channel")
           .agg(F.max("n").alias("n_train"),
                F.count("__ae").alias("n_test"),
                F.sum("__ae").alias("__sae"),
                F.avg("__smape_t").alias("smape")))
    out = per.join(naive, ["conv_id", "channel"], "left")
    mase = F.when(
        (F.col("__m1") > 0) & (F.col("__sad") > 0)
        & F.col("__sae").isNotNull(),
        (F.col("__sae") / F.col("n_test").cast("double"))
        / (F.col("__sad").cast("double")
           / F.col("__m1").cast("double")))
    return out.select(
        "conv_id", "channel",
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_test").cast("long").alias("n_test"),
        (F.col("__sae") / F.col("n_test").cast("double")).alias("mae"),
        mase.alias("mase"),
        F.col("smape"))
