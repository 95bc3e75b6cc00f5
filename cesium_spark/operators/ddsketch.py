"""DDSketch retention tiers — the RELATIVE-error mergeable quantile
summary (Masson, Rim & Lee, "DDSketch: a fast and fully-mergeable
quantile sketch with relative-error guarantees", VLDB 2019),
completing the sketch-tier family next to HLL (distinct, fold.py),
fixed-edge histograms (distribution, histogram.py) and Count-Min
(frequency, sketches.py).

Why a fourth sketch: the fixed-edge histogram needs its value range
known up front and its error is ABSOLUTE (one bucket width) — terrible
for long-tailed latencies where p50 is 2 s and p99.9 is 2 h. DDSketch's
log-spaced buckets (bucket i covers (γ^{i-1}, γ^i], γ = (1+α)/(1-α))
cover any positive range with a few hundred buckets and guarantee
|est − true| ≤ α·true at EVERY quantile — the summary you actually tier
latencies with. Counts are integers, so folding 1m→1h→1d is elementwise
addition: associative, commutative, bit-stable at any parallelism, and
the folded sketch IS the sketch of the unioned window (fold == direct,
cell-exact — the driver oracle's full-value check).

Store layout is sparse long form ``(key…, window_start, tier, store,
bkt, cnt)``: store ∈ {-1, 0, 1} (negative values are mirrored into
their own log buckets on |v|, exact zeros get a dedicated store — the
standard DDSketch extension), absent cells mean zero. At 10^12 turns
the shuffle carries at most groups × occupied-buckets rows (bounded by
ln(max/min)/ln γ ≈ 700 per store at α = 0.02 across double range),
never raw turns.

Cross-engine determinism: the bucket index ceil(ln|v|/ln γ) divides by
ln γ computed ONCE driver-side and inlined as a literal (both engines
divide by the same double); engine ln() implementations may differ in
the last ulp, so every build carries an IN-PLAN boundary-margin guard —
if any value's log-index lands strictly within ``boundary_margin`` of
an integer (where a 1-ulp log difference could flip the ceil), the job
fails loudly instead of silently producing an engine-dependent cell.
An exact hit (distance 0, e.g. v = 1 → ln 1 = 0.0 in every IEEE libm)
is allowed. The quantile estimate takes each bucket's midpoint from a
driver-computed LITERAL table rather than an engine-side pow (measured:
Spark and DuckDB pow disagree by 1 ulp on ~9% of integer exponents at
γ(0.02) — latently flaky under 6-dp rounding), so the estimate is
integer counts + shared literals through one fixed expression tree —
bit-exact cross-engine by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.fold import fold_tier
from cesium_spark.operators.rollup import tier_window


def gamma_of(alpha: float) -> float:
    if not (0.0 < alpha < 0.5):
        raise ValueError(f"alpha must be in (0, 0.5), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def _checked_bucket(value_col: str, alpha: float, boundary_margin: float):
    """(store, bkt) exprs with the in-plan boundary-margin guard."""
    g = gamma_of(alpha)
    lng = math.log(g)
    v = F.col(value_col)
    x = F.log(F.abs(v)) / F.lit(lng)
    dist = F.abs(x - F.round(x, 0))
    ok = (v == 0) | (dist == 0) | (dist >= F.lit(boundary_margin))
    guard = F.assert_true(
        ok, F.concat(F.lit(
            f"ddsketch: value within {boundary_margin} of a bucket "
            "boundary (engine-dependent ceil); value="),
            v.cast("string")))
    store = (F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1))
             .otherwise(F.lit(0)).cast("int"))
    bkt = (F.when(v == 0, F.lit(0))
           .otherwise(F.ceil(x))).cast("int")
    # assert_true yields NULL on success: fold it in so Catalyst cannot
    # prune the guard away as unused
    return store, F.when(guard.isNull(), bkt)


def ddsketch_build(series: DataFrame, tier: str, key_cols: list[str],
                   value_col: str, alpha: float = 0.02,
                   boundary_margin: float = 1e-9) -> DataFrame:
    """Per-(key, window) DDSketch cells: ``(*key_cols, window_start,
    tier, store, bkt, cnt)``. NULL values contribute no cell (filtered
    up front — same convention as the CMS/histogram tiers). ONE hash
    exchange: per-row bucket assignment is pure codegen, then one
    two-phase count whose partials collapse map-side."""
    window = tier_window("ts", tier)
    store, bkt = _checked_bucket(value_col, alpha, boundary_margin)
    return (series
            .where(F.col(value_col).isNotNull())
            .select(*key_cols, window.alias("window_start"),
                    store.alias("store"), bkt.alias("bkt"))
            .groupBy(*key_cols, "window_start", "store", "bkt")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("tier", F.lit(tier)))


def ddsketch_fold(fine: DataFrame, target_tier: str,
                  key_cols: list[str]) -> DataFrame:
    """Fold a finer tier up to ``target_tier`` by elementwise integer
    addition — the DDSketch merge (same α ⇒ same bucket boundaries, so
    cell-by-cell addition IS the sketch of the union; estimates after
    folding equal direct coarse-tier estimates, integer-exact). One
    shuffle of the small cell table, never raw turns."""
    return fold_tier(fine, target_tier,
                     [*key_cols, "window_start", "store", "bkt"],
                     F.sum("cnt").alias("cnt"))


def midpoint_literals(alpha: float, bkt_bound: int = 700) -> list[float]:
    """Bucket-midpoint table 2γ^k/(γ+1) for k ∈ [−bkt_bound, bkt_bound],
    computed ONCE driver-side. Engine pow() implementations differ in
    the last ulp (measured: Spark's Math.pow vs DuckDB's libm disagree
    on ~9% of integer exponents at γ(α=0.02)), which makes an
    engine-side pow latently flaky under the contract's 6-dp rounding —
    so both the Spark plan and any SQL oracle take the midpoint from
    THIS literal table (repr-roundtripped doubles are bit-identical on
    both sides; the trained-IVF-centroid-literal precedent)."""
    g = gamma_of(alpha)
    c = 2.0 / (g + 1.0)
    return [c * g ** k for k in range(-bkt_bound, bkt_bound + 1)]


def ddsketch_quantile(sketch: DataFrame, key_cols: list[str],
                      q: float | list[float], alpha: float,
                      out_col: str | list[str] = "q_est",
                      bkt_bound: int = 700) -> DataFrame:
    """Per (key…, window) quantile estimates from the cells, all qs in
    ONE pass (the histogram_quantile pick pattern: cumulative window +
    conditional aggregation — exactly one bucket row satisfies a given
    q's rank interval, so the max is a pick, not a reduction).

    Value order across stores: store ASC puts negatives < zero <
    positives; within the negative store larger |v| (larger bkt) is
    SMALLER, so the within-store order key is −bkt there and +bkt for
    positives. The estimate is the bucket midpoint 2γ^i/(γ+1) (sign
    from the store; exact 0.0 for the zero store), which the paper
    shows is within relative α of every value the bucket covers —
    read from the driver-computed literal table (see
    :func:`midpoint_literals`), with an in-plan range assert: a bucket
    outside ±bkt_bound (|v| beyond e^±28 at α = 0.02's default) fails
    loudly instead of silently estimating NULL.
    """
    qs = [q] if isinstance(q, (int, float)) else list(q)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(qs) != len(outs):
        raise ValueError(f"{len(qs)} quantiles but {len(outs)} out_cols")
    for qq in qs:
        if not (0.0 < qq < 1.0):
            raise ValueError(f"q must be in (0,1), got {qq}")
    mids = midpoint_literals(alpha, bkt_bound)
    ordk = F.when(F.col("store") == -1, -F.col("bkt")).otherwise(F.col("bkt"))
    part = (Window.partitionBy(*key_cols, "window_start")
            .orderBy("store", ordk))
    cum = F.sum("cnt").over(
        part.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = F.sum("cnt").over(
        part.rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    in_range = F.assert_true(
        (F.col("store") == 0)
        | (F.abs(F.col("bkt")) <= F.lit(bkt_bound)),
        F.concat(F.lit(f"ddsketch_quantile: bkt beyond ±{bkt_bound}; "
                       "raise bkt_bound; bkt="),
                 F.col("bkt").cast("string")))
    mid = F.get(F.array(*[F.lit(m) for m in mids]),
                F.col("bkt") + F.lit(bkt_bound))
    est = (F.when(F.col("store") == 0, F.lit(0.0))
           .otherwise(F.when(in_range.isNull(),
                             F.col("store").cast("double") * mid)))
    ranked = (sketch
              .withColumn("cum", cum)
              .withColumn("total", tot)
              .withColumn("_est", est))

    def _pick(qq: float):
        rank = F.lit(float(qq)) * F.col("total").cast("double")
        hit = ((F.col("cum").cast("double") >= rank)
               & ((F.col("cum") - F.col("cnt")).cast("double") < rank))
        return F.max(F.when(hit, F.col("_est")))

    return (ranked
            .groupBy(*key_cols, "window_start")
            .agg(F.max("total").alias("n"),
                 *[_pick(qq).alias(out) for qq, out in zip(qs, outs)]))
