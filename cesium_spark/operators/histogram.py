"""Histogram retention tiers — fixed-edge bucket counts per
(key, window), the EXACTLY-mergeable distribution summary
(Prometheus classic-histogram / TimescaleDB ``histogram()`` twin; no
reference counterpart — engine-side §2.9 family, SURVEY.md).

Why this exists at 10^12 turns: the quantile tiers
(``rollup.rollup_quantiles``) offer either the exact sorted path
(order-sensitive, never foldable) or the GK sketch (mergeable, rank
error that is hard to reason about after unions). A fixed-edge
histogram is the third point in that design space:

- integer counts → folding 1m→1h→1d is elementwise ``sum(cnt)``:
  associative, commutative, and BIT-STABLE at any parallelism (the one
  float-free aggregate in the tier family);
- constant O(n_edges) state per group, map-side partial aggregation
  (plain ``groupBy().agg(count)`` — whole-stage codegen end to end, no
  UDF anywhere);
- the fold shuffles only the small histogram table (groups × occupied
  buckets), never raw turns — same plan shape as ``fold.fold_moments``;
- quantile estimates (``histogram_quantile``) carry a documented,
  bounded bucket-resolution error instead of a sketch's probabilistic
  one, and the estimate arithmetic is deterministic (int counts +
  edge literals through one fixed expression tree), so it is
  full-value SQL-restatable — unlike percentile_approx.

Representation is LONG FORM ``(key…, window_start, bucket, cnt)`` with
absent buckets meaning zero (sparse): at 10^12 turns the dense-array
alternative materializes n_edges+1 longs for every group even when a
1-minute window holds two points, and array-typed aggregation buckets
defeat map-side partials. Bucket semantics follow Prometheus ``le``
boundaries: bucket i (0-based) counts values v with
``edges[i-1] < v <= edges[i]``; bucket n_edges is the +Inf overflow
(v > edges[-1]); NULL values are not counted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cesium_spark.operators.fold import fold_tier
from cesium_spark.operators.rollup import tier_window


def _check_edges(edges: list[float]) -> None:
    if len(edges) < 1:
        raise ValueError("need at least one bucket edge")
    if any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError(f"edges must be strictly increasing: {edges}")


def bucket_expr(value_col: str, edges: list[float]) -> Column:
    """0-based bucket index of ``value_col`` under ``le`` semantics —
    a CASE chain, evaluated inside whole-stage codegen (edges lists are
    small by design; a 64-arm chain is still branch-per-row JVM code,
    not a UDF). NULL values map to NULL (dropped by the count)."""
    _check_edges(edges)
    v = F.col(value_col)
    expr = F.lit(len(edges))  # overflow bucket
    for i in range(len(edges) - 1, -1, -1):
        expr = F.when(v <= F.lit(float(edges[i])), F.lit(i)).otherwise(expr)
    return F.when(v.isNotNull(), expr)


def rollup_histogram(series: DataFrame, tier: str, key_cols: list[str],
                     value_col: str, edges: list[float]) -> DataFrame:
    """Per-tier sparse histogram: one native two-phase count aggregate
    over (key…, window_start, bucket). One hash exchange; partial
    counts combine map-side, so the shuffle carries at most
    groups × (n_edges+1) rows regardless of raw row count."""
    return (
        series
        .withColumn("window_start", tier_window("ts", tier))
        .withColumn("bucket", bucket_expr(value_col, edges))
        .where(F.col("bucket").isNotNull())
        .groupBy(*key_cols, "window_start", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("tier", F.lit(tier))
    )


def fold_histogram(fine: DataFrame, target_tier: str,
                   key_cols: list[str]) -> DataFrame:
    """Fold a finer tier's histogram up to ``target_tier`` by integer
    addition — EXACT (bit-stable, any parallelism): folded counts equal
    the counts computed directly at the coarse tier, which is the
    driver oracle's full-value check. Shuffles the histogram table
    only, never raw turns."""
    return fold_tier(fine, target_tier, [*key_cols, "window_start", "bucket"],
                     F.sum("cnt").alias("cnt"))


def histogram_quantile(hist: DataFrame, key_cols: list[str],
                       q: float | list[float], edges: list[float],
                       out_col: str | list[str] = "q_est") -> DataFrame:
    """Prometheus ``histogram_quantile`` twin: per (key…, window),
    estimate each q-quantile by linear interpolation inside the first
    bucket whose cumulative count reaches q·total.

    ALL requested quantiles come out of ONE pass — one window sort for
    the cumulative counts, then a conditional aggregation picks each
    q's hit bucket (``max(when(hit_q, est_q))``; exactly one bucket
    row satisfies a given q's rank window, so the max is a pick, not a
    reduction). No per-quantile re-scan, no self-join: the plan is one
    exchange for the window + one for the group-by, independent of
    len(qs).

    Deterministic by construction — inputs are integer counts and edge
    literals flowing through ONE fixed expression tree (no float
    aggregation anywhere: the only sums are over longs), so the same
    expression restated in ANSI SQL reproduces the double bit-for-bit.
    Error bound: the true quantile lies within the chosen bucket, so
    |est − true| ≤ bucket width (pytest-pinned on planted data).
    Edge conventions (Prometheus-compatible): q in the underflow bucket
    (v ≤ edges[0]) returns edges[0]; q in the +Inf overflow bucket
    returns edges[-1] (the largest finite boundary).
    """
    _check_edges(edges)
    qs = [q] if isinstance(q, (int, float)) else list(q)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(qs) != len(outs):
        raise ValueError(f"{len(qs)} quantiles but {len(outs)} out_cols")
    for qq in qs:
        if not (0.0 < qq < 1.0):
            raise ValueError(f"q must be in (0,1), got {qq}")
    n_edge = len(edges)
    lo = F.get(F.array(*[F.lit(float("-inf"))]
                       + [F.lit(float(e)) for e in edges]), F.col("bucket"))
    hi = F.when(F.col("bucket") >= n_edge, F.lit(float(edges[-1]))) \
          .otherwise(F.get(F.array(*[F.lit(float(e)) for e in edges]
                                   + [F.lit(float(edges[-1]))]),
                           F.col("bucket")))
    from pyspark.sql import Window
    part = Window.partitionBy(*key_cols, "window_start").orderBy("bucket")
    cum = F.sum("cnt").over(
        part.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = F.sum("cnt").over(
        part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    ranked = (hist
              .withColumn("cum", cum)
              .withColumn("total", tot)
              .withColumn("_lo", lo).withColumn("_hi", hi))

    def _est(qq: float) -> Column:
        rank = F.lit(float(qq)) * F.col("total").cast("double")
        hit = ((F.col("cum").cast("double") >= rank)
               & ((F.col("cum") - F.col("cnt")).cast("double") < rank))
        interp = (
            F.when(F.col("bucket") == 0, F.lit(float(edges[0])))
            .when(F.col("bucket") >= n_edge, F.lit(float(edges[-1])))
            .otherwise(
                F.col("_lo")
                + (F.col("_hi") - F.col("_lo"))
                * (rank - (F.col("cum") - F.col("cnt")).cast("double"))
                / F.col("cnt").cast("double"))
        )
        return F.max(F.when(hit, interp))

    return (ranked
            .groupBy(*key_cols, "window_start")
            .agg(F.max("total").alias("n"),
                 *[_est(qq).alias(out) for qq, out in zip(qs, outs)]))
