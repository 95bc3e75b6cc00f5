"""Tier folding: continuous-aggregate maintenance up the one tier ladder
(``rollup.LADDER``: 1m → 1h → 1d, then the calendar tiers 1w and 1mo;
SURVEY.md §2.9 — TimescaleDB-style cagg fold; no reference counterpart).

:func:`fold_tier` is the single fold every mergeable tier family uses:
truncate the fine tier's ``window_start`` to the target tier, re-group
on the family's cell key, and merge with the family's aggregates — one
JVM-only shuffle of the small tier table, never of raw turns. The
families: moments (here), HLL distinct sketches (here), Count-Min and
Bloom cells (sketches.py), DDSketch cells (ddsketch.py) and fixed-edge
histograms (histogram.py). Any ladder tier above 1m is a fold target.

Folding reuses the fine tier's moments instead of rescanning raw turns:
count/min/max merge exactly; float sums (Σy, Σy², Σy³) merge
associatively but not bit-stably, so folded mean/std/skew are the FAST
path only — order-sensitive features (median, percentiles, Stetson,
Lomb–Scargle) are recomputed from the coarser tier's raw slice by the
kernel path (SURVEY.md §4.3). The sketch and histogram families are
integer (or bitwise) cells, so their folds equal direct builds exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import (
    LADDER,
    MOMENTS_SCHEMA_COLS,
    moments_merge_aggs,
    tier_window,
)

# every ladder tier above the finest is a fold target
FOLD_LADDER = list(LADDER)[1:]


def fold_tier(fine: DataFrame, target: str, keys: list[str],
              *merge_aggs: Column) -> DataFrame:
    """Fold a finer tier table up to ``target``: ``window_start`` is
    truncated to the target tier, rows re-group on ``keys`` (the
    family's full cell key, ``window_start`` included; its order is the
    output's column order) and merge with ``merge_aggs``; a ``tier``
    column names the target."""
    if target not in FOLD_LADDER:
        raise ValueError(f"can only fold to {FOLD_LADDER}")
    return (
        fine
        .withColumn("window_start", tier_window("window_start", target))
        .groupBy(*keys)
        .agg(*merge_aggs)
        .withColumn("tier", F.lit(target))
    )


def fold_moments(fine_moments: DataFrame, target_tier: str) -> DataFrame:
    """Merge a finer tier's moments table up to ``target_tier``.
    One JVM-only shuffle on the (smaller) moments table — at 10^12 turns
    this touches 1m-window counts (~10^9 rows), not raw turns.
    """
    return fold_tier(fine_moments, target_tier,
                     ["conv_id", "channel", "window_start"],
                     *moments_merge_aggs())


def rollup_distinct_sketches(df: DataFrame, tier: str, key_cols: list[str],
                             value_col: str,
                             lgk: int = 12) -> DataFrame:
    """Per-tier HLL sketches of approx-distinct(value_col) — the
    MERGEABLE form of distinct counting (Apache DataSketches HLL via
    native hll_sketch_agg): fixed ~(2^lgk) bytes per group regardless
    of group size, partial aggregation map-side, and higher tiers fold
    from lower by sketch UNION instead of rescanning raw (exact
    distinct is a full re-shuffle of raw values per tier — the thing
    that does NOT scale to 10^12 turns)."""
    return (
        df.withColumn("window_start", tier_window("ts", tier))
        .groupBy(*key_cols, "window_start")
        .agg(F.hll_sketch_agg(value_col, F.lit(lgk)).alias("sketch"),
             F.count(F.lit(1)).alias("n"))
        .withColumn("tier", F.lit(tier))
    )


def fold_distinct_sketches(fine: DataFrame, target_tier: str,
                           key_cols: list[str]) -> DataFrame:
    """Union a finer tier's HLL sketches up to ``target_tier`` —
    exactly the moments-fold plan shape (one shuffle of the SMALL
    sketch table, never of raw turns). The union of per-window HLL
    sketches is, by the sketch algebra, the sketch of the unioned
    windows, so estimates after folding equal estimates computed
    directly at the coarse tier (pytest + driver invariant)."""
    return fold_tier(
        fine, target_tier, [*key_cols, "window_start"],
        F.hll_union_agg("sketch").alias("sketch"), F.sum("n").alias("n"),
    ).withColumn("distinct_est", F.hll_sketch_estimate("sketch").cast("long"))


def merge_moments(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental continuous-aggregate refresh (TimescaleDB cagg
    invalidation semantics, SURVEY.md §2.9): merge a late-arriving
    batch's moments into an existing tier table WITHOUT rescanning the
    already-rolled-up raw turns.

    Both inputs are rollup_moments-shaped (same tier). Because every
    column is a semigroup (count/sum add, min/max lattice), the merge
    is union + one re-aggregation — and crucially the shuffle carries
    only (base ∪ delta) MOMENT rows, never raw turns: refreshing one
    late hour against a 10^12-turn table moves ~|touched windows| rows.
    Callers refresh incrementally as
    ``merge_moments(base, rollup_moments(late_rows, tier))``; the
    result is row-identical to rolling up (original ∪ late) raw turns
    from scratch (driver query ts_caggs_incremental pins this, with
    the float-sum caveat of fold_moments: Σy/Σy²/Σy³ merge
    associatively, so derived mean/std agree to rounding, while
    n/min/max agree exactly).

    At scale the delta is tiny: broadcast it? No — the merged result
    must land partitioned like ``base`` for the next refresh, so the
    right plan is the hash merge below with base's partitioning reused.
    When both inputs arrive as fresh rollups, Spark ELIDES the merge's
    own exchange outright (both union children are hash-partitioned on
    a subset of the merge keys — plan-asserted in pytest: 2 exchanges
    total, both on the INPUT rollups, zero on the merge).
    """
    cols = ["conv_id", "channel", "window_start", *MOMENTS_SCHEMA_COLS,
            "tier"]
    missing = [c for c in cols if c not in base.columns
               or c not in delta.columns]
    if missing:
        raise ValueError(f"not moments-shaped, missing: {missing}")
    return (
        base.select(*cols).unionByName(delta.select(*cols))
        .groupBy("conv_id", "channel", "window_start", "tier")
        .agg(*moments_merge_aggs())
        .select(*cols)
    )
