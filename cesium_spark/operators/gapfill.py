"""Gap-fill: snap raw turn series onto regular cadence grids
(SURVEY.md §2.9 — engine-side requirement from BASELINE.json
north_star: "raw turns are gap-filled onto regular cadence grids").

Pure DataFrame composition — no UDFs:

1. per (conv_id, channel): bucket raw points to the tier grid and take
   the **last** observation per bucket (deterministic: max turn_idx);
2. generate the dense grid with ``sequence(min_bucket, max_bucket,
   interval)`` + ``explode`` (per-group, so grid size is bounded by the
   conversation's own span — no cross-conv blowup);
3. left-join raw-on-grid (grid side is generated co-partitioned with
   the aggregation output, so the join is a local sort-merge after one
   shuffle);
4. fill policy per channel: ``null`` (leave holes), ``zero``,
   ``ffill`` (carry-forward = ``last(y, ignorenulls=True)`` over an
   unbounded-preceding row frame — the as-of-join-free formulation,
   SURVEY.md §2.11), or ``interp`` (linear interpolation between the
   nearest observed neighbors — the timescaledb ``interpolate()``
   twin: one backward + one forward window over the SAME sort order,
   so Catalyst plans a single exchange + single sort for both; edge
   buckets with no neighbor on one side stay NULL).

Catalyst view: one hash aggregate, one sequence/explode (narrow), one
join on (conv_id, channel, bucket), one window — three exchanges total,
all on keys that partition-prune at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import LADDER, tier_window

FILL_POLICIES = ("null", "zero", "ffill", "interp")


def gapfill(series: DataFrame, tier: str, policy: str = "ffill") -> DataFrame:
    """Returns grid(conv_id, channel, bucket timestamp, y double,
    filled boolean)."""
    bucket = tier_window("ts", tier)
    if policy not in FILL_POLICIES:
        raise ValueError(f"unknown policy {policy!r}")
    # one ladder step; calendar steps (1 week, 1 month) keep the grid on
    # date_trunc's ISO Mondays and month starts
    interval = f"interval 1 {LADDER[tier].unit}"

    # 1. last observation per bucket (max turn_idx wins — stable ordering)
    bucketed = (
        series
        .withColumn("bucket", bucket)
        .groupBy("conv_id", "channel", "bucket")
        .agg(F.max_by("y", "turn_idx").alias("y_obs"))
    )

    # 2. dense grid per (conv, channel)
    spans = (
        bucketed.groupBy("conv_id", "channel")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "conv_id", "channel",
            F.explode(F.expr(f"sequence(b0, b1, {interval})")).alias("bucket"),
        )
    )

    # 3. left join raw onto grid
    grid = spans.join(bucketed, ["conv_id", "channel", "bucket"], "left")

    # 4. fill
    if policy == "zero":
        filled = grid.withColumn("y", F.coalesce(F.col("y_obs"), F.lit(0.0)))
    elif policy == "ffill":
        w = (Window.partitionBy("conv_id", "channel").orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        filled = grid.withColumn("y", F.last("y_obs", ignorenulls=True).over(w))
    elif policy == "interp":
        wb = (Window.partitionBy("conv_id", "channel").orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wf = (Window.partitionBy("conv_id", "channel").orderBy("bucket")
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        obs_bucket = F.when(F.col("y_obs").isNotNull(), F.col("bucket"))
        prev_y = F.last("y_obs", ignorenulls=True).over(wb)
        prev_b = F.last(obs_bucket, ignorenulls=True).over(wb)
        next_y = F.first("y_obs", ignorenulls=True).over(wf)
        next_b = F.first(obs_bucket, ignorenulls=True).over(wf)
        # fraction in epoch seconds; guarded so an observed bucket
        # (prev==next==bucket) never reaches the 0/0 branch
        frac = ((F.col("bucket").cast("double") - prev_b.cast("double"))
                / (next_b.cast("double") - prev_b.cast("double")))
        filled = grid.withColumn(
            "y",
            F.when(F.col("y_obs").isNotNull(), F.col("y_obs"))
            .when(prev_y.isNotNull() & next_y.isNotNull(),
                  prev_y + (next_y - prev_y) * frac))
    else:
        filled = grid.withColumn("y", F.col("y_obs"))
    return (
        filled
        .withColumn("filled", F.col("y_obs").isNull())
        .select("conv_id", "channel", "bucket", "y", "filled")
    )
