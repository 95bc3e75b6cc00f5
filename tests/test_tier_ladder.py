"""The tier ladder (rollup.LADDER) end to end: every operator that takes
a tier either runs at the calendar tiers or raises ValueError naming
the tier, and every mergeable family folds from 1h up the ladder to
exactly what a direct build at the target tier gives."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.operators.ddsketch import ddsketch_build, ddsketch_fold
from cesium_spark.operators.downsample import m4_downsample
from cesium_spark.operators.fold import (
    fold_distinct_sketches,
    fold_moments,
    rollup_distinct_sketches,
)
from cesium_spark.operators.gapfill import gapfill
from cesium_spark.operators.histogram import fold_histogram, rollup_histogram
from cesium_spark.operators.intervals import (
    heartbeat_uptime,
    peak_concurrency,
    state_agg,
)
from cesium_spark.operators.rates import (
    counter_rate,
    gauge_delta,
    time_weighted_avg,
)
from cesium_spark.operators.rollup import (
    rollup_features,
    rollup_moments,
    rollup_quantiles,
    rollup_wide,
    tier_window,
)
from cesium_spark.operators.sketches import (
    bloom_build,
    bloom_fold,
    cms_build,
    cms_fold,
)
from cesium_spark.operators.textstats import vocab_novelty
from cesium_spark.streaming.stateful import stateful_counter_rate
from cesium_spark.streaming.window_delta import (
    stream_bloom_cells,
    stream_ddsketch_cells,
    stream_enriched_counts,
    stream_rollup_moments,
)

CALENDAR = ["1w", "1mo"]
EDGES = [30.0, 40.0, 50.0, 60.0, 70.0]


@pytest.fixture(scope="module")
def ladder_series(spark):
    """Three conversations over 2024-01-20 .. 2024-03-20: windows cross
    ISO-week and month boundaries (the week of Jan 29 spans two months)."""
    rng = np.random.default_rng(11)
    n = 1200
    ts = pd.Timestamp("2024-01-20") + pd.to_timedelta(
        np.sort(rng.integers(0, 86400 * 60, n)), unit="s")
    y = rng.normal(50, 10, n)
    y[17] = np.nan  # one NULL value: every build drops or counts it alike
    pdf = pd.DataFrame({
        "conv_id": [f"c{i % 3}" for i in range(n)],
        "channel": "value", "turn_idx": np.arange(n), "ts": ts,
        "t": ts.astype("int64") / 1e9, "y": y,
        "role": [("user", "assistant")[i % 2] for i in range(n)],
        "item": [f"w{v}" for v in rng.integers(0, 60, n)]})
    df = spark.createDataFrame(pdf).withColumn(
        "y", F.when(~F.isnan("y"), F.col("y")))
    return df.cache()


def _dims(spark):
    return spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c0", "c1", "c2"], "team": ["a", "b", "a"]}))


OPERATORS = {
    "gapfill": lambda s, t: gapfill(s, t),
    "m4_downsample": lambda s, t: m4_downsample(s, t),
    "counter_rate": lambda s, t: counter_rate(s, t),
    "counter_rate_grid": lambda s, t: counter_rate(s, t, grid=100),
    "time_weighted_avg": lambda s, t: time_weighted_avg(s, t),
    "gauge_delta": lambda s, t: gauge_delta(s, t),
    "heartbeat_uptime": lambda s, t: heartbeat_uptime(s, t, 600.0),
    "state_agg": lambda s, t: state_agg(s, "role", t),
    "peak_concurrency": lambda s, t: peak_concurrency(s, t),
    "rollup_histogram": lambda s, t: rollup_histogram(
        s, t, ["conv_id"], "y", EDGES),
    "cms_build": lambda s, t: cms_build(s, t, ["conv_id"], "item"),
    "bloom_build": lambda s, t: bloom_build(s, t, ["conv_id"], "item"),
    "rollup_distinct_sketches": lambda s, t: rollup_distinct_sketches(
        s, t, ["conv_id"], "item"),
    "ddsketch_build": lambda s, t: ddsketch_build(s, t, ["conv_id"], "y"),
    "rollup_quantiles": lambda s, t: rollup_quantiles(s, t),
    "rollup_moments": lambda s, t: rollup_moments(s, t),
    "rollup_features": lambda s, t: rollup_features(s, t, ["mean"]),
    "rollup_wide": lambda s, t: rollup_wide(s, [t], ["mean"]),
    "stream_rollup_moments": lambda s, t: stream_rollup_moments(s, t),
    "stream_ddsketch_cells": lambda s, t: stream_ddsketch_cells(s, t),
    "stream_bloom_cells": lambda s, t: stream_bloom_cells(s, t),
    "stream_enriched_counts": lambda s, t: stream_enriched_counts(
        s, _dims(s.sparkSession), "conv_id", "team", t),
    "stateful_counter_rate": lambda s, t: stateful_counter_rate(s, t),
    "vocab_novelty": lambda s, t: vocab_novelty(s, text_col="item", tier=t),
}


@pytest.mark.parametrize("tier", CALENDAR)
@pytest.mark.parametrize("op", list(OPERATORS))
def test_calendar_tier_runs_or_names_tier(ladder_series, op, tier):
    """Streaming twins take batch frames here: a watermark is a no-op on
    a batch frame, and the tier check runs before any stream starts."""
    try:
        out = OPERATORS[op](ladder_series, tier)
    except ValueError as exc:
        assert repr(tier) in str(exc), exc
        return
    assert out.count() > 0


@pytest.mark.parametrize("tier,step", [("1w", pd.Timedelta(days=7)),
                                       ("1mo", pd.DateOffset(months=1))])
def test_gapfill_calendar_grid_steps_one_tier(ladder_series, tier, step):
    grid = (gapfill(ladder_series.where("conv_id = 'c0'"), tier)
            .toPandas().sort_values("bucket"))
    b = pd.to_datetime(grid["bucket"]).reset_index(drop=True)
    assert len(b) >= 2
    assert all(b[i] + step == b[i + 1] for i in range(len(b) - 1))
    first = (ladder_series.where("conv_id = 'c0'")
             .select(tier_window(F.min("ts"), tier).alias("b")).first().b)
    assert b[0] == pd.Timestamp(first)


# family -> (build at a tier, fold to a target tier)
FAMILIES = {
    "histogram": (
        lambda s, t: rollup_histogram(s, t, ["conv_id"], "y", EDGES),
        lambda f, t: fold_histogram(f, t, ["conv_id"])),
    "cms": (
        lambda s, t: cms_build(s, t, ["conv_id"], "item", width=64, depth=3),
        lambda f, t: cms_fold(f, t, ["conv_id"])),
    "bloom": (
        lambda s, t: bloom_build(s, t, ["conv_id"], "item", words=4, k=3),
        lambda f, t: bloom_fold(f, t, ["conv_id"])),
    "ddsketch": (
        lambda s, t: ddsketch_build(s, t, ["conv_id"], "y"),
        lambda f, t: ddsketch_fold(f, t, ["conv_id"])),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("target", ["1d", "1w", "1mo"])
@pytest.mark.parametrize("family",
                         ["moments", "hll", "histogram", "cms", "bloom",
                          "ddsketch"])
def test_fold_from_1h_equals_direct_build(ladder_series, family, target):
    s = ladder_series
    if family == "moments":
        folded = fold_moments(rollup_moments(s, "1h"), target)
        direct = rollup_moments(s, target)
        assert folded.columns == direct.columns
        key = ["conv_id", "channel", "window_start"]
        got = folded.toPandas().set_index(key).sort_index()
        want = direct.toPandas().set_index(key).sort_index()
        assert got.index.equals(want.index)
        for c in ["n", "y_min", "y_max", "t_min", "t_max", "tier"]:
            assert got[c].tolist() == want[c].tolist(), c
        for c in ["y_sum", "y_sum2", "y_sum3"]:
            assert got[c].to_numpy() == pytest.approx(want[c].to_numpy(),
                                                      rel=1e-12), c
        return
    if family == "hll":
        folded = fold_distinct_sketches(
            rollup_distinct_sketches(s, "1h", ["conv_id"], "item"),
            target, ["conv_id"])
        direct = rollup_distinct_sketches(s, target, ["conv_id"], "item")
        est = F.hll_sketch_estimate("sketch").cast("long")
        assert (_rows(folded.select("conv_id", "window_start", "n",
                                    "distinct_est", "tier"))
                == _rows(direct.select("conv_id", "window_start", "n",
                                       est.alias("distinct_est"), "tier")))
        return
    build, fold = FAMILIES[family]
    folded = fold(build(s, "1h"), target)
    direct = build(s, target)
    assert folded.columns == direct.columns
    assert _rows(folded) == _rows(direct)


def test_vocab_novelty_buckets_on_the_ladder(spark):
    """Two days of text: ``"1d"`` gives one midnight bucket per day
    (what the date_trunc unit ``"day"`` gave before), and a name off the
    ladder raises instead of bucketing everything into NULL."""
    df = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(["2024-03-01 09:00", "2024-03-01 17:30",
                              "2024-03-02 08:15"]),
        "text": ["a b", "b c", "c d e"]}))
    got = [tuple(r) for r in vocab_novelty(df, tier="1d")
           .orderBy("bucket").collect()]
    day = [r.d for r in df.select(F.date_trunc("day", "ts").alias("d"))
           .distinct().orderBy("d").collect()]
    assert got == [(day[0], 3, 3, 1.0, 3), (day[1], 3, 2, 2 / 3, 5)]
    assert day[1] - day[0] == pd.Timedelta(days=1)
    assert (vocab_novelty(df).collect()
            == vocab_novelty(df, tier="1d").collect())
    for bad in ("day", "2d"):
        with pytest.raises(ValueError, match="unknown tier"):
            vocab_novelty(df, tier=bad)
