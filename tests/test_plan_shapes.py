"""Plan-shape audit for the round-4 operators: the shuffle/broadcast
counts each docstring claims are asserted against the EXECUTED plan, so
a regression that sneaks an extra exchange (or a cartesian) into a
100 TB-path operator fails CI instead of surfacing as a 10× wall-clock
surprise on a cluster.

Counts pinned (and why they are the right shape at scale):
- asof_join: 1 hash exchange — the union trick sorts both sides ONCE on
  the shared (key, ts) spine; a range-join rewrite would be |L|×|R|.
- m4_downsample / counter_rate / rollup_quantiles: 1 hash exchange —
  groupBy/window share the same partitioning, partials map-side.
- hash_split / deterministic_sample: 0 exchanges — pure projections;
  this is the property that makes them stable under repartitioning.
- bm25_scores: 0 hash exchanges on the corpus; exactly one 1-row
  corpus-stats aggregate (SinglePartition) broadcast back.
- histogram fold path: 2 hash exchanges (rollup group-by + fold
  group-by), no join.
- exact rollup kernel: 1 hash exchange (the kernel repartition); the
  long form's ``stack`` adds none, and the flagship driver query stays
  at ≤3 (two from derive) — no pivot round trip.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest


def _shape(df) -> dict:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "hash": len(re.findall(r"Exchange hashpartitioning", p)),
        "range": len(re.findall(r"Exchange rangepartitioning", p)),
        "single": len(re.findall(r"Exchange SinglePartition", p)),
        "bcast": len(re.findall(r"BroadcastExchange", p)),
        "cartesian": "Cartesian" in p,
    }


@pytest.fixture(scope="module")
def series(spark):
    ts = pd.date_range("2024-01-01", periods=50, freq="min")
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * 50, "channel": ["v"] * 50,
        "turn_idx": range(50), "ts": ts,
        "t": [float(i) for i in range(50)],
        "y": [float(i % 7) for i in range(50)],
    }))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3], "text": ["a b c", "b c d", "c d e"]}))


def test_asof_join_one_exchange(spark):
    from cesium_spark.operators.asof import asof_join
    ts = pd.date_range("2024-01-01", periods=50, freq="min")
    left = spark.createDataFrame(pd.DataFrame(
        {"k": [1] * 50, "ts": ts, "lv": range(50)}))
    right = spark.createDataFrame(pd.DataFrame(
        {"k": [1] * 20, "ts": ts[:20], "rv": range(20)}))
    s = _shape(asof_join(left, right, on=["k"]))
    assert s == {"hash": 1, "range": 0, "single": 0, "bcast": 0,
                 "cartesian": False}


def test_m4_one_exchange(series):
    from cesium_spark.operators.downsample import m4_downsample
    s = _shape(m4_downsample(series, "1h"))
    assert s["hash"] == 1 and not s["cartesian"] and s["bcast"] == 0


def test_counter_rate_one_exchange(series):
    """lag window and bucket aggregate reuse one partitioning."""
    from cesium_spark.operators.rates import counter_rate
    s = _shape(counter_rate(series, "1h"))
    assert s["hash"] == 1 and not s["cartesian"]


def test_quantiles_one_exchange_both_paths(series):
    from cesium_spark.operators.rollup import rollup_quantiles
    for approx in (False, True):
        s = _shape(rollup_quantiles(series, "1d", qs=(0.5,), approx=approx))
        assert s["hash"] == 1 and not s["cartesian"], approx


def test_sampling_zero_exchange(docs):
    from cesium_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )
    for df in (hash_split(docs, {"train": 0.8, "val": 0.2},
                          key="doc_id", salt="s"),
               deterministic_sample(docs, 0.5, key="doc_id", salt="s")):
        s = _shape(df)
        assert s == {"hash": 0, "range": 0, "single": 0, "bcast": 0,
                     "cartesian": False}


def test_bm25_zero_corpus_shuffle(docs):
    from cesium_spark.operators.textstats import bm25_scores
    s = _shape(bm25_scores(docs, ("b", "c")))
    assert s == {"hash": 0, "range": 0, "single": 1, "bcast": 1,
                 "cartesian": False}


def test_histogram_fold_two_exchanges(series):
    from cesium_spark.operators.histogram import (
        fold_histogram,
        rollup_histogram,
    )
    h = rollup_histogram(series, "1h", ["conv_id"], "y", [1.0, 3.0, 6.0])
    s = _shape(fold_histogram(h, "1d", ["conv_id"]))
    assert s["hash"] == 2 and s["bcast"] == 0 and not s["cartesian"]


def test_upsert_latest_one_exchange_with_partial_combine(series):
    from pyspark.sql import functions as F
    from cesium_spark.operators.compaction import upsert_latest
    df = series.withColumn("version", F.lit(1))
    out = upsert_latest(df, ["conv_id", "turn_idx"], ["version", "t"])
    s = _shape(out)
    assert s["hash"] == 1 and not s["cartesian"]
    # the whole point vs row_number(): map-side combine, so the shuffle
    # carries <= 1 candidate per (key x map partition). (struct max_by
    # plans SortAggregate — sorts are on the combined stream, accepted.)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in p


def test_twa_one_exchange(series):
    from cesium_spark.operators.rates import time_weighted_avg
    s = _shape(time_weighted_avg(series, "1h"))
    # window partitions by the FULL group key, so the aggregation
    # reuses the partitioning — the exchange is elided
    assert s["hash"] == 1 and not s["cartesian"]


def test_sax_one_exchange(series):
    from cesium_spark.operators.downsample import sax_symbolize
    s = _shape(sax_symbolize(series, 8, [2.0, 4.0], "abc"))
    # rank window on (conv, channel); both downstream group-bys key on
    # supersets, so their clustering is satisfied without re-shuffling
    assert s["hash"] == 1 and not s["cartesian"]


def test_ewma_one_exchange(series):
    from cesium_spark.operators.smoothing import ewma
    s = _shape(ewma(series, 0.25))
    assert s["hash"] == 1 and not s["cartesian"]


def test_merge_moments_two_exchanges(series):
    from cesium_spark.operators.fold import merge_moments
    from cesium_spark.operators.rollup import rollup_moments
    from pyspark.sql import functions as F
    late = F.col("turn_idx") % 10 == 7
    out = merge_moments(rollup_moments(series.where(~late), "1h"),
                        rollup_moments(series.where(late), "1h"))
    s = _shape(out)
    # only the two input rollups shuffle: both union children arrive
    # hash-partitioned on (conv, channel, window_start) — a subset of
    # the merge keys — so the merge re-aggregation's exchange is ELIDED
    # and no MOMENT row moves again, let alone raw turns
    assert s["hash"] == 2 and not s["cartesian"]


def test_acf_one_exchange(series):
    from cesium_spark.operators.seriesstats import acf
    s = _shape(acf(series, 5))
    assert s["hash"] == 1 and not s["cartesian"]


def test_seasonal_zscore_one_exchange(series):
    from cesium_spark.operators.seriesstats import seasonal_zscore
    s = _shape(seasonal_zscore(series, season="day_of_week"))
    assert s["hash"] == 1 and not s["cartesian"]


def test_rolling_window_one_exchange(series):
    from cesium_spark.operators.intervals import rolling_window
    s = _shape(rolling_window(series, 600.0))
    assert s["hash"] == 1 and not s["cartesian"] and s["bcast"] == 0


def test_interval_join_broadcast_no_point_shuffle(spark):
    """The containment join's scale claim: the point side NEVER
    shuffles — exploded intervals broadcast, the bucket equi-join is
    a BroadcastHashJoin, and there is no nested-loop/cartesian (the
    plan a naive BETWEEN join would produce)."""
    import pandas as pd
    from cesium_spark.operators.intervals import interval_join
    ts = pd.date_range("2024-01-01", periods=100, freq="min")
    pts = spark.createDataFrame(pd.DataFrame({"pid": range(100), "ts": ts}))
    iv = spark.createDataFrame(pd.DataFrame(
        {"iid": [1, 2], "lo": ts[:2], "hi": ts[10:12]}))
    s = _shape(interval_join(pts, iv, bucket_s=600))
    assert s["hash"] == 0 and s["bcast"] == 1 and not s["cartesian"]
    p = interval_join(pts, iv, bucket_s=600)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoop" not in p


def test_heartbeat_one_exchange(series):
    from cesium_spark.operators.intervals import heartbeat_uptime
    s = _shape(heartbeat_uptime(series, "1d", 120.0))
    # lead window and bucket group-by reuse one (conv, channel)
    # partitioning; aggregation partials are map-side
    assert s["hash"] == 1 and not s["cartesian"]


def test_cusum_one_exchange(series):
    from cesium_spark.operators.intervals import cusum_changepoints
    s = _shape(cusum_changepoints(series, k=0.1, h=0.5))
    # mean/std unbounded frame + two stacked running frames all share
    # the (conv, channel) sort — one exchange for the whole detector
    assert s["hash"] == 1 and not s["cartesian"]


def test_stratified_sample_zero_exchange(docs, spark):
    from pyspark.sql import functions as F
    from cesium_spark.operators.sampling import stratified_sample
    d = docs.withColumn("lang", F.lit("en"))
    s = _shape(stratified_sample(d, "lang", {"en": 0.5}))
    assert s == {"hash": 0, "range": 0, "single": 0, "bcast": 0,
                 "cartesian": False}


def test_state_agg_one_exchange(series):
    from cesium_spark.operators.intervals import state_agg
    s = _shape(state_agg(series.withColumnRenamed("channel", "role"),
                         "role", "1d"))
    # lead window partitions on conv_id; the (conv, bucket, state)
    # group-by clusters on a SUPERSET, so the window's partitioning
    # satisfies it — one exchange, partials map-side
    assert s["hash"] == 1 and not s["cartesian"] and s["bcast"] == 0


def test_channel_corr_two_shrinking_exchanges(series):
    from pyspark.sql import functions as F
    from cesium_spark.operators.seriesstats import channel_corr
    two = series.union(series.withColumn("channel", F.lit("w")))
    s = _shape(channel_corr(two, "v", "w"))
    # alignment agg on (conv, turn) then corr agg on conv — conditional
    # aggregation, ONE scan, no self-join (a join alignment would scan
    # and shuffle the channel table twice)
    assert s["hash"] == 2 and s["bcast"] == 0 and not s["cartesian"]
    p = channel_corr(two, "v", "w")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in p


def test_contamination_zero_corpus_shuffle(docs):
    from cesium_spark.operators.dedup import contamination
    s = _shape(contamination(docs, docs.where("doc_id = 1"), n=2))
    # the only exchanges belong to the eval side (small by definition):
    # Catalyst elides the pre-distinct into collect_set, leaving one
    # SinglePartition exchange; the corpus side is a projection joined
    # to a broadcast single row (BNLJ over ONE build row = a map)
    assert s["hash"] == 0 and s["single"] == 1 and s["bcast"] == 1
    assert not s["cartesian"]


def test_repetition_exchanges_all_on_id(docs):
    from cesium_spark.operators.textstats import repetition_stats
    s = _shape(repetition_stats(docs))
    # exactly four hash exchanges: two unit-count aggs on (id, unit)
    # and two per-doc reductions on id; the final joins broadcast the
    # per-doc summaries (one row per doc — the SHRUNK side, never the
    # corpus' exploded units), no cartesian, no sort-merge
    assert s["hash"] == 4 and s["bcast"] == 2 and not s["cartesian"]


def test_hampel_holt_dtw_one_exchange(series):
    from cesium_spark.operators.dtw import dtw_to_template
    from cesium_spark.operators.smoothing import hampel, holt_linear
    for df in (hampel(series, k=2),
               holt_linear(series, 0.5, 0.25),
               dtw_to_template(series, [1.0, 2.0, 3.0])):
        s = _shape(df)
        # sequential-per-series kernels: one exchange into
        # applyInPandas, parallelism across series, no join/broadcast
        assert s["hash"] == 1 and s["bcast"] == 0 and not s["cartesian"]


def test_decompose_one_exchange(series):
    from cesium_spark.operators.seriesstats import classical_decompose
    s = _shape(classical_decompose(series, 5))
    # centered-MA, slot-mean, slot-dedup and centering windows all
    # partition on supersets of (conv_id, channel) — one exchange for
    # the whole decomposition
    assert s["hash"] == 1 and s["bcast"] == 0 and not s["cartesian"]


def test_random_projection_zero_exchange(spark):
    import pandas as pd
    from cesium_spark.operators.similarity import random_projection
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": [1, 2], "embedding": [[1.0] * 8, [2.0] * 8]}))
    s = _shape(random_projection(df, 8, 4))
    # a pure codegen projection: the dim-reduction pre-step must not
    # cost a shuffle or a broadcast at 10^9 vectors
    assert s == {"hash": 0, "range": 0, "single": 0, "bcast": 0,
                 "cartesian": False}


def test_rolling_quantile_one_exchange(series):
    from cesium_spark.operators.intervals import rolling_quantile
    s = _shape(rolling_quantile(series, 0.95, 10))
    assert s["hash"] == 1 and s["bcast"] == 0 and not s["cartesian"]


def test_gauge_delta_one_exchange(series):
    from cesium_spark.operators.rates import gauge_delta
    s = _shape(gauge_delta(series, "1h"))
    assert s["hash"] == 1 and not s["cartesian"]


def test_channel_xcorr_exchanges(series):
    from pyspark.sql import functions as F
    from cesium_spark.operators.seriesstats import channel_xcorr
    two = series.union(series.withColumn("channel", F.lit("w")))
    s = _shape(channel_xcorr(two, "v", "w", 2))
    # alignment (conv, turn) -> shift window (conv) -> final agg reuses
    # the window's partitioning: three shrinking exchanges, no join
    assert s["hash"] <= 3 and s["bcast"] == 0 and not s["cartesian"]


def test_score_linear_pure_projection(docs, spark):
    import pandas as pd
    from cesium_spark.operators.scoring import score_linear
    df = spark.createDataFrame(pd.DataFrame(
        {"f0": [1.0, 2.0], "f1": [0.5, 0.1]}))
    s = _shape(score_linear(df, {"f0": 1.0, "f1": -1.0}))
    assert s == {"hash": 0, "range": 0, "single": 0, "bcast": 0,
                 "cartesian": False}


def test_heaps_fit_no_corpus_global_window(spark):
    """r5 (ADVICE medium): heaps_fit's doc rank + token cumsum must run
    as the two-phase per-partition scheme — every corpus-sized window
    (row_number / running token sum) is partitioned by __pid; the only
    global ordered window folds per-PARTITION totals (bounded rows)."""
    from cesium_spark.operators.textstats import heaps_fit
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(1, 9),
        "text": ["a b c", "b c d", "c d e", "x y",
                 "p q r s", "a a", "m n", "z"]}))
    out = heaps_fit(docs)
    p = out._jdf.queryExecution().executedPlan().toString()
    for line in p.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "__pid" in line, f"corpus window not partitioned: {line}"
    # the bounded offset fold is the only global ordered window
    glob = [ln for ln in p.splitlines()
            if "windowspecdefinition(__pid#" in ln
            and "ASC NULLS FIRST, specifiedwindowframe" in ln
            and "row_number" not in ln]
    assert glob, "expected the bounded per-partition offset fold window"
    assert _shape(out)["cartesian"] is False


@pytest.fixture(scope="module")
def int_series(spark):
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * 40, "turn_idx": range(40),
        "t": [float(i) for i in range(40)],
        "y": [(i * 7) % 13 for i in range(40)]}))


def test_r5_randomness_family_one_exchange(int_series):
    """r5 ops, the six exact-ACF operators (``exact.acf_sums``) and the
    conv-keyed mid-rank operators (``exact.midrank2``) each claim ONE
    hash exchange (window + agg share the conv_id partitioning) —
    pinned against the executed plan."""
    from pyspark.sql import functions as F

    from cesium_spark.operators.seriesstats import (
        dominant_lag, ess_acf, hac_mean_se, kruskal_wallis, ljung_box,
        pacf3, page_hinkley, pettitt, snht, spectral_entropy,
        turning_points, von_neumann)
    plans = {op.__name__: op(int_series) for op in (
        von_neumann, snht, turning_points, pacf3, hac_mean_se,
        dominant_lag, ljung_box, spectral_entropy, ess_acf, pettitt)}
    plans["page_hinkley"] = page_hinkley(int_series, delta=0.25, lam=5.0)
    plans["kruskal_wallis"] = kruskal_wallis(
        int_series.withColumn("g", F.col("turn_idx") % 3), "g")
    for name, df in plans.items():
        s = _shape(df)
        assert s["hash"] == 1 and not s["cartesian"], name


def test_theta_one_exchange(spark):
    from cesium_spark.operators.smoothing import theta_forecast
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * 30, "channel": ["v"] * 30,
        "turn_idx": range(30), "t": [float(i) for i in range(30)],
        "y": [(i * 3) % 11 for i in range(30)]}))
    s = _shape(theta_forecast(df, h=2))
    assert s["hash"] == 1 and not s["cartesian"]


def test_rollup_kernel_one_exchange(series):
    """rollup_wide and its long-form delegations plan ONE hash exchange:
    the unpivot is a per-row ``stack``."""
    from pyspark.sql import functions as F

    from cesium_spark.operators.rollup import rollup_features, rollup_wide
    s = series.withColumn("e", F.lit(1e-4))
    for df in (rollup_wide(s, ["1h"], ["mean", "std"]),
               rollup_features(s, "1h", ["mean", "std"]),
               rollup_features(s, "conv", ["mean", "std"])):
        shape = _shape(df)
        assert shape["hash"] == 1 and shape["bcast"] == 0
        assert not shape["cartesian"]


def test_flagship_rollup_query_at_most_three_exchanges(spark):
    """The driver entry (``ts_rollup_1h_kernel`` at sf0.001): derive's
    two exchanges + the kernel's one — the pivot back from long form
    must not creep back into the flagship query."""
    import __spark_entry__ as entrymod
    assert _shape(entrymod.entry(spark))["hash"] <= 3
