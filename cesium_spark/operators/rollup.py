"""Tiered rollup — the distributed re-expression of
``cesium/featurize.py::featurize_time_series`` † (SURVEY.md §2.3, §3.4).

Two execution paths, by design (SURVEY.md §4.3):

**Exact kernel** (:func:`rollup_wide`; the correctness-bearing path):
one hash exchange on (conv_id, channel[, date block]) → a per-partition
sort on (keys, turn_idx) → ``mapInPandas`` streaming kernel over sorted
Arrow batches → length-bucketed numpy feature kernels
(``cesium_spark.functions.batched``, scalar fallback in
``functions.registry``). Every 1m/1h/1d tier requested is served from
that one shuffle: inside the kernel a stable ``lexsort`` on
(group, window) cuts each tier's windows, so every window is one
deterministic single-threaded numpy reduction over turn_idx-sorted rows
— bit-for-bit identical at any Spark parallelism or partitioning, and
whatever order ``ts`` runs in. This is what the "rolled-up points match
the reference bit-for-bit" bar requires: native float aggregation is
partition-order dependent and can never satisfy it. The kernel emits
one row per window with one double column per feature; the long
(feature, value) form of :func:`rollup_features` /
:func:`rollup_features_multi` is :func:`unpivot_long` on top (a
``stack``, no exchange).

**Native moments path** (throughput/fold path): pure JVM two-phase
aggregation of exactly-mergeable statistics (count, min, max, Σy, Σy²,
Σy³, t extremes). Used for tier folding (1m→1h→1d→1w/1mo,
operators/fold.py) and metrics; mean/std/skew derived from moments are
flagged inexact. The calendar tiers (1w/1mo) live only here.

Scale: a windowed-tier group is (conversation, channel,
GROUP_SPAN_DAYS date block), so kernel memory is bounded by a few days
of one conversation; map-side partials do not apply to opaque kernels,
which is precisely why the algebraic subset also has the native path.
Whole-conversation ('conv' tier) Lomb–Scargle on Zipf-tailed lengths is
the known hot spot (SURVEY.md §4.4) — the nhist/qso kernels self-cap
(documented) and the LS scan is Press–Rybicki O(n log n) with a
deterministic thinning cap above FAST_MAX_N points.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cesium_spark.arrow_stream import stream_groups
from cesium_spark.functions.batched import compute_features_matrix
from cesium_spark.functions.registry import (
    DEFAULT_FEATS,
    _KEY_COLS,
    custom_snapshot,
    validate,
)


class Tier(NamedTuple):
    unit: str              # date_trunc unit
    span_s: float | None   # fixed span in seconds; None = calendar tier


# The tier ladder: the one table of retention tiers. Every per-tier
# value (numpy truncation, gap-fill step, rate divisor, streaming window,
# pandas floor) derives from a row. 'conv' (whole-conversation series) is
# not a ladder tier.
LADDER = {"1m": Tier("minute", 60.0), "1h": Tier("hour", 3600.0),
          "1d": Tier("day", 86400.0),
          # calendar tiers: fold targets for long-horizon retention —
          # irregular spans (weeks cross months, months vary 28-31 d),
          # which is exactly what date_trunc handles; both Spark and
          # DuckDB truncate weeks to ISO Monday
          "1w": Tier("week", None), "1mo": Tier("month", None)}

FIXED_TIERS = [tier for tier, row in LADDER.items() if row.span_s is not None]

# windowed-tier group key = (conv, channel, floor(days/SPAN)): bounds a
# whale conversation's group at SPAN days while amortizing per-group
# Arrow/pandas fixed cost over ~SPAN days of windows (see rollup_wide)
GROUP_SPAN_DAYS = 4

# moments column, the aggregate that builds it from raw rows, that
# aggregate's input expression, and the aggregate that merges moments
# rows: the one definition rollup_moments, fold_moments, merge_moments
# and stream_rollup_moments share
_MOMENTS = (("n", F.count, "y", F.sum),
            ("y_min", F.min, "y", F.min),
            ("y_max", F.max, "y", F.max),
            ("y_sum", F.sum, "y", F.sum),
            ("y_sum2", F.sum, "y * y", F.sum),
            ("y_sum3", F.sum, "y * y * y", F.sum),
            ("t_min", F.min, "t", F.min),
            ("t_max", F.max, "t", F.max))

MOMENTS_SCHEMA_COLS = [name for name, *_ in _MOMENTS]


def moments_build_aggs() -> list[Column]:
    """Aggregates of raw (y, t) rows into one moments row per group."""
    return [build(F.expr(x)).alias(name) for name, build, x, _ in _MOMENTS]


def moments_merge_aggs() -> list[Column]:
    """Aggregates of moments rows into one moments row per group."""
    return [merge(name).alias(name) for name, _, _, merge in _MOMENTS]


def _ladder_row(tier: str) -> Tier:
    if tier not in LADDER:
        raise ValueError(
            f"unknown tier {tier!r}; expected one of {list(LADDER)}")
    return LADDER[tier]


def tier_window(col: Column | str, tier: str) -> Column:
    """``col`` truncated to its ``tier`` window start (date_trunc);
    ValueError for a tier not on the ladder."""
    return F.date_trunc(_ladder_row(tier).unit, col)


def tier_span_s(tier: str) -> float:
    """Fixed span of ``tier`` in seconds; ValueError for a calendar tier
    (1w/1mo have no fixed span) or a tier not on the ladder."""
    span = _ladder_row(tier).span_s
    if span is None:
        raise ValueError(f"calendar tier {tier!r} has no fixed span; "
                         f"expected one of {FIXED_TIERS}")
    return span


def _with_window(series: DataFrame, tier: str) -> DataFrame:
    if tier == "conv":
        return series.withColumn(
            "window_start", F.to_timestamp(F.lit("1970-01-01 00:00:00")))
    return series.withColumn("window_start", tier_window("ts", tier))


def _kernel_tiers(tiers: Iterable[str]) -> list[str]:
    tiers = list(tiers)
    calendar = [t for t in tiers if t in LADDER and t not in FIXED_TIERS]
    if calendar:
        raise ValueError(f"calendar tiers {calendar} have no exact kernel; "
                         "use rollup_moments + fold_moments")
    if tiers != ["conv"] and (not tiers or not set(tiers) <= set(FIXED_TIERS)):
        raise ValueError(f"tiers must be a subset of {FIXED_TIERS} "
                         f"or ['conv'] alone, got {tiers!r}")
    return tiers


def rollup_wide(series: DataFrame, tiers: Iterable[str],
                features: Iterable[str] | None = None,
                meta: DataFrame | None = None) -> DataFrame:
    """Exact path: one row per (conv_id, channel, tier, window_start),
    one double column per feature (NaN/NULL = degenerate window) — ≙
    cesium's (feature, channel) MultiIndex output (assemble_featureset †).

    ``tiers`` is any subset of 1m/1h/1d, all served from ONE shuffle
    (the windows nest inside the (conv, channel, GROUP_SPAN_DAYS date
    block) group), or ``["conv"]`` alone — whole conversations, one
    group each.

    Execution shape: one hash exchange on the group keys, a
    per-partition sort on (keys, turn_idx), then ``mapInPandas`` streams
    whole Arrow batches (~64k rows spanning hundreds of groups) through
    the kernel; the carry logic lives in arrow_stream.stream_groups, so
    no window is evaluated from partial rows and memory is one batch +
    one group. Per tier, window ids are numpy datetime64 truncations of
    ``ts`` (≡ Spark's ``date_trunc`` in the session time zone, which
    both sides see as local wall time), and a stable ``lexsort`` on
    (group, window) makes each window a contiguous, still
    turn_idx-ordered slice for the length-bucketed batch kernels in
    functions/batched.py — values pinned bitwise by
    tests/test_batched_bitwise.py, tests/test_rollup_multi.py and the
    layer-2 oracle suite.

    Skew policy (SURVEY.md §4.4): windowed tiers split a Zipf-tail
    conversation spanning D days into D/GROUP_SPAN_DAYS parallel groups
    (a ≤1d window never crosses a date block, so no value changes); the
    block is 4 days, not 1, because per-group fixed cost dominates
    ordinary conversations (measured 1.25x on the sf0.1 hourly rollup).
    The 'conv' tier relies on (a) self-capping kernels and (b) the
    native moments path + fold for exactly-mergeable statistics —
    salting the opaque exact kernel would change float summation order
    and break the bit-for-bit contract, so it is deliberately absent
    here. Residual partition skew is AQE's job.

    ``meta`` (cesium meta_features-as-inputs †, SURVEY.md §2.7): a
    per-conversation dims table (conv_id, <dims...>), broadcast-joined
    onto the series before the kernel exchange; inside the kernel the
    dim values are handed to graph-dep custom features as named
    parameters (see registry.register_custom). For passthrough onto the
    OUTPUT feature matrix use :func:`with_meta`."""
    tiers = _kernel_tiers(tiers)
    feats = validate(features if features is not None else DEFAULT_FEATS)
    meta_cols = _checked_meta_cols(meta)
    # snapshot registered custom features into the kernel closure —
    # executors import the registry fresh and would see it empty
    custom = custom_snapshot(feats)
    # whole-second numpy units floor like date_trunc for fixed tiers
    np_units = [None if t == "conv" else f"datetime64[{tier_span_s(t):.0f}s]"
                for t in tiers]
    # registry names cannot hold a backtick, so quoting is safe; tier is
    # NOT NULL as the F.lit tier of the long tables' parquet schema was
    schema = ("conv_id string, channel string, tier string not null, "
              "window_start timestamp, "
              + ", ".join(f"`{f}` double" for f in feats))

    def process_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy()
        chan = pdf["channel"].to_numpy()
        gid = np.cumsum(np.concatenate(
            ([True], (conv[1:] != conv[:-1]) | (chan[1:] != chan[:-1]))))
        ts = pdf["ts"].to_numpy("datetime64[us]")
        t = pdf["t"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        e = pdf["e"].to_numpy(np.float64)
        outs = []
        for tier, unit in zip(tiers, np_units):
            if tier == "conv":
                w = np.zeros(len(pdf), dtype="datetime64[us]")
            else:
                w = ts.astype(unit).astype("datetime64[us]")
            # stable: rows arrive turn_idx-sorted per group, so each
            # window slice stays turn_idx-sorted even where ts steps back
            order = np.lexsort((w, gid))
            g, w = gid[order], w[order]
            starts = np.flatnonzero(np.concatenate(
                ([True], (g[1:] != g[:-1]) | (w[1:] != w[:-1]))))
            ends = np.concatenate((starts[1:], [len(pdf)]))
            head = order[starts]
            metas = None
            if meta_cols:
                metas = [{c: pdf[c].iloc[int(i)] for c in meta_cols}
                         for i in head]
            values = compute_features_matrix(t[order], y[order], e[order],
                                             starts, ends, feats,
                                             metas=metas, custom=custom)
            outs.append(pd.DataFrame({
                "conv_id": conv[head], "channel": chan[head], "tier": tier,
                "window_start": w[starts], **dict(zip(feats, values.T))}))
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    def kernel_stream(batches):
        yield from stream_groups(batches, keys, process_rows)

    keys = ["conv_id", "channel"]
    windowed = series.select(*keys, "ts", "turn_idx", "t", "y", "e")
    if tiers != ["conv"]:
        keys.append("grp_date")
        windowed = windowed.withColumn(
            "grp_date", (F.datediff(F.col("ts"), F.lit("1970-01-01"))
                         / F.lit(GROUP_SPAN_DAYS)).cast("int"))
    if meta_cols:
        # broadcast join: the dims table is one row per conversation —
        # tiny next to the turn stream — so no shuffle of the series
        windowed = windowed.join(
            F.broadcast(meta.select("conv_id", *meta_cols)), "conv_id", "left")

    # Explicit CPU-proportional partitioning: AQE's byte-based coalescing
    # sees a few MB of shuffle data and would collapse this to 1-2 reduce
    # tasks, but the cost here is Python/numpy CPU per window, not bytes
    # (measured 2x wall on local[32] when AQE coalesced the kernel
    # exchange). A user-specified hash repartition on the exact group
    # keys is preserved by AQE; 4x cores gives slot granularity for
    # residual group-size skew.
    n_parts = series.sparkSession.sparkContext.defaultParallelism * 4
    return (windowed
            .repartition(n_parts, *keys)
            .sortWithinPartitions(*keys, "turn_idx")
            .mapInPandas(kernel_stream, schema=schema))


def rollup_features(series: DataFrame, tier: str,
                    features: Iterable[str] | None = None,
                    meta: DataFrame | None = None) -> DataFrame:
    """Long-form features table (conv_id, channel, tier, window_start,
    feature, value) of one tier: :func:`rollup_wide` melted by
    :func:`unpivot_long` (no extra exchange)."""
    return _long(rollup_wide(series, [tier], features, meta))


def rollup_features_multi(series: DataFrame, tiers: Iterable[str],
                          features: Iterable[str] | None = None,
                          meta: DataFrame | None = None) -> DataFrame:
    """Long-form features of several windowed tiers (subset of
    1m/1h/1d) from ONE shuffle — bit-identical to per-tier
    :func:`rollup_features` calls (pinned by tests/test_rollup_multi.py);
    the 'conv' tier goes through :func:`rollup_features`."""
    tiers = list(tiers)
    if "conv" in tiers:
        raise ValueError("rollup_features_multi takes windowed tiers; "
                         "run 'conv' via rollup_features")
    return _long(rollup_wide(series, tiers, features, meta))


def _long(wide: DataFrame) -> DataFrame:
    return unpivot_long(wide, wide.columns[len(_KEY_COLS):])


def pivot_wide(features_long: DataFrame, features: Iterable[str]) -> DataFrame:
    """Wide view of a long features table: one row per (conv, channel,
    tier, window), one column per feature — the shape
    :func:`rollup_wide` emits directly, without this pivot's hash
    aggregate."""
    return (
        features_long
        .groupBy("conv_id", "channel", "tier", "window_start")
        .pivot("feature", list(features))
        .agg(F.first("value"))
    )


def unpivot_long(wide: DataFrame, features: Iterable[str],
                 key_cols: Iterable[str] = _KEY_COLS) -> DataFrame:
    """Melt the wide feature matrix back to the long (feature, value)
    shape — the exact inverse of :func:`pivot_wide` over the same
    feature list, via the native ``stack`` table generator: a pure
    per-row expansion inside whole-stage codegen, ZERO exchanges (the
    long→wide direction pays the pivot's hash aggregate; wide→long is
    free). NULL cells are kept as explicit (feature, NULL) rows so
    roundtripping preserves the degenerate-feature policy (a dropped
    NULL row would silently re-read as "feature not computed").

    Feature names pass through ``stack`` as single-quoted literals;
    names are validated against quote injection rather than escaped
    (a feature named ``a'b`` is a registry bug, not an input).
    """
    feats = list(features)
    if not feats:
        raise ValueError("unpivot_long needs at least one feature")
    bad = [f for f in feats if "'" in f or "\n" in f]
    if bad:
        raise ValueError(f"feature names must not contain quotes: {bad}")
    missing = [f for f in feats if f not in wide.columns]
    if missing:
        raise ValueError(f"features not in wide frame: {missing}")
    pairs = ", ".join(f"'{f}', cast(`{f}` AS double)" for f in feats)
    stack = F.expr(
        f"stack({len(feats)}, {pairs}) AS (feature, value)")
    return wide.select(*key_cols, stack)


def with_meta(wide: DataFrame, meta: DataFrame,
              on: str = "conv_id") -> DataFrame:
    """cesium meta_features passthrough (``assemble_featureset(...,
    meta_features)`` †, SURVEY.md §2.3/§2.7): conversation-level dims
    broadcast-joined onto the feature matrix, one column per dim. Left
    join: series without dims keep their features (dims NULL)."""
    return wide.join(F.broadcast(meta), on, "left")


def _checked_meta_cols(meta: DataFrame | None) -> list[str]:
    """Meta dim columns, rejecting names that a shared kernel
    intermediate (cads/lomb_model/delta_t_hist) would silently shadow
    in custom-feature dependency resolution (registry resolves
    _INTERMEDIATES before meta)."""
    if meta is None:
        return []
    from cesium_spark.functions.registry import _INTERMEDIATES
    cols = [c for c in meta.columns if c != "conv_id"]
    clash = sorted(set(cols) & set(_INTERMEDIATES))
    if clash:
        raise ValueError(
            f"meta column(s) {clash} collide with shared kernel "
            "intermediates and would be shadowed in custom-feature "
            "dependency resolution; rename the meta dimension(s)")
    return cols


def rollup_moments(series: DataFrame, tier: str) -> DataFrame:
    """Native path: exactly-mergeable window statistics, JVM-only
    two-phase aggregation (partial + final, whole-stage codegen)."""
    return (
        _with_window(series, tier)
        .groupBy("conv_id", "channel", "window_start")
        .agg(*moments_build_aggs())
        .withColumn("tier", F.lit(tier))
    )


def moments_derived(moments: DataFrame) -> DataFrame:
    """mean/std/skew/amplitude/n_epochs/total_time from moments —
    the inexact (float-sum) fast path; exact values come from kernels."""
    n = F.col("n").cast("double")
    mu = F.col("y_sum") / n
    m2 = F.col("y_sum2") / n - mu * mu
    m3 = (F.col("y_sum3") / n) - 3 * mu * (F.col("y_sum2") / n) + 2 * mu * mu * mu
    return moments.select(
        "conv_id", "channel", "tier", "window_start",
        n.alias("n_epochs"),
        F.col("y_max").alias("maximum"),
        F.col("y_min").alias("minimum"),
        ((F.col("y_max") - F.col("y_min")) / 2).alias("amplitude"),
        mu.alias("mean"),
        F.sqrt(F.greatest(m2, F.lit(0.0))).alias("std"),
        F.when(m2 > 0, m3 / F.pow(m2, 1.5)).alias("skew"),
        (F.col("t_max") - F.col("t_min")).alias("total_time"),
    )


def rollup_quantiles(series: DataFrame, tier: str,
                     qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                     approx: bool = False,
                     accuracy: int = 10000) -> DataFrame:
    """Per-tier latency/value quantiles (p50/p95/p99 of the north_star's
    turn-latency series).

    Two paths, same schema:

    - ``approx=False``: exact ``percentile`` (linear interpolation on
      the sorted group — the definition DuckDB's ``quantile_cont``
      shares, so results are oracle-comparable bit-for-bit after
      rounding). Exact percentile buffers each group's values; right
      for verification scales and modest groups.
    - ``approx=True``: ``percentile_approx`` (Greenwald–Khanna sketch,
      MERGEABLE partial aggregation — the 100 TB path: map-side
      partials, bounded memory per group regardless of group size,
      and tier folds can re-merge sketches). Deterministic for a given
      accuracy but NOT restatable in DuckDB; it is verified against
      the exact path by bounded-rank-error pytest instead.
    """
    window = tier_window("ts", tier)
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must lie in [0,1], got {qs!r}")
    arr = F.array(*[F.lit(float(q)) for q in qs])
    agg = (F.percentile_approx("y", arr, F.lit(accuracy)) if approx
           else F.percentile("y", arr))
    g = (
        series.withColumn("window_start", window)
        .groupBy("conv_id", "channel", "window_start")
        .agg(F.count("y").alias("n"), agg.alias("__qs"))
    )
    cols = ["conv_id", "channel", "window_start", "n"] + [
        F.col("__qs")[i].alias(f"p{int(round(q * 100)):02d}")
        for i, q in enumerate(qs)
    ]
    return g.select(*cols).withColumn("tier", F.lit(tier))
