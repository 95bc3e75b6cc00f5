"""Fused multi-tier rollup ≡ per-tier rollups ≡ scalar compute_features,
bit-for-bit: one shuffle must not change a single bit of any tier's
features, whatever order ``ts`` runs in."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cesium_spark.functions.registry import compute_features
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.rollup import (
    rollup_features,
    rollup_features_multi,
    rollup_wide,
)

FEATS = ["n_epochs", "mean", "std", "skew", "median", "max_slope",
         "cads_avg", "cad_probs_100", "stetson_j", "weighted_average"]
TIERS = {"1m": "min", "1h": "h", "1d": "D"}
KEYS = ["tier", "conv_id", "channel", "window_start", "feature"]


def _collect(df):
    return df.toPandas().sort_values(KEYS, kind="stable").reset_index(drop=True)


def _ts_backwards(spark):
    """One conversation whose ts steps back twice inside one hour (and
    once across a minute boundary): turn_idx order ≠ ts order."""
    secs = [0, 40, 25, 70, 130, 115, 180, 260, 240, 300, 330, 420]
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": "conv_back",
        "turn_idx": np.arange(len(secs), dtype=np.int32),
        "role": ["user", "assistant"] * (len(secs) // 2),
        "text": [" ".join(["w"] * (1 + (3 * i) % 7)) for i in range(len(secs))],
        "tool": [None if i % 3 else "calc" for i in range(len(secs))],
        "ts": pd.Timestamp("2024-01-01 10:05:00")
        + pd.to_timedelta(secs, unit="s"),
    }))


def _scalar(series_pdf):
    """compute_features per window on its turn_idx-sorted rows."""
    rows = []
    for tier, freq in TIERS.items():
        s = series_pdf.assign(window_start=series_pdf["ts"].dt.floor(freq))
        for (conv, chan, w), g in s.groupby(
                ["conv_id", "channel", "window_start"]):
            g = g.sort_values("turn_idx")
            vals = compute_features(g["t"].to_numpy(), g["y"].to_numpy(),
                                    g["e"].to_numpy(), FEATS)
            rows += [(tier, conv, chan, w, f, vals[f]) for f in FEATS]
    return (pd.DataFrame(rows, columns=KEYS + ["value"])
            .sort_values(KEYS, kind="stable").reset_index(drop=True))


def _assert_same(a, b):
    assert len(a) == len(b)
    for c in ("tier", "conv_id", "channel", "feature"):
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c
    np.testing.assert_array_equal(
        a["window_start"].to_numpy("datetime64[us]"),
        b["window_start"].to_numpy("datetime64[us]"))
    av = a["value"].to_numpy(np.float64)
    bv = b["value"].to_numpy(np.float64)
    both_nan = np.isnan(av) & np.isnan(bv)
    assert np.array_equal(av[~both_nan], bv[~both_nan])


@pytest.mark.parametrize("source", ["tiny", "ts_backwards"])
def test_multi_equals_per_tier_bitwise(spark, tiny_transcripts, source):
    tr = tiny_transcripts if source == "tiny" else _ts_backwards(spark)
    series = derive_series(tr)
    fused = _collect(rollup_features_multi(series, list(TIERS), FEATS))
    single = (pd.concat(
        [rollup_features(series, t, FEATS).toPandas() for t in TIERS],
        ignore_index=True)[fused.columns]
        .sort_values(KEYS, kind="stable").reset_index(drop=True))
    _assert_same(fused, single)
    _assert_same(fused, _scalar(series.toPandas()))


def test_multi_partition_independent(spark, tiny_transcripts):
    series = derive_series(tiny_transcripts.repartition(7))
    a = _collect(rollup_features_multi(series, ["1h"], FEATS))
    b = _collect(rollup_features_multi(
        derive_series(tiny_transcripts.repartition(1)), ["1h"], FEATS))
    gv, sv = a["value"].to_numpy(), b["value"].to_numpy()
    both_nan = np.isnan(gv) & np.isnan(sv)
    assert np.array_equal(gv[~both_nan], sv[~both_nan])


CALENDAR = "rollup_moments.*fold_moments"


@pytest.mark.parametrize("call,match", [
    (lambda s: rollup_features(s, "1w", FEATS), CALENDAR),
    (lambda s: rollup_features(s, "1mo", FEATS), CALENDAR),
    (lambda s: rollup_wide(s, ["1w"], FEATS), CALENDAR),
    (lambda s: rollup_wide(s, ["1h", "1mo"], FEATS), CALENDAR),
    (lambda s: rollup_features(s, "2h", FEATS), None),
    (lambda s: rollup_wide(s, ["1h", "hourly"], FEATS), None),
    (lambda s: rollup_wide(s, [], FEATS), None),
    (lambda s: rollup_wide(s, ["conv", "1h"], FEATS), None),
    (lambda s: rollup_features_multi(s, ["conv"], FEATS), None),
], ids=["features_1w", "features_1mo", "wide_1w", "wide_1mo",
        "features_unknown", "wide_unknown", "wide_empty", "conv_mixed",
        "multi_conv"])
def test_kernel_rejects_tiers(spark, tiny_transcripts, call, match):
    with pytest.raises(ValueError, match=match):
        call(derive_series(tiny_transcripts))


def test_wide_is_one_row_per_window(spark, tiny_transcripts):
    series = derive_series(tiny_transcripts)
    wide = rollup_wide(series, ["1h", "1d"], FEATS)
    assert wide.columns == ["conv_id", "channel", "tier", "window_start",
                            *FEATS]
    long = _collect(rollup_features_multi(series, ["1h", "1d"], FEATS))
    assert wide.count() * len(FEATS) == len(long)
