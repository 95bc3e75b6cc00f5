"""The exact-integer statistics kit (``operators/exact.py``): every
``require_int`` caller rejects a double column by name, and
``acf_sums`` / ``midrank2`` / ``ties`` equal a numpy reference on
constant, short, tied, out-of-order and NULL-bearing series."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.operators import rates, scoring, smoothing
from cesium_spark.operators import seriesstats as ss
from cesium_spark.operators.exact import acf_sums, midrank2, ties

# operator -> (call on a series frame, the column turned into a double)
CALLERS = {
    "variance_ratio": (lambda d: ss.variance_ratio(d, q=2), "y"),
    "hurst_rs": (ss.hurst_rs, "y"),
    "pacf3": (ss.pacf3, "y"),
    "cusum": (lambda d: ss.cusum(d, target=5), "y"),
    "gini_concentration": (ss.gini_concentration, "y"),
    "hac_mean_se": (ss.hac_mean_se, "y"),
    "ks_two_sample": (ss.ks_two_sample, "y"),
    "burstiness": (ss.burstiness, "y"),
    "trimmed_stats": (ss.trimmed_stats, "y"),
    "tail_stats": (ss.tail_stats, "y"),
    "sprt_bernoulli": (lambda d: ss.sprt_bernoulli(d, 0.2, 0.6), "y"),
    "record_stats": (ss.record_stats, "y"),
    "hill_tail": (lambda d: ss.hill_tail(d, k=3), "y"),
    "anova_oneway": (lambda d: ss.anova_oneway(d, "g"), "y"),
    "dominant_lag": (ss.dominant_lag, "y"),
    "time_weighted_quantiles": (ss.time_weighted_quantiles, "w"),
    "kruskal_wallis": (lambda d: ss.kruskal_wallis(d, "g"), "y"),
    "ljung_box": (ss.ljung_box, "y"),
    "lorenz_deciles": (ss.lorenz_deciles, "y"),
    "sample_entropy": (lambda d: ss.sample_entropy(d, r=1), "y"),
    "dfa": (ss.dfa, "y"),
    "spectral_entropy": (ss.spectral_entropy, "y"),
    "brown_forsythe": (lambda d: ss.brown_forsythe(d, "g"), "y"),
    "grubbs_stat": (ss.grubbs_stat, "y"),
    "cusumsq": (ss.cusumsq, "y"),
    "partial_corr": (lambda d: ss.partial_corr(
        d, "latency", "tokens", "tool"), "y"),
    "cronbach_alpha": (ss.cronbach_alpha, "y"),
    "dunn_posthoc": (lambda d: ss.dunn_posthoc(d, "g"), "y"),
    "wilcoxon_signed_rank": (ss.wilcoxon_signed_rank, "y"),
    "mood_median": (lambda d: ss.mood_median(d, "g"), "y"),
    "ess_acf": (ss.ess_acf, "y"),
    "von_neumann": (ss.von_neumann, "y"),
    "snht": (ss.snht, "y"),
    "page_hinkley": (lambda d: ss.page_hinkley(d, delta=0.25, lam=5.0),
                     "y"),
    "esd_outliers": (ss.esd_outliers, "y"),
    "ols_fit2": (lambda d: scoring.ols_fit2(d, "y", "x1", "x2"), "x1"),
    "ols_granger": (lambda d: scoring.ols_granger(d, "y", "x1", "x2"),
                    "x2"),
    "theta_forecast": (smoothing.theta_forecast, "y"),
    "theta_backtest": (smoothing.theta_backtest, "y"),
    "leaky_bucket": (lambda d: rates.leaky_bucket(d, 1, 2, 3), "y"),
}


@pytest.fixture(scope="module")
def int_frame(spark):
    n = 24
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"] * n, "channel": ["latency", "tokens", "tool"] * 8,
        "turn_idx": [i // 3 for i in range(n)],
        "t": [float(i // 3) for i in range(n)],
        "y": [(i * 7) % 13 for i in range(n)],
        "w": [1 + i % 4 for i in range(n)],
        "x1": [(i * 3) % 5 for i in range(n)],
        "x2": [(i * 5) % 7 for i in range(n)],
        "g": [("x", "y", "z")[i % 3] for i in range(n)]}))


@pytest.mark.parametrize("op", list(CALLERS))
def test_require_int_rejects_double_column(int_frame, op):
    call, col = CALLERS[op]
    bad = int_frame.withColumn(col, F.col(col).cast("double"))
    with pytest.raises(ValueError,
                       match=rf"^{op}: column '{col}' has type double; "
                             r".*integer inputs"):
        call(bad)


def test_every_require_int_caller_is_listed():
    """The parametrized rejection test covers every ``require_int``
    call site in the engine (a new caller must be added to CALLERS)."""
    root = pathlib.Path(__file__).resolve().parents[1] / "cesium_spark"
    ops = []
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "require_int"):
                ops.append(node.args[1].value)
    assert sorted(ops) == sorted(CALLERS)


def _acf_ref(y, lags):
    y = np.asarray(y, dtype=np.int64)
    n, s = len(y), int(y.sum())
    d = n * y - s
    out = {"n": n, "s": s, "n0": int(d @ d)}
    for k in lags:
        out[f"n{k}"] = int(d[k:] @ d[:-k]) if n > k else None
    return out


def test_acf_sums_matches_numpy(spark):
    rng = np.random.default_rng(5)
    convs = {
        "const": [7] * 9,                       # n0 = 0
        "short": [3, -4],                       # lags 2, 3 have no pairs
        "ties": [2, 5, 2, 2, 9, 5, 5, 2, 9, 2],
        "rand": list(rng.integers(-50, 50, 40)),
    }
    rows = []
    for c, ys in convs.items():
        for i, y in enumerate(ys):
            rows.append((c, i, float(i), int(y)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "t", "y"])
    # lags follow (t, turn_idx), not row order or turn_idx alone:
    # reverse turn_idx within each conversation, shuffle the rows
    pdf["turn_idx"] = pdf.groupby("conv_id")["turn_idx"].transform(
        lambda s: s.max() - s)
    pdf = pdf.sample(frac=1.0, random_state=3)
    df = spark.createDataFrame(pdf)
    # NULL y and NULL t rows are dropped before n, S and the lags
    junk = spark.createDataFrame(
        [("ties", 100, None, 1000), ("ties", 101, 3.5, None)],
        "conv_id string, turn_idx long, t double, y long")
    lags = (1, 2, 3)
    got = {r["conv_id"]: r.asDict()
           for r in acf_sums(df.unionByName(junk), lags).collect()}
    assert set(got) == set(convs)
    for c, ys in convs.items():
        want = dict(_acf_ref(ys, lags), conv_id=c)
        assert got[c] == want, c


def _ties_ref(v):
    v = np.asarray(v)
    return (v[None, :] == v[:, None]).sum(axis=1)


def _midrank2_ref(v):
    v = np.asarray(v)
    less = (v[None, :] < v[:, None]).sum(axis=1)
    return 2 * less + _ties_ref(v) + 1  # 2·(less + (ties + 1)/2)


def test_midrank2_matches_numpy(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "conv_id": ["a"] * 30 + ["b"] * 12 + ["c"] * 5,
        "row": np.arange(47),
        "v": np.concatenate([rng.integers(-4, 5, 30),   # heavy ties
                             np.arange(12)[::-1],        # no ties
                             np.full(5, 3)])})           # one tie block
    df = spark.createDataFrame(pdf)
    out = df.select("conv_id", "row", midrank2("v").alias("r2"),
                    midrank2(F.abs("v")).alias("r2_abs"),
                    ties("v").alias("t")).toPandas()
    out = out.sort_values("row").reset_index(drop=True)
    for c, grp in pdf.groupby("conv_id"):
        got = out[out["conv_id"] == c]
        assert got["r2"].tolist() == _midrank2_ref(grp["v"]).tolist()
        assert got["r2_abs"].tolist() == \
            _midrank2_ref(np.abs(grp["v"])).tolist()
        assert got["t"].tolist() == _ties_ref(grp["v"]).tolist()
    assert str(out["r2"].dtype) == "int64"
