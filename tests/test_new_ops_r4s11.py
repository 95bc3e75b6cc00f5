"""Session-11 operators: duplicated-n-gram coverage (Lee et al. 2022
exact-substring dedup at n-gram granularity) and DDSketch
relative-error quantile tiers (Masson 2019)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from cesium_spark.operators.dedup import ngram_coverage


@pytest.fixture(scope="module")
def cov_docs(spark):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [
            "a b c d e f",          # 4 trigrams, 2 shared with doc 2
            "a b c d x",            # 3 trigrams, 2 shared with doc 1
            "q r s",                # 1 unique trigram
            "x y",                  # too short: 0 trigrams
            "a b c a b c a b c",    # repeated gram counted ONCE per doc
        ]}))


def test_ngram_coverage_hand_example(cov_docs):
    out = {r["doc_id"]: r for r in
           ngram_coverage(cov_docs, n=3, min_df=2, dup_threshold=0.5)
           .collect()}
    assert out[1]["n_grams"] == 4 and out[1]["n_dup"] == 2
    assert out[1]["dup_frac"] == 0.5 and out[1]["is_dup"]
    assert out[2]["n_grams"] == 3 and out[2]["n_dup"] == 2
    assert out[2]["dup_frac"] == 2.0 / 3.0 and out[2]["is_dup"]
    assert out[3]["n_grams"] == 1 and out[3]["n_dup"] == 0
    assert out[3]["dup_frac"] == 0.0 and not out[3]["is_dup"]
    # shorter than n tokens: zero grams, NULL frac, never flagged
    assert out[4]["n_grams"] == 0 and out[4]["dup_frac"] is None
    assert not out[4]["is_dup"]
    # "a b c" ×3 inside doc 5 is ONE distinct gram (its only dup one:
    # "b c a"/"c a b" appear nowhere else)
    assert out[5]["n_grams"] == 3 and out[5]["n_dup"] == 1


def test_ngram_coverage_min_df_raises_threshold(cov_docs):
    # min_df=3: "b c d" (df=2, docs 1+2) no longer counts; "a b c"
    # (df=3, docs 1+2+5) still does
    out = {r["doc_id"]: r["n_dup"] for r in
           ngram_coverage(cov_docs, n=3, min_df=3).collect()}
    assert out[1] == 1 and out[2] == 1 and out[5] == 1


def test_ngram_coverage_validation(cov_docs):
    with pytest.raises(ValueError, match="n must be"):
        ngram_coverage(cov_docs, n=0)
    with pytest.raises(ValueError, match="min_df"):
        ngram_coverage(cov_docs, min_df=1)
    with pytest.raises(ValueError, match="dup_threshold"):
        ngram_coverage(cov_docs, dup_threshold=0.0)


def test_ngram_coverage_no_cartesian_and_bounded_shuffles(cov_docs):
    import re
    df = ngram_coverage(cov_docs, n=3)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in p
    # df agg + join-back + per-doc agg + restore-join: every exchange
    # is hash partitioning on a fixed-width key, never a sort of the
    # corpus on a global key
    assert len(re.findall(r"Exchange rangepartitioning", p)) == 0


# --- DDSketch ---------------------------------------------------------------

ALPHA = 0.05


@pytest.fixture(scope="module")
def dd_series(spark):
    ts = pd.date_range("2024-01-01", periods=300, freq="11min")
    rng = np.random.default_rng(11)
    vals = np.round(rng.lognormal(2.0, 2.0, 300), 2)  # 4+ decades
    vals[::29] = 0.0
    vals[1::31] = -vals[1::31]
    vals[5] = np.nan
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"] * 150 + ["b"] * 150, "ts": ts, "y": vals})), vals, ts


def test_ddsketch_fold_equals_direct(dd_series):
    from cesium_spark.operators.ddsketch import ddsketch_build, ddsketch_fold
    df, _, _ = dd_series
    folded = ddsketch_fold(
        ddsketch_build(df, "1h", ["conv_id"], "y", alpha=ALPHA),
        "1d", ["conv_id"])
    direct = ddsketch_build(df, "1d", ["conv_id"], "y", alpha=ALPHA)
    cols = ["conv_id", "window_start", "store", "bkt", "cnt"]
    a = sorted(map(tuple, folded.select(*cols).collect()))
    b = sorted(map(tuple, direct.select(*cols).collect()))
    assert a == b and len(a) > 50  # cell-exact merge, real bucket spread


def test_ddsketch_midpoint_relative_error_bound(dd_series):
    """The paper's guarantee: the bucket midpoint is within α·|v| of
    every value v the bucket covers — checked per raw value."""
    from cesium_spark.operators.ddsketch import gamma_of, midpoint_literals
    _, vals, _ = dd_series
    g = gamma_of(ALPHA)
    mids = midpoint_literals(ALPHA)
    for v in vals:
        if not np.isfinite(v) or v == 0:
            continue
        k = math.ceil(math.log(abs(v)) / math.log(g))
        est = math.copysign(mids[k + 700], v)
        assert abs(est - v) <= ALPHA * abs(v) + 1e-12


def test_ddsketch_quantile_within_alpha_of_exact(dd_series):
    from cesium_spark.operators.ddsketch import (
        ddsketch_build, ddsketch_fold, ddsketch_quantile)
    df, vals, ts = dd_series
    daily = ddsketch_fold(
        ddsketch_build(df, "1h", ["conv_id"], "y", alpha=ALPHA),
        "1d", ["conv_id"])
    out = ddsketch_quantile(daily, ["conv_id"], [0.5, 0.9], ALPHA,
                            ["p50", "p90"]).toPandas()
    assert len(out) > 0
    conv = np.array(["a"] * 150 + ["b"] * 150)
    day = ts.floor("D")
    for _, r in out.iterrows():
        m = (conv == r["conv_id"]) & (day == r["window_start"])
        sub = np.sort(vals[m][np.isfinite(vals[m])])
        n = len(sub)
        assert r["n"] == n
        for q, est in [(0.5, r["p50"]), (0.9, r["p90"])]:
            true = sub[math.ceil(q * n) - 1]
            if true == 0:
                assert est == 0.0
            else:
                assert abs(est - true) <= ALPHA * abs(true) + 1e-12


def test_ddsketch_boundary_guard_raises(spark):
    """A value whose log-index sits inside the margin of an integer
    (where engine ln ulps could flip the ceil) must fail loudly."""
    from cesium_spark.operators.ddsketch import ddsketch_build, gamma_of
    g = gamma_of(ALPHA)
    knife = g ** 5 * (1.0 + 1e-11)
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"], "ts": pd.to_datetime(["2024-01-01"]),
        "y": [knife]}))
    with pytest.raises(Exception, match="bucket boundary"):
        ddsketch_build(df, "1h", ["conv_id"], "y", alpha=ALPHA).collect()
    # exact hit (v=1 -> ln 1 = 0.0 in every IEEE libm) is allowed
    ok = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"], "ts": pd.to_datetime(["2024-01-01"]),
        "y": [1.0]}))
    row = ddsketch_build(ok, "1h", ["conv_id"], "y", alpha=ALPHA).collect()
    assert row[0]["bkt"] == 0 and row[0]["store"] == 1


def test_ddsketch_quantile_bkt_out_of_range_raises(spark):
    from cesium_spark.operators.ddsketch import (
        ddsketch_build, ddsketch_quantile)
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"], "ts": pd.to_datetime(["2024-01-01"]),
        "y": [123.45]}))
    sk = ddsketch_build(df, "1h", ["conv_id"], "y", alpha=ALPHA)
    with pytest.raises(Exception, match="bkt beyond"):
        ddsketch_quantile(sk, ["conv_id"], 0.5, ALPHA,
                          bkt_bound=10).collect()


def test_ddsketch_validation(spark):
    from cesium_spark.operators.ddsketch import (
        ddsketch_build, ddsketch_fold, gamma_of)
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a"], "ts": pd.to_datetime(["2024-01-01"]),
        "y": [1.0]}))
    with pytest.raises(ValueError, match="alpha"):
        gamma_of(0.5)
    with pytest.raises(ValueError, match="unknown tier"):
        ddsketch_build(df, "5s", ["conv_id"], "y")
    with pytest.raises(ValueError, match="can only fold"):
        ddsketch_fold(df, "1m", ["conv_id"])


def test_ddsketch_build_one_exchange(dd_series):
    import re
    from cesium_spark.operators.ddsketch import ddsketch_build
    df, _, _ = dd_series
    sk = ddsketch_build(df, "1h", ["conv_id"], "y", alpha=ALPHA)
    # pre-execution plan: the AQE executed-plan string after an action
    # prints Final AND Initial sections and double-counts exchanges
    p = sk._jdf.queryExecution().executedPlan().toString()
    # one two-phase count: bucket assignment is pure codegen per row
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "Cartesian" not in p


# --- TextRank / PageRank ----------------------------------------------------

def _ref_pagerank(edges, d=0.85, k=5):
    """Scalar reference replicating the operator's exact arithmetic:
    self-loops for dangling vertices, sorted sequential folds."""
    verts = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    srcs = {s for s, _, _ in edges}
    e = list(edges) + [(v, v, 1) for v in verts if v not in srcs]
    outdeg = {}
    for s, _, w in e:
        outdeg[s] = outdeg.get(s, 0) + w
    n = len(verts)
    base = (1.0 - d) / n
    x = {v: 1.0 / n for v in verts}
    for _ in range(k):
        inc = {}
        for s, t, w in e:
            inc.setdefault(t, []).append(
                (s, (float(w) / float(outdeg[s])) * x[s]))
        nx = {}
        for v in verts:
            acc = 0.0
            for _, c in sorted(inc.get(v, [])):
                acc = acc + c
            nx[v] = base + d * acc
        x = nx
    return x


@pytest.fixture(scope="module")
def pr_edges(spark):
    edges = [("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1),
             ("d", "a", 5), ("a", "e", 1)]  # e is dangling
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst", "w"])), edges


def test_pagerank_bit_exact_vs_scalar_reference(pr_edges):
    from cesium_spark.operators.graphrank import pagerank
    sdf, edges = pr_edges
    got = {r["v"]: r["x"] for r in pagerank(sdf, iterations=5).collect()}
    exp = _ref_pagerank(edges)
    assert got == exp  # BIT equality, not approx
    assert abs(sum(got.values()) - 1.0) < 1e-12  # mass conserved


def test_pagerank_partition_independent(pr_edges):
    from cesium_spark.operators.graphrank import pagerank
    sdf, _ = pr_edges
    a = {r["v"]: r["x"] for r in pagerank(sdf, iterations=4).collect()}
    b = {r["v"]: r["x"]
         for r in pagerank(sdf.repartition(7), iterations=4).collect()}
    assert a == b


def test_pagerank_ring_is_uniform(spark):
    from cesium_spark.operators.graphrank import pagerank
    ring = spark.createDataFrame(pd.DataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        columns=["src", "dst", "w"]))
    got = [r["x"] for r in pagerank(ring, iterations=6).collect()]
    for x in got:
        assert abs(x - 1.0 / 3.0) < 1e-15


def test_pagerank_dangling_self_loop_keeps_mass(spark):
    from cesium_spark.operators.graphrank import pagerank
    # b has no out-edge: without the self-loop its inflow would leak
    chain = spark.createDataFrame(pd.DataFrame(
        [("a", "b", 1)], columns=["src", "dst", "w"]))
    got = {r["v"]: r["x"] for r in pagerank(chain, iterations=8).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert got["b"] > got["a"]  # sink accumulates


def test_pagerank_validation(pr_edges):
    from cesium_spark.operators.graphrank import pagerank
    sdf, _ = pr_edges
    with pytest.raises(ValueError, match="damping"):
        pagerank(sdf, damping=1.0)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(sdf, iterations=0)


def test_token_edges_counts_and_plan(spark):
    import re
    from cesium_spark.operators.graphrank import token_edges
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["x y x y", "x y", "solo"]}))
    e = token_edges(docs)
    # pre-execution plan (post-action AQE strings double-count)
    p = e._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    rows = {(r["src"], r["dst"]): r["w"] for r in e.collect()}
    # occurrence-counted (not distinct-per-doc); single-token docs drop
    assert rows == {("x", "y"): 3, ("y", "x"): 1}


# --- Filtered ANN (IVF + metadata predicate) --------------------------------

import pyspark.sql.functions as F  # noqa: E402


@pytest.fixture(scope="module")
def ann_corpus(spark):
    rng = np.random.default_rng(5)
    n, dim = 400, 16
    m = rng.standard_normal((n, dim))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [row.astype(np.float32).tolist() for row in m],
        "label": [i % 10 for i in range(n)]})
    return spark.createDataFrame(pdf), m


def test_ivf_filtered_widens_and_fills_k(ann_corpus):
    from cesium_spark.operators.similarity import ivf_topk_filtered
    df, m = ann_corpus
    q = list(map(float, m[0]))
    out = ivf_topk_filtered(df, q, F.col("label") == 3, k=10,
                            n_centroids=16, nprobe=2).toPandas()
    assert len(out) == 10                      # filled despite filter
    assert (out.vec_id % 10 == 3).all()        # pre-filter respected
    assert out.n_probed.iloc[0] >= 2


def test_ivf_filtered_fewer_matches_probes_everything(ann_corpus):
    from cesium_spark.operators.similarity import ivf_topk_filtered
    df, m = ann_corpus
    q = list(map(float, m[0]))
    pred = (F.col("label") == 3) & (F.col("vec_id") < 60)  # 6 matches
    out = ivf_topk_filtered(df, q, pred, k=10,
                            n_centroids=16, nprobe=2).toPandas()
    assert len(out) == 6                       # all matches, honestly < k
    assert out.n_probed.iloc[0] == 16          # every list probed


def test_ivf_filtered_degenerate_probe_equals_exact(ann_corpus):
    from cesium_spark.operators.similarity import (
        cosine_topk, ivf_topk_filtered)
    df, m = ann_corpus
    q = list(map(float, m[7]))
    got = ivf_topk_filtered(df, q, F.col("label") == 5, k=8,
                            n_centroids=4, nprobe=4).toPandas()
    exp = cosine_topk(df.where(F.col("label") == 5), q, k=8).toPandas()
    assert got.vec_id.tolist() == exp.vec_id.tolist()
    assert got.cosine.tolist() == exp.cosine.tolist()


def test_ivf_filtered_tie_margin_raises(ann_corpus, spark):
    from cesium_spark.operators.similarity import ivf_topk_filtered
    df, m = ann_corpus
    q = list(map(float, m[0]))
    cents = np.stack([m[1], m[1], m[2]])  # two identical centroids: tie
    with pytest.raises(ValueError, match="tie margin"):
        ivf_topk_filtered(df, q, F.col("label") == 3, k=5,
                          centroids=cents, check_ties=1e-9)


# --- Video scene cuts --------------------------------------------------------

def _y4m(frames):
    h, w = len(frames[0]), len(frames[0][0])
    buf = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode()
    for f in frames:
        buf += b"FRAME\n" + bytes(b for row in f for b in row)
    return buf


def test_scene_cuts_hand_example(spark):
    from cesium_spark.operators.multimodal import scene_cuts
    # 2x2 frames: f0 all 10; f1 all 10 (mad 0); f2 all 20 (mad 40);
    # f3 one pixel 21 (mad 1)
    frames = [[[10, 10], [10, 10]], [[10, 10], [10, 10]],
              [[20, 20], [20, 20]], [[20, 20], [20, 21]]]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "media": [_y4m(frames)]}))
    # thr 5000 = mean diff > 5 bytes/px -> only transition 2 (mad 40,
    # mean 10) cuts
    r = scene_cuts(df, thr_milli=5000).collect()[0]
    assert (r["n_frames"], r["n_transitions"], r["n_cuts"]) == (4, 3, 1)
    assert r["first_cut"] == 2
    assert r["max_mad"] == 40 and r["sum_mad"] == 41
    assert r["px_per_frame"] == 4


def test_scene_cuts_threshold_is_strict(spark):
    from cesium_spark.operators.multimodal import scene_cuts
    # mad = 4 over 4 px = exactly 1.0 byte/px; thr 1000 -> 1000*4 ==
    # 1000*4, strict > means NOT a cut
    frames = [[[10, 10], [10, 10]], [[11, 11], [11, 11]]]
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "media": [_y4m(frames)]}))
    assert scene_cuts(df, thr_milli=1000).collect()[0]["n_cuts"] == 0
    assert scene_cuts(df, thr_milli=999).collect()[0]["n_cuts"] == 1


def test_scene_cuts_single_frame_and_validation(spark):
    from cesium_spark.operators.multimodal import scene_cuts
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "media": [_y4m([[[5, 5], [5, 5]]])]}))
    r = scene_cuts(df).collect()[0]
    assert (r["n_transitions"], r["n_cuts"]) == (0, 0)
    assert r["first_cut"] is None and r["max_mad"] is None
    with pytest.raises(ValueError, match="thr_milli"):
        scene_cuts(df, thr_milli=-1)


def test_scene_cuts_refuses_non_video(spark):
    from cesium_spark.operators.multimodal import scene_cuts
    pgm = b"P5\n2 2\n255\n" + bytes([1, 2, 3, 4])
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "media": [pgm]}))
    with pytest.raises(Exception, match="mono stack"):
        scene_cuts(df).collect()


# --- OLS by exact sufficient statistics --------------------------------------

def test_ols_fit2_recovers_planted_coefficients(spark):
    from cesium_spark.operators.scoring import ols_fit2
    rng = np.random.default_rng(2)
    x1 = rng.integers(1, 50, 300)
    x2 = rng.integers(0, 20, 300)
    y = 7 + 3 * x1 + 11 * x2          # exact linear integer relation
    df = spark.createDataFrame(pd.DataFrame({
        "y": y, "x1": x1, "x2": x2}))
    r = ols_fit2(df, "y", "x1", "x2").collect()[0]
    assert r["n"] == 300
    assert abs(r["b0"] - 7) < 1e-9 and abs(r["b1"] - 3) < 1e-9
    assert abs(r["b2"] - 11) < 1e-9
    assert abs(r["r2"] - 1.0) < 1e-12   # exact fit


def test_ols_fit2_matches_numpy_lstsq_on_noisy_data(spark):
    from cesium_spark.operators.scoring import ols_fit2
    rng = np.random.default_rng(9)
    x1 = rng.integers(1, 100, 500)
    x2 = rng.integers(1, 60, 500)
    y = (5 + 2 * x1 - 3 * x2
         + rng.integers(-40, 41, 500))  # integer noise
    df = spark.createDataFrame(pd.DataFrame({
        "y": y, "x1": x1, "x2": x2}))
    r = ols_fit2(df, "y", "x1", "x2").collect()[0]
    X = np.column_stack([np.ones(500), x1, x2]).astype(float)
    beta, *_ = np.linalg.lstsq(X, y.astype(float), rcond=None)
    assert abs(r["b0"] - beta[0]) < 1e-6
    assert abs(r["b1"] - beta[1]) < 1e-8
    assert abs(r["b2"] - beta[2]) < 1e-8
    pred = X @ beta
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert abs(r["r2"] - r2) < 1e-9


def test_ols_fit2_collinear_gives_null_not_garbage(spark):
    from cesium_spark.operators.scoring import ols_fit2
    df = spark.createDataFrame(pd.DataFrame({
        "y": [1, 2, 3, 4], "x1": [1, 2, 3, 4], "x2": [2, 4, 6, 8]}))
    r = ols_fit2(df, "y", "x1", "x2").collect()[0]
    assert r["b0"] is None and r["b1"] is None and r["b2"] is None
    assert r["r2"] is None


def test_ols_fit2_rejects_float_inputs(spark):
    from cesium_spark.operators.scoring import ols_fit2
    df = spark.createDataFrame(pd.DataFrame({
        "y": [1.0, 2.0], "x1": [1, 2], "x2": [3, 4]}))
    with pytest.raises(ValueError, match="integer inputs"):
        ols_fit2(df, "y", "x1", "x2")


def test_ols_fit2_one_exchange(spark):
    import re
    from cesium_spark.operators.scoring import ols_fit2
    df = spark.createDataFrame(pd.DataFrame({
        "y": [1, 2, 3], "x1": [1, 2, 4], "x2": [3, 1, 4]}))
    out = ols_fit2(df, "y", "x1", "x2")
    p = out._jdf.queryExecution().executedPlan().toString()
    # one two-phase global aggregate (partials -> SinglePartition)
    assert len(re.findall(r"Exchange SinglePartition", p)) == 1
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 0


# --- Association rules --------------------------------------------------------

def test_association_rules_hand_example(spark):
    from cesium_spark.operators.assoc import association_rules
    # baskets: 1:{a,b}, 2:{a,b}, 3:{a}, 4:{b,c}, 5:{c}
    rows = [(1, "a"), (1, "b"), (1, "b"),  # repeat = presence
            (2, "a"), (2, "b"), (3, "a"), (4, "b"), (4, "c"), (5, "c"),
            (6, None)]                      # all-NULL basket: not in N
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["bk", "item"]))
    out = {(r["antecedent"], r["consequent"]): r for r in
           association_rules(df, ["bk"], "item").collect()}
    ab = out[("a", "b")]
    assert (ab["n_ant"], ab["n_cons"], ab["n_both"],
            ab["n_baskets"]) == (3, 3, 2, 5)
    assert ab["support"] == 2 / 5 and ab["confidence"] == 2 / 3
    assert ab["lift"] == (2 * 5) / (3 * 3)
    ba = out[("b", "a")]
    assert ba["confidence"] == 2 / 3  # symmetric marginals here
    bc = out[("b", "c")]
    assert bc["n_both"] == 1 and bc["confidence"] == 1 / 3
    assert ("a", "c") not in out      # never co-occur
    assert len(out) == 4              # 2 undirected pairs x 2


def test_association_rules_min_count_and_validation(spark):
    from cesium_spark.operators.assoc import association_rules
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "b"), (3, "c")]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["bk", "item"]))
    out = association_rules(df, ["bk"], "item", min_pair_count=2)
    got = {(r["antecedent"], r["consequent"]) for r in out.collect()}
    assert got == {("a", "b"), ("b", "a")}  # b-c pair (count 1) cut
    with pytest.raises(ValueError, match="min_pair_count"):
        association_rules(df, ["bk"], "item", min_pair_count=0)
    with pytest.raises(ValueError, match="basket_cols"):
        association_rules(df, [], "item")


def test_association_rules_independence_lift_one(spark):
    from cesium_spark.operators.assoc import association_rules
    # a and b in every basket: perfectly co-occurring -> lift = 1
    rows = [(i, t) for i in range(10) for t in ("a", "b")]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["bk", "item"]))
    r = association_rules(df, ["bk"], "item").collect()[0]
    assert r["lift"] == 1.0 and r["confidence"] == 1.0
    assert r["support"] == 1.0


# --- Streaming DDSketch tier --------------------------------------------------

def test_stream_ddsketch_cells_equal_batch(spark, tmp_path):
    import pyspark.sql.functions as SF
    from cesium_spark.operators.ddsketch import ddsketch_build
    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_ddsketch_cells, stream_to_table)
    n = 300
    ts = (pd.Timestamp("2024-01-01")
          + pd.to_timedelta(np.arange(n) * 97, "s"))
    rng = np.random.default_rng(4)
    vals = np.round(rng.lognormal(1.0, 1.5, n), 2)
    vals[::41] = 0.0
    pdf = pd.DataFrame({
        "conv_id": ["c%d" % (i % 3) for i in range(n)],
        "channel": "value", "turn_idx": np.arange(n, dtype=np.int32),
        "ts": ts, "t": np.arange(n, dtype=np.float64),
        "y": vals, "e": 1e-4})
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(src)
    io = TableIO(spark, str(tmp_path / "tables"))
    q = stream_to_table(
        stream_ddsketch_cells(stream, "1h", "0 seconds", alpha=0.05),
        io, "sdd", ckpt)
    assert q.awaitTermination(120)
    cols = ["conv_id", "window_start", "store", "bkt", "cnt"]
    # the window containing max(ts) has end > watermark even at a 0 s
    # delay, so availableNow's final flush never emits it — compare on
    # the fully-finalized horizon only
    horizon = ts.max().floor("h")
    got = sorted(map(tuple, io.read("sdd")
                     .where(SF.col("window_start") < SF.lit(horizon))
                     .select(*cols).collect()))
    exp = sorted(map(tuple,
                     ddsketch_build(spark.createDataFrame(pdf), "1h",
                                    ["conv_id"], "y", alpha=0.05)
                     .where(SF.col("window_start") < SF.lit(horizon))
                     .select(*cols).collect()))
    # streaming cells == batch cells, integer-exact
    assert got == exp and len(got) > 20


# --- TPC-H Q5 ----------------------------------------------------------------

def test_tpch_q5_plan_broadcasts_dims_and_pushes_filters(spark):
    import re
    from cesium_spark import driver_queries as dq
    out = dq.q_rel_tpch_q5(spark, "/root/testdata/sf0.001")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in p
    # dimension chain rides broadcasts; date filter reaches the scan
    assert len(re.findall(r"BroadcastExchange", p)) >= 3
    assert "PushedFilters" in p and "1996-01-01" in p
    rows = out.collect()
    assert 0 < len(rows) <= 5
    # fixed-point revenue equals the float formulation to float noise
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "supplier",
              "nation", "region"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'/root/testdata/sf0.001/{t}.parquet'")
    exp = dict(con.sql("""
        SELECT n_name, sum(l_extendedprice * (1.0 - l_discount))
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1997-01-01'
        GROUP BY n_name""").fetchall())
    for r in rows:
        assert abs(r["revenue"] - exp[r["n_name"]]) < 1e-4


# --- Croston intermittent demand ----------------------------------------------

def _croston_ref(y, a=0.25):
    z = p = None
    q = 0
    out = []
    for v in y:
        f = (z / p) if z is not None else None
        qc = q + 1
        if v > 0:
            if z is None:
                z, p = v, float(qc)
            else:
                z = a * v + (1.0 - a) * z
                p = a * float(qc) + (1.0 - a) * p
            q = 0
        else:
            q = qc
        out.append((z, p, f))
    return out


def _croston_df(spark, y):
    n = len(y)
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * n, "channel": ["v"] * n,
        "turn_idx": range(n), "t": [float(i) for i in range(n)],
        "y": y}))


def test_croston_bit_exact_vs_scalar_reference(spark):
    from cesium_spark.operators.smoothing import croston
    rng = np.random.default_rng(6)
    y = np.where(rng.random(80) < 0.25,
                 np.round(rng.lognormal(1, 1, 80), 2), 0.0)
    rows = (croston(_croston_df(spark, y), alpha=0.25)
            .orderBy("turn_idx").collect())
    ref = _croston_ref(y)
    for r, (z, p, f) in zip(rows, ref):
        assert (r["level"] == z if z is not None
                else r["level"] is None)
        assert (r["interval"] == p if p is not None
                else r["interval"] is None)
        assert (r["forecast"] == f if f is not None
                else r["forecast"] is None)
        if f is not None:
            assert r["forecast_sba"] == (1.0 - 0.25 / 2.0) * f


def test_croston_beats_ewma_on_intermittent_demand(spark):
    """The payoff claim: on size-10-every-5-periods demand, Croston's
    demand-per-period forecast converges to ~2, while EWMA decays
    toward 0 through the zero runs and massively under-forecasts the
    long-run rate right before each spike."""
    from cesium_spark.operators.smoothing import croston, ewma
    y = [10.0 if i % 5 == 0 else 0.0 for i in range(100)]
    df = _croston_df(spark, y)
    c = (croston(df, alpha=0.25).orderBy("turn_idx").collect())
    e = (ewma(df, alpha=0.25).orderBy("turn_idx").collect())
    # at the last pre-demand step (i=99), long-run rate is 2.0/period
    cf = c[99]["forecast"]
    es = e[98]["y_smooth"]  # EWMA state right before the next spike
    assert abs(cf - 2.0) < 0.1
    # EWMA has decayed through 3 zeros: ~31% under the true rate and
    # 6x the Croston error (it also overshoots ~2.5x right after each
    # spike — it tracks the oscillation, not the rate)
    assert es < 1.45
    assert abs(cf - 2.0) < abs(es - 2.0) / 6.0


def test_croston_no_demand_and_validation(spark):
    from cesium_spark.operators.smoothing import croston
    rows = (croston(_croston_df(spark, [0.0] * 6), alpha=0.25)
            .collect())
    for r in rows:  # never initializes: honest NULLs, no fake zeros
        assert r["level"] is None and r["forecast"] is None
        assert not r["is_demand"]
    with pytest.raises(ValueError, match="dyadic"):
        croston(_croston_df(spark, [1.0]), alpha=0.3)
    with pytest.raises(ValueError, match="alpha"):
        croston(_croston_df(spark, [1.0]), alpha=1.0)
    with pytest.raises(Exception, match="negative demand"):
        croston(_croston_df(spark, [1.0, -2.0]), alpha=0.25).collect()


# --- Vocabulary novelty drift ---------------------------------------------------

def test_vocab_novelty_hand_example(spark):
    from cesium_spark.operators.textstats import vocab_novelty
    rows = [
        ("2024-01-01 10:00:00", "a b a"),     # day1: {a, b} all new
        ("2024-01-01 11:00:00", "b c"),       # day1: +c -> 3 new of 3
        ("2024-01-02 10:00:00", "a d"),       # day2: d new, a seen
        ("2024-01-03 10:00:00", "a b"),       # day3: nothing new
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ts", "text"])
        .assign(ts=lambda d: pd.to_datetime(d.ts)))
    out = {str(r["bucket"].date()): r for r in
           vocab_novelty(df).collect()}
    d1 = out["2024-01-01"]
    assert (d1["n_tokens"], d1["n_new"], d1["vocab_cum"]) == (3, 3, 3)
    assert d1["new_frac"] == 1.0
    d2 = out["2024-01-02"]
    assert (d2["n_tokens"], d2["n_new"], d2["vocab_cum"]) == (2, 1, 4)
    assert d2["new_frac"] == 0.5
    d3 = out["2024-01-03"]
    assert (d3["n_tokens"], d3["n_new"], d3["vocab_cum"]) == (2, 0, 4)
    assert d3["new_frac"] == 0.0


def test_vocab_novelty_detects_new_domain_spike(spark):
    from cesium_spark.operators.textstats import vocab_novelty
    base = [("2024-01-%02d 09:00:00" % d, "alpha beta gamma delta")
            for d in range(1, 8)]
    spike = [("2024-01-08 09:00:00",
              "votre recherche contient des nouveaux mots")]
    df = spark.createDataFrame(
        pd.DataFrame(base + spike, columns=["ts", "text"])
        .assign(ts=lambda d: pd.to_datetime(d.ts)))
    got = {str(r["bucket"].date()): r["new_frac"]
           for r in vocab_novelty(df).collect()}
    assert got["2024-01-07"] == 0.0       # steady state: no discovery
    assert got["2024-01-08"] == 1.0       # new-language ingest spikes


# --- Exact distributed AUC -----------------------------------------------------

def _auc_df(spark, scores, labels):
    return spark.createDataFrame(pd.DataFrame({
        "score": scores, "label": labels}))


def test_auc_matches_tie_corrected_reference(spark):
    from cesium_spark.operators.scoring import auc_score
    rng = np.random.default_rng(14)
    labels = rng.random(400) < 0.3
    # gridded scores -> heavy ties; positives shifted
    scores = np.round(rng.normal(0, 1, 400) + labels * 0.8, 1)
    r = auc_score(_auc_df(spark, scores, labels),
                  "score", "label").collect()[0]
    # scipy-free exact reference: tie-averaged rank sum
    order = np.argsort(scores, kind="stable")
    s_sorted = scores[order]
    ranks = np.empty(len(scores))
    i = 0
    while i < len(s_sorted):
        j = i
        while j < len(s_sorted) and s_sorted[j] == s_sorted[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # 1-based average rank
        i = j
    npos = labels.sum()
    nneg = len(labels) - npos
    exp = (ranks[labels].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert r["n"] == 400 and r["n_pos"] == npos
    assert abs(r["auc"] - exp) < 1e-12


def test_auc_anchors_and_degenerate(spark):
    from cesium_spark.operators.scoring import auc_score
    # perfect separation -> 1.0; inverted -> 0.0; all-tied -> 0.5
    perfect = auc_score(_auc_df(spark, [1., 2., 3., 4.],
                                [False, False, True, True]),
                        "score", "label").collect()[0]
    assert perfect["auc"] == 1.0
    inv = auc_score(_auc_df(spark, [4., 3., 2., 1.],
                            [False, False, True, True]),
                    "score", "label").collect()[0]
    assert inv["auc"] == 0.0
    tied = auc_score(_auc_df(spark, [7., 7., 7., 7.],
                             [False, True, False, True]),
                     "score", "label").collect()[0]
    assert tied["auc"] == 0.5
    degen = auc_score(_auc_df(spark, [1., 2.], [True, True]),
                      "score", "label").collect()[0]
    assert degen["auc"] is None  # no negatives: undefined, not fake
    # NULL scores dropped and visible via n
    withnull = auc_score(
        _auc_df(spark, [1.0, None, 3.0], [False, True, True]),
        "score", "label").collect()[0]
    assert withnull["n"] == 2


def test_auc_bit_equal_rank_sum_across_partitions(spark):
    """The two-phase rank (range partitions + exclusive partition
    offsets) gives the AUC bit for bit as a numpy rank-sum reference
    with the same integer carry and terminal division, on 12k rows with
    continuous scores and tie groups (including -0.0 == 0.0), at 1 and
    8 shuffle partitions; partition coalescing is off so the 8-way run
    really ranks across partitions."""
    from cesium_spark.operators.scoring import auc_score
    rng = np.random.default_rng(21)
    n = 12_000
    labels = rng.random(n) < 0.4
    scores = rng.normal(0, 1, n) + labels * 0.5
    tied = rng.random(n) < 0.5
    scores[tied] = np.round(scores[tied], 2)
    scores[:40] = 0.0
    scores[40:80] = -0.0
    vals, inv, cnt = np.unique(scores, return_inverse=True,
                               return_counts=True)
    pos = np.bincount(inv[labels], minlength=vals.size)
    r2 = 2 * (np.cumsum(cnt) - cnt) + cnt + 1
    r2_pos = int((pos * r2).sum())
    npos, nneg = float(labels.sum()), float(n - labels.sum())
    exp = (float(r2_pos) - npos * (npos + 1.0)) / (2.0 * npos * nneg)
    df = _auc_df(spark, scores, labels)
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    orig = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[1], "false")
        for parts in (1, 8):
            spark.conf.set(keys[0], str(parts))
            r = auc_score(df, "score", "label").collect()[0]
            assert (r["n"], r["n_pos"]) == (n, int(npos))
            assert r["auc"] == exp, (parts, r["auc"], exp)
    finally:
        for k, v in zip(keys, orig):
            spark.conf.set(k, v)


# --- Benford + Welch -----------------------------------------------------------

def test_benford_hand_counts_and_chi2(spark):
    from cesium_spark.operators.datastats import BENFORD_P, benford_test
    vals = [1.23, 19.99, 0.15, 2.50, 0.01, 31.41, 0.0, None]
    df = spark.createDataFrame(pd.DataFrame({"value": vals}))
    rows = {r["digit"]: r for r in
            benford_test(df, "value").collect()}
    # digits: 123->1, 1999->1, 15->1, 250->2, 1->1, 3141->3; 0/None out
    assert rows[1]["n_obs"] == 4 and rows[2]["n_obs"] == 1
    assert rows[3]["n_obs"] == 1 and rows[9]["n_obs"] == 0
    assert len(rows) == 9
    n = 6
    chi2 = sum((rows[d]["n_obs"] - n * BENFORD_P[d - 1]) ** 2
               / (n * BENFORD_P[d - 1]) for d in range(1, 10))
    assert abs(rows[5]["chi2_total"] - chi2) < 1e-9


def test_benford_detects_benford_vs_uniform(spark):
    from cesium_spark.operators.datastats import benford_test
    rng = np.random.default_rng(3)
    # log-uniform over 4 decades IS Benford; uniform is not
    benf = np.round(10 ** rng.uniform(-1, 3, 4000), 2)
    unif = np.round(rng.uniform(1, 10, 4000), 2)
    c_b = benford_test(spark.createDataFrame(
        pd.DataFrame({"value": benf})), "value") \
        .collect()[0]["chi2_total"]
    c_u = benford_test(spark.createDataFrame(
        pd.DataFrame({"value": unif})), "value") \
        .collect()[0]["chi2_total"]
    assert c_b < 20 < 500 < c_u  # chi2(8df) 99.9% crit ~ 26


def test_benford_off_grid_raises(spark):
    from cesium_spark.operators.datastats import benford_test
    df = spark.createDataFrame(pd.DataFrame({"value": [1.234]}))
    with pytest.raises(Exception, match="off the 1/100 grid"):
        benford_test(df, "value").collect()


def test_welch_matches_scipy_formula(spark):
    from cesium_spark.operators.datastats import welch_ttest
    rng = np.random.default_rng(8)
    a = np.round(rng.normal(10, 2, 120), 2)
    b = np.round(rng.normal(9, 3, 200), 2)
    df = spark.createDataFrame(pd.DataFrame({
        "value": np.concatenate([a, b]),
        "g": [True] * 120 + [False] * 200}))
    r = welch_ttest(df, "value", "g").collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / 120 + vb / 200
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    dof = se2 ** 2 / ((va / 120) ** 2 / 119 + (vb / 200) ** 2 / 199)
    assert (r["n_a"], r["n_b"]) == (120, 200)
    assert abs(r["mean_a"] - a.mean()) < 1e-9
    assert abs(r["t_stat"] - t) < 1e-9
    assert abs(r["dof"] - dof) < 1e-6


def test_welch_degenerate_null(spark):
    from cesium_spark.operators.datastats import welch_ttest
    # constant values in both groups: zero variance -> NULL t, not inf
    df = spark.createDataFrame(pd.DataFrame({
        "value": [5.0, 5.0, 5.0, 5.0],
        "g": [True, True, False, False]}))
    r = welch_ttest(df, "value", "g").collect()[0]
    assert r["t_stat"] is None and r["dof"] is None


# --- Triangle counting -----------------------------------------------------------

def test_triangle_stats_hand_graphs(spark):
    from cesium_spark.operators.graphrank import triangle_stats

    def stats(edges):
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"]))
        return triangle_stats(df).collect()[0]

    # K4: 4 triangles, 12 wedges, cc = 1
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    r = stats(k4)
    assert (r["n_nodes"], r["n_edges"]) == (4, 6)
    assert r["n_triangles"] == 4 and r["n_wedges"] == 12
    assert r["global_cc"] == 1.0
    # path a-b-c: 1 wedge, 0 triangles
    r = stats([("a", "b"), ("b", "c")])
    assert r["n_triangles"] == 0 and r["n_wedges"] == 1
    assert r["global_cc"] == 0.0
    # direction/duplicates/self-loops collapse: same triangle once
    messy = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "c"), ("a", "a")]
    r = stats(messy)
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)
    assert r["global_cc"] == 1.0


def test_triangle_stats_no_wedges_null_cc(spark):
    from cesium_spark.operators.graphrank import triangle_stats
    df = spark.createDataFrame(
        pd.DataFrame([("a", "b")], columns=["src", "dst"]))
    r = triangle_stats(df).collect()[0]
    assert r["n_wedges"] == 0 and r["global_cc"] is None


# --- Mann-Kendall ----------------------------------------------------------------

def _mk_brute(y):
    import numpy as np
    y = np.asarray(y, dtype=float)
    n = len(y)
    s = sum(int(np.sign(y[j] - y[i]))
            for i in range(n) for j in range(i + 1, n))
    tied = sum(int(y[i] == y[j])
               for i in range(n) for j in range(i + 1, n))
    _, c = np.unique(y, return_counts=True)
    var18 = (n * (n - 1) * (2 * n + 5)
             - sum(int(k) * (int(k) - 1) * (2 * int(k) + 5) for k in c))
    return s, tied, var18


def _mk_df(spark, y):
    rows = [("c", i, float(i), float(v)) for i, v in enumerate(y)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, t double, y double")


def test_mann_kendall_vs_bruteforce(spark):
    import numpy as np
    from cesium_spark.operators.seriesstats import mann_kendall
    rng = np.random.default_rng(7)
    for trial in range(6):
        # heavy ties: values drawn from a small integer alphabet
        y = rng.integers(0, 5, size=int(rng.integers(2, 60))).tolist()
        s, tied, var18 = _mk_brute(y)
        r = mann_kendall(_mk_df(spark, y)).collect()[0]
        assert (r["s_stat"], r["tied_pairs"], r["var18"]) == \
            (s, tied, var18), f"trial {trial}: {y}"


def test_mann_kendall_monotone_and_z(spark):
    import math
    from cesium_spark.operators.seriesstats import mann_kendall
    # strictly increasing: S = n(n-1)/2, tau_b = 1
    r = mann_kendall(_mk_df(spark, list(range(10)))).collect()[0]
    assert r["s_stat"] == 45 and r["tau_b"] == 1.0
    var18 = 10 * 9 * 25
    assert r["var18"] == var18
    assert abs(r["z"] - (45 - 1) / math.sqrt(var18 / 18.0)) < 1e-12
    # strictly decreasing mirrors
    r = mann_kendall(_mk_df(spark, list(range(10, 0, -1)))).collect()[0]
    assert r["s_stat"] == -45 and r["tau_b"] == -1.0


def test_mann_kendall_degenerate(spark):
    from cesium_spark.operators.seriesstats import mann_kendall
    # all tied: var18 = 0 -> z NULL, tau NULL, S = 0
    r = mann_kendall(_mk_df(spark, [3.0] * 8)).collect()[0]
    assert r["s_stat"] == 0 and r["var18"] == 0
    assert r["z"] is None and r["tau_b"] is None
    # n = 1 drops out
    assert mann_kendall(_mk_df(spark, [1.0])).count() == 0


# --- Chi-square independence ------------------------------------------------------

def test_chi2_independence_hand(spark):
    from cesium_spark.operators.datastats import chi2_independence
    df = spark.createDataFrame(pd.DataFrame({
        "a": ["x"] * 30 + ["y"] * 30,
        "b": ["p"] * 25 + ["q"] * 5 + ["p"] * 10 + ["q"] * 20}))
    r = chi2_independence(df, "a", "b").toPandas().sort_values(["a", "b"])
    # classic 2x2: chi2 = 60*(25*20-5*10)^2/(30*30*35*25)
    chi2 = 60 * (25 * 20 - 5 * 10) ** 2 / (30 * 30 * 35 * 25)
    assert abs(r["chi2_total"].iloc[0] - chi2) < 1e-9
    assert (r["dof"] == 1).all() and (r["n"] == 60).all()
    assert abs(r["cramers_v"].iloc[0] - (chi2 / 60) ** 0.5) < 1e-12
    assert list(r["n_obs"]) == [25, 5, 10, 20]
    assert abs(r["expected"].iloc[0] - 30 * 35 / 60) < 1e-12


def test_chi2_independence_dense_zero_cells(spark):
    from cesium_spark.operators.datastats import chi2_independence
    # (y, q) never occurs -> must still appear with n_obs = 0 and a
    # real chi2 contribution
    df = spark.createDataFrame(pd.DataFrame({
        "a": ["x", "x", "y"], "b": ["p", "q", "p"]}))
    r = chi2_independence(df, "a", "b").toPandas()
    assert len(r) == 4
    zero = r[(r["a"] == "y") & (r["b"] == "q")]
    assert len(zero) == 1 and zero["n_obs"].iloc[0] == 0
    assert zero["expected"].iloc[0] > 0
    assert zero["contrib"].iloc[0] > 0


def test_chi2_independence_degenerate_1xc(spark):
    from cesium_spark.operators.datastats import chi2_independence
    df = spark.createDataFrame(pd.DataFrame({
        "a": ["x", "x", "x"], "b": ["p", "q", "p"]}))
    r = chi2_independence(df, "a", "b").toPandas()
    assert (r["dof"] == 0).all()
    assert (r["chi2_total"] == 0.0).all()
    assert r["cramers_v"].isna().all()


# --- Local clustering coefficient -------------------------------------------------

def test_local_clustering_hand_graphs(spark):
    from cesium_spark.operators.graphrank import local_clustering

    def run(edges, k=50):
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst"]))
        return {r["v"]: r for r in local_clustering(df, k).collect()}

    # K4: every node deg 3, in 3 triangles, cc = 1
    r = run([(a, b) for a in "abcd" for b in "abcd" if a < b])
    assert all(r[v]["deg"] == 3 and r[v]["n_tri"] == 3
               and r[v]["local_cc"] == 1.0 for v in "abcd")
    # star: center deg 3 cc 0; leaves deg 1 cc NULL
    r = run([("c0", "l1"), ("c0", "l2"), ("c0", "l3")])
    assert r["c0"]["local_cc"] == 0.0 and r["c0"]["n_tri"] == 0
    assert r["l1"]["local_cc"] is None
    # triangle + pendant off 'a': a has deg 3, 1 triangle, cc = 1/3
    r = run([("a", "b"), ("b", "c"), ("c", "a"), ("a", "p")])
    assert r["a"]["n_tri"] == 1 and abs(r["a"]["local_cc"] - 1 / 3) < 1e-12
    assert r["b"]["local_cc"] == 1.0


def test_local_clustering_topk_rank(spark):
    from cesium_spark.operators.graphrank import local_clustering
    edges = [("h", x) for x in "abcde"] + [("a", "b")]
    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]))
    rows = local_clustering(df, top_k=3).collect()
    # h (deg 5) first, then a, b (deg 2 each, node-asc tiebreak)
    assert [r["v"] for r in rows] == ["h", "a", "b"]


# --- Granger nested-model F-test ---------------------------------------------------

def test_ols_granger_matches_numpy_lstsq(spark):
    import numpy as np
    from cesium_spark.operators.scoring import ols_granger
    rng = np.random.default_rng(7)
    n = 200
    x1 = rng.integers(0, 50, n)
    x2 = rng.integers(0, 50, n)
    y = (3 + 2 * x1 + x2 + rng.integers(-4, 5, n)).astype("int64")
    df = spark.createDataFrame(pd.DataFrame(
        {"y": y, "x1": x1.astype("int64"), "x2": x2.astype("int64")}))
    r = ols_granger(df, "y", "x1", "x2").collect()[0]
    # restricted / unrestricted SSEs via numpy normal-equation solves
    Xu = np.column_stack([np.ones(n), x1, x2]).astype(float)
    Xr = np.column_stack([np.ones(n), x1]).astype(float)
    bu, *_ = np.linalg.lstsq(Xu, y.astype(float), rcond=None)
    br, *_ = np.linalg.lstsq(Xr, y.astype(float), rcond=None)
    sse_u = float(((y - Xu @ bu) ** 2).sum())
    sse_r = float(((y - Xr @ br) ** 2).sum())
    f = (sse_r - sse_u) / (sse_u / (n - 3))
    assert r["n"] == n
    assert abs(r["b2"] - bu[2]) < 1e-6
    assert abs(r["sse_u"] - sse_u) < 1e-4 * max(1, sse_u)
    assert abs(r["sse_r"] - sse_r) < 1e-4 * max(1, sse_r)
    assert abs(r["f_stat"] - f) < 1e-4 * max(1, f)
    assert r["f_stat"] > 100  # x2 genuinely adds signal here


def test_ols_granger_useless_x2_small_f(spark):
    import numpy as np
    from cesium_spark.operators.scoring import ols_granger
    rng = np.random.default_rng(11)
    n = 400
    x1 = rng.integers(0, 50, n)
    x2 = rng.integers(0, 50, n)          # independent of y
    y = (5 + 3 * x1 + rng.integers(-3, 4, n)).astype("int64")
    df = spark.createDataFrame(pd.DataFrame(
        {"y": y, "x1": x1.astype("int64"), "x2": x2.astype("int64")}))
    r = ols_granger(df, "y", "x1", "x2").collect()[0]
    assert r["f_stat"] is not None and r["f_stat"] < 5.0


def test_ols_granger_degenerates(spark):
    from cesium_spark.operators.scoring import ols_granger
    # collinear x2 = 2*x1 -> singular unrestricted Gram -> NULL b2/f
    df = spark.createDataFrame(pd.DataFrame(
        {"y": [1, 2, 3, 4, 5], "x1": [1, 2, 3, 4, 5],
         "x2": [2, 4, 6, 8, 10]}))
    r = ols_granger(df, "y", "x1", "x2").collect()[0]
    assert r["b2"] is None and r["f_stat"] is None
    assert r["sse_r"] is not None          # restricted fit still fine
    # exact unrestricted fit (sse_u = 0) -> F undefined, NULL not inf
    df2 = spark.createDataFrame(pd.DataFrame(
        {"y": [3, 5, 8, 10, 13], "x1": [1, 2, 3, 4, 5],
         "x2": [0, 0, 1, 0, 1]}))
    r2 = ols_granger(df2, "y", "x1", "x2").collect()[0]
    if r2["sse_u"] == 0.0:
        assert r2["f_stat"] is None
    # n <= 3 -> NULL f
    df3 = spark.createDataFrame(pd.DataFrame(
        {"y": [1, 2, 7], "x1": [1, 3, 4], "x2": [2, 1, 9]}))
    r3 = ols_granger(df3, "y", "x1", "x2").collect()[0]
    assert r3["f_stat"] is None
    # float input rejected
    df4 = spark.createDataFrame(pd.DataFrame(
        {"y": [1.0, 2.0], "x1": [1, 2], "x2": [3, 4]}))
    import pytest as _pt
    with _pt.raises(ValueError, match="integer inputs"):
        ols_granger(df4, "y", "x1", "x2")
