"""Session-15 operators: Kruskal–Wallis and friends."""
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _kw_ref(groups):
    """Literal Kruskal–Wallis with midranks + tie correction."""
    allv = np.concatenate(groups).astype(float)
    order = np.argsort(allv, kind="stable")
    ranks = np.empty(len(allv))
    # midranks
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2 + 1
        i = j + 1
    n = len(allv)
    off = 0
    b = 0.0
    for g in groups:
        r = ranks[off:off + len(g)]
        b += r.sum() ** 2 / len(g)
        off += len(g)
    h = 12.0 / (n * (n + 1)) * b - 3.0 * (n + 1)
    _, counts = np.unique(allv, return_counts=True)
    tm = int(np.sum(counts ** 3 - counts))
    corr = 1.0 - tm / (n ** 3 - n)
    return h, h / corr, tm


def _grouped(spark, groups):
    rows = []
    for gi, g in enumerate(groups):
        for v in g:
            rows.append(("c", len(rows), f"g{gi}", int(v)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    pdf["y"] = pdf["y"].astype(np.int64)
    return spark.createDataFrame(pdf)


def test_kruskal_matches_ref(spark):
    from cesium_spark.operators.seriesstats import kruskal_wallis
    rng = np.random.RandomState(31)
    groups = [rng.randint(0, 30, 40),          # baseline
              rng.randint(10, 40, 35),         # shifted up
              rng.randint(0, 30, 25)]
    row = kruskal_wallis(_grouped(spark, groups)).collect()[0]
    h, hc, tm = _kw_ref(groups)
    assert row["n"] == 100 and row["k"] == 3
    assert row["tie_mass"] == tm
    assert abs(row["h_stat"] - h) < 1e-9
    assert abs(row["h_corrected"] - hc) < 1e-9
    assert row["h_corrected"] > 9.21            # chi2(2) 1% critical


def test_kruskal_rank_invariant_where_anova_is_not(spark):
    """Inflating the already-maximal value changes NO rank, so H is
    BIT-identical — while the parametric F moves by orders of
    magnitude. The whole point of the rank twin, stated exactly."""
    from cesium_spark.operators.seriesstats import (anova_oneway,
                                                    kruskal_wallis)
    rng = np.random.RandomState(7)
    a = rng.randint(10, 20, 30)
    b = rng.randint(10, 20, 30).astype(np.int64)
    b[0] = 25                                    # unique maximum
    base_h = kruskal_wallis(_grouped(spark, [a, b])).collect()[0]
    base_f = anova_oneway(_grouped(spark, [a, b])).collect()[0]["f_stat"]
    b[0] = 100000                                # same rank, huge value
    whale_h = kruskal_wallis(_grouped(spark, [a, b])).collect()[0]
    whale_f = anova_oneway(_grouped(spark, [a, b])).collect()[0]["f_stat"]
    assert whale_h["h_corrected"] == base_h["h_corrected"]   # bitwise
    assert whale_h["tie_mass"] == base_h["tie_mass"]
    # F is value-sensitive: the whale drags it toward its ~1 saturation
    # point (one outlier dominates both SSB and SSW) — a >30% move,
    # while H did not change a single bit
    assert abs(whale_f - base_f) / base_f > 0.30


def test_kruskal_degenerates(spark):
    from cesium_spark.operators.seriesstats import kruskal_wallis
    # all values identical -> C = 0 -> NULLs, tie_mass = n^3 - n
    row = kruskal_wallis(_grouped(spark, [[5, 5], [5, 5]])).collect()[0]
    assert row["h_stat"] is None and row["h_corrected"] is None
    assert row["tie_mass"] == 4 ** 3 - 4
    # single group -> k < 2 -> NULL
    row = kruskal_wallis(_grouped(spark, [[1, 2, 3]])).collect()[0]
    assert row["k"] == 1 and row["h_stat"] is None
    # float y refuses
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0],
                        "channel": ["a"], "y": [1.5]})
    with pytest.raises(ValueError, match="integer"):
        kruskal_wallis(spark.createDataFrame(pdf))


# --- Ljung-Box --------------------------------------------------------------

def _series15(spark, ys):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(ys),
        "turn_idx": np.arange(len(ys), dtype=np.int32),
        "t": np.arange(len(ys), dtype=np.float64),
        "y": np.asarray(ys, dtype=np.int64)})
    return spark.createDataFrame(pdf)


def _lb_ref(y, m=3):
    y = np.asarray(y, dtype=float)
    n = len(y)
    d = n * y - y.sum()                       # scaled devs (exact form)
    n0 = np.sum(d * d)
    q = 0.0
    rhos = []
    for k in range(1, m + 1):
        rho = np.sum(d[k:] * d[:-k]) / n0
        rhos.append(rho)
        q += rho * rho / (n - k)
    return rhos, n * (n + 2) * q


def test_ljung_box_matches_ref(spark):
    from cesium_spark.operators.seriesstats import ljung_box
    rng = np.random.RandomState(55)
    # AR(1)-ish: strong lag-1 structure -> Q must exceed chi2(3) 1%
    y = [10]
    for _ in range(79):
        y.append(int(round(0.8 * y[-1] + 0.2 * 10 + rng.randint(-2, 3))))
    row = ljung_box(_series15(spark, y)).collect()[0]
    rhos, q = _lb_ref(y)
    assert row["n"] == 80
    for k in (1, 2, 3):
        assert abs(row[f"rho{k}"] - rhos[k - 1]) < 1e-12
    assert abs(row["q_lb"] - q) < 1e-9
    assert row["q_lb"] > 11.34                # chi2(3) 1% critical


def test_ljung_box_white_noise_small(spark):
    from cesium_spark.operators.seriesstats import ljung_box
    rng = np.random.RandomState(4)
    y = rng.randint(0, 100, 200)
    row = ljung_box(_series15(spark, y)).collect()[0]
    _, q = _lb_ref(y)
    assert abs(row["q_lb"] - q) < 1e-9
    assert row["q_lb"] < 11.34                # iid noise stays under


def test_ljung_box_degenerates(spark):
    from cesium_spark.operators.seriesstats import ljung_box
    # constant series: N0 = 0 -> NULL, never "definitely white"
    row = ljung_box(_series15(spark, [5, 5, 5, 5, 5])).collect()[0]
    assert row["q_lb"] is None and row["rho1"] is None
    # n = 3: lag-3 unmeasurable -> NULL
    row = ljung_box(_series15(spark, [1, 2, 3])).collect()[0]
    assert row["q_lb"] is None


# --- Allan variance ---------------------------------------------------------

def _ts_conv(spark, gaps):
    """Build a 1-conversation transcript whose inter-turn gaps are
    exactly `gaps` seconds."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    ts = [t0]
    for g in gaps:
        ts.append(ts[-1] + dt.timedelta(seconds=int(g)))
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(ts),
        "turn_idx": np.arange(len(ts), dtype=np.int32),
        "role": ["user"] * len(ts),
        "text": ["x"] * len(ts),
        "tool": [None] * len(ts),
        "ts": ts})
    return spark.createDataFrame(pdf)


def _avar_ref(gaps, m):
    g = np.asarray(gaps, dtype=np.int64)
    k = len(g) // m
    b = g[:k * m].reshape(k, m).sum(axis=1)
    d = np.diff(b)
    return int(np.sum(d * d)), int(np.sum(d * d)) / (2.0 * (k - 1) * m * m)


def test_allan_matches_ref_and_tail_drop(spark):
    from cesium_spark.operators.seriesstats import allan_variance
    rng = np.random.RandomState(9)
    gaps = rng.randint(5, 120, 43)            # 43 gaps: tails at m=2,4
    rows = {r["m"]: r for r in
            allan_variance(_ts_conv(spark, gaps)).collect()}
    for m in (1, 2, 4):
        d, av = _avar_ref(gaps, m)
        assert rows[m]["n_gaps"] == 43
        assert rows[m]["k_blocks"] == 43 // m   # incomplete tail dropped
        assert rows[m]["d_sum"] == d
        assert rows[m]["avar"] == av            # bit-identical division


def test_allan_white_vs_drift(spark):
    from cesium_spark.operators.seriesstats import allan_variance
    rng = np.random.RandomState(3)
    white = rng.randint(20, 40, 64)            # iid cadence
    drift = 20 + np.arange(64) * 3             # steadily slowing agent
    w = {r["m"]: r["avar"] for r in
         allan_variance(_ts_conv(spark, white)).collect()}
    d = {r["m"]: r["avar"] for r in
         allan_variance(_ts_conv(spark, drift)).collect()}
    assert w[4] < w[1]                         # white noise averages down
    assert d[4] > d[1]                         # drift grows with m


def test_allan_degenerates(spark):
    from cesium_spark.operators.seriesstats import allan_variance
    # 5 gaps: at m=4 only one block -> K < 2 -> NULL avar
    rows = {r["m"]: r for r in
            allan_variance(_ts_conv(spark, [10, 20, 30, 40, 50])).collect()}
    assert rows[4]["k_blocks"] == 1 and rows[4]["avar"] is None
    assert rows[1]["avar"] is not None
    # non-monotone timestamps raise
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame({
        "conv_id": ["c", "c"], "turn_idx": np.array([0, 1], np.int32),
        "role": ["user"] * 2, "text": ["x"] * 2, "tool": [None] * 2,
        "ts": [t0, t0 - dt.timedelta(seconds=5)]})
    with pytest.raises(Exception, match="negative gap"):
        allan_variance(spark.createDataFrame(pdf)).collect()


# --- DSIR -------------------------------------------------------------------

def _dsir_ref(docs, targets, B=256):
    """Literal DSIR replay: hashed unigram+bigram counts, add-one
    smoothing, bucket-ordered fold."""
    import hashlib

    def bucket(item):
        return int(hashlib.md5(f"g:{item}".encode()).hexdigest()[:8],
                   16) % B

    def items(text):
        t = text.strip().split()
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    rc, tc = {}, {}
    for txt in docs:
        for i in items(txt):
            rc[bucket(i)] = rc.get(bucket(i), 0) + 1
    for txt in targets:
        for i in items(txt):
            tc[bucket(i)] = tc.get(bucket(i), 0) + 1
    tr, tt = sum(rc.values()), sum(tc.values())
    out = []
    for txt in docs:
        cb = {}
        for i in items(txt):
            cb[bucket(i)] = cb.get(bucket(i), 0) + 1
        logw = 0.0
        for b in sorted(cb):
            d = (np.log((tc.get(b, 0) + 1.0) / (tt + B))
                 - np.log((rc.get(b, 0) + 1.0) / (tr + B)))
            logw += cb[b] * d
        out.append(logw)
    return out


def test_dsir_matches_ref_and_finds_target_like(spark):
    from cesium_spark.operators.sampling import dsir_logweights
    tvocab = ["alpha", "beta", "gamma", "delta"]
    rvocab = ["noise", "junk", "spam", "blah"]
    rng = np.random.RandomState(11)

    def mk(vocab, n=12):
        return " ".join(rng.choice(vocab, n))

    rows = []
    for i in range(6):
        rows.append((i, mk(tvocab), True))        # target docs
    for i in range(6, 18):
        rows.append((i, mk(rvocab), False))       # raw noise
    rows.append((18, mk(tvocab), False))          # target-LIKE outsider
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "is_t"])
    df = spark.createDataFrame(pdf)
    out = dsir_logweights(df, F.col("is_t")).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    ref = _dsir_ref(list(pdf["text"]),
                    list(pdf[pdf["is_t"]]["text"]))
    for i in range(len(pdf)):
        assert abs(out["logw"][i] - ref[i]) < 1e-9, i
    # the point of DSIR: the outsider written in target vocabulary
    # outranks every noise doc
    noise_max = out[(~out["in_target"]) & (out["doc_id"] < 18)]["logw"].max()
    assert out[out["doc_id"] == 18]["logw"].iloc[0] > noise_max + 1.0


def test_dsir_empty_target_raises(spark):
    from cesium_spark.operators.sampling import dsir_logweights
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]})
    df = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="empty target"):
        dsir_logweights(df, F.lit(False)).collect()


# --- TPC-H Q4 / Q12 adaptations --------------------------------------------

def test_q4_semi_join_counts_order_once(spark):
    """An order with MANY late lines counts once (the EXISTS
    contract), and the join is semi, not inner+distinct."""
    import datetime as dt
    od = spark.createDataFrame(pd.DataFrame({
        "o_orderkey": [1, 2, 3],
        "o_orderdate": [dt.datetime(1996, 7, 2)] * 3,
        "o_orderpriority": ["1-URGENT", "1-URGENT", "5-LOW"]}))
    li = spark.createDataFrame(pd.DataFrame({
        "l_orderkey": [1, 1, 1, 3],
        "l_shipdate": [dt.datetime(1996, 9, 30)] * 3
        + [dt.datetime(1996, 7, 10)]}))          # order 3: on time
    from pyspark.sql import functions as FF
    late = od.join(
        li, (FF.col("l_orderkey") == FF.col("o_orderkey"))
        & (FF.col("l_shipdate")
           > FF.col("o_orderdate") + FF.expr("INTERVAL 30 DAYS")),
        "left_semi")
    got = {r["o_orderpriority"]: r["cnt"] for r in
           late.groupBy("o_orderpriority")
           .agg(FF.count(FF.lit(1)).alias("cnt")).collect()}
    assert got == {"1-URGENT": 1}                # 3 late lines -> 1 order
    plan = late._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Cartesian" not in plan


def test_q12_broadcast_no_shuffle_join(spark):
    """The executed Q12 plan broadcasts orders - the fact table is
    never shuffled for the join."""
    import re
    from cesium_spark.driver_queries import q_rel_tpch_q12
    out = q_rel_tpch_q12(spark, "/root/testdata/sf0.001")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    # only exchanges: the broadcast + the tiny post-agg hash/sort
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1


# --- k-core -----------------------------------------------------------------

def _edges15(spark, pairs):
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    return spark.createDataFrame(pdf)


def test_kcore_textbook_graph(spark):
    """Clique K4 + a pendant chain: the 3-core is exactly the clique,
    and the chain peels over MULTIPLE rounds (cascade, not filter)."""
    from cesium_spark.operators.graphrank import kcore
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "e"), ("e", "f"), ("f", "g")]
    got = {r["v"]: r["core_deg"]
           for r in kcore(_edges15(spark, k4 + chain), k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_kcore_ref_replay_random(spark):
    from cesium_spark.operators.graphrank import kcore
    rng = np.random.RandomState(5)
    pairs = {(int(a), int(b)) for a, b in rng.randint(0, 40, (300, 2))
             if a < b}
    got = {r["v"]: r["core_deg"]
           for r in kcore(_edges15(spark, sorted(pairs)), k=8).collect()}
    # literal peel replay
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    live = {v: set(n) for v, n in adj.items()}
    while True:
        bad = [v for v, n in live.items() if len(n) < 8]
        if not bad:
            break
        for v in bad:
            for w in live[v]:
                live[w].discard(v)
            del live[v]
    assert got == {v: len(n) for v, n in live.items()}


def test_kcore_empty_core_and_guards(spark):
    from cesium_spark.operators.graphrank import kcore
    # a triangle has no 3-core members (deg 2 < 3) -> empty result
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    assert kcore(_edges15(spark, tri), k=3).count() == 0
    with pytest.raises(ValueError, match="bad k"):
        kcore(_edges15(spark, tri), k=0)
    with pytest.raises(RuntimeError, match="no fixpoint"):
        # chain of 6 needs 3 peel rounds at k=2... max_iter=1 must abort
        chain = [(str(i), str(i + 1)) for i in range(6)]
        kcore(_edges15(spark, chain), k=2, max_iter=1)


# --- Kendall tau-b ----------------------------------------------------------

def _two_channel(spark, xs, ys):
    rows = []
    for i, (x, y) in enumerate(zip(xs, ys)):
        rows.append(("c", i, "a", float(x)))
        rows.append(("c", i, "b", float(y)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    return spark.createDataFrame(pdf)


def _tau_ref(xs, ys):
    n = len(xs)
    s = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx, dy = xs[j] - xs[i], ys[j] - ys[i]
            s += int(np.sign(dx)) * int(np.sign(dy))
            tx += dx == 0
            ty += dy == 0
    p = n * (n - 1) / 2
    return s, tx, ty, s / np.sqrt((p - tx) * (p - ty))


def test_kendall_matches_ref_with_ties(spark):
    from cesium_spark.operators.seriesstats import kendall_channels
    rng = np.random.RandomState(21)
    xs = rng.randint(0, 8, 60)              # heavy ties
    ys = (xs * 2 + rng.randint(-3, 4, 60))  # positive association
    row = kendall_channels(_two_channel(spark, xs, ys),
                           "a", "b").collect()[0]
    s, tx, ty, tau = _tau_ref(list(xs), list(ys))
    assert (row["s_stat"], row["tx"], row["ty"]) == (s, tx, ty)
    assert abs(row["tau_b"] - tau) < 1e-12
    assert row["tau_b"] > 0.5 and not row["capped"]


def test_kendall_monotone_invariance_and_cap(spark):
    """tau-b is invariant under any monotone transform of either
    channel — Pearson is not. Also: >max_points aligns get thinned
    with the capped flag."""
    from cesium_spark.operators.seriesstats import kendall_channels
    rng = np.random.RandomState(2)
    xs = rng.permutation(200).astype(float)
    ys = rng.permutation(200).astype(float)
    t1 = kendall_channels(_two_channel(spark, xs, ys), "a", "b",
                          max_points=64).collect()[0]
    t2 = kendall_channels(_two_channel(spark, np.exp(xs / 50), ys),
                          "a", "b", max_points=64).collect()[0]
    assert t1["capped"] and t1["n_used"] == 64
    assert t1["s_stat"] == t2["s_stat"]       # monotone-invariant, exact
    assert t1["tau_b"] == t2["tau_b"]


def test_kendall_degenerates(spark):
    from cesium_spark.operators.seriesstats import kendall_channels
    # constant channel -> A = 0 -> NULL
    row = kendall_channels(_two_channel(spark, [1, 1, 1], [1, 2, 3]),
                           "a", "b").collect()[0]
    assert row["tau_b"] is None and row["tx"] == 3
    # single pair -> NULL
    row = kendall_channels(_two_channel(spark, [1], [2]),
                           "a", "b").collect()[0]
    assert row["tau_b"] is None and row["n_used"] == 1
    with pytest.raises(ValueError, match="differ"):
        kendall_channels(_two_channel(spark, [1], [2]), "a", "a")


# --- Cohen's kappa ----------------------------------------------------------

def _roles(spark, roles):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(roles),
        "turn_idx": np.arange(len(roles), dtype=np.int32),
        "role": roles})
    return spark.createDataFrame(pdf)


def test_kappa_matches_sklearn_free_ref(spark):
    from cesium_spark.operators.sequences import cohen_kappa_adjacent
    rng = np.random.RandomState(13)
    roles = list(rng.choice(["u", "a", "t"], 120, p=[0.5, 0.4, 0.1]))
    row = cohen_kappa_adjacent(_roles(spark, roles)).collect()[0]
    r1, r2 = roles[:-1], roles[1:]
    n = len(r1)
    a = sum(x == y for x, y in zip(r1, r2))
    ks = set(roles)
    e = sum(r1.count(k) * r2.count(k) for k in ks)
    assert (row["n_pairs"], row["n_agree"], row["e_sum"]) == (n, a, e)
    assert abs(row["kappa"] - (n * a - e) / (n * n - e)) < 1e-15


def test_kappa_signs_and_degenerates(spark):
    from cesium_spark.operators.sequences import cohen_kappa_adjacent
    # strict alternation: anti-persistent -> kappa < 0
    alt = cohen_kappa_adjacent(
        _roles(spark, ["u", "a"] * 20)).collect()[0]
    assert alt["kappa"] < -0.9
    # blocks: sticky -> kappa > 0
    sticky = cohen_kappa_adjacent(
        _roles(spark, ["u"] * 20 + ["a"] * 20)).collect()[0]
    assert sticky["kappa"] > 0.9
    # single role: p_e = 1 -> NULL, never fake-perfect 1
    solo = cohen_kappa_adjacent(_roles(spark, ["u"] * 9)).collect()[0]
    assert solo["kappa"] is None and solo["n_agree"] == 8
    # one-turn conversation: no pairs -> absent from output
    assert cohen_kappa_adjacent(_roles(spark, ["u"])).count() == 0


# --- Lorenz deciles ---------------------------------------------------------

def test_lorenz_matches_ref_and_brackets_gini(spark):
    from cesium_spark.operators.seriesstats import lorenz_deciles
    rng = np.random.RandomState(77)
    ys = rng.randint(0, 200, 70)
    row = lorenz_deciles(_series15(spark, ys)).collect()[0]
    srt = np.sort(ys)
    tot = srt.sum()
    for d in range(1, 10):
        k = (70 * d) // 10
        assert row[f"l{d}0"] == srt[:k].sum() / tot   # bit-exact
    # curve is monotone and under the diagonal
    ls = [row[f"l{d}0"] for d in range(1, 10)]
    assert all(a <= b for a, b in zip(ls, ls[1:]))
    assert all(ls[d - 1] <= d / 10 + 1e-12 for d in range(1, 10))


def test_lorenz_whale_and_degenerates(spark):
    from cesium_spark.operators.seriesstats import lorenz_deciles
    # 9 single-token turns + one whale carrying ~92% of the mass
    row = lorenz_deciles(_series15(spark, [1] * 9 + [100])).collect()[0]
    assert row["l90"] == 9 / 109                 # smallest 9 carry 8%
    assert row["l10"] == 1 / 109
    # all-zero -> NULL curve (shares of nothing undefined)
    row = lorenz_deciles(_series15(spark, [0, 0, 0])).collect()[0]
    assert row["l50"] is None and row["total"] == 0
    with pytest.raises(Exception, match="negative value"):
        lorenz_deciles(_series15(spark, [1, -2, 3])).collect()
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "y": [1.5]})
    with pytest.raises(ValueError, match="integer"):
        lorenz_deciles(spark.createDataFrame(pdf))


# --- decomposition strength -------------------------------------------------

def _chan_series(spark, ys):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(ys), "channel": ["v"] * len(ys),
        "turn_idx": np.arange(len(ys), dtype=np.int32),
        "ts": pd.date_range("2024-01-01", periods=len(ys), freq="min"),
        "t": np.arange(len(ys), dtype=np.float64),
        "y": np.asarray(ys, dtype=np.float64)})
    return spark.createDataFrame(pdf)


def _strength_ref(ys, period=7):
    y = np.asarray(ys, dtype=float)
    n, half = len(y), (period - 1) // 2
    trend = np.full(n, np.nan)
    for i in range(half, n - half):
        trend[i] = np.mean(y[i - half:i + half + 1])
    det = y - trend
    slots = np.arange(n) % period
    slot_mean = np.array([np.nanmean(det[slots == s])
                          if np.any(~np.isnan(det[slots == s]))
                          else np.nan for s in range(period)])
    ctr = np.nanmean(slot_mean[np.unique(slots)])
    seasonal = slot_mean[slots] - ctr
    resid = y - trend - seasonal
    m = ~np.isnan(resid)
    r, tr, sr = resid[m], (trend + resid)[m], (seasonal + resid)[m]

    def v(x):
        return max(np.sum(x * x) / len(x)
                   - (np.sum(x) / len(x)) ** 2, 0.0)

    ft = max(1 - v(r) / v(tr), 0.0) if v(tr) > 0 else None
    fs = max(1 - v(r) / v(sr), 0.0) if v(sr) > 0 else None
    return ft, fs


def test_strength_matches_ref_random(spark):
    from cesium_spark.operators.seriesstats import decomposition_strength
    rng = np.random.RandomState(19)
    ys = (0.5 * np.arange(60) + 5 * np.sin(np.arange(60) * 2 * np.pi / 7)
          + rng.normal(0, 1, 60))
    row = decomposition_strength(_chan_series(spark, ys), 7).collect()[0]
    ft, fs = _strength_ref(ys)
    assert abs(row["trend_strength"] - ft) < 1e-9
    assert abs(row["seasonal_strength"] - fs) < 1e-9


def test_strength_directions(spark):
    from cesium_spark.operators.seriesstats import decomposition_strength
    rng = np.random.RandomState(8)
    trendy = np.arange(80) * 2.0 + rng.normal(0, 0.5, 80)
    seasonal = np.tile([0, 10, 0, -10, 0, 5, -5], 12)[:80] \
        + rng.normal(0, 0.3, 80)
    noise = rng.normal(0, 1, 80)
    rt = decomposition_strength(_chan_series(spark, trendy), 7).collect()[0]
    rs = decomposition_strength(
        _chan_series(spark, seasonal), 7).collect()[0]
    rn_ = decomposition_strength(_chan_series(spark, noise), 7).collect()[0]
    assert rt["trend_strength"] > 0.95
    assert rs["seasonal_strength"] > 0.95
    assert rn_["trend_strength"] < 0.6 and rn_["seasonal_strength"] < 0.6


def test_strength_degenerates(spark):
    from cesium_spark.operators.seriesstats import decomposition_strength
    # constant series: every variance 0 -> NULL strengths
    row = decomposition_strength(
        _chan_series(spark, [5.0] * 30), 7).collect()[0]
    assert row["trend_strength"] is None
    assert row["seasonal_strength"] is None
    # too short for even one full slot cycle after edge trim
    row = decomposition_strength(
        _chan_series(spark, list(range(8))), 7).collect()[0]
    assert row["n_used"] < 7 and row["trend_strength"] is None


# --- sample entropy ---------------------------------------------------------

def _sampen_ref(y, r, m=2):
    y = np.asarray(y)
    n = len(y)
    starts = n - m - 1 + 1          # template starts: i in [0, n-m-1]
    a = b = 0
    for i in range(n - m):
        for j in range(i + 1, n - m):
            if max(abs(y[i] - y[j]), abs(y[i + 1] - y[j + 1])) <= r:
                b += 1
                if abs(y[i + 2] - y[j + 2]) <= r:
                    a += 1
    return a, b, (-np.log(a / b) if a > 0 and b > 0 else None)


def test_sampen_matches_ref(spark):
    from cesium_spark.operators.seriesstats import sample_entropy
    rng = np.random.RandomState(41)
    y = rng.randint(0, 20, 90)
    row = sample_entropy(_series15(spark, y), r=2).collect()[0]
    a, b, se = _sampen_ref(y, 2)
    assert (row["a_count"], row["b_count"]) == (a, b)
    assert abs(row["sampen"] - se) < 1e-12


def test_sampen_regular_vs_irregular(spark):
    from cesium_spark.operators.seriesstats import sample_entropy
    regular = [3, 7] * 50                      # perfectly periodic
    rng = np.random.RandomState(6)
    irregular = rng.randint(0, 60, 100)
    r1 = sample_entropy(_series15(spark, regular), r=1).collect()[0]
    r2 = sample_entropy(_series15(spark, irregular), r=1).collect()[0]
    assert r1["sampen"] == 0.0                 # every B match extends
    assert r2["sampen"] is None or r2["sampen"] > 1.0


def test_sampen_caps_and_degenerates(spark):
    from cesium_spark.operators.seriesstats import sample_entropy
    rng = np.random.RandomState(3)
    y = rng.randint(0, 10, 300)
    row = sample_entropy(_series15(spark, y), r=2, max_n=128).collect()[0]
    # cap bounds template STARTS; boundary templates read their full
    # m+1 consecutive values (rows 129-130 included)
    a = b = 0
    for i in range(128):
        for j in range(i + 1, 128):
            if max(abs(y[i] - y[j]), abs(y[i + 1] - y[j + 1])) <= 2:
                b += 1
                if abs(y[i + 2] - y[j + 2]) <= 2:
                    a += 1
    assert row["capped"] and row["n_used"] == 128
    assert (row["a_count"], row["b_count"]) == (a, b)
    # a spread-out series at r=0: B may exist but A empty -> NULL
    row = sample_entropy(_series15(spark, [1, 2, 4, 8, 16, 32, 64]),
                         r=0).collect()[0]
    assert row["sampen"] is None
    with pytest.raises(ValueError, match="nonnegative int"):
        sample_entropy(_series15(spark, [1, 2]), r=-1)


# --- HITS -------------------------------------------------------------------

def test_hits_matches_ref_and_separates_hubs(spark):
    """Bipartite-ish graph: sources point at sinks; sources must be
    pure hubs, sinks pure authorities; scores match a numpy power
    iteration with identical round structure."""
    from cesium_spark.operators.graphrank import hits
    edges = [("s1", "t1", 3), ("s1", "t2", 1), ("s2", "t1", 2),
             ("s2", "t3", 1), ("s3", "t2", 4)]
    df = spark.createDataFrame(pd.DataFrame(
        edges, columns=["src", "dst", "w"]))
    got = {r["v"]: (r["authority"], r["hub"])
           for r in hits(df, iterations=4).collect()}
    verts = sorted({v for e in edges for v in e[:2]})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((6, 6))
    for u, v, w in edges:
        A[idx[u], idx[v]] = w
    h = np.ones(6)
    for _ in range(4):
        a = A.T @ h
        h = A @ a
    a_n, h_n = a / a.sum(), h / h.sum()
    for v in verts:
        assert abs(got[v][0] - a_n[idx[v]]) < 1e-9
        assert abs(got[v][1] - h_n[idx[v]]) < 1e-9
    for v in ("s1", "s2", "s3"):
        assert got[v][0] == 0.0                 # sources: no authority
    for v in ("t1", "t2", "t3"):
        assert got[v][1] == 0.0                 # sinks: no hub mass
    # the argmax authority agrees with the reference power iteration
    best = max(verts, key=lambda v: got[v][0])
    assert best == verts[int(np.argmax(a_n))] == "t2"


def test_hits_empty_raises(spark):
    from cesium_spark.operators.graphrank import hits
    empty = spark.createDataFrame(
        pd.DataFrame({"src": [], "dst": [], "w": []}),
        "src string, dst string, w long")
    with pytest.raises(ValueError, match="empty graph"):
        hits(empty)


# --- Bloom tier -------------------------------------------------------------

def _bloom_events(spark, items, hours):
    ts = [pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h)
          for h in hours]
    return spark.createDataFrame(pd.DataFrame(
        {"role": ["r"] * len(items), "ts": ts, "item": items}))


def test_bloom_no_false_negatives_and_fold_eq_direct(spark):
    from cesium_spark.operators.sketches import (bloom_build,
                                                 bloom_contains,
                                                 bloom_fold)
    items = [f"item{i}" for i in range(40)]
    hours = [i % 20 for i in range(40)]          # spread over 20 hours
    ev = _bloom_events(spark, items, hours)
    fine = bloom_build(ev, "1h", ["role"], "item")
    folded = bloom_fold(fine, "1d", ["role"])
    direct = bloom_build(ev, "1d", ["role"], "item")
    a = {(r["word_idx"]): r["bits"] for r in folded.collect()}
    b = {(r["word_idx"]): r["bits"] for r in direct.collect()}
    assert a == b                                # OR-fold == direct
    got = {r["item"]: r["maybe_present"] for r in
           bloom_contains(folded, items + ["nope1", "nope2"],
                          ["role"]).collect()}
    for it in items:
        assert got[it] is True                   # NO false negatives


def test_bloom_certain_absence_and_guards(spark):
    from cesium_spark.operators.sketches import (bloom_build,
                                                 bloom_contains)
    ev = _bloom_events(spark, ["only"], [0])
    sk = bloom_build(ev, "1h", ["role"], "item")
    # 1 item sets <= 4 of 1008 bits: a disjoint probe is certain-absent
    got = {r["item"]: r["maybe_present"] for r in
           bloom_contains(sk, [f"absent{i}" for i in range(30)],
                          ["role"]).collect()}
    assert sum(1 for v in got.values() if not v) >= 29
    with pytest.raises(ValueError, match="words"):
        bloom_build(ev, "1h", ["role"], "item", words=0)
    with pytest.raises(ValueError, match="non-NULL"):
        bloom_contains(sk, ["a", None], ["role"])


# --- DFA --------------------------------------------------------------------

def _dfa_ref(y, bs=(4, 8, 16), max_n=1024):
    y = np.asarray(y[:max_n], dtype=np.int64)
    n = len(y)
    p = n * np.cumsum(y) - np.arange(1, n + 1) * y.sum()
    fs = []
    for s in bs:
        k = n // s
        rss_tot = 0.0
        x = np.arange(1, s + 1, dtype=float)
        for b in range(k):
            seg = p[b * s:(b + 1) * s].astype(float)
            A = np.vstack([x, np.ones(s)]).T
            beta, res, *_ = np.linalg.lstsq(A, seg, rcond=None)
            r = seg - A @ beta
            rss_tot += float(r @ r)
        fs.append(np.sqrt(rss_tot / (k * s)) / n)
    lb = np.log(bs)
    c = (lb - lb.mean()) / np.sum((lb - lb.mean()) ** 2)
    return fs, float(np.sum(c * np.log(fs)))


def test_dfa_matches_ref(spark):
    from cesium_spark.operators.seriesstats import dfa
    rng = np.random.RandomState(17)
    y = rng.randint(0, 50, 200)
    row = dfa(_series15(spark, y)).collect()[0]
    fs, alpha = _dfa_ref(y)
    for b, f in zip((4, 8, 16), fs):
        assert abs(row[f"f_{b}"] - f) < 1e-9
    assert abs(row["alpha"] - alpha) < 1e-9


def test_dfa_memory_directions(spark):
    """The textbook scaling pins: iid noise alpha ~ 0.5 (well below
    1), an integrated random walk alpha ~ 1.5 (well above 1). DFA1
    removes profile-linear components, i.e. constant LEVELS of the
    original series - so a large baseline offset changes alpha not
    at all (exact invariance, pinned bitwise)."""
    from cesium_spark.operators.seriesstats import dfa
    rng = np.random.RandomState(23)
    white = rng.randint(0, 100, 500)
    walk = np.cumsum(rng.choice([-1, 1], 500)) + 600
    a_white = dfa(_series15(spark, white)).collect()[0]["alpha"]
    a_walk = dfa(_series15(spark, walk)).collect()[0]["alpha"]
    assert a_white < 0.8 and a_walk > 1.2
    # exact level invariance: +10000 to every value, alpha unchanged
    a_shift = dfa(_series15(spark, white + 10000)).collect()[0]["alpha"]
    assert a_shift == a_white


def test_dfa_cap_and_degenerates(spark):
    from cesium_spark.operators.seriesstats import dfa
    rng = np.random.RandomState(2)
    y = rng.randint(0, 30, 300)
    row = dfa(_series15(spark, y), max_n=64).collect()[0]
    fs, alpha = _dfa_ref(y, max_n=64)
    assert row["capped"] and row["n_used"] == 64
    assert abs(row["alpha"] - alpha) < 1e-9
    # constant -> F = 0 -> NULL alpha, never ln(0)
    row = dfa(_series15(spark, [7] * 100)).collect()[0]
    assert row["alpha"] is None and row["f_4"] == 0.0
    # too short for a 16-box -> NULL
    row = dfa(_series15(spark, list(range(12)))).collect()[0]
    assert row["alpha"] is None
    with pytest.raises(ValueError, match="integer"):
        dfa(spark.createDataFrame(pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": [0], "t": [0.0], "y": [1.5]})))


# --- readability ------------------------------------------------------------

def test_readability_known_text(spark):
    from cesium_spark.operators.textstats import readability
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the cat sat on the mat. it was flat!",
                 "antidisestablishmentarianism notwithstanding",
                 "xyz qrs bcd",            # all-consonant: 1 syl each
                 "   "]}))
    rows = {r["doc_id"]: r for r in readability(docs).collect()}
    r1 = rows[1]
    # 9 words, 2 sentences, syllables: the=1 cat=1 sat=1 on=1 the=1
    # mat.=1 it=1 was=1 flat!=1 -> 9
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) \
        == (9, 2, 9)
    assert abs(r1["flesch_ease"]
               - (206.835 - 1.015 * 4.5 - 84.6 * 1.0)) < 1e-9
    # long-word doc reads much harder than the cat doc
    assert rows[2]["flesch_ease"] < rows[1]["flesch_ease"] - 100
    assert rows[2]["n_sentences"] == 1         # floored, no div-by-0
    assert rows[3]["n_syllables"] == 3         # per-word floor
    assert rows[4]["flesch_ease"] is None      # whitespace-only
    assert rows[4]["n_words"] == 0


def test_readability_grade_monotone_in_length(spark):
    from cesium_spark.operators.textstats import readability
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["see the dog run.",
                 "the committee deliberated extensively regarding "
                 "organizational restructuring implications."]}))
    rows = {r["doc_id"]: r for r in readability(docs).collect()}
    assert rows[2]["fk_grade"] > rows[1]["fk_grade"] + 5


# --- NCM classifier ---------------------------------------------------------

def _embs(spark, vecs, labels, ids=None):
    ids = list(range(len(vecs))) if ids is None else ids
    pdf = pd.DataFrame({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
        "label": np.asarray(labels, dtype=np.int32)})
    return spark.createDataFrame(pdf)


def test_ncm_separable_clusters(spark):
    """Three well-separated Gaussian blobs -> near-perfect held-out
    accuracy; the same data with shuffled labels -> chance."""
    from cesium_spark.operators.similarity import ncm_classify
    rng = np.random.RandomState(3)
    centers = np.eye(3).repeat(4, axis=1) * 10      # 3 centers in 12-d
    vecs, labels = [], []
    for i in range(90):
        c = i % 3
        vecs.append(centers[c] + rng.normal(0, 0.5, 12))
        labels.append(c)
    out = ncm_classify(_embs(spark, vecs, labels)).toPandas()
    assert out.n_correct.sum() / out.n_test.sum() > 0.95
    shuffled = list(rng.permutation(labels))
    out2 = ncm_classify(_embs(spark, vecs, shuffled)).toPandas()
    assert out2.n_correct.sum() / out2.n_test.sum() < 0.7


def test_ncm_fold_and_degenerates(spark):
    from cesium_spark.operators.similarity import ncm_classify
    # ids 0 and 5 are the test fold at fold_mod=5
    vecs = [[float(i), 0.0] for i in range(10)]
    labels = [0, 0, 0, 0, 0, 1, 1, 1, 1, 1]
    out = ncm_classify(_embs(spark, vecs, labels)).toPandas()
    assert out.n_test.sum() == 2
    # vec 0 (=0.0) near train-mean of class 0 (1,2,3,4 -> 2.5) vs
    # class 1 (6,7,8,9 -> 7.5): correct; vec 5 (=5.0) nearer 2.5: wrong
    by = {int(r.label): (int(r.n_test), int(r.n_correct))
          for r in out.itertuples()}
    assert by[0] == (1, 1) and by[1] == (1, 0)
    with pytest.raises(Exception, match="empty train set"):
        # every id divisible by 5 -> no train rows
        ncm_classify(_embs(spark, [[1.0], [2.0]], [0, 1],
                           ids=[0, 5])).collect()
    with pytest.raises(ValueError, match="fold_mod"):
        ncm_classify(_embs(spark, [[1.0]], [0]), fold_mod=1)


# --- gradient energy --------------------------------------------------------

def test_gradient_energy_flat_vs_textured(spark):
    """Flat raster -> sharpness exactly 0 over the real PGM decode;
    a checkerboard -> exactly 255 per pair; values match a numpy
    diff replay bit-for-bit."""
    from cesium_spark.operators import multimodal
    from cesium_spark.operators.multimodal import gradient_energy
    flat = b"P5\n4 4\n255\n" + bytes([7] * 16)
    board = b"P5\n4 4\n255\n" + bytes(
        [0 if (i // 4 + i % 4) % 2 == 0 else 255 for i in range(16)])
    rng = np.random.RandomState(9)
    rand_px = bytes(rng.randint(0, 256, 30).tolist())
    randimg = b"P5\n6 5\n255\n" + rand_px
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "media": [flat, board, randimg]}))
    rows = {r["doc_id"]: r for r in gradient_energy(df).collect()}
    assert rows[1]["sharpness"] == 0.0
    assert rows[1]["n_pairs"] == 4 * 3 * 2
    assert rows[2]["sharpness"] == 255.0           # every pair flips
    g = np.frombuffer(rand_px, np.uint8).reshape(5, 6).astype(np.int64)
    eh = int(np.abs(np.diff(g, axis=1)).sum())
    ev = int(np.abs(np.diff(g, axis=0)).sum())
    assert (rows[3]["e_h"], rows[3]["e_v"]) == (eh, ev)
    assert rows[3]["sharpness"] == (eh + ev) / (5 * 5 + 4 * 6)


def test_gradient_energy_audio_raises(spark):
    from cesium_spark.operators import multimodal
    from cesium_spark.operators.multimodal import gradient_energy
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["some audio content here"]}))
    media = multimodal.attach_media(docs)   # doc_id 1 -> audio
    with pytest.raises(Exception, match="2-d raster"):
        gradient_energy(media).collect()


# --- mutual information -----------------------------------------------------

def _mi_ref(xs, ys, ea, eb):
    bx = np.sum([np.asarray(xs)[:, None] >= np.asarray(ea)[None, :]],
                axis=-1).ravel()
    by = np.sum([np.asarray(ys)[:, None] >= np.asarray(eb)[None, :]],
                axis=-1).ravel()
    n = len(xs)
    mi = hx = hy = 0.0
    import collections
    cxy = collections.Counter(zip(bx, by))
    cx, cy = collections.Counter(bx), collections.Counter(by)
    for (a, b), c in cxy.items():
        mi += c / n * np.log(n * c / (cx[a] * cy[b]))
    for c in cx.values():
        hx += -(c / n) * np.log(c / n)
    for c in cy.values():
        hy += -(c / n) * np.log(c / n)
    return max(mi, 0.0), hx, hy


def test_mi_matches_ref_and_hears_ushape(spark):
    """A U-shaped coupling scores ~0 on Pearson but lights up MI -
    the quartet's reason to exist."""
    from cesium_spark.operators.seriesstats import (channel_corr,
                                                    mi_channels)
    xs = np.arange(-30, 30).astype(float)
    ys = (xs ** 2 / 10).astype(float)            # pure U shape
    rows = []
    for i, (x, y) in enumerate(zip(xs, ys)):
        rows.append(("c", i, "a", float(x)))
        rows.append(("c", i, "b", float(y)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    df = spark.createDataFrame(pdf)
    ea, eb = [-15.0, 0.0, 15.0], [10.0, 40.0, 70.0]
    row = mi_channels(df, "a", "b", ea, eb).collect()[0]
    mi, hx, hy = _mi_ref(xs, ys, ea, eb)
    assert abs(row["mi"] - mi) < 1e-12
    assert abs(row["nmi"] - mi / np.sqrt(hx * hy)) < 1e-12
    assert row["mi"] > 0.4                       # strong dependence
    r = channel_corr(df, "a", "b").collect()[0]["r"]
    assert abs(r) < 0.1                          # Pearson hears nothing


def test_mi_independent_and_degenerates(spark):
    from cesium_spark.operators.seriesstats import mi_channels
    rng = np.random.RandomState(5)
    rows = []
    for i in range(200):
        rows.append(("c", i, "a", float(rng.randint(0, 100))))
        rows.append(("c", i, "b", float(rng.randint(0, 100))))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    df = spark.createDataFrame(pdf)
    e = [25.0, 50.0, 75.0]
    row = mi_channels(df, "a", "b", e, e).collect()[0]
    assert row["mi"] < 0.05                      # independent: near 0
    # constant channel b -> H_b = 0 -> NMI NULL, MI = 0
    rows2 = [("c", i, ch, v) for i in range(20)
             for ch, v in (("a", float(i)), ("b", 5.0))]
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx",
                                        "channel", "y"])
    pdf2["turn_idx"] = pdf2["turn_idx"].astype(np.int32)
    row = mi_channels(spark.createDataFrame(pdf2), "a", "b",
                      [5.0, 10.0], [3.0, 7.0]).collect()[0]
    assert row["mi"] == 0.0 and row["nmi"] is None
    with pytest.raises(ValueError, match="non-empty"):
        mi_channels(df, "a", "b", [], [1.0])


# --- TPC-H Q18 --------------------------------------------------------------

def test_q18_plan_and_threshold(spark):
    """The executed plan broadcasts customer and never shuffles the
    big fact side for that join; the HAVING filter is exact-integer."""
    from cesium_spark.driver_queries import q_rel_tpch_q18
    out = q_rel_tpch_q18(spark, "/root/testdata/sf0.001")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "Cartesian" not in p
    rows = out.collect()
    assert all(r["sum_qty"] > 250 for r in rows)
    # ranking is by the exact price grid, descending
    prices = [r["total_price"] for r in rows]
    assert prices == sorted(prices, reverse=True)


# --- spectral entropy -------------------------------------------------------

def _spec_ref(y, K=6, M=8):
    y = np.asarray(y, dtype=float)
    n = len(y)
    d = n * y - y.sum()
    n0 = np.sum(d * d)
    nk = [np.sum(d[k:] * d[:-k]) for k in range(1, K + 1)]
    from cesium_spark.operators.seriesstats import spectral_coeffs
    co = spectral_coeffs(K, M)
    s = []
    for m in range(M):
        v = n0
        for k in range(1, K + 1):
            v = v + co[m][k - 1] * nk[k - 1]
        s.append(max(v, 0.0))
    tot = sum(s)
    h = sum(-(x / tot) * np.log(x / tot) for x in s if x > 0)
    return h / np.log(M), s.index(max(s)) + 1


def test_spectral_entropy_matches_ref_and_directions(spark):
    from cesium_spark.operators.seriesstats import spectral_entropy
    rng = np.random.RandomState(33)
    white = rng.randint(0, 100, 300)
    rw = spectral_entropy(_series15(spark, white)).collect()[0]
    h, peak = _spec_ref(white)
    assert abs(rw["spec_entropy"] - h) < 1e-9
    assert rw["peak_bin"] == peak
    assert rw["spec_entropy"] > 0.9              # flat spectrum
    # strong period-4 square wave: power concentrates at f = 1/4,
    # which is bin m = 4 on the m/16 grid
    per4 = ([0, 10, 0, 10] * 75) + [0] * 0
    per4 = [a + b for a, b in zip([0, 10, 20, 10] * 75,
                                  rng.randint(0, 2, 300))]
    rp = spectral_entropy(_series15(spark, per4)).collect()[0]
    hp, pp = _spec_ref(per4)
    assert abs(rp["spec_entropy"] - hp) < 1e-9
    assert rp["peak_bin"] == pp == 4
    assert rp["spec_entropy"] < rw["spec_entropy"] - 0.1


def test_spectral_entropy_degenerates(spark):
    from cesium_spark.operators.seriesstats import spectral_entropy
    row = spectral_entropy(_series15(spark, [5] * 50)).collect()[0]
    assert row["spec_entropy"] is None and row["peak_bin"] is None
    row = spectral_entropy(_series15(spark, [1, 2, 3, 4])).collect()[0]
    assert row["spec_entropy"] is None           # n <= K


# --- dispersion index -------------------------------------------------------

def _disp_conv(spark, hours):
    """Transcript with one turn at each (possibly repeated) hour."""
    ts = [pd.Timestamp("2024-01-01") + pd.Timedelta(hours=int(h))
          for h in hours]
    return spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * len(ts),
        "turn_idx": np.arange(len(ts), dtype=np.int32),
        "role": ["u"] * len(ts), "text": ["x"] * len(ts),
        "tool": [None] * len(ts), "ts": ts}))


def test_dispersion_exact_and_directions(spark):
    from cesium_spark.operators.seriesstats import dispersion_index
    # one turn every hour for 48 hours: counts all 1 -> ID exactly 0
    row = dispersion_index(_disp_conv(spark, range(48))).collect()[0]
    assert row["dispersion"] == 0.0 and row["n_buckets"] == 48
    # 40 turns crammed into hour 0 and hour 47 silent span: the
    # empty buckets MUST count - ID blows up
    burst = [0] * 40 + [47]
    row = dispersion_index(_disp_conv(spark, burst)).collect()[0]
    c = np.zeros(48, dtype=np.int64)
    c[0], c[47] = 40, 1
    B, S, Q = 48, int(c.sum()), int((c * c).sum())
    assert row["n_buckets"] == 48 and row["n_turns"] == 41
    assert row["dispersion"] == (B * Q - S * S) / (B * S)   # bit-exact
    assert row["dispersion"] > 20
    assert row["d_stat"] == (B - 1) * ((B * Q - S * S) / (B * S))
    # rng-scattered (Poisson-ish): ID near 1
    rng = np.random.RandomState(12)
    row = dispersion_index(
        _disp_conv(spark, rng.randint(0, 100, 100))).collect()[0]
    assert 0.5 < row["dispersion"] < 2.0


def test_dispersion_degenerates(spark):
    from cesium_spark.operators.seriesstats import dispersion_index
    row = dispersion_index(_disp_conv(spark, [0, 0, 0])).collect()[0]
    assert row["n_buckets"] == 1 and row["dispersion"] is None
    with pytest.raises(ValueError, match="bucket"):
        dispersion_index(_disp_conv(spark, [0]), bucket="minute")


# --- log-rank ---------------------------------------------------------------

def _spans(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "duration", "event"])
    pdf["duration"] = pdf["duration"].astype(float)
    return spark.createDataFrame(pdf)


def _logrank_ref(rows, ga, gb):
    times = sorted({d for g, d, e in rows if e})
    o1 = e1 = v = 0.0
    for t in times:
        n1 = sum(1 for g, d, e in rows if g == ga and d >= t)
        n2 = sum(1 for g, d, e in rows if g == gb and d >= t)
        d1 = sum(1 for g, d, e in rows if g == ga and d == t and e)
        d2 = sum(1 for g, d, e in rows if g == gb and d == t and e)
        n, dd = n1 + n2, d1 + d2
        o1 += d1
        e1 += dd * n1 / n
        if n > 1:
            v += dd * (n1 / n) * (1 - n1 / n) * (n - dd) / (n - 1)
    return o1, e1, v, (o1 - e1) ** 2 / v


def test_logrank_matches_ref_and_detects_separation(spark):
    from cesium_spark.operators.survival import logrank_test
    rng = np.random.RandomState(44)
    rows = []
    for _ in range(60):                      # A dies fast
        rows.append(("A", int(rng.randint(1, 50)), True))
    for _ in range(60):                      # B survives long
        rows.append(("B", int(rng.randint(40, 120)), True))
    for _ in range(10):                      # censored tails both arms
        rows.append(("A", 100, False))
        rows.append(("B", 130, False))
    row = logrank_test(_spans(spark, rows), "g", "A", "B").collect()[0]
    o1, e1, v, chi2 = _logrank_ref(rows, "A", "B")
    assert row["o1"] == o1
    assert abs(row["e1"] - e1) < 1e-9
    assert abs(row["v"] - v) < 1e-9
    assert abs(row["chi2"] - chi2) < 1e-9
    assert row["chi2"] > 6.63                # chi2(1) 1%: curves differ


def test_logrank_null_and_guards(spark):
    from cesium_spark.operators.survival import logrank_test
    # identical groups: chi2 small
    rows = [("A", d, True) for d in range(1, 40)] \
        + [("B", d, True) for d in range(1, 40)]
    row = logrank_test(_spans(spark, rows), "g", "A", "B").collect()[0]
    assert row["chi2"] < 1e-9                # perfectly balanced
    # single subject: V = 0 -> NULL
    row = logrank_test(_spans(spark, [("A", 5, True)]),
                       "g", "A", "B").collect()[0]
    assert row["chi2"] is None
    with pytest.raises(ValueError, match="NULL/negative"):
        logrank_test(_spans(spark, [("A", -1, True), ("B", 2, True)]),
                     "g", "A", "B")


# --- Cochran-Armitage / McNemar / Brown-Forsythe ----------------------------

def test_cochran_armitage_matches_ref(spark):
    from cesium_spark.operators.datastats import cochran_armitage
    rng = np.random.RandomState(61)
    rows = []
    for x, p in ((0, 0.1), (1, 0.2), (2, 0.35)):   # planted dose trend
        for _ in range(200):
            rows.append((x, int(rng.rand() < p)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["x", "succ"]))
    row = cochran_armitage(df, "x", "succ").collect()[0]
    n = len(rows)
    s = sum(r[1] for r in rows)
    xn = sum(r[0] for r in rows)
    xs = sum(r[0] * r[1] for r in rows)
    xxn = sum(r[0] ** 2 for r in rows)
    a = n * xs - s * xn
    b = n * xxn - xn * xn
    z = a / np.sqrt(s * (n - s) * b / n)
    assert (row["a_stat"], row["b_stat"]) == (a, b)
    assert abs(row["z"] - z) < 1e-12
    assert row["z"] > 2.58                         # the trend shows
    # all-success: certainty is not a trend -> NULL
    dfa = spark.createDataFrame(pd.DataFrame(
        [(0, 1), (1, 1), (2, 1)], columns=["x", "succ"]))
    assert cochran_armitage(dfa, "x", "succ").collect()[0]["z"] is None
    with pytest.raises(Exception, match="outside"):
        cochran_armitage(spark.createDataFrame(pd.DataFrame(
            [(0, 2)], columns=["x", "succ"])), "x", "succ").collect()


def test_mcnemar_matches_ref(spark):
    from cesium_spark.operators.datastats import mcnemar_test
    rows = [(True, False)] * 30 + [(False, True)] * 10 \
        + [(True, True)] * 25 + [(False, False)] * 35
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))
    row = mcnemar_test(df, "a", "b").collect()[0]
    assert (row["b_cnt"], row["c_cnt"]) == (30, 10)
    assert row["chi2"] == (30 - 10) ** 2 / 40     # bit-exact
    # no discordant pair -> NULL
    df2 = spark.createDataFrame(pd.DataFrame(
        [(True, True), (False, False)], columns=["a", "b"]))
    assert mcnemar_test(df2, "a", "b").collect()[0]["chi2"] is None
    with pytest.raises(Exception, match="NULL flag"):
        mcnemar_test(spark.createDataFrame(
            pd.DataFrame({"a": [True, None], "b": [True, True]})),
            "a", "b").collect()


def test_brown_forsythe_spread_not_level(spark):
    """Same means, different variances -> BF fires while the level
    ANOVA stays quiet; level shift with equal spread -> the reverse."""
    from cesium_spark.operators.seriesstats import (anova_oneway,
                                                    brown_forsythe)
    rng = np.random.RandomState(9)
    tight = 100 + rng.randint(-2, 3, 60)           # mean 100, sd ~1.4
    wide = 100 + rng.randint(-30, 31, 60)          # mean ~100, sd ~17
    df = _grouped(spark, [tight, wide])
    bf = brown_forsythe(df).collect()[0]
    an = anova_oneway(df).collect()[0]
    assert bf["bf_stat"] > 50                      # spread screams
    assert an["f_stat"] < 4                        # level quiet
    shifted = _grouped(spark, [tight, tight + 50])
    bf2 = brown_forsythe(shifted).collect()[0]
    an2 = anova_oneway(shifted).collect()[0]
    assert an2["f_stat"] > 1000                    # level screams
    assert bf2["bf_stat"] < 4                      # spread quiet


# --- Grubbs / CUSUMSQ -------------------------------------------------------

def test_grubbs_finds_the_whale(spark):
    from cesium_spark.operators.seriesstats import grubbs_stat
    rng = np.random.RandomState(3)
    y = rng.randint(10, 20, 50)
    y[17] = 500
    pdf = pd.DataFrame({"conv_id": ["c"] * 50,
                        "turn_idx": np.arange(50, dtype=np.int32),
                        "y": y.astype(np.int64)})
    row = grubbs_stat(spark.createDataFrame(pdf)).collect()[0]
    g_ref = np.max(np.abs(y - y.mean())) / y.std()
    assert row["peak_turn"] == 17
    assert abs(row["g_stat"] - g_ref) < 1e-9
    assert row["g_stat"] > 6
    # constant -> NULL
    pdf["y"] = 5
    row = grubbs_stat(spark.createDataFrame(pdf)).collect()[0]
    assert row["g_stat"] is None and row["peak_turn"] is None


def test_cusumsq_variance_break(spark):
    """Steady mean, jitter doubles halfway: pettitt-style level tests
    see nothing but CUSUMSQ locates the volatility break."""
    from cesium_spark.operators.seriesstats import cusumsq
    rng = np.random.RandomState(8)
    # the drift after the break must dominate the per-step noise for
    # tight localization (the estimator is asymptotic): +-1 vs +-100
    calm = 1000 + rng.randint(-1, 2, 100)
    wild = 1000 + 100 * np.where(np.arange(100) % 2 == 0, 1, -1)
    y = np.concatenate([calm, wild])
    row = cusumsq(_series15(spark, y)).collect()[0]
    c = np.cumsum((y.astype(np.int64)) ** 2)
    num = np.abs(200 * c - np.arange(1, 201) * c[-1])
    assert row["changepoint"] == int(np.argmax(num)) + 1
    assert 95 <= row["changepoint"] <= 105          # near the break
    assert row["d_stat"] == num.max() / (200 * c[-1])   # bit-exact
    # all-zero -> NULL
    row = cusumsq(_series15(spark, [0] * 10)).collect()[0]
    assert row["d_stat"] is None


# --- partial correlation ----------------------------------------------------

def _triple(spark, a, b, c):
    rows = []
    for i, (x, y, z) in enumerate(zip(a, b, c)):
        rows += [("c", i, "A", int(x)), ("c", i, "B", int(y)),
                 ("c", i, "C", int(z))]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    pdf["y"] = pdf["y"].astype(np.int64)
    return spark.createDataFrame(pdf)


def test_partial_corr_removes_the_confound(spark):
    """A and B both driven by C, no direct link: raw r_ab is strong,
    r_ab.c collapses toward 0 - the confound question none of the
    quartet can ask. Values match a numpy replay to 1e-12."""
    from cesium_spark.operators.seriesstats import partial_corr
    rng = np.random.RandomState(15)
    cc = rng.randint(0, 50, 300)
    a = 3 * cc + rng.randint(0, 10, 300)          # driven by C
    b = 2 * cc + rng.randint(0, 10, 300)          # driven by C
    row = partial_corr(_triple(spark, a, b, cc),
                       "A", "B", "C").collect()[0]

    def pear(x, y):
        n = len(x)
        return ((n * np.sum(x * y) - x.sum() * y.sum())
                / np.sqrt((n * np.sum(x * x) - x.sum() ** 2)
                          * (n * np.sum(y * y) - y.sum() ** 2)))

    a64, b64, c64 = (v.astype(np.int64) for v in (a, b, cc))
    rab, rac, rbc = pear(a64, b64), pear(a64, c64), pear(b64, c64)
    part = (rab - rac * rbc) / np.sqrt((1 - rac ** 2) * (1 - rbc ** 2))
    assert abs(row["r_ab"] - rab) < 1e-12
    assert abs(row["r_ab_c"] - part) < 1e-12
    assert row["r_ab"] > 0.95                     # confounded: strong
    assert abs(row["r_ab_c"]) < 0.25              # controlled: collapses


def test_partial_corr_degenerates(spark):
    from cesium_spark.operators.seriesstats import partial_corr
    # constant C on the aligned sample -> NULL everywhere
    row = partial_corr(_triple(spark, [1, 2, 3, 4], [2, 3, 4, 5],
                               [7, 7, 7, 7]), "A", "B", "C").collect()[0]
    assert row["r_ab"] is None and row["r_ab_c"] is None
    # C == A exactly: |r_ac| = 1 -> partial NULL, pairwise fine
    row = partial_corr(_triple(spark, [1, 2, 3, 9], [2, 1, 4, 5],
                               [1, 2, 3, 9]), "A", "B", "C").collect()[0]
    assert row["r_ac"] == 1.0 and row["r_ab_c"] is None
    with pytest.raises(ValueError, match="distinct"):
        partial_corr(_triple(spark, [1], [2], [3]), "A", "A", "C")


# --- seasonal Mann-Kendall --------------------------------------------------

def _smk_ref(y, period):
    n_tot = s_tot = v_tot = 0
    for g in range(period):
        sub = np.asarray(y[g::period], dtype=float)
        n = len(sub)
        s = sum(int(np.sign(sub[j] - sub[i]))
                for i in range(n) for j in range(i + 1, n))
        _, c = np.unique(sub, return_counts=True)
        v = (n * (n - 1) * (2 * n + 5)
             - int(np.sum(c * (c - 1) * (2 * c + 5))))
        n_tot, s_tot, v_tot = n_tot + n, s_tot + s, v_tot + v
    if v_tot == 0:
        return n_tot, s_tot, v_tot, None
    z = ((s_tot - 1) if s_tot > 0 else (s_tot + 1)
         if s_tot < 0 else 0) / np.sqrt(v_tot / 18.0)
    return n_tot, s_tot, v_tot, (z if s_tot != 0 else 0.0)


def test_seasonal_mk_beats_plain_on_sawtooth(spark):
    """Sawtooth + slow drift: plain MK compares across phases and
    dilutes S; within-slot pairs see the pure drift."""
    from cesium_spark.operators.seriesstats import (mann_kendall,
                                                    seasonal_mann_kendall)
    saw = np.tile([0, 40, 80, 40, 0, -40, -80], 20)
    drift = np.arange(140) // 10
    y = (saw + drift + 100).astype(np.int64)
    df = _series15(spark, y)
    smk = seasonal_mann_kendall(df, 7).collect()[0]
    mk = mann_kendall(df).collect()[0]
    n, s, v, z = _smk_ref(list(y), 7)
    assert (smk["n"], smk["s_stat"], smk["var18"]) == (n, s, v)
    assert abs(smk["z"] - z) < 1e-9
    assert smk["z"] > 2 * abs(mk["z"])         # the seasonal win
    assert smk["z"] > 6


def test_seasonal_mk_degenerates(spark):
    from cesium_spark.operators.seriesstats import seasonal_mann_kendall
    row = seasonal_mann_kendall(
        _series15(spark, [5] * 30), 7).collect()[0]
    assert row["z"] is None and row["var18"] == 0
    with pytest.raises(ValueError, match="period"):
        seasonal_mann_kendall(_series15(spark, [1, 2]), 1)


# --- Gumbel block maxima ----------------------------------------------------

def test_gumbel_matches_moments_ref(spark):
    from cesium_spark.operators.seriesstats import gumbel_maxima
    import datetime as dt
    # 10 days, 5 turns/day with a known max gap per day
    rng = np.random.RandomState(66)
    rows = []
    t = dt.datetime(2024, 1, 1)
    day_max = []
    for d in range(10):
        t = dt.datetime(2024, 1, 1 + d)
        gaps = rng.randint(60, 3000, 4)
        day_max.append(int(gaps.max()))
        for g in gaps:
            rows.append(t)
            t = t + dt.timedelta(seconds=int(g))
        rows.append(t)
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(rows),
        "turn_idx": np.arange(len(rows), dtype=np.int32),
        "role": ["u"] * len(rows), "text": ["x"] * len(rows),
        "tool": [None] * len(rows), "ts": rows})
    row = gumbel_maxima(spark.createDataFrame(pdf), 1800).collect()[0]
    # block = calendar day of the gap's END turn, so the overnight
    # gap into each new day COUNTS in that day's block (it is a real
    # worst-gap; the first fixture draft forgot it and disagreed
    # with the engine) — recompute maxima from the actual rows
    es = np.array([int(r.timestamp()) for r in rows])
    gaps = es[1:] - es[:-1]
    days = np.array([r.toordinal() for r in rows])[1:]
    m = np.array([gaps[days == d].max()
                  for d in np.unique(days)], dtype=np.int64)
    mean, sd = m.mean(), m.std()
    beta = np.sqrt(6) / np.pi * sd
    mu = mean - 0.5772156649015329 * beta
    p = 1 - np.exp(-np.exp(-((1800.0 - mu) / beta)))
    assert row["n_blocks"] == len(m)
    assert abs(row["mu"] - mu) < 1e-6
    assert abs(row["beta"] - beta) < 1e-6
    assert abs(row["p_exceed"] - p) < 1e-9
    assert 0.0 < row["p_exceed"] < 1.0


def test_gumbel_degenerates(spark):
    from cesium_spark.operators.seriesstats import gumbel_maxima
    import datetime as dt
    # all-equal daily maxima -> s = 0 -> NULL (a constant has no
    # tail); ONE gap per day, exactly 86400 s (midnight to midnight),
    # so even the overnight gap is the same constant
    rows = [dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
            for d in range(6)]
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(rows),
        "turn_idx": np.arange(len(rows), dtype=np.int32),
        "role": ["u"] * len(rows), "text": ["x"] * len(rows),
        "tool": [None] * len(rows), "ts": rows})
    row = gumbel_maxima(spark.createDataFrame(pdf), 1800).collect()[0]
    assert row["n_blocks"] == 5 and row["mu"] is None
    with pytest.raises(ValueError, match="threshold"):
        gumbel_maxima(spark.createDataFrame(pdf), 0)


# --- LZ76 -------------------------------------------------------------------

def _role_seq(spark, roles):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(roles),
        "turn_idx": np.arange(len(roles), dtype=np.int32),
        "role": roles})
    return spark.createDataFrame(pdf)


def test_lz76_textbook_values(spark):
    from cesium_spark.operators.sequences import lz76_complexity
    # a^n -> 2 phrases; (ab)^n -> 3; single char -> 1
    assert lz76_complexity(_role_seq(spark, ["a"] * 20)) \
        .collect()[0]["c_phrases"] == 2
    assert lz76_complexity(_role_seq(spark, ["a", "b"] * 15)) \
        .collect()[0]["c_phrases"] == 3
    row = lz76_complexity(_role_seq(spark, ["a"])).collect()[0]
    assert row["c_phrases"] == 1 and row["c_norm"] is None


def test_lz76_loops_vs_random(spark):
    """A scripted 6-turn loop repeated 20x collapses C; an iid role
    stream of the same length does not — the long-range structure
    per-step entropies cannot see."""
    from cesium_spark.operators.sequences import lz76_complexity
    rng = np.random.RandomState(3)
    loop = list("uatuet") * 20
    iid = list(rng.choice(list("uatec"), 120))
    c_loop = lz76_complexity(_role_seq(spark, loop)) \
        .collect()[0]["c_phrases"]
    c_iid = lz76_complexity(_role_seq(spark, iid)) \
        .collect()[0]["c_phrases"]
    assert c_loop < c_iid / 3
    # literal python replay of the stated rule
    s = "".join(loop)
    i = c = 0
    while i < len(s):
        L = 1
        while i + L <= len(s) and s[i:i + L] in s[:i + L - 1]:
            L += 1
        i += min(L, len(s) - i)
        c += 1
    assert c_loop == c


def test_lz76_collision_raises(spark):
    from cesium_spark.operators.sequences import lz76_complexity
    with pytest.raises(Exception, match="collision"):
        lz76_complexity(
            _role_seq(spark, ["signup", "system"])).collect()


# --- vocab richness ---------------------------------------------------------

def test_chao1_known_counts(spark):
    from cesium_spark.operators.textstats import vocab_richness
    # frequencies: a:3, b:2, c:1, d:1 -> V=4, f1=2, f2=1, N=7
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": ["a a b c", "a b d"]}))
    row = vocab_richness(docs).collect()[0]
    assert (row["v_obs"], row["n_tokens"], row["f1"], row["f2"]) \
        == (4, 7, 2, 1)
    assert row["chao1"] == 4 + 2 * 1 / (2 * 2)      # bit-exact
    assert row["coverage"] == 1 - 2 / 7
    # fully-saturated corpus: f1 = 0 -> chao1 == V, coverage == 1
    sat = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["x x y y"]}))
    row = vocab_richness(sat).collect()[0]
    assert row["chao1"] == row["v_obs"] == 2
    assert row["coverage"] == 1.0
    # f2 = 0 with singletons: the raw form would divide by zero --
    # the corrected form stays finite
    und = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["p q r"]}))
    row = vocab_richness(und).collect()[0]
    assert row["f2"] == 0 and row["chao1"] == 3 + 3 * 2 / 2


def test_chao1_undersampling_direction(spark):
    """A tiny sample of a large vocabulary: chao1 >> V_obs and
    coverage is low; the full corpus: chao1 ~ V and coverage ~ 1."""
    from cesium_spark.operators.textstats import vocab_richness
    rng = np.random.RandomState(10)
    vocab = [f"w{i}" for i in range(500)]
    small = " ".join(rng.choice(vocab, 80))
    big = " ".join(rng.choice(vocab, 20000))
    r_small = vocab_richness(spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [small]}))).collect()[0]
    r_big = vocab_richness(spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [big]}))).collect()[0]
    assert r_small["chao1"] > r_small["v_obs"] * 1.5
    assert r_small["coverage"] < 0.35
    assert r_big["chao1"] < r_big["v_obs"] * 1.05
    assert r_big["coverage"] > 0.99


# --- mixing weights ---------------------------------------------------------

def test_mix_weights_flattens(spark):
    from cesium_spark.operators.sampling import mix_weights
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(5),
        "source": ["big", "big", "big", "big", "small"],
        "text": ["w " * 80, "w " * 80, "w " * 80, "w " * 79 + "w",
                 "w w w w"]}))
    out = {r["source"]: r for r in
           mix_weights(docs, alpha=0.5).collect()}
    big, small = out["big"], out["small"]
    p_big = 320 / 324
    p_small = 4 / 324
    z = np.sqrt(p_big) + np.sqrt(p_small)
    assert abs(big["raw_share"] - p_big) < 1e-12
    assert abs(small["mix_share"] - np.sqrt(p_small) / z) < 1e-12
    # flattening: shares sum to 1, small is UPSAMPLED, big damped
    assert abs(big["mix_share"] + small["mix_share"] - 1.0) < 1e-12
    assert small["boost"] > 5 and big["boost"] < 1
    # alpha = 1 is the identity: mix == raw, boost == 1 exactly
    out1 = {r["source"]: r for r in
            mix_weights(docs, alpha=1.0).collect()}
    assert abs(out1["small"]["boost"] - 1.0) < 1e-12
    with pytest.raises(ValueError, match="alpha"):
        mix_weights(docs, alpha=1.5)


# --- Heaps' law -------------------------------------------------------------

def test_heaps_matches_ref_and_directions(spark):
    from cesium_spark.operators.textstats import heaps_fit
    rng = np.random.RandomState(5)
    # zipf-ish text: growing vocabulary, beta in the natural band
    texts = [" ".join(f"w{int(z)}" for z in rng.zipf(1.6, 60) % 3000)
             for _ in range(64)]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(64), "text": texts}))
    row = heaps_fit(docs).collect()[0]
    # literal replay
    ns, vs = [], []
    seen = set()
    cum = 0
    ks = [(64 * i) // 4 for i in (1, 2, 3, 4)]
    for r, t in enumerate(texts, 1):
        toks = t.split()
        cum += len(toks)
        seen |= set(toks)
        if r in ks:
            ns.append(cum)
            vs.append(len(seen))
    x, y = np.log(ns), np.log(vs)
    beta = ((4 * np.sum(x * y) - x.sum() * y.sum())
            / (4 * np.sum(x * x) - x.sum() ** 2))
    assert [row[f"n{i}"] for i in (1, 2, 3, 4)] == ns
    assert [row[f"v{i}"] for i in (1, 2, 3, 4)] == vs
    assert abs(row["beta"] - beta) < 1e-9
    assert 0.2 < row["beta"] < 0.95               # natural-text band
    # boilerplate flood: same 5 words forever -> beta ~ 0
    flat = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(16), "text": ["a b c d e"] * 16}))
    assert heaps_fit(flat).collect()[0]["beta"] < 0.01
    # id soup: every token new -> beta ~ 1
    soup = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(16),
         "text": [" ".join(f"id{i}_{j}" for j in range(9))
                  for i in range(16)]}))
    assert heaps_fit(soup).collect()[0]["beta"] > 0.99


def test_heaps_degenerate(spark):
    from cesium_spark.operators.textstats import heaps_fit
    few = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b", "c d"]}))
    assert heaps_fit(few).collect()[0]["beta"] is None


def _heaps_reference(pdf):
    """n_i, V_i at the doc-order quartile checkpoints, then β and K by
    the operator's own expression tree, in pandas/Python floats."""
    pdf = pdf.sort_values("doc_id", kind="stable")
    toks = pdf["text"].str.strip().str.split(r"\s+", regex=True)
    d = len(pdf)
    cum = toks.str.len().cumsum().to_numpy()
    first = toks.explode().reset_index(drop=True)
    rank = np.repeat(np.arange(1, d + 1), toks.str.len().to_numpy())
    first_rank = pd.Series(rank).groupby(first.to_numpy()).min()
    ks = [(d * i) // 4 for i in (1, 2, 3, 4)]
    ns = [int(cum[k - 1]) for k in ks]
    vs = [int((first_rank <= k).sum()) for k in ks]
    xs = [math.log(float(n)) for n in ns]
    ys = [math.log(float(v)) for v in vs]
    sx = xs[0] + xs[1] + xs[2] + xs[3]
    sy = ys[0] + ys[1] + ys[2] + ys[3]
    sxx = xs[0] * xs[0] + xs[1] * xs[1] + xs[2] * xs[2] + xs[3] * xs[3]
    sxy = xs[0] * ys[0] + xs[1] * ys[1] + xs[2] * ys[2] + xs[3] * ys[3]
    beta = (4.0 * sxy - sx * sy) / (4.0 * sxx - sx * sx)
    return ns, vs, beta, math.exp((sy - beta * sx) / 4.0)


@pytest.mark.parametrize("partitions", [1, 8])
def test_heaps_shuffled_input_bit_equal(spark, partitions):
    """The doc ranks must not depend on which task reads a doc: with the
    input coming out of a shuffle (its row order within a task varies
    between evaluations) and enough docs that range-bound sampling is
    not exhaustive, n_i, V_i, β and K equal the reference bit for bit."""
    from cesium_spark.operators.textstats import heaps_fit
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "doc_id": rng.permutation(3000),
        "text": [" ".join(f"w{int(z)}" for z in rng.zipf(1.5, 1 + i % 9) % 5000)
                 for i in range(3000)]})
    ns, vs, beta, k = _heaps_reference(pdf)
    conf = {"spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {key: spark.conf.get(key) for key in conf}
    try:
        for key, v in conf.items():
            spark.conf.set(key, v)
        docs = spark.createDataFrame(pdf).repartition(5, "text")
        row = heaps_fit(docs).collect()[0]
    finally:
        for key, v in old.items():
            spark.conf.set(key, v)
    assert [row[f"n{i}"] for i in (1, 2, 3, 4)] == ns
    assert [row[f"v{i}"] for i in (1, 2, 3, 4)] == vs
    assert row["beta"] == beta and row["k_coef"] == k


# --- TPC-H Q22 --------------------------------------------------------------

def test_q22_exact_predicate_and_antijoin(spark):
    """The above-average compare is the integer cross-multiplication
    bal*N > S (no float average materializes), and the executed plan
    anti-joins without a cartesian."""
    from cesium_spark.driver_queries import q_rel_tpch_q22
    out = q_rel_tpch_q22(spark, "/root/testdata/sf0.01")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in p and "LeftAnti" in p
    rows = out.collect()
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'/root/testdata/sf0.01/{t}.parquet'")
    # every reported customer is strictly above the positive-balance
    # mean and lapsed
    s, n = con.sql(
        "SELECT sum(cast(round(c_acctbal*100) AS bigint)), count(*) "
        "FROM customer WHERE c_acctbal > 0").fetchone()
    chk = con.sql(f"""
      SELECT count(*) FROM customer
      WHERE cast(round(c_acctbal*100) AS bigint) * {n} > {s}
        AND c_acctbal > 0
        AND c_custkey NOT IN (SELECT o_custkey FROM orders
              WHERE o_orderdate >= timestamp '2000-06-01 00:00:00')
      """).fetchone()[0]
    # 255 customers are lapsed, but only the above-average subset is
    # reported — the independent DuckDB count is the ground truth
    assert len(rows) == 5
    assert sum(r["numcust"] for r in rows) == chk
    assert 50 < chk < 255


# --- Cronbach's alpha -------------------------------------------------------

def _kchan(spark, cols):
    rows = []
    for i, vals in enumerate(zip(*cols)):
        for j, v in enumerate(vals):
            rows.append(("c", i, f"ch{j}", int(v)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx",
                                      "channel", "y"])
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    pdf["y"] = pdf["y"].astype(np.int64)
    return spark.createDataFrame(pdf)


def test_cronbach_consistent_vs_independent(spark):
    from cesium_spark.operators.seriesstats import cronbach_alpha
    rng = np.random.RandomState(30)
    signal = rng.randint(0, 50, 200)
    consistent = [signal + rng.randint(0, 5, 200) for _ in range(3)]
    rowc = cronbach_alpha(_kchan(spark, consistent),
                          ("ch0", "ch1", "ch2")).collect()[0]
    indep = [rng.randint(0, 50, 200) for _ in range(3)]
    rowi = cronbach_alpha(_kchan(spark, indep),
                          ("ch0", "ch1", "ch2")).collect()[0]
    # literal replay for the consistent case
    a = np.array(consistent, dtype=np.int64)
    vi = sum(float(np.var(a[j])) for j in range(3))
    vt = float(np.var(a.sum(axis=0)))
    alpha = 1.5 * (1 - vi / vt)
    assert abs(rowc["alpha"] - alpha) < 1e-9
    assert rowc["alpha"] > 0.9                  # shared signal
    assert abs(rowi["alpha"]) < 0.3             # independent: ~0


def test_cronbach_degenerates(spark):
    from cesium_spark.operators.seriesstats import cronbach_alpha
    # constant composite: ch1 = -ch0 + 7 makes the sum constant
    a = np.arange(10)
    row = cronbach_alpha(_kchan(spark, [a, 7 - a]),
                         ("ch0", "ch1")).collect()[0]
    assert row["alpha"] is None and row["var_total"] is None
    with pytest.raises(ValueError, match="distinct"):
        cronbach_alpha(_kchan(spark, [a]), ("ch0", "ch0"))


# --- streaming Bloom cells --------------------------------------------------

def test_stream_bloom_equals_batch_on_closed_windows(spark, tmp_path):
    """The streaming twin emits the SAME integer words as the batch
    build for every watermark-closed window."""
    from cesium_spark.operators.sketches import bloom_build
    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (stream_bloom_cells,
                                                     stream_to_table)
    rng = np.random.RandomState(2)
    ts = [pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=int(m))
          for m in sorted(rng.randint(0, 600, 120))]
    pdf = pd.DataFrame({"role": ["r"] * 120, "ts": ts,
                        "item": [f"i{v}" for v in
                                 rng.randint(0, 40, 120)]})
    df = spark.createDataFrame(pdf)
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "role string, ts timestamp, item string").parquet(src)
    io = TableIO(spark, str(tmp_path / "tables"))
    q = stream_to_table(
        stream_bloom_cells(stream, "1h", "90 minutes"),
        io, "sb", str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    got = {(str(r["window_start"]), r["word_idx"]): r["bits"]
           for r in io.read("sb").collect()}
    cutoff = max(ts) - pd.Timedelta(minutes=90)
    batch = bloom_build(df, "1h", ["role"], "item")
    exp = {(str(r["window_start"]), r["word_idx"]): r["bits"]
           for r in batch.collect()
           if r["window_start"] + pd.Timedelta(hours=1) <= cutoff}
    assert got == exp and len(got) > 0


# --- Dunn post-hoc ----------------------------------------------------------

def test_dunn_finds_the_shifted_group(spark):
    """Three groups, one shifted: the shifted pairs fire, the null
    pair stays quiet; z matches a literal midrank replay."""
    from cesium_spark.operators.seriesstats import dunn_posthoc
    rng = np.random.RandomState(42)
    a = rng.randint(0, 30, 40)
    b = rng.randint(0, 30, 40)
    c = rng.randint(40, 70, 40)               # clearly shifted
    rows = {(r["group_a"], r["group_b"]): r for r in
            dunn_posthoc(_grouped(spark, [a, b, c])).collect()}
    allv = np.concatenate([a, b, c]).astype(float)
    order = np.argsort(allv, kind="stable")
    ranks = np.empty(len(allv))
    sv = allv[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2 + 1
        i = j + 1
    n = 120
    _, cnt = np.unique(allv, return_counts=True)
    tm = np.sum(cnt ** 3 - cnt)
    pooled = n * (n + 1) / 12 - tm / (12 * (n - 1))
    m = [ranks[:40].mean(), ranks[40:80].mean(), ranks[80:].mean()]
    z01 = (m[0] - m[1]) / np.sqrt(pooled * (1 / 40 + 1 / 40))
    z02 = (m[0] - m[2]) / np.sqrt(pooled * (1 / 40 + 1 / 40))
    assert abs(rows[("g0", "g1")]["z"] - z01) < 1e-9
    assert abs(rows[("g0", "g2")]["z"] - z02) < 1e-9
    assert abs(rows[("g0", "g1")]["z"]) < 2      # null pair quiet
    assert rows[("g0", "g2")]["z"] < -5          # shifted pair fires
    assert rows[("g1", "g2")]["z"] < -5
    assert len(rows) == 3                        # canonical pairs only


def test_dunn_degenerates(spark):
    from cesium_spark.operators.seriesstats import dunn_posthoc
    rows = dunn_posthoc(_grouped(spark, [[5, 5], [5, 5]])).collect()
    assert len(rows) == 1 and rows[0]["z"] is None   # all-tied


# --- Wilcoxon signed-rank ---------------------------------------------------

def test_wilcoxon_matches_ref_and_detects_shift(spark):
    from cesium_spark.operators.seriesstats import wilcoxon_signed_rank
    rng = np.random.RandomState(27)
    first = rng.randint(0, 40, 40)
    second = first + rng.randint(0, 12, 40) + 1     # genuine lift
    y = np.concatenate([first, second])
    row = wilcoxon_signed_rank(_series15(spark, y)).collect()[0]
    d = (second - first).astype(float)
    d = d[d != 0]
    order = np.argsort(np.abs(d), kind="stable")
    ranks = np.empty(len(d))
    sv = np.abs(d)[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i:j + 1]] = (i + j) / 2 + 1
        i = j + 1
    m = len(d)
    tplus = ranks[d > 0].sum()
    _, cnt = np.unique(np.abs(d), return_counts=True)
    tm = int(np.sum(cnt ** 3 - cnt))
    var = m * (m + 1) * (2 * m + 1) / 24 - tm / 48
    z = (tplus - m * (m + 1) / 4) / np.sqrt(var)
    assert row["n_pairs"] == m and row["tie_mass"] == tm
    assert row["tplus2"] == int(round(2 * tplus))
    assert abs(row["z"] - z) < 1e-9
    assert row["z"] > 4                            # the lift shows


def test_wilcoxon_null_and_degenerates(spark):
    from cesium_spark.operators.seriesstats import wilcoxon_signed_rank
    rng = np.random.RandomState(1)
    # symmetric noise around zero shift: |z| modest
    first = rng.randint(0, 60, 50)
    second = first + rng.randint(-5, 6, 50)
    row = wilcoxon_signed_rank(
        _series15(spark, np.concatenate([first, second]))).collect()[0]
    assert abs(row["z"]) < 2.5
    # identical halves: every diff zero -> conversation absent
    same = np.tile(rng.randint(0, 9, 20), 2)
    assert wilcoxon_signed_rank(_series15(spark, same)).count() == 0


# --- Mood's median ----------------------------------------------------------

def test_mood_median_matches_ref(spark):
    from cesium_spark.operators.seriesstats import mood_median
    rng = np.random.RandomState(50)
    lo = rng.randint(0, 40, 50)
    hi = rng.randint(30, 70, 50)                   # shifted median
    row = mood_median(_grouped(spark, [lo, hi])).collect()[0]
    allv = np.concatenate([lo, hi])
    m2 = int(round(2 * np.percentile(allv, 50)))
    a_lo = int(np.sum(2 * lo > m2))
    a_hi = int(np.sum(2 * hi > m2))
    n, a = 100, a_lo + a_hi
    chi2 = 0.0
    for ng, ag in ((50, a_lo), (50, a_hi)):
        ea, er = ng * a / n, ng * (n - a) / n
        chi2 += (ag - ea) ** 2 / ea + ((ng - ag) - er) ** 2 / er
    assert row["n_above"] == a
    assert abs(row["chi2"] - chi2) < 1e-9
    assert row["chi2"] > 6.63                      # chi2(1) 1%


def test_mood_median_degenerates_and_blunt_robustness(spark):
    from cesium_spark.operators.seriesstats import mood_median
    # identical groups: chi2 ~ 0; inflating the maximum changes
    # NOTHING (the dichotomy is side-of-median only) - bit-exact
    rng = np.random.RandomState(4)
    a = rng.randint(0, 50, 30)
    b = rng.randint(0, 50, 30).astype(np.int64)
    base = mood_median(_grouped(spark, [a, b])).collect()[0]
    b2 = b.copy()
    b2[np.argmax(b2)] = 10 ** 9                    # same side, huge
    whale = mood_median(_grouped(spark, [a, b2])).collect()[0]
    assert whale["chi2"] == base["chi2"]           # bitwise immune
    # single group -> NULL
    row = mood_median(_grouped(spark, [[1, 2, 3]])).collect()[0]
    assert row["chi2"] is None


# --- ESS --------------------------------------------------------------------

def test_ess_directions_and_ref(spark):
    from cesium_spark.operators.seriesstats import ess_acf
    rng = np.random.RandomState(70)
    # sticky AR(1): tau > 1, ESS << n
    y = [50]
    for _ in range(299):
        y.append(int(round(0.85 * y[-1] + 0.15 * 50
                           + rng.randint(-3, 4))))
    row = ess_acf(_series15(spark, y)).collect()[0]
    d = 300 * np.asarray(y, dtype=float) - np.sum(y)
    n0 = np.sum(d * d)
    tau = 1 + 2 * sum(np.sum(d[k:] * d[:-k]) / n0 for k in (1, 2, 3))
    assert abs(row["tau_int"] - tau) < 1e-9
    assert abs(row["ess"] - 300 / tau) < 1e-6
    assert row["ess"] < 150                       # autocorr penalty
    # iid: tau ~ 1, ESS ~ n
    w = rng.randint(0, 100, 300)
    row = ess_acf(_series15(spark, w)).collect()[0]
    assert 200 < row["ess"] < 400
    # strict alternation: negative tau (truncation artifact) -> NULL
    row = ess_acf(_series15(spark, [0, 10] * 50)).collect()[0]
    assert row["tau_int"] < 0 and row["ess"] is None


def test_gradient_energy_color_and_width3_video(spark):
    """r5 (ADVICE): a P6 color raster is a legitimate input (per-channel
    gradients summed, n_pairs ×3), and a Y4M video whose frame WIDTH is
    3 is still a video (container sniff, not shape[-1] != 3)."""
    from cesium_spark.operators.multimodal import gradient_energy
    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, 4 * 5 * 3).astype(np.uint8)
    ppm = b"P6\n5 4\n255\n" + px.tobytes()
    # 2 frames of 4x3 mono Y4M; only frame 0 must be scored
    f0 = rng.randint(0, 256, 12).astype(np.uint8)
    f1 = rng.randint(0, 256, 12).astype(np.uint8)
    y4m = (b"YUV4MPEG2 W3 H4 F25:1 Ip A1:1 Cmono\n"
           + b"FRAME\n" + f0.tobytes() + b"FRAME\n" + f1.tobytes())
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "media": [ppm, y4m]}))
    rows = {r["doc_id"]: r for r in gradient_energy(df).collect()}
    g = px.reshape(4, 5, 3).astype(np.int64)
    eh = int(np.abs(np.diff(g, axis=1)).sum())
    ev = int(np.abs(np.diff(g, axis=0)).sum())
    r = rows[1]
    assert (r["h"], r["w"]) == (4, 5)
    assert (r["e_h"], r["e_v"]) == (eh, ev)
    assert r["n_pairs"] == (4 * 4 + 3 * 5) * 3
    assert r["sharpness"] == (eh + ev) / r["n_pairs"]
    v = f0.reshape(4, 3).astype(np.int64)
    veh = int(np.abs(np.diff(v, axis=1)).sum())
    vev = int(np.abs(np.diff(v, axis=0)).sum())
    rv = rows[2]
    assert (rv["h"], rv["w"]) == (4, 3)
    assert (rv["e_h"], rv["e_v"]) == (veh, vev)
    assert rv["n_pairs"] == 4 * 2 + 3 * 3
