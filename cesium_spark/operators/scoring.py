"""Feature-matrix model scoring — the consumer side of the cesium
workflow (featurize → fit a scikit-learn classifier → SCORE at scale;
cesium's docs end the pipeline at a sklearn model † SURVEY.md §2.3
assemble_featureset). Training happens offline on a sampled feature
table (sklearn, driver-side — the matrix is small); scoring the full
10^12-turn feature table is the distributed half, and it is a pure
projection: weights inline as literals, so the plan is codegen with
ZERO shuffles and composes under any downstream partitioning.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.exact import require_int


def score_linear(features: DataFrame, weights: Mapping[str, float],
                 intercept: float = 0.0,
                 link: str = "logistic") -> DataFrame:
    """Append ``score`` = link(intercept + Σ wᵢ·xᵢ) over the named
    feature columns — logistic (sigmoid) or identity link, i.e. the
    inference step of a sklearn LogisticRegression / LinearRegression
    fit offline on a sample.

    A row with ANY NULL among the weighted features scores NULL — a
    missing feature silently scored as 0 would corrupt downstream
    threshold decisions (the NULL-means-undefined house rule). The
    linear term is a fixed left-associated expression tree in the
    given weight order, so scores are deterministic, partitioning-
    independent, and exactly restatable in SQL.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if link not in ("logistic", "identity"):
        raise ValueError(f"link must be logistic|identity, got {link!r}")
    z = F.lit(float(intercept))
    for c, w in weights.items():
        z = z + F.lit(float(w)) * F.col(c).cast("double")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) \
        if link == "logistic" else z
    return features.withColumn("score", score)


def auc_score(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact distributed ROC-AUC via the Mann–Whitney rank-sum
    identity — the model-eval half of the probe workflow (fit with
    ols_fit2 / offline sklearn, score with score_linear, EVALUATE
    here) at 10^12-row scale, where collecting scores to the driver is
    not an option and sampled AUC adds variance nobody budgets for.

        AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻),   R⁺ = Σ rank(score⁺)

    with ties given their AVERAGE rank (the exact tie-corrected
    estimator — identical to sklearn's roc_auc_score). All arithmetic
    is INTEGER until one terminal division: ranks are computed per
    DISTINCT score (group counts + a cumulative count over the
    distinct-score table), the average rank is carried DOUBLED
    (2·cum_before + cnt + 1 — always an exact integer, dodging the
    half-integer), and the rank sum is an exact int64 — so the AUC is
    bit-stable at any parallelism and exactly SQL-restatable.

    Scale shape: one hash aggregate to distinct scores (the corpus
    shuffle carries one row per distinct score — gridded/quantized
    scores collapse massively), then a two-phase rank over that
    distinct table, since continuous scores are nearly all distinct
    and one global ordered window would rank them all in one task
    (the partition-offset scheme of textstats.heaps_fit): a range
    repartition on the score, per-partition cumulative counts and
    rank sums, then exclusive per-partition offsets on num-partitions
    rows, added to the rank sums in the same lineage (no join back,
    so the sampled range bounds are drawn once). Then one single-row
    fold. Rows with NULL score or NULL label cannot be ranked and are
    dropped, REPORTED via n vs the caller's count. Degenerate labels
    (no positives or no negatives) yield NULL, not garbage.

    Output (one row): n, n_pos, n_neg, auc.
    """
    s = (df.where(F.col(score_col).isNotNull()
                  & F.col(label_col).isNotNull())
         .select(F.col(score_col).alias("s"),
                 F.col(label_col).cast("boolean").alias("lab")))
    g = s.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("lab"), 1).otherwise(0)).alias("pos"))
    # phase 1: range partitions hold disjoint, ascending score ranges;
    # the doubled average rank of a tie group inside its partition is
    # 2·cum_before + cnt + 1, summed over positives per partition
    part = g.repartitionByRange("s").withColumn("pid", F.spark_partition_id())
    before = Window.partitionBy("pid").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1)
    lr2 = (F.lit(2) * F.coalesce(F.sum("cnt").over(before), F.lit(0))
           + F.col("cnt") + F.lit(1))
    ptot = (part.withColumn("lr2", lr2.cast("long"))
            .groupBy("pid")
            .agg(F.sum("cnt").cast("long").alias("pcnt"),
                 F.sum("pos").cast("long").alias("ppos"),
                 F.sum(F.col("pos") * F.col("lr2")).cast("long")
                 .alias("pr2")))
    # phase 2: every rank in a partition shifts by the rows of the
    # earlier partitions (an exclusive prefix over num-partitions rows,
    # the only ordered global window), so each positive's doubled rank
    # gains 2·offset. One lineage: no join back to the ranked rows.
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    off = F.coalesce(F.sum("pcnt").over(wo), F.lit(0))
    tot = ptot.select(
        "pcnt", "ppos",
        (F.col("pr2") + F.lit(2) * F.col("ppos") * off).alias("r2")).agg(
        F.sum("pcnt").cast("long").alias("n"),
        F.sum("ppos").cast("long").alias("n_pos"),
        F.sum("r2").cast("long").alias("r2_pos"))
    npos = F.col("n_pos").cast("double")
    nneg = (F.col("n") - F.col("n_pos")).cast("double")
    auc = ((F.col("r2_pos").cast("double")
            - npos * (npos + F.lit(1.0)))
           / (F.lit(2.0) * npos * nneg))
    return tot.select(
        "n", "n_pos", (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.when((F.col("n_pos") > 0) & (F.col("n") > F.col("n_pos")),
               auc).alias("auc"))


def ols_fit2(df: DataFrame, y_col: str, x1_col: str,
             x2_col: str) -> DataFrame:
    """Closed-form distributed OLS with two regressors + intercept —
    the TRAINING side of the linear probe (score_linear is inference):
    y ≈ b0 + b1·x1 + b2·x2 fit by normal equations over SUFFICIENT
    STATISTICS. This is the canonical 10^12-row fitting pattern: ONE
    pass aggregates the 9 Gram/moment sums (map-side partials, a
    single-row SinglePartition exchange — constant state however many
    rows), and the 3×3 Cramer solve runs as native column expressions
    over that one row — no collect, no driver math, no iteration.

    Exactness contract: inputs must be INTEGER columns (validated) so
    every aggregated sum is exact int64 arithmetic — bit-stable at any
    parallelism and summation order, with Spark's ANSI mode raising
    loudly on int64 overflow rather than wrapping (at ~10^18-scale
    Gram entries, re-fit on a sample or pre-scale the features —
    silent float drift is NOT an acceptable fallback). The solve and
    the R² are then one fixed double expression tree over those exact
    integers, exactly restatable in SQL. A singular Gram matrix
    (collinear regressors, det = 0 exactly) yields NULL betas/r2, not
    an error: collinearity is a data property, overflow is a bug.

    Output (one row): n, b0, b1, b2, r2.
    """
    require_int(df, "ols_fit2", y_col, x1_col, x2_col)
    y = F.col(y_col).cast("long")
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    g = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"), F.sum(x2).alias("sx2"),
        F.sum(x1 * x1).alias("sx11"), F.sum(x1 * x2).alias("sx12"),
        F.sum(x2 * x2).alias("sx22"),
        F.sum(y).alias("sy"), F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"), F.sum(y * y).alias("syy"))

    def d(c):  # exact-int sums enter the solve as doubles, once
        return F.col(c).cast("double")

    n, sx1, sx2 = d("n"), d("sx1"), d("sx2")
    sx11, sx12, sx22 = d("sx11"), d("sx12"), d("sx22")
    sy, sx1y, sx2y, syy = d("sy"), d("sx1y"), d("sx2y"), d("syy")

    def det3(a, b, c, p, q, r, u, v, w):
        return (a * (q * w - r * v) - b * (p * w - r * u)
                + c * (p * v - q * u))

    det = det3(n, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    det0 = det3(sy, sx1, sx2, sx1y, sx11, sx12, sx2y, sx12, sx22)
    det1 = det3(n, sy, sx2, sx1, sx1y, sx12, sx2, sx2y, sx22)
    det2 = det3(n, sx1, sy, sx1, sx11, sx1y, sx2, sx12, sx2y)
    ok = det != F.lit(0.0)
    b0 = F.when(ok, det0 / det)
    b1 = F.when(ok, det1 / det)
    b2 = F.when(ok, det2 / det)
    sol = g.select(
        F.col("n").cast("long").alias("n"),
        b0.alias("b0"), b1.alias("b1"), b2.alias("b2"),
        syy.alias("_syy"), sy.alias("_sy"), n.alias("_n"),
        sx1y.alias("_sx1y"), sx2y.alias("_sx2y"),
        sx1.alias("_sx1"), sx2.alias("_sx2"),
        sx11.alias("_sx11"), sx12.alias("_sx12"), sx22.alias("_sx22"))
    B0, B1, B2 = F.col("b0"), F.col("b1"), F.col("b2")
    sse = (F.col("_syy")
           - 2.0 * (B0 * F.col("_sy") + B1 * F.col("_sx1y")
                    + B2 * F.col("_sx2y"))
           + (B0 * B0 * F.col("_n") + B1 * B1 * F.col("_sx11")
              + B2 * B2 * F.col("_sx22")
              + 2.0 * (B0 * B1 * F.col("_sx1")
                       + B0 * B2 * F.col("_sx2")
                       + B1 * B2 * F.col("_sx12"))))
    tss = F.col("_syy") - F.col("_sy") * F.col("_sy") / F.col("_n")
    r2 = F.when(tss != F.lit(0.0), F.lit(1.0) - sse / tss)
    return sol.select("n", "b0", "b1", "b2", r2.alias("r2"))


def rank_normalize(long_features: DataFrame,
                   value_col: str = "value",
                   feature_col: str = "feature") -> DataFrame:
    """Cross-series rank normalization of a long feature table: adds
    ``pct_rank`` = percent_rank of each row's value within its
    feature — the distribution-free feature-prep step before
    thresholding or model fitting (a heavy-tailed feature like
    latency-amplitude becomes uniformly comparable to a bounded one
    like tool_rate-mean). percent_rank = (rank−1)/(N−1) with ties
    sharing a rank, so the output is deterministic WITHOUT a
    tie-break column; a single-row feature gets 0.0.

    NULL values (degenerate-feature policy rows) are excluded from
    the ranking population — they would otherwise sort first and
    both claim ranks and inflate N — and kept as pct_rank NULL rows
    (the unpivot NULL-preservation contract: a curation gate must
    see 'feature not computed', not lose the row).

    Round ``value_col`` upstream of this operator if cross-engine
    rank stability is required (ties on the rounded grid rank
    identically everywhere; unrounded ulp drift can reorder).

    Scale shape: one filter split + percent_rank window partitioned
    by feature + unionByName — ONE hash exchange on the feature key;
    rows = series × features, orders of magnitude below raw turns.
    """
    real = long_features.where(F.col(value_col).isNotNull())
    nulls = (long_features.where(F.col(value_col).isNull())
             .withColumn("pct_rank", F.lit(None).cast("double")))
    w = Window.partitionBy(feature_col).orderBy(F.col(value_col))
    ranked = real.withColumn("pct_rank", F.percent_rank().over(w))
    return ranked.unionByName(nulls)


def ols_granger(df: DataFrame, y_col: str, x1_col: str,
                x2_col: str) -> DataFrame:
    """Granger-style nested-model F-test: does x2 add predictive power
    for y BEYOND x1? Fits the restricted model y ~ b0 + b1·x1 and the
    unrestricted y ~ b0 + b1·x1 + b2·x2 from the SAME single
    sufficient-statistics pass (the ols_fit2 contract: one aggregate
    of 10 exact-int64 Gram/moment sums, ANSI overflow raises), then

        F = (SSE_r − SSE_u) / (SSE_u / (n − 3))

    with 1 numerator dof — the classic lag-causality screen when the
    caller aligns x1 = lag(y) and x2 = lag(driver) per series
    (Granger 1969 at lag order 1). Everything after the one aggregate
    is a fixed double expression tree over exact integers: the 3×3
    Cramer solve for the unrestricted SSE, the 2×2 closed form for
    the restricted SSE, one F ratio — no collect, no iteration,
    bit-stable at any parallelism and exactly SQL-restatable.

    Degenerate policy: singular unrestricted Gram (collinear x2),
    zero-variance x1, n ≤ 3, or SSE_u ≤ 0 (exact fit — F undefined)
    all yield NULL f_stat, never ±inf; SSEs clamp tiny negative
    cancellation residue at 0 via greatest(·, 0) on BOTH engines.

    Output (one row): n, b2 (the tested coefficient), sse_r, sse_u,
    f_stat.
    """
    require_int(df, "ols_granger", y_col, x1_col, x2_col)
    y = F.col(y_col).cast("long")
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    g = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"), F.sum(x2).alias("sx2"),
        F.sum(x1 * x1).alias("sx11"), F.sum(x1 * x2).alias("sx12"),
        F.sum(x2 * x2).alias("sx22"),
        F.sum(y).alias("sy"), F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"), F.sum(y * y).alias("syy"))

    def d(c):
        return F.col(c).cast("double")

    n, sx1, sx2 = d("n"), d("sx1"), d("sx2")
    sx11, sx12, sx22 = d("sx11"), d("sx12"), d("sx22")
    sy, sx1y, sx2y, syy = d("sy"), d("sx1y"), d("sx2y"), d("syy")

    def det3(a, b, c, p, q, r, u, v, w):
        return (a * (q * w - r * v) - b * (p * w - r * u)
                + c * (p * v - q * u))

    det = det3(n, sx1, sx2, sx1, sx11, sx12, sx2, sx12, sx22)
    okU = det != F.lit(0.0)
    # every / lives INSIDE a when(ok, ...) branch: ANSI mode raises on
    # float-div-by-zero and CaseWhen branch laziness is the only guard
    # Spark guarantees (the ols_fit2 pattern) — a bare det0/det would
    # raise while evaluating the f_stat condition on singular input
    b0 = F.when(okU, det3(sy, sx1, sx2,
                          sx1y, sx11, sx12, sx2y, sx12, sx22) / det)
    b1 = F.when(okU, det3(n, sy, sx2,
                          sx1, sx1y, sx12, sx2, sx2y, sx22) / det)
    b2 = F.when(okU, det3(n, sx1, sy,
                          sx1, sx11, sx1y, sx2, sx12, sx2y) / det)
    sse_u = F.greatest(
        F.lit(0.0),
        syy
        - 2.0 * (b0 * sy + b1 * sx1y + b2 * sx2y)
        + (b0 * b0 * n + b1 * b1 * sx11 + b2 * b2 * sx22
           + 2.0 * (b0 * b1 * sx1 + b0 * b2 * sx2 + b1 * b2 * sx12)))
    det_r = n * sx11 - sx1 * sx1
    okR = det_r != F.lit(0.0)
    b1r = F.when(okR, (n * sx1y - sx1 * sy) / det_r)
    b0r = F.when(okR, (sy - b1r * sx1) / n)  # okR ⇒ n ≥ 1
    sse_r = F.greatest(
        F.lit(0.0),
        syy - 2.0 * (b0r * sy + b1r * sx1y)
        + (b0r * b0r * n + b1r * b1r * sx11 + 2.0 * b0r * b1r * sx1))
    f = F.when(okU & okR & (F.col("n") > 3) & (sse_u > 0),
               (sse_r - sse_u) / (sse_u / (n - F.lit(3.0))))
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.when(okU, b2).alias("b2"),
        F.when(okR, sse_r).alias("sse_r"),
        F.when(okU, sse_u).alias("sse_u"),
        f.alias("f_stat"))


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     bins: int = 10) -> DataFrame:
    """Reliability diagram + expected calibration error — the
    calibration half of model evaluation next to ``auc_score``'s
    discrimination half: a model can rank perfectly (AUC 1) and
    still lie about probabilities; this is the operator that catches
    it.  Scores must be probabilities in [0, 1] (validated IN-PLAN —
    a raise, not a silent clamp: clamping would fabricate a
    calibrated-looking tail).

    Exactness device: each score is gridded ONCE to the exact int64
    micro-unit s = round(score·10⁶); every downstream quantity —
    the bin id least(s·B div 10⁶, B−1), per-bin count / Σs / positive
    count, the Brier numerator Σ(s − label·10⁶)² — is integer
    arithmetic over that grid (Brier stays in int64 to ~10⁶ rows at
    the 10¹² per-row bound; ANSI raises beyond), and the per-bin
    ``mean_score``/``pos_rate``/``gap`` plus the global

        ece   = Σ_b (n_b/N)·|pos_rate_b − mean_score_b|
        brier = Σ(s − label·10⁶)² / (N·10¹²)

    are fixed double trees — the ECE fold runs in ORDERED bin
    sequence (max of a nondecreasing running sum; the chi2 contract).
    Output: one row per NON-EMPTY bin (empty bins contribute exactly
    0 to ECE, so omitting them loses nothing — unlike chi2's dense
    cells), each carrying the table-level ece/brier/n_total.

    Plan: one corpus-sized hash aggregate to B bins; everything after
    runs on ≤ B rows (global window folds bounded by bin count).
    """
    if not isinstance(bins, int) or not (2 <= bins <= 1000):
        raise ValueError(f"calibration_bins: bins must be an int in "
                         f"[2, 1000], got {bins!r}")
    sc = F.col(score_col).cast("double")
    checked = F.when(
        (sc < 0) | (sc > 1) | F.isnan(sc),
        F.expr("raise_error('calibration_bins: score outside [0,1] — "
               "calibration needs probabilities, not raw scores')")
        .cast("double")).otherwise(sc)
    s_i = F.round(checked * F.lit(1000000.0), 0).cast("long")
    lab = F.col(label_col).cast("boolean")
    base = (df.where(F.col(score_col).isNotNull()
                     & F.col(label_col).isNotNull())
            .select(s_i.alias("__s"), lab.alias("__l")))
    bin_id = F.least(F.expr(f"(__s * {int(bins)}) div 1000000"),
                     F.lit(bins - 1)).cast("int")
    per_bin = (base.select(bin_id.alias("bin"), "__s", "__l")
               .groupBy("bin")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("__s").alias("sum_s"),
                    F.sum(F.when(F.col("__l"), 1).otherwise(0))
                    .cast("long").alias("n_pos"),
                    F.sum((F.col("__s")
                           - F.when(F.col("__l"), F.lit(1000000))
                           .otherwise(F.lit(0)).cast("long"))
                          * (F.col("__s")
                             - F.when(F.col("__l"), F.lit(1000000))
                             .otherwise(F.lit(0)).cast("long")))
                    .alias("brier_num")))
    w_all = Window.partitionBy()
    w_ord = w_all.orderBy("bin")
    nd = F.col("n").cast("double")
    mean_score = F.col("sum_s").cast("double") / (nd * F.lit(1e6))
    pos_rate = F.col("n_pos").cast("double") / nd
    gap = F.abs(pos_rate - mean_score)
    enriched = per_bin.select(
        "bin", "n", "n_pos",
        mean_score.alias("mean_score"),
        pos_rate.alias("pos_rate"),
        gap.alias("gap"),
        F.sum("n").over(w_all).alias("__nt"),
        F.sum("brier_num").over(w_all).alias("__bn"),
        F.sum((nd / F.sum("n").over(w_all).cast("double")) * gap)
        .over(w_ord).alias("__cum_ece"))
    ntd = F.col("__nt").cast("double")
    return enriched.select(
        "bin", "n", "n_pos", "mean_score", "pos_rate", "gap",
        F.col("__nt").cast("long").alias("n_total"),
        F.max("__cum_ece").over(Window.partitionBy()).alias("ece"),
        (F.col("__bn").cast("double") / (ntd * F.lit(1e12)))
        .alias("brier"))


def bh_fdr(df: DataFrame, p_col: str, id_col: str,
           q: float = 0.05) -> DataFrame:
    """Benjamini–Hochberg false-discovery-rate control (Benjamini &
    Hochberg 1995) — the meta-operator every per-conversation test in
    this library feeds: run one test per conversation and 5% of
    10⁵ "significant at 0.05" results are false alarms BY DESIGN;
    BH step-up turns the p-value column into an honest discovery
    list.  Rows: hypotheses (one per conversation/doc/series).

        rank i by p ascending (ties by id — deterministic),
        k = max{ i : p_(i) ≤ i·q/m },
        significant  ⇔  rank ≤ k          (the STEP-UP rule: a row
                       above its own threshold is still rejected when
                       a later row clears its line — comparing each p
                       to its own i·q/m is the classic BH bug),
        p_adj_(i) = min(1, min_{j≥i} m·p_(j)/j)   (reverse running
                       min, monotone by construction).

    NULL p-values are excluded from m and the ranking and come back
    with NULL rank/p_adj/significant — an untestable hypothesis is
    not a discovery and not a denominator.  Determinism: both engines
    rank the SAME doubles (the p column is produced by this library's
    engine-identical trees) with the id tiebreak, and every threshold
    comparison i·q/m is the same fixed tree.

    Scale note: one global rank window over the HYPOTHESIS table —
    bounded by the number of series, not the corpus; at 10⁸+
    hypotheses this is a single sort, the standard cost of the
    procedure.
    """
    if not (0.0 < q < 1.0):
        raise ValueError(f"bh_fdr: q must be in (0,1), got {q!r}")
    p = F.col(p_col).cast("double")
    valid = df.where(p.isNotNull() & ~F.isnan(p))
    invalid = df.where(p.isNull() | F.isnan(p))
    w_rank = Window.partitionBy().orderBy(p.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy()
    ranked = valid.select(
        F.col(id_col), p.alias("__p"),
        F.row_number().over(w_rank).alias("rank"),
        F.count(F.lit(1)).over(w_all).alias("__m"))
    md = F.col("__m").cast("double")
    line = F.col("rank").cast("double") * F.lit(float(q)) / md
    w_rev = Window.partitionBy().orderBy(F.col("rank").desc())
    ranked = ranked.select(
        id_col, "__p", "rank", "__m",
        F.max(F.when(F.col("__p") <= line, F.col("rank")))
        .over(w_all).alias("__k"),
        F.min(md * F.col("__p") / F.col("rank").cast("double"))
        .over(w_rev.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__radj"))
    out_valid = ranked.select(
        id_col,
        F.col("__p").alias("p"),
        "rank",
        F.least(F.lit(1.0), F.col("__radj")).alias("p_adj"),
        F.when(F.col("__k").isNotNull(),
               F.col("rank") <= F.col("__k"))
        .otherwise(F.lit(False)).alias("significant"),
        F.col("__m").cast("long").alias("m"))
    out_invalid = invalid.select(
        F.col(id_col),
        F.lit(None).cast("double").alias("p"),
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("double").alias("p_adj"),
        F.lit(None).cast("boolean").alias("significant"),
        F.lit(None).cast("long").alias("m"))
    return out_valid.unionByName(out_invalid)
