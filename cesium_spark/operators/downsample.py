"""M4 visualization downsample (Jugel et al., "M4: A
Visualization-Oriented Time Series Data Aggregation", VLDB 2014).

For each (conv_id, channel) series and tier bucket, keep exactly the
four value-extreme points — min, max, first, last — which is the
published error-free aggregation for line-chart rendering at a given
pixel width: any pixel column's drawn line segment is fully determined
by those four points, so a 10^12-turn series downsampled to a 4K
dashboard transfers ~16K points per series instead of the raw stream.

Pure native aggregation — one hash exchange on (conv_id, channel,
bucket), partial aggregation map-side, no UDF, no window. At scale the
group-by keys prefix-match the table's bucket/sort layout so the
exchange is elided; this is the cheapest possible plan shape (identical
to `rollup_moments`).

Determinism: first/last use ``min_by/max_by(y, t)``; ties in ``t``
within a (conv, channel, bucket) group are broken by ``turn_idx`` via a
packed struct ordering, so results are partitioning-independent even on
duplicate timestamps.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import tier_window


def m4_downsample(series: DataFrame, tier: str) -> DataFrame:
    """Returns (conv_id, channel, bucket, y_min, y_max, y_first,
    y_last, t_first, t_last, n) — the M4 tuple per tier bucket."""
    bucket = tier_window("ts", tier)
    # order key: (t, turn_idx) packed in a struct — struct ordering is
    # lexicographic, so equal-t ties fall back to turn order
    okey = F.struct(F.col("t"), F.col("turn_idx"))
    return (
        series
        .withColumn("bucket", bucket)
        .groupBy("conv_id", "channel", "bucket")
        .agg(
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.min_by("y", okey).alias("y_first"),
            F.max_by("y", okey).alias("y_last"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# LTTB (Steinarsson, "Downsampling Time Series for Visual
# Representation", MSc thesis, U. Iceland 2013) — the
# perceptual-quality companion to M4: where M4 is the error-free
# per-pixel-column aggregation, LTTB picks the m points that preserve
# the visual SHAPE of the line (largest-triangle areas), the algorithm
# Grafana/Timescale expose as `lttb()`.
# ---------------------------------------------------------------------------

LTTB_SCHEMA = ("conv_id string, channel string, turn_idx long, "
               "t double, y double")


def _lttb_select(t: np.ndarray, y: np.ndarray, m: int) -> np.ndarray:
    """Indices kept by LTTB over one sorted series — first and last
    always; the n−2 interior points split into m−2 equal-count buckets;
    bucket k keeps the point maximizing the triangle area with the
    previously KEPT point and the mean of bucket k+1 (the last interior
    bucket pairs with the final point). Sequential in k by definition —
    which is exactly why this is a per-series kernel, parallel ACROSS
    series, never a cross-series shuffle. O(n) per series; ties in
    area keep the earliest point (np.argmax), so output is a pure
    function of the sorted series.
    """
    n = t.size
    if n <= m:
        return np.arange(n)
    keep = np.empty(m, dtype=np.int64)
    keep[0], keep[-1] = 0, n - 1
    # interior bucket k (0-based) = sorted positions [edge[k], edge[k+1])
    edges = 1 + ((np.arange(m - 1, dtype=np.int64) * (n - 2)) // (m - 2))
    prev = 0
    for k in range(m - 2):
        lo, hi = edges[k], edges[k + 1]
        if k + 1 < m - 2:
            nlo, nhi = edges[k + 1], edges[k + 2]
            cx, cy = t[nlo:nhi].mean(), y[nlo:nhi].mean()
        else:
            cx, cy = t[n - 1], y[n - 1]
        ax, ay = t[prev], y[prev]
        area = np.abs((ax - cx) * (y[lo:hi] - ay)
                      - (ax - t[lo:hi]) * (cy - ay))
        prev = lo + int(np.argmax(area))
        keep[k + 1] = prev
    return keep


def lttb_downsample(series: DataFrame, threshold: int) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ``threshold``
    points per (conv_id, channel) series; series with ≤ threshold
    points pass through unchanged.

    Plan shape: pre-UDF projection to the five needed columns, then ONE
    hash exchange on the group key into a vectorized ``applyInPandas``
    kernel (in-kernel stable sort on (t, turn_idx) keeps the result
    partitioning-independent, per the §4.3 determinism policy). Group
    memory is O(series length) — the same bound as the conv-tier
    Lomb–Scargle kernel, with AQE absorbing Zipf length skew. Rows
    with NULL t/y are dropped up front (triangle areas are undefined);
    the caller gap-fills first if NULLs are meaningful.
    """
    if threshold < 3:
        raise ValueError(f"threshold must be >= 3, got {threshold}")

    def _kernel(pdf):
        pdf = pdf.sort_values(["t", "turn_idx"], kind="stable")
        keep = _lttb_select(pdf["t"].to_numpy(np.float64),
                            pdf["y"].to_numpy(np.float64), threshold)
        return pdf.iloc[keep]

    return (
        series
        .select("conv_id", "channel", "turn_idx", "t", "y")
        .where(F.col("t").isNotNull() & F.col("y").isNotNull())
        .groupBy("conv_id", "channel")
        .applyInPandas(_kernel, LTTB_SCHEMA)
    )


def _sax_check(breakpoints, alphabet: str) -> None:
    """Shared SAX parameter validation (symbolize + motifs)."""
    if list(breakpoints) != sorted(set(breakpoints)):
        raise ValueError("breakpoints must be strictly increasing")
    if len(breakpoints) + 1 > len(alphabet):
        raise ValueError(f"alphabet too short: need "
                         f"{len(breakpoints) + 1} letters")
    if not alphabet.isalnum():
        raise ValueError("alphabet must be alphanumeric")


def _sax_letter(val_sql: str, breakpoints, alphabet: str) -> str:
    """THE quantize rule, in one place: letter = alphabet[#{bp <
    round(val, 6)}]. Both SAX operators and their oracles depend on
    this exact formatting (6-dp round before the compare makes the
    boundary engine-stable); a change here must change everywhere, so
    it lives nowhere else. ``val_sql`` is already-rounded for the PAA
    path (round of a rounded value is the identity)."""
    bps = ", ".join(f"CAST({float(b)!r} AS DOUBLE)" for b in breakpoints)
    return (f"substring('{alphabet}', size(filter(array({bps}), "
            f"b -> b < round({val_sql}, 6))) + 1, 1)")


def sax_symbolize(series: DataFrame, w: int, breakpoints: list[float],
                  alphabet: str = "abcdefghijklmnop") -> DataFrame:
    """SAX symbolization (Lin, Keogh, Lonardi, Chiu — "A Symbolic
    Representation of Time Series", DMKD 2003): compress each
    (conv_id, channel) series to a ``w``-letter word — PAA segment
    means quantized against ``breakpoints`` — the standard index key
    for series-shape similarity/dedup (two conversations with the same
    latency SHAPE hash to the same word regardless of length).

    PAA uses SAX's equal-count segments via pure integer arithmetic
    (point of rank r in an n-point series → segment ``(r·w) div n``,
    the same edge rule as the LTTB kernel); series with n < w yield an
    n-letter word (every point its own segment). Quantization letter =
    #{breakpoints < round(paa, 6)} — rounding BEFORE the comparison
    pins the boundary decision to the same 6-dp value the oracle sees.
    The classic recipe z-normalizes first and uses Gaussian
    breakpoints; normalization is the caller's choice (pass the
    breakpoints that match — raw-unit values here), keeping the
    operator free of the order-sensitive mean/std pass.

    Plan shape: ONE hash exchange total — the rank/count window
    partitions by (conv_id, channel), and both downstream aggregations
    key on supersets of that, so their clustering is satisfied and the
    exchanges are elided (plan-audited in pytest). All native exprs:
    window, two-phase avg, HOF filter for the quantize, array_sort +
    transform for the word — no UDF anywhere.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    _sax_check(breakpoints, alphabet)
    pw = Window.partitionBy("conv_id", "channel")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", "channel", "t", "turn_idx", "y")
         .withColumn("__r", F.row_number().over(
             pw.orderBy("t", "turn_idx")) - 1)
         .withColumn("__n", F.count(F.lit(1)).over(pw)))
    paa = (
        s.withColumn("seg", F.expr(f"(__r * {int(w)}) DIV __n"))
        .groupBy("conv_id", "channel", "seg")
        .agg((F.round(F.avg("y"), 6) + F.lit(0.0)).alias("paa"),
             F.max("__n").alias("__n"))
        .withColumn("letter",
                    F.expr(_sax_letter("paa", breakpoints, alphabet)))
    )
    return (
        paa.groupBy("conv_id", "channel")
        .agg(
            F.expr("array_join(transform(array_sort("
                   "collect_list(struct(seg, letter))), x -> x.letter), '')")
            .alias("word"),
            F.count(F.lit(1)).alias("n_segments"),
            F.max("__n").alias("n_points"),
        )
    )


def sax_motifs(series: DataFrame, k: int = 4,
               breakpoints: list[float] | None = None,
               alphabet: str = "abcdefghijklmnop") -> DataFrame:
    """SAX motif/discord mining (Lin–Keogh–Patel "Finding Motifs in
    Time Series" + the HOT-SAX discord heuristic): symbolize every
    POINT against ``breakpoints`` (the same quantize rule as
    :func:`sax_symbolize`: letter = #{bp < round(y, 6)}, rounding
    before the compare so the boundary is engine-stable), slide a
    ``k``-letter word over consecutive points, and per series report
    the MOTIF (most frequent word = the recurring shape: a retry
    loop's latency signature, a daily rhythm) and the DISCORD (least
    frequent word = the oddest subsequence). Ties break
    deterministically: by word ascending, positions to the EARLIEST
    occurrence — counts and positions are integers, letters come from
    gridded compares, so the ranking cannot flip between engines.

    Per-point symbolization (not PAA segments) keeps the word stream
    defined for every position; use :func:`sax_symbolize` when one
    word per series is wanted instead. Series with fewer than ``k``
    points have no complete word and drop out (permutation_entropy
    precedent).

    Plan shape: ONE hash exchange — the lead-window word builder
    partitions on (conv_id, channel); the word count keys on a
    superset, and both ranking windows and the final fold key on
    (conv_id, channel) again, so every downstream exchange is elided.
    No join, no UDF.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if breakpoints is None:
        breakpoints = [-1.0, 0.0, 1.0]
    _sax_check(breakpoints, alphabet)
    pw = Window.partitionBy("conv_id", "channel")
    wo = pw.orderBy("t", "turn_idx")
    letter = F.expr(_sax_letter("y", breakpoints, alphabet))
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", "channel", "t", "turn_idx",
                 letter.alias("__c"))
         .withColumn("__pos", F.row_number().over(wo) - 1))
    word = F.concat(F.col("__c"),
                    *[F.lead("__c", i).over(wo) for i in range(1, k)])
    words = (s.withColumn("word", word)
             .where(F.col("word").isNotNull())
             .select("conv_id", "channel", "word", "__pos"))
    stats = (words.groupBy("conv_id", "channel", "word")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.min("__pos").alias("first_pos")))
    rn_m = F.row_number().over(
        pw.orderBy(F.col("cnt").desc(), F.col("word").asc()))
    rn_d = F.row_number().over(
        pw.orderBy(F.col("cnt").asc(), F.col("word").asc()))
    total = F.sum("cnt").over(pw)
    ranked = (stats
              .withColumn("__rm", rn_m)
              .withColumn("__rd", rn_d)
              .withColumn("__tot", total)
              .where((F.col("__rm") == 1) | (F.col("__rd") == 1)))
    pick = lambda rc, c: F.max(F.when(F.col(rc) == 1, F.col(c)))  # noqa: E731
    return (ranked.groupBy("conv_id", "channel")
            .agg(F.max("__tot").cast("long").alias("n_words"),
                 pick("__rm", "word").alias("motif_word"),
                 pick("__rm", "cnt").cast("long").alias("motif_count"),
                 pick("__rm", "first_pos").cast("long")
                 .alias("motif_pos"),
                 pick("__rd", "word").alias("discord_word"),
                 pick("__rd", "cnt").cast("long")
                 .alias("discord_count"),
                 pick("__rd", "first_pos").cast("long")
                 .alias("discord_pos")))
