"""Count-Min Sketch retention tiers: the mergeable FREQUENCY summary,
completing the sketch family next to HLL (distinct count, fold.py) and
fixed-edge histograms (distribution, histogram.py). Cormode & Muthu-
krishnan 2005: a d×w counter matrix; item x increments one counter per
row at column h_d(x); the point estimate is the MIN over rows — never
an underestimate, overestimate bounded by 2n/w with probability
1 − (1/2)^d for w = 2/ε, d = log2(1/δ).

Why this shape at 100 TB: exact per-item counts of an unbounded item
domain (turn payloads, URLs, user agents) need a shuffle whose key
space grows with the data; the CMS is a FIXED d×w integer grid per
(key, window) — the shuffle carries at most d·w counter cells per
group regardless of item cardinality, higher tiers fold from lower by
elementwise integer addition (bit-stable at any parallelism, same
algebra as the histogram tiers), and the estimate is a driver-side
probe of d cells.

Hash family: h_d(x) = int(md5(d || ':' || x)[:8 hex]) mod w — the
repo's content-addressed idiom (sampling.split_bucket): pure native
exprs, bit-identical in any engine, so sketches are REPLAYABLE — the
DuckDB oracle rebuilds the daily grid from raw and must match the
Spark 1h→1d fold cell-for-cell (fold == direct, integer exact). md5's
avalanche makes the d rows effectively pairwise-independent, which is
all the CMS analysis needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.operators.fold import fold_tier
from cesium_spark.operators.rollup import tier_window


def _cms_col(item_col, d: int, width: int):
    """Column expr: CMS column index of item under hash row d."""
    h = F.md5(F.concat(F.lit(f"{d}:"), item_col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(width))


def _check(width: int, depth: int) -> None:
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")


def cms_build(df: DataFrame, tier: str, key_cols: list[str],
              item_col: str, width: int = 1024,
              depth: int = 4) -> DataFrame:
    """Per-(key, window) CMS counter cells:
    ``(*key_cols, window_start, tier, d, col, cnt)``. Only OCCUPIED
    cells are materialized (the grid is sparse storage, dense
    semantics: an absent cell is 0 — exactly the histogram-tier
    convention). NULL items contribute no cell (filtered up front;
    md5(NULL) is NULL, which would otherwise silently land every NULL
    in a phantom bucket) — a gate that needs NULL multiplicity counts
    them upstream.

    Scale shape: each row fans into ``depth`` (d, col) pairs via a
    per-row literal-array explode (pure codegen, no join), then ONE
    two-phase count — the shuffle carries DISTINCT occupied cells per
    partition, ≤ d·w per group however many raw rows collapsed into
    them. ONE hash exchange.
    """
    window = tier_window("ts", tier)
    _check(width, depth)
    pairs = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cms_col(F.col(item_col), d, width).alias("col"))
        for d in range(depth)])
    return (
        df.where(F.col(item_col).isNotNull())
        .withColumn("window_start", window)
        .select(*key_cols, "window_start",
                F.explode(pairs).alias("__p"))
        .groupBy(*key_cols, "window_start",
                 F.col("__p.d").alias("d"),
                 F.col("__p.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("tier", F.lit(tier))
    )


def cms_fold(fine: DataFrame, target_tier: str,
             key_cols: list[str]) -> DataFrame:
    """Fold a finer tier's CMS cells up to ``target_tier`` by
    elementwise integer addition — the CMS merge operation (counter
    matrices of the same (w, d, hash family) add cell-by-cell; the
    folded sketch IS the sketch of the unioned window, so estimates
    after folding equal direct coarse-tier estimates, integer-exact).
    One shuffle of the SMALL cell table, never of raw turns."""
    return fold_tier(fine, target_tier,
                     [*key_cols, "window_start", "d", "col"],
                     F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, items: list[str], key_cols: list[str],
                 width: int = 1024, depth: int = 4) -> DataFrame:
    """Point-estimate the count of each query item per (key, window):
    min over hash rows of the cell counter, with an ABSENT cell read
    as 0 (an item hashing to an unoccupied cell has estimate 0 — the
    sparse-storage convention; with all-distinct probes this is the
    common case, so the left join + coalesce is load-bearing, not
    belt-and-braces). Output: ``(*key_cols, window_start, tier, item,
    est)``; est ≥ true count always (CMS never underestimates).

    The probe grid is depth×|items| literal rows cross-joined against
    the sketch's distinct (key, window) spine — items are a small
    driver-side list by contract (heavy-hitter candidates, not the
    item domain)."""
    _check(width, depth)
    if not items:
        raise ValueError("items must be non-empty")
    if any(i is None for i in items):
        raise ValueError("query items must be non-NULL")
    spark = sketch.sparkSession
    probes = spark.createDataFrame(
        [(it,) for it in items], "item string").select(
        "item",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     _cms_col(F.col("item"), d, width).alias("col"))
            for d in range(depth)])).alias("__p")) \
        .select("item", F.col("__p.d").alias("d"),
                F.col("__p.col").alias("col"))
    spine = sketch.select(*key_cols, "window_start", "tier").distinct()
    grid = spine.crossJoin(F.broadcast(probes))
    joined = grid.join(
        sketch, [*key_cols, "window_start", "tier", "d", "col"], "left")
    return (joined
            .groupBy(*key_cols, "window_start", "tier", "item")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("est")))


def _bloom_pos(item_col, j: int, m_bits: int):
    """Bit position of item under hash j (the CMS md5 family)."""
    h = F.md5(F.concat(F.lit(f"b{j}:"), item_col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            % F.lit(m_bits))


def _bloom_check(words: int, k: int) -> None:
    if words < 1 or words > 1 << 20:
        raise ValueError(f"words must be in [1, 2^20], got {words}")
    if k < 1 or k > 16:
        raise ValueError(f"k must be in [1, 16], got {k}")


def bloom_build(df: DataFrame, tier: str, key_cols: list[str],
                item_col: str, words: int = 16,
                k: int = 4) -> DataFrame:
    """Per-(key, window) Bloom filter rows — the MEMBERSHIP member of
    the mergeable-sketch family (HLL answers "how many distinct", CMS
    "how often", DDSketch "which quantile"; Bloom answers "was this
    item ever seen in this window", with no false negatives).

    Representation: ``words`` int64 rows per filter, 63 usable bits
    per word (m = 63·words bits) — bit 63 is deliberately unused
    because DuckDB's CHECKED left shift raises on 1<<63, and an
    engine-portable replay beats 1.6% extra capacity.  Only occupied
    words materialize (sparse storage, dense semantics — absent word
    = 0, the CMS/histogram convention).  k md5-family positions per
    item; NULL items are filtered (md5(NULL) would silently alias
    every NULL).

    Output: ``(*key_cols, window_start, tier, word_idx, bits)``.
    Pure integer/bit expressions end-to-end — bit-identical in any
    engine.  ONE hash exchange (explode k positions, bit_or-collapse
    map-side).
    """
    window = tier_window("ts", tier)
    _bloom_check(words, k)
    m_bits = 63 * words
    pos = F.array(*[_bloom_pos(F.col(item_col), j, m_bits)
                    for j in range(k)])
    return (
        df.where(F.col(item_col).isNotNull())
        .withColumn("window_start", window)
        .select(*key_cols, "window_start", F.explode(pos).alias("__p"))
        # explicit floor — Spark's double→long cast truncates but
        # DuckDB's rounds (the ts_allan lesson); // replays floor.
        # shiftleft via expr: the python API wants a literal shift
        .groupBy(*key_cols, "window_start",
                 F.floor(F.col("__p") / F.lit(63)).cast("long")
                 .alias("word_idx"))
        .agg(F.bit_or(F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(__p % 63 AS INT))"))
            .alias("bits"))
        .withColumn("tier", F.lit(tier))
    )


def bloom_fold(fine: DataFrame, target_tier: str,
               key_cols: list[str]) -> DataFrame:
    """Fold finer-tier Bloom rows up to ``target_tier`` by bitwise
    OR — the Bloom merge: OR of filters over sub-windows IS the
    filter of the unioned window (same m, same hash family), exactly,
    so membership after folding equals direct coarse-tier membership
    bit-for-bit.  One shuffle of the small word table, never of raw
    turns."""
    return fold_tier(fine, target_tier,
                     [*key_cols, "window_start", "word_idx"],
                     F.bit_or("bits").alias("bits"))


def bloom_contains(sketch: DataFrame, items: list[str],
                   key_cols: list[str], words: int = 16,
                   k: int = 4) -> DataFrame:
    """Probe each query item against every (key, window) filter:
    present iff ALL k bit positions are set; an absent word reads as
    0 (sparse convention), so one unset position answers definitely-
    absent — Bloom's no-false-negative guarantee is preserved
    exactly.  Output ``(*key_cols, window_start, tier, item,
    maybe_present)``; ``maybe_present`` false is CERTAIN absence,
    true is presence up to the documented false-positive rate
    (~(1 − e^{−kn/m})^k).  Probe grid = k·|items| literal rows
    broadcast against the filter spine (items are a driver-side
    candidate list by contract, not the item domain)."""
    _bloom_check(words, k)
    if not items:
        raise ValueError("items must be non-empty")
    if any(i is None for i in items):
        raise ValueError("query items must be non-NULL")
    m_bits = 63 * words
    spark = sketch.sparkSession
    probes = spark.createDataFrame(
        [(it,) for it in items], "item string").select(
        "item",
        F.explode(F.array(*[_bloom_pos(F.col("item"), j, m_bits)
                            for j in range(k)])).alias("__p")) \
        .select("item",
                F.floor(F.col("__p") / F.lit(63)).cast("long")
                .alias("word_idx"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(__p % 63 AS INT))").alias("b"))
    spine = sketch.select(*key_cols, "window_start", "tier").distinct()
    grid = spine.crossJoin(F.broadcast(probes))
    joined = grid.join(
        sketch, [*key_cols, "window_start", "tier", "word_idx"], "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("b")) == F.col("b"))
    return (joined
            .groupBy(*key_cols, "window_start", "tier", "item")
            .agg((F.sum(F.when(hit, 0).otherwise(1)) == 0)
                 .alias("maybe_present")))
