"""Driver-contract query suite: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable with a matching DuckDB oracle SQL
(SURVEY.md §5.2 layer 6). Column names/types/rounding are pinned
identically on both sides; timestamps are emitted as formatted strings
to remove engine dtype/timezone ambiguity; NaN is normalized to NULL.

The `events` table is the transcript-stream stand-in (FIXTURES.md §5):
user_id → conv_id, row_number over (ts, event_id) → turn_idx,
event_type → role, props → text, value → y.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import decode_chunks, encode_chunks
from cesium_spark.operators import dedup, multimodal, similarity, textstats
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.fold import fold_moments
from cesium_spark.operators.gapfill import gapfill
from cesium_spark.operators.rollup import (
    moments_derived,
    rollup_moments,
    rollup_wide,
)

TS_FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _prep(spark: SparkSession) -> None:
    # oracle comparison requires UTC truncation semantics on both sides
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # driver parquet carries TIMESTAMP_NTZ; normalize to session-TZ (UTC)
    if "ts" in df.columns:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    return _read(spark, sf_dir, "events")


def _nn(col):  # NaN → NULL (duckdb has no NaN in these pipelines)
    return F.when(F.isnan(col) | col.isNull(), F.lit(None)).otherwise(col)


def _r(col, n: int = 6):
    # `+ 0.0` maps IEEE -0.0 → +0.0: the driver hashes value
    # *representations*, and a value that rounds to zero can carry a
    # different sign bit in Spark vs DuckDB (two-pass vs one-pass moment
    # formulas differ at ~1e-9). Every rounded float column on BOTH
    # sides gets this normalization (the oracle SQL appends `+ 0.0`).
    return F.round(_nn(col), n) + F.lit(0.0)


def _r0(col):
    """Zero-sign normalization for already-rounded Spark float exprs."""
    return col + F.lit(0.0)


def _bits(col: str):
    """IEEE-754 bit pattern of a double column — the literal-bitwise
    comparator. Double ``==`` is numeric (-0.0 == 0.0, and Spark's
    EqualTo treats NaN = NaN as true), so it cannot certify the
    'BITWISE identical' claim the meta-stability booleans make;
    doubleToRawLongBits distinguishes signed zeros and NaN payloads."""
    return F.expr(
        f"reflect('java.lang.Double', 'doubleToRawLongBits', {col})")


# name -> (query, DuckDB oracle) in definition order; QUERIES and
# ORACLE_SQL at the end of the module are views of it
_REGISTRY: dict[str, tuple] = {}


def oracle(fn, sql: str) -> str:
    """Register query ``fn`` under its name minus ``q_`` with its
    oracle ``sql``; returns ``sql`` so the oracle constant is bound in
    the same statement. A second registration of a name raises."""
    name = getattr(fn, "__name__", "")
    if not name.startswith("q_"):
        raise ValueError(f"oracle() needs a q_* query, got {fn!r}")
    if name[2:] in _REGISTRY:
        raise ValueError(f"query {name[2:]!r} is registered twice")
    _REGISTRY[name[2:]] = (fn, sql)
    return sql


def events_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the authoritative transcript shape (input_hint)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout"))
        .alias("tool"),
        F.col("ts"),
    )


_SERIES_SQL = """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         props, event_type, ts,
         epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id) AS t,
         epoch(ts) - lag(epoch(ts)) OVER w AS lat
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
series AS (
  SELECT conv_id, 'latency' AS channel, turn_idx, ts, t, lat AS y
  FROM t WHERE lat IS NOT NULL
  UNION ALL
  SELECT conv_id, 'tokens', turn_idx, ts, t,
         cast(len(string_split_regex(trim(props), '\\s+')) AS double)
  FROM t
  UNION ALL
  SELECT conv_id, 'tool_rate', turn_idx, ts, t,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
  FROM t
)
"""

_VALUE_SERIES_SQL = """
WITH series AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         ts,
         epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id) AS t,
         value AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
"""


# ln(gamma) for alpha = 0.02, computed once and inlined on BOTH sides
# so the only engine-side log is ln(|y|) (boundary-margin-guarded);
# shared by the batch DDSketch queries and the streaming twin
_DD_ALPHA = 0.02
_DD_GAMMA = (1.0 + _DD_ALPHA) / (1.0 - _DD_ALPHA)
import math as _math  # noqa: E402

_DD_LNG = _math.log(_DD_GAMMA)
_DD_CELL_SQL = f"""
  CASE WHEN y = 0 THEN 0 WHEN y > 0 THEN 1 ELSE -1 END AS store,
  CASE WHEN y = 0 THEN 0
       ELSE cast(ceil(ln(abs(y)) / {_DD_LNG!r}) AS int) END AS bkt
"""


def _value_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events value column as a single-channel series (engine shape)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit("value").alias("channel"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("ts"),
        (sec - F.min(sec).over(Window.partitionBy("user_id"))).alias("t"),
        F.col("value").alias("y"),
        F.lit(1e-4).alias("e"),
    )


def _tok_series(spark: SparkSession, sf_dir: str, *extra) -> DataFrame:
    """Whitespace-token count of ``props`` per turn as the int64 series
    (conv_id, turn_idx, t, *extra, y), t the turn index as double;
    ``extra`` are further columns over ``events``. Oracle twin:
    ``_tok_series_sql``."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tok = F.size(F.split(F.trim(F.col("props")), r"\s+"))
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        *extra, tok.cast("long").alias("y"))


def _tok_series_sql(*extra: str) -> str:
    """DuckDB twin of ``_tok_series``: CTE ``s`` with the same columns,
    ``extra`` SQL select items over ``events`` (window ``w`` in scope)
    before ``y``."""
    cols = "".join(f"{c},\n         " for c in extra)
    return f"""
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(row_number() OVER w - 1 AS double) AS t,
         {cols}cast(len(string_split_regex(trim(props), '\\s+')) AS bigint) AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)"""


def _triple_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (latency, tokens, tool) channel triple per turn as one int64
    series (conv_id, turn_idx, channel, y): latency in floored whole
    seconds since the previous turn (NULL on the first turn; squares
    stay int64-safe where micros would wrap), whitespace tokens of
    ``props``, and the 0/1 purchase flag. Oracle twin:
    ``_triple_series_sql``."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    tok = F.size(F.split(F.trim(F.col("props")), r"\s+"))
    tool = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    base = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (sec - F.lag(sec).over(w)).alias("__lat"),
        tok.cast("long").alias("__tok"), tool.cast("long").alias("__tool"))
    return base.selectExpr(
        "conv_id", "turn_idx",
        "stack(3, 'latency', __lat, 'tokens', __tok, "
        "'tool', __tool) AS (channel, y)")


def _triple_series_sql() -> str:
    """DuckDB twin of ``_triple_series`` in wide form: CTE ``t`` with
    conv_id, turn_idx and the channels as a (latency), b (tokens), c
    (tool)."""
    return """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(floor(epoch(ts)) AS bigint)
           - lag(cast(floor(epoch(ts)) AS bigint)) OVER w AS a,
         cast(len(string_split_regex(trim(props), '\\s+')) AS bigint)
           AS b,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)"""


def _acf_sums_sql(lags) -> str:
    """DuckDB twin of ``exact.acf_sums``: CTEs ``l`` and ``g`` appended
    to a WITH whose CTE ``s`` has conv_id, turn_idx, t and int64 y.
    ``g`` has conv_id, n, sy (Σy), n0 and n{k} for each k in ``lags``,
    with the engine's rules (NULL y or t dropped, lags in (t,
    turn_idx) order, NULL n{k} when a lag has no pairs)."""
    lags = list(lags)
    lag_cols = "".join(f"         lag(y, {k}) OVER w2 AS l{k},\n"
                       for k in lags)
    nks = "".join(f",\n         sum(CASE WHEN l{k} IS NOT NULL THEN "
                  f"(cnt * y - sy) * (cnt * l{k} - sy) END) AS n{k}"
                  for k in lags)
    return f""",
l AS (
  SELECT conv_id, y,
{lag_cols}         sum(y) OVER (PARTITION BY conv_id) AS sy,
         count(*) OVER (PARTITION BY conv_id) AS cnt
  FROM s WHERE y IS NOT NULL AND t IS NOT NULL
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
g AS (
  SELECT conv_id, max(cnt) AS n, max(sy) AS sy,
         sum((cnt * y - sy) * (cnt * y - sy)) AS n0{nks}
  FROM l GROUP BY 1
)"""


def _ties_sql(value: str) -> str:
    """DuckDB twin of ``exact.ties``: the RANGE current-row peers of
    ``value`` within its conversation."""
    return (f"count(*) OVER (PARTITION BY conv_id ORDER BY {value} "
            "RANGE BETWEEN CURRENT ROW AND CURRENT ROW)")


def _midrank2_sql(value: str) -> str:
    """DuckDB twin of ``exact.midrank2``: 2·rank + ties − 1 of
    ``value`` within its conversation."""
    return (f"2 * rank() OVER (PARTITION BY conv_id ORDER BY {value}) "
            f"+ {_ties_sql(value)} - 1")


# ---------------------------------------------------------------------------
# time-series engine queries
# ---------------------------------------------------------------------------

def q_ts_derive_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = derive_series(events_transcripts(spark, sf_dir))
    return s.select("conv_id", "channel", "turn_idx",
                    _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"))


SQL_TS_DERIVE = oracle(q_ts_derive_series, _SERIES_SQL + """
SELECT conv_id, channel, turn_idx, round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y
FROM series
""")


_ROLLUP_FEATS = ["n_epochs", "mean", "maximum", "minimum", "amplitude",
                 "std", "skew", "median"]


def q_ts_rollup_1h_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact kernel path through the driver oracle: hourly rollup of
    all three derived channels, numpy kernels inside mapInPandas."""
    s = derive_series(events_transcripts(spark, sf_dir))
    wide = rollup_wide(s, ["1h"], _ROLLUP_FEATS)
    return wide.select(
        "conv_id", "channel",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n_epochs").cast("long").alias("n_epochs"),
        _r(F.col("mean")).alias("mean"),
        _r(F.col("maximum")).alias("maximum"),
        _r(F.col("minimum")).alias("minimum"),
        _r(F.col("amplitude")).alias("amplitude"),
        _r(F.col("std")).alias("std"),
        _r(F.col("skew")).alias("skew"),
        _r(F.col("median")).alias("median"),
    )


SQL_TS_ROLLUP_1H = oracle(q_ts_rollup_1h_kernel, _SERIES_SQL + f"""
SELECT conv_id, channel,
       strftime(date_trunc('hour', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n_epochs,
       round(avg(y), 6) + 0.0 AS mean,
       round(max(y), 6) + 0.0 AS maximum,
       round(min(y), 6) + 0.0 AS minimum,
       round((max(y) - min(y)) / 2, 6) + 0.0 AS amplitude,
       round(sqrt(greatest(avg(y*y) - avg(y)*avg(y), 0)), 6) + 0.0 AS std,
       CASE WHEN avg(y*y) - avg(y)*avg(y) > 0 THEN
         round((avg(y*y*y) - 3*avg(y)*avg(y*y) + 2*avg(y)*avg(y)*avg(y))
               / (avg(y*y) - avg(y)*avg(y)) ^ 1.5, 6) + 0.0
       END AS skew,
       round(median(y), 6) + 0.0 AS median
FROM series
GROUP BY 1, 2, 3
""")


def q_ts_rollup_1d_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native moments path at the daily tier (JVM two-phase agg)."""
    s = _value_series(spark, sf_dir)
    m = moments_derived(rollup_moments(s, "1d"))
    return m.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n_epochs").cast("long").alias("n_epochs"),
        _r(F.col("maximum")).alias("maximum"),
        _r(F.col("minimum")).alias("minimum"),
        _r(F.col("amplitude")).alias("amplitude"),
        _r(F.col("mean")).alias("mean"),
        _r(F.col("std")).alias("std"),
        _r(F.col("total_time")).alias("total_time"),
    )


SQL_TS_ROLLUP_1D = oracle(q_ts_rollup_1d_native, _VALUE_SERIES_SQL + f"""
SELECT conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n_epochs,
       round(max(y), 6) + 0.0 AS maximum,
       round(min(y), 6) + 0.0 AS minimum,
       round((max(y) - min(y)) / 2, 6) + 0.0 AS amplitude,
       round(avg(y), 6) + 0.0 AS mean,
       round(sqrt(greatest(avg(y*y) - avg(y)*avg(y), 0)), 6) + 0.0 AS std,
       round(max(t) - min(t), 6) + 0.0 AS total_time
FROM series
GROUP BY 1, 2
""")


def q_ts_tier_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1m → 1d fold of the exactly-mergeable stats (count/min/max)."""
    s = _value_series(spark, sf_dir)
    folded = fold_moments(rollup_moments(s, "1m"), "1d")
    return folded.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n_epochs"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
    )


SQL_TS_TIER_FOLD = oracle(q_ts_tier_fold, f"""
SELECT cast(user_id AS varchar) AS conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n_epochs,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max
FROM events
GROUP BY 1, 2
""")


def q_ts_gapfill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = gapfill(_value_series(spark, sf_dir), "1h", policy="ffill")
    return g.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("y")).alias("y"),
        F.col("filled"),
    )


SQL_TS_GAPFILL_1H = oracle(q_ts_gapfill_1h, f"""
WITH b AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS bucket,
         arg_max(value, ts) AS y_obs
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT conv_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1
),
grid AS (
  SELECT conv_id,
         unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM spans
),
j AS (
  SELECT g.conv_id, g.bucket, b.y_obs
  FROM grid g LEFT JOIN b ON g.conv_id = b.conv_id AND g.bucket = b.bucket
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       round(last_value(y_obs IGNORE NULLS) OVER (
         PARTITION BY conv_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS y,
       y_obs IS NULL AS filled
FROM j
""")


def q_ts_cad_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gaps = (ev.withColumn("gap", sec - F.lag(sec).over(w))
            .where(F.col("gap").isNotNull()))
    return (gaps.groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg(*[_r(F.avg((F.col("gap") <= s).cast("double")))
                   .alias(f"cad_probs_{s}") for s in (60, 600, 3600)]))


SQL_TS_CAD_PROBS = oracle(q_ts_cad_probs, """
WITH g AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         epoch(ts) - lag(epoch(ts)) OVER w AS gap
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT conv_id,
       round(avg(CASE WHEN gap <= 60 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS cad_probs_60,
       round(avg(CASE WHEN gap <= 600 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS cad_probs_600,
       round(avg(CASE WHEN gap <= 3600 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS cad_probs_3600
FROM g WHERE gap IS NOT NULL
GROUP BY 1
""")


def q_ts_cadence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gaps = ev.withColumn("gap", sec - F.lag(sec).over(w)).withColumn("sec", sec)
    return (gaps.groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg(F.count("*").alias("n_epochs"),
                 _r(F.max("sec") - F.min("sec")).alias("total_time"),
                 _r(F.avg("gap")).alias("cads_avg"),
                 _r(F.percentile("gap", F.lit(0.5))).alias("cads_med")))


SQL_TS_CADENCE_STATS = oracle(q_ts_cadence_stats, """
WITH g AS (
  SELECT user_id, epoch(ts) AS sec,
         epoch(ts) - lag(epoch(ts)) OVER w AS gap
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT cast(user_id AS varchar) AS conv_id,
       count(*) AS n_epochs,
       round(max(sec) - min(sec), 6) + 0.0 AS total_time,
       round(avg(gap), 6) + 0.0 AS cads_avg,
       round(median(gap), 6) + 0.0 AS cads_med
FROM g GROUP BY 1
""")


def q_ts_max_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    d = (ev.withColumn("dv", F.col("value") - F.lag("value").over(w))
         .withColumn("dt", sec - F.lag(sec).over(w))
         .where(F.col("dt").isNotNull() & (F.col("dt") > 0)))
    return (d.groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg(_r(F.max(F.abs(F.col("dv") / F.col("dt"))))
                 .alias("max_slope")))


SQL_TS_MAX_SLOPE = oracle(q_ts_max_slope, """
WITH d AS (
  SELECT user_id,
         value - lag(value) OVER w AS dv,
         epoch(ts) - lag(epoch(ts)) OVER w AS dt
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT cast(user_id AS varchar) AS conv_id,
       round(max(abs(dv / dt)), 6) + 0.0 AS max_slope
FROM d WHERE dt IS NOT NULL AND dt > 0
GROUP BY 1
""")


def q_ts_percent_beyond_1_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id")
    mu = F.avg("value").over(wu)
    m2 = F.avg(F.col("value") * F.col("value")).over(wu) - mu * mu
    sd = F.sqrt(F.greatest(m2, F.lit(0.0)))
    flagged = ev.withColumn("beyond",
                            (F.abs(F.col("value") - mu) > sd).cast("double"))
    return (flagged.groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg(_r(F.avg("beyond")).alias("percent_beyond_1_std")))


SQL_TS_PB1S = oracle(q_ts_percent_beyond_1_std, """
WITH s AS (
  SELECT user_id, value,
         avg(value) OVER w AS mu,
         sqrt(greatest(avg(value*value) OVER w
                       - (avg(value) OVER w) * (avg(value) OVER w), 0)) AS sd
  FROM events WINDOW w AS (PARTITION BY user_id)
)
SELECT cast(user_id AS varchar) AS conv_id,
       round(avg(CASE WHEN abs(value - mu) > sd THEN 1.0 ELSE 0.0 END), 6) + 0.0
         AS percent_beyond_1_std
FROM s GROUP BY 1
""")


def q_ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gaps = ev.withColumn("new_sess",
                         ((sec - F.lag(sec).over(w)) > 1800)
                         .cast("int"))
    return (gaps.groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg((F.coalesce(F.sum("new_sess"), F.lit(0)) + 1).cast("long")
                 .alias("n_sessions"),
                 F.count("*").alias("n_events")))


SQL_TS_SESSIONIZE = oracle(q_ts_sessionize, """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT cast(user_id AS varchar) AS conv_id,
       cast(sum(new_sess) + 1 AS bigint) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY 1
""")


def q_ts_top3_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("event_type")
         .orderBy(F.desc("value"), F.asc("event_id")))
    return (ev.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("event_type", F.col("rank").cast("long").alias("rank"),
                    "event_id", _r(F.col("value")).alias("value")))


SQL_TS_TOP3 = oracle(q_ts_top3_per_type, """
SELECT event_type,
       cast(row_number() OVER (PARTITION BY event_type
                               ORDER BY value DESC, event_id) AS bigint) AS rank,
       event_id, round(value, 6) + 0.0 AS value
FROM events
QUALIFY rank <= 3
""")


def q_ts_gorilla_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec proof through the oracle: encode→decode the value series,
    then aggregate — must equal direct SQL aggregation of the raw table."""
    s = _value_series(spark, sf_dir)
    decoded = decode_chunks(encode_chunks(s, chunk_size=512))
    return (decoded.groupBy("conv_id")
            .agg(F.count("*").alias("n_points"),
                 _r(F.min("y")).alias("y_min"),
                 _r(F.max("y")).alias("y_max"),
                 _r0(F.round(F.sum("y"), 4)).alias("y_sum")))


SQL_TS_GORILLA = oracle(q_ts_gorilla_roundtrip, """
SELECT cast(user_id AS varchar) AS conv_id,
       count(*) AS n_points,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max,
       round(sum(value), 4) + 0.0 AS y_sum
FROM events GROUP BY 1
""")


def q_ts_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused multi-tier rollup under the driver gate: 1h AND 1d feature
    windows from ONE shuffle (rollup_wide), checked against a
    per-tier DuckDB oracle union. Representation rules as the flagship
    query (skew +0.0 etc.)."""
    s = derive_series(events_transcripts(spark, sf_dir))
    feats = ["n_epochs", "mean", "maximum", "minimum", "std", "skew"]
    wide = rollup_wide(s, ["1h", "1d"], feats)
    return wide.select(
        "conv_id", "channel", "tier",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n_epochs").cast("long").alias("n_epochs"),
        _r(F.col("mean")).alias("mean"),
        _r(F.col("maximum")).alias("maximum"),
        _r(F.col("minimum")).alias("minimum"),
        _r(F.col("std")).alias("std"),
        _r(F.col("skew")).alias("skew"),
    )


SQL_TS_ROLLUP_MULTI = oracle(q_ts_rollup_multi, _SERIES_SQL + f"""
, both_tiers AS (
  SELECT conv_id, channel, '1h' AS tier,
         date_trunc('hour', ts) AS w, y FROM series
  UNION ALL
  SELECT conv_id, channel, '1d', date_trunc('day', ts), y FROM series
)
SELECT conv_id, channel, tier,
       strftime(w, '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n_epochs,
       round(avg(y), 6) + 0.0 AS mean,
       round(max(y), 6) + 0.0 AS maximum,
       round(min(y), 6) + 0.0 AS minimum,
       round(sqrt(greatest(avg(y*y) - avg(y)*avg(y), 0)), 6) + 0.0 AS std,
       CASE WHEN avg(y*y) - avg(y)*avg(y) > 0 THEN
         round((avg(y*y*y) - 3*avg(y)*avg(y*y) + 2*avg(y)*avg(y)*avg(y))
               / (avg(y*y) - avg(y)*avg(y)) ^ 1.5, 6) + 0.0
       END AS skew
FROM both_tiers
GROUP BY 1, 2, 3, 4
""")


def q_ts_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text ingest parity (cesium parse_ts_data +
    parse_headerfile †): a slice of events is rendered to per-series
    csv files in all three positional forms (uid%3: 1-col m / 2-col
    t,m / 3-col t,m,e with shortest-roundtrip float formatting) plus a
    header CSV (filename,label,score with a decoy row), parsed back
    through parse_ts_data / parse_headerfile, aggregated and
    dim-joined. The oracle recomputes the expected values straight from
    the events VIEW — so file rendering, per-file line ordering
    (turn_idx), positional mapping, t/e defaults, label/meta
    passthrough, and the files_to_include filter are all checked
    end-to-end without the oracle ever touching the files."""
    import os
    import shutil
    import tempfile

    import duckdb

    from cesium_spark.sources.text_ingest import parse_headerfile, parse_ts_data

    _prep(spark)
    # per-run unique scratch (round-4 s5 review): a fixed path +
    # rmtree lets a concurrent driver delete a live run's files
    outdir = tempfile.mkdtemp(prefix="cesium_spark_csv_")
    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT user_id, CAST(epoch(ts) AS DOUBLE) AS t, value AS y
        FROM '{sf_dir}/events.parquet' WHERE user_id < 10
        ORDER BY user_id, ts, event_id""").fetchall()
    con.close()
    by_uid: dict[int, list[tuple[float, float]]] = {}
    for uid, t, y in rows:
        by_uid.setdefault(int(uid), []).append((float(t), float(y)))
    for uid, series in by_uid.items():
        form = uid % 3
        with open(os.path.join(outdir, f"u{uid}.csv"), "w") as fh:
            for t, y in series:
                if form == 0:
                    fh.write(f"{y!r}\n")
                elif form == 1:
                    fh.write(f"{t!r},{y!r}\n")
                else:
                    fh.write(f"{t!r},{y!r},0.01\n")
    # header file (cesium parse_headerfile †): filename,label,meta —
    # label/score are deterministic functions of uid the oracle can
    # restate; the decoy row proves files_to_include filters it out
    hdr_dir = outdir + "_hdr"
    shutil.rmtree(hdr_dir, ignore_errors=True)
    os.makedirs(hdr_dir)
    with open(os.path.join(hdr_dir, "header.csv"), "w") as fh:
        fh.write("filename,label,score\n")
        for uid in by_uid:
            fh.write(f"u{uid}.csv,grp{uid % 2},{uid * 0.5 + 0.25!r}\n")
        fh.write("u999.csv,decoy,-1.0\n")
    parsed = parse_ts_data(spark, outdir)
    dims = parse_headerfile(
        spark, os.path.join(hdr_dir, "header.csv"),
        files_to_include=[f"u{uid}.csv" for uid in by_uid])
    agg = (parsed.groupBy("conv_id")
           .agg(F.count("*").alias("n"),
                _r(F.min("t")).alias("t_min"),
                _r(F.max("t")).alias("t_max"),
                _r0(F.round(F.sum("y"), 4)).alias("y_sum"),
                _r(F.max(F.when(F.col("turn_idx") == 0, F.col("y"))))
                .alias("y_first"),
                _r(F.min("e")).alias("e_avg")))
    # broadcast dims join ≙ meta/label passthrough (inner: a dropped or
    # unfiltered header row changes the row count, not just values)
    return (agg.join(F.broadcast(dims), "conv_id")
            .select(agg["*"], F.col("label"),
                    _r(F.col("score").cast("double")).alias("score")))


SQL_TS_PARSE_CSV = oracle(q_ts_parse_csv, """
WITH src AS (
  SELECT user_id, CAST(epoch(ts) AS DOUBLE) AS t, value AS y,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx
  FROM events WHERE user_id < 10
)
SELECT 'u' || CAST(user_id AS varchar) AS conv_id,
       count(*) AS n,
       round(min(CASE WHEN user_id % 3 = 0 THEN CAST(idx AS DOUBLE)
                      ELSE t END), 6) + 0.0 AS t_min,
       round(max(CASE WHEN user_id % 3 = 0 THEN CAST(idx AS DOUBLE)
                      ELSE t END), 6) + 0.0 AS t_max,
       round(sum(y), 4) + 0.0 AS y_sum,
       round(max(CASE WHEN idx = 0 THEN y END), 6) + 0.0 AS y_first,
       round(CASE WHEN user_id % 3 = 2 THEN 0.01 ELSE 0.0001 END, 6) + 0.0
         AS e_avg,
       'grp' || CAST(user_id % 2 AS varchar) AS label,
       round(CAST(user_id AS DOUBLE) * 0.5 + 0.25, 6) + 0.0 AS score
FROM src GROUP BY user_id
""")


def q_ts_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the driver gate
    (streaming/stateful.py, applyInPandasWithState): the value series
    is split into 3 source files by turn_idx % 3 and replayed with
    maxFilesPerTrigger=1, so the per-conv totals REALLY cross
    micro-batch boundaries through the state store (each batch appends
    a cumulative snapshot; the max-n row per key is the final total —
    n strictly increases across a key's emissions). Only mergeable
    algebra lives in state, so the final snapshot equals a one-pass
    batch aggregate, which the DuckDB oracle computes directly from
    events."""
    import os
    import tempfile

    from cesium_spark.streaming import stateful

    _prep(spark)
    # per-run unique scratch (round-4 s5 review): a fixed path +
    # rmtree lets a concurrent driver delete a live run's files
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_state_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    for i in range(3):
        (s.where(F.col("turn_idx") % 3 == i)
         .coalesce(1).write.mode("append").parquet(f"{base}/src"))
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{base}/src"))
    q = stateful.totals_to_table(
        stateful.stateful_running_totals(stream),
        f"{base}/out", f"{base}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_stateful: availableNow stream did not finish "
            "within 300s")
    res = spark.read.parquet(f"{base}/out")
    w = Window.partitionBy("conv_id", "channel").orderBy(F.desc("n"))
    return (res.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("conv_id",
                    F.col("n").cast("long").alias("n"),
                    _r0(F.round("y_sum", 4)).alias("y_sum"),
                    _r(F.col("y_min")).alias("y_min"),
                    _r(F.col("y_max")).alias("y_max")))


SQL_TS_STREAM_STATEFUL = oracle(q_ts_stream_stateful, """
SELECT cast(user_id AS varchar) AS conv_id,
       count(*) AS n,
       round(sum(value), 4) + 0.0 AS y_sum,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max
FROM events GROUP BY 1
""")


def q_ts_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seam under the driver gate: the value series is
    replayed through readStream (file source, availableNow), the
    watermarked 1h moments stream materializes FINALIZED windows
    (streaming/window_delta.py), and the result is checked against a
    batch DuckDB oracle with the same cutoff. Spark's availableNow
    final flush emits exactly the windows with window_end <= max(ts) −
    delay; the 7000 s (non-round) delay keeps the cutoff off hour
    boundaries so the <=/< edge cannot bite."""
    import os
    import tempfile

    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_rollup_moments,
        stream_to_table,
    )

    _prep(spark)
    # per-run unique scratch (round-4 s5 review): a fixed path +
    # rmtree lets a concurrent driver delete a live run's files
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    s.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    io = TableIO(spark, f"{base}/tables")
    q = stream_to_table(stream_rollup_moments(stream, "1h", "7000 seconds"),
                        io, "stream_moments", f"{base}/ckpt")
    if not q.awaitTermination(300):
        # a silent partial read would surface as a confusing value
        # mismatch; fail loudly instead
        q.stop()
        raise TimeoutError(
            "ts_stream_moments: availableNow stream did not finish "
            "within 300s")
    out = io.read("stream_moments")
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
        _r0(F.round(F.col("y_sum"), 4)).alias("y_sum"))


SQL_TS_STREAM_MOMENTS = oracle(q_ts_stream_moments, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS ws, value
  FROM events
)
SELECT conv_id, strftime(ws, '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max,
       round(sum(value), 4) + 0.0 AS y_sum
FROM w, mx
GROUP BY conv_id, ws, mx.m
HAVING ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 7000 SECONDS
""")


def q_ts_stream_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DDSketch tier under the driver gate: the value series
    replayed through readStream, hourly log-bucket cells finalized by
    the watermark (streaming/window_delta.stream_ddsketch_cells) —
    bounded-state continuous quantile tiers, emitting the SAME integer
    cells as the batch build. Oracle computes the cells directly with
    the identical 7000 s cutoff; the match is integer-exact."""
    import os
    import tempfile

    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_ddsketch_cells,
        stream_to_table,
    )

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_streamdd_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    s.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    io = TableIO(spark, f"{base}/tables")
    q = stream_to_table(
        stream_ddsketch_cells(stream, "1h", "7000 seconds",
                              alpha=_DD_ALPHA),
        io, "stream_ddsketch", f"{base}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_ddsketch: availableNow stream did not finish "
            "within 300s")
    out = io.read("stream_ddsketch")
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("store").cast("int").alias("store"),
        F.col("bkt").cast("int").alias("bkt"),
        F.col("cnt").cast("long").alias("cnt"))


SQL_TS_STREAM_DDSKETCH = oracle(q_ts_stream_ddsketch, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS ws, value AS y
  FROM events
)
SELECT conv_id, strftime(ws, '{DUCK_TS_FMT}') AS window_start,
       {_DD_CELL_SQL},
       count(*) AS cnt
FROM w, mx
WHERE y IS NOT NULL
GROUP BY conv_id, ws, store, bkt, mx.m
HAVING ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 7000 SECONDS
""")


def q_ts_features_with_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cesium meta_features parity (featurize_time_series(meta_features=…)
    †, SURVEY.md §2.7), both roles in one query: per-conversation dims
    (first_role, n_turns) are (a) passed INTO the kernel where the
    graph-dep custom feature `range_per_turn(t, m, e, n_turns)` consumes
    them, and (b) broadcast-joined onto the output feature matrix
    (with_meta passthrough). Full DuckDB oracle."""
    from cesium_spark.functions import registry
    from cesium_spark.operators.rollup import with_meta

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    meta = (ev.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("user_id").cast("string").alias("conv_id"))
            .agg(F.max(F.when(F.col("rn") == 1, F.col("event_type")))
                 .alias("first_role"),
                 F.count("*").alias("n_turns")))

    registry.register_custom(
        "range_per_turn",
        lambda t, m, e, n_turns: (np.max(m) - np.min(m)) / n_turns)

    s = _value_series(spark, sf_dir)
    # max/min/range_per_turn are representation-stable across engines
    # (same element selection + identical IEEE ops) and value-matched.
    # Round 3: mean/std additionally go THROUGH the kernel — conv-scale
    # means land on round-6 half-way boundaries (2-decimal synth data),
    # so instead of a repr match the oracle pins the exact claim:
    # the meta-fed kernel run is BITWISE identical to the meta-free run
    # for summation-order-sensitive features (booleans, no rounding).
    # "Bitwise" is literal: the comparison is on doubleToRawLongBits,
    # not double `==` (which would pass -0.0 vs 0.0 and any NaN pair —
    # exactly the cases summation-order differences produce)
    feats = ["maximum", "minimum", "range_per_turn", "mean", "std"]
    wide = rollup_wide(s, ["conv"], feats, meta=meta)
    bare = rollup_wide(s, ["conv"], ["mean", "std"])
    bare = bare.select("conv_id", F.col("mean").alias("mean_bare"),
                       F.col("std").alias("std_bare"))
    out = with_meta(wide, meta).join(bare, "conv_id")
    return out.select(
        "conv_id", "first_role",
        F.col("n_turns").cast("long").alias("n_turns"),
        _r(F.col("maximum")).alias("maximum"),
        _r(F.col("minimum")).alias("minimum"),
        _r(F.col("range_per_turn")).alias("range_per_turn"),
        (_bits("mean") == _bits("mean_bare")).alias("mean_bitwise_stable"),
        (_bits("std") == _bits("std_bare")).alias("std_bitwise_stable"))


SQL_TS_FEATURES_WITH_META = oracle(q_ts_features_with_meta, """
WITH r AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT conv_id,
       max(CASE WHEN rn = 1 THEN event_type END) AS first_role,
       count(*) AS n_turns,
       round(max(value), 6) + 0.0 AS maximum,
       round(min(value), 6) + 0.0 AS minimum,
       round((max(value) - min(value)) / count(*), 6) + 0.0 AS range_per_turn,
       TRUE AS mean_bitwise_stable,
       TRUE AS std_bitwise_stable
FROM r GROUP BY 1
""")


# ---------------------------------------------------------------------------
# relational coverage (SURVEY.md §2.11)
# ---------------------------------------------------------------------------

def q_rel_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    _prep(spark)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_r0(F.round(F.sum("l_quantity"), 2)).alias("sum_qty"),
                 _r0(F.round(F.sum("l_extendedprice"), 2)).alias("sum_base_price"),
                 _r0(F.round(F.sum(disc), 2)).alias("sum_disc_price"),
                 _r(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


SQL_REL_TPCH_Q1 = oracle(q_rel_tpch_q1, """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) + 0.0 AS sum_qty,
       round(sum(l_extendedprice), 2) + 0.0 AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS sum_disc_price,
       round(avg(l_quantity), 4) + 0.0 AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY 1, 2
""")


def q_rel_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join star query: orders ⋈ customer ⋈ nation."""
    _prep(spark)
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(_r0(F.round(F.sum("o_totalprice"), 2)).alias("revenue"),
                 F.count("*").alias("n_orders")))


SQL_REL_NATION_REVENUE = oracle(q_rel_nation_revenue, """
SELECT n_name, round(sum(o_totalprice), 2) + 0.0 AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""")


def q_rel_customers_without_orders(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Anti-join (the resume planner's join type, SURVEY.md §2.11)."""
    _prep(spark)
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    n = _read(spark, sf_dir, "nation")
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (inactive.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_inactive")))


SQL_REL_ANTI = oracle(q_rel_customers_without_orders, """
SELECT n_name, count(*) AS n_inactive
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
""")


def q_rel_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(event_type, day): hierarchical summaries."""
    ev = _events(spark, sf_dir)
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    return (ev.select("event_type", day, "value")
            .rollup("event_type", "day")
            .agg(F.count("*").alias("n"),
                 _r0(F.round(F.sum("value"), 4)).alias("total")))


SQL_REL_ROLLUP_SETS = oracle(q_rel_rollup_sets, """
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) AS n, round(sum(value), 4) + 0.0 AS total
FROM events GROUP BY ROLLUP(event_type, day)
""")


def q_rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct coverage (SURVEY.md §2.11): HLL++ sketch
    values aren't cross-engine comparable, so the driver-checked output
    is the exact distinct count plus a boolean pinning the sketch within
    ±5% of it (rsd=0.02 → far tighter in practice)."""
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_exact"),
                 F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"))
            .select("event_type",
                    F.col("n_exact").cast("long").alias("n_exact"),
                    ((F.abs(F.col("n_approx") - F.col("n_exact"))
                      / F.col("n_exact")) <= 0.05).alias("approx_ok")))


SQL_REL_APPROX_DISTINCT = oracle(q_rel_approx_distinct, """
SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS approx_ok
FROM events GROUP BY 1
""")


def q_rel_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL coverage: per-user count of events surviving
    removal of one row per purchase event (bag difference semantics)."""
    ev = _events(spark, sf_dir)
    all_ids = ev.select("user_id")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id")
    return (all_ids.exceptAll(purch)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_nonpurchase"))
            .select(F.col("user_id").cast("string").alias("conv_id"),
                    "n_nonpurchase"))


SQL_REL_EXCEPT_ALL = oracle(q_rel_except_all, """
WITH d AS (
  SELECT user_id FROM events
  EXCEPT ALL
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
SELECT CAST(user_id AS VARCHAR) AS conv_id, count(*) AS n_nonpurchase
FROM d GROUP BY 1
""")


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    return (dedup.exact_dedup(_read(spark, sf_dir, "documents"))
            .select("doc_id", "text_hash", "group_size", "is_canonical"))


SQL_DOC_DEDUP_EXACT = oracle(q_doc_dedup_exact, """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, count(*) AS group_size, min(doc_id) AS canon
      FROM h GROUP BY 1)
SELECT doc_id, h.text_hash, group_size, doc_id = canon AS is_canonical
FROM h JOIN g ON h.text_hash = g.text_hash
""")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    return textstats.md5_fingerprint(_read(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = oracle(q_doc_fingerprint, """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                               '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""")


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    out = textstats.token_stats(_read(spark, sf_dir, "documents"))
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      F.col("n_chars").cast("long").alias("n_chars"),
                      _r(F.col("avg_token_len")).alias("avg_token_len"),
                      "est_bpe_tokens")


SQL_DOC_TOKEN_STATS = oracle(q_doc_token_stats, """
SELECT doc_id,
       cast(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_tokens,
       cast(length(text) AS bigint) AS n_chars,
       round(length(text) / len(string_split_regex(trim(text), '\\s+')), 6) + 0.0
         AS avg_token_len,
       cast(greatest(len(string_split_regex(trim(text), '\\s+')),
                     ceil(length(text) / 4.0)) AS bigint) AS est_bpe_tokens
FROM documents
""")


def q_doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters (tokenizer-training primitive):
    top-50 lowercased whitespace tokens by occurrence count with exact
    document frequency and a deterministic rank (ties broken token ASC
    so the k-boundary is reproducible). Integer counts → exact,
    bit-stable full-value oracle."""
    from cesium_spark.operators.textstats import vocab_topk
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = vocab_topk(docs, 50)
    return out.select(
        F.col("rank").cast("long").alias("rank"),
        "token",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


SQL_DOC_VOCAB_TOPK = oracle(q_doc_vocab_topk, r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
c AS (
  SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
  FROM tok
  WHERE token <> ''
  GROUP BY token
)
SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank,
       token, cnt, n_docs
FROM c
ORDER BY cnt DESC, token
LIMIT 50
""")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    out = textstats.quality_score(_read(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_tokens",
                      _r(F.col("punct_ratio")).alias("punct_ratio"),
                      _r(F.col("stopword_ratio")).alias("stopword_ratio"),
                      _r(F.col("quality_score")).alias("quality_score"))


SQL_DOC_QUALITY = oracle(q_doc_quality, """
WITH s AS (
  SELECT doc_id,
         cast(len(string_split_regex(trim(lower(text)), '\\s+')) AS double)
           AS n_tokens,
         cast(length(text) AS double) AS n_chars,
         cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
           AS n_punct,
         cast(len(regexp_extract_all(lower(text),
              '\\b(the|a|of|to|and|in|for|on|with)\\b')) AS double) AS n_stop
  FROM documents
)
SELECT cast(doc_id AS bigint) AS doc_id,
       cast(n_tokens AS bigint) AS n_tokens,
       round(n_punct / n_chars, 6) + 0.0 AS punct_ratio,
       round(n_stop / n_tokens, 6) + 0.0 AS stopword_ratio,
       round(least(n_tokens / 64.0, 1.0) * 0.4
             + least(n_stop / n_tokens * 4.0, 1.0) * 0.4
             + (1.0 - least(n_punct / n_chars * 10.0, 1.0)) * 0.2, 6) + 0.0
         AS quality_score
FROM s
""")


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_df=20 exercises the hot-shingle guard (blocks are 25 docs, so
    near-stop-words with df 21-25 get dropped); the oracle applies the
    identical cap, so values stay exact over the capped vocabulary."""
    _prep(spark)
    out = dedup.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), block_col="source",
        shingle_n=1, threshold=0.2, max_df=20)
    return out.select("id_a", "id_b", _r(F.col("jaccard")).alias("jaccard"))


SQL_DOC_JACCARD = oracle(q_doc_jaccard_pairs, """
WITH tok0 AS (
  SELECT DISTINCT doc_id, source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS s
  FROM documents
),
hot AS (
  SELECT s, source FROM tok0 GROUP BY 1, 2 HAVING count(*) > 20
),
tok AS (
  SELECT t.* FROM tok0 t
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.s = t.s AND h.source = t.source)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / (sa.sz + sb.sz - i), 6) + 0.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i) >= 0.2
""")


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → duplicate CLUSTERS: the same capped-vocabulary
    Jaccard pairs as doc_jaccard_pairs (threshold 0.2, max_df 20) fed
    through iterative min-label connected components; singletons keep
    their own id. The DuckDB oracle replays the pair generation and
    computes components with a recursive CTE (label = min reachable
    id), so cluster ids AND sizes are value-exact."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, block_col="source",
                                      shingle_n=1, threshold=0.2, max_df=20)
    comp = dedup.connected_components(pairs)
    lab = (docs.select("doc_id")
           .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id"))
                   .alias("cluster_id")))
    sizes = lab.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return (lab.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size"))


SQL_DOC_DEDUP_CLUSTERS = oracle(q_doc_dedup_clusters, """
WITH RECURSIVE tok0 AS (
  SELECT DISTINCT doc_id, source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS s
  FROM documents
),
hot AS (
  SELECT s, source FROM tok0 GROUP BY 1, 2 HAVING count(*) > 20
),
tok AS (
  SELECT t.* FROM tok0 t
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.s = t.s AND h.source = t.source)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE i / (sa.sz + sb.sz - i) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
SELECT l.doc_id, l.cluster_id, c.cluster_size
FROM lab l JOIN csz c USING (cluster_id)
""")


def q_emb_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_cosine_pairs exact mode vs an all-pairs DuckDB oracle
    (the 'lsh' scale mode — same exact re-scoring on LSH candidates —
    is pinned by tests/test_pipeline_ops.py candidate-subset checks)."""
    _prep(spark)
    out = dedup.embedding_cosine_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.3, method="exact")
    return out.select("id_a", "id_b",
                      _r0(F.round("cosine", 5)).alias("cosine"))


SQL_EMB_COSINE_PAIRS = oracle(q_emb_cosine_pairs, """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, a -> a * a))) AS norm
      FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
           / (a.norm * b.norm) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cosine, 5) + 0.0 AS cosine
FROM p WHERE cosine >= 0.3
""")


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    out = textstats.lang_id(_read(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred", _r(F.col("lang_score")).alias("lang_score"))


SQL_DOC_LANG_ID = oracle(q_doc_lang_id, """
WITH c AS (
  SELECT doc_id,
         cast(len(string_split_regex(trim(lower(text)), '\\s+')) AS double) AS n,
         cast(len(regexp_extract_all(lower(text),
              '\\b(the|and|of|to|in|is|that)\\b')) AS double) AS c_en,
         cast(len(regexp_extract_all(lower(text),
              '\\b(der|die|das|und|ist|nicht)\\b')) AS double) AS c_de,
         cast(len(regexp_extract_all(lower(text),
              '\\b(el|la|los|de|que|y|es)\\b')) AS double) AS c_es,
         cast(len(regexp_extract_all(lower(text),
              '\\b(le|la|les|et|est|que|des)\\b')) AS double) AS c_fr
  FROM documents
),
scored AS (
  SELECT doc_id, lang, score FROM (
    SELECT doc_id, 'en' AS lang, c_en / n AS score FROM c
    UNION ALL SELECT doc_id, 'de', c_de / n FROM c
    UNION ALL SELECT doc_id, 'es', c_es / n FROM c
    UNION ALL SELECT doc_id, 'fr', c_fr / n FROM c)
)
SELECT doc_id, lang AS lang_pred, round(score, 6) + 0.0 AS lang_score
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
""")


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = similarity.cosine_topk(embs, [float(x) for x in q], k=10)
    return out.select("vec_id", _r0(F.round("cosine", 5)).alias("cosine"))


SQL_EMB_COSINE_TOPK = oracle(q_emb_cosine_topk, """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
x AS (
  SELECT e.vec_id,
         list_sum(list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])),
           s -> s[1] * s[2])) AS dot,
         sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
                                      a -> a * a))) AS na,
         sqrt(list_sum(list_transform(CAST(q.qe AS DOUBLE[]),
                                      b -> b * b))) AS nb
  FROM embeddings e, q
)
SELECT vec_id, round(dot / (na * nb), 5) + 0.0 AS cosine
FROM x ORDER BY dot / (na * nb) DESC, vec_id LIMIT 10
""")


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata of REAL synthesized containers (PGM/WAV/Y4M —
    round 4 de-stub): n_bytes is the source content byte count, dims
    derive from it; the oracle restates the derivations from the text
    column."""
    _prep(spark)
    media = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    return media.select("doc_id", "media_type",
                        F.col("n_bytes").cast("long").alias("n_bytes"),
                        F.col("width").cast("long").alias("width"),
                        F.col("height").cast("long").alias("height"),
                        F.col("n_frames").cast("long").alias("n_frames"))


SQL_MULTIMODAL_META = oracle(q_multimodal_meta, """
SELECT doc_id,
       ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type,
       cast(octet_length(encode(text)) AS bigint) AS n_bytes,
       cast(16 + octet_length(encode(text)) % 48 AS bigint) AS width,
       cast(16 + (octet_length(encode(text)) * 7) % 48 AS bigint) AS height,
       cast(1 + octet_length(encode(text)) % 30 AS bigint) AS n_frames
FROM documents
""")


# ---------------------------------------------------------------------------
# non-SQL-expressible queries (rows-only driver check; exact checks live
# in tests/ — Lomb–Scargle, MinHash, SimHash, LSH, winnowing, multimodal)
# ---------------------------------------------------------------------------

def q_ts_lomb_scargle_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb–Scargle driver oracle via self-consistency invariants
    (round-3 upgrade of the former rows-only check; exact feature
    values stay pytest-pinned in tests/test_lomb_scargle.py): the full
    conv-tier GLS fit runs for real, and the emitted columns are facts
    a DuckDB oracle can state from the raw events table —

    * ``n_epochs`` (exact long) and ``fit_ok`` ⇔ (n ≥ 4 ∧ var > 0 ∧
      span > 0), the kernel's documented degenerate policy;
    * boolean invariants of the fit, TRUE whenever ``fit_ok``:
      period_fast·freq1_freq ≈ 1, 0 < freq1_freq ≤ Nyquist(n, T),
      0 ≤ freq_varrat ≤ 1 (uniform weights ⇒ LSQ can't add variance),
      freq1_signif > 0, freq1_amplitude1 > 0, and kernel linear_trend ≡
      native ``regr_slope(value, t)`` (ties the kernel to a
      SQL-computable quantity). A wrong frequency grid, broken refine
      step, or mis-weighted trend flips a boolean and the hash."""
    s = _value_series(spark, sf_dir)
    feats = ["freq1_freq", "freq1_amplitude1", "freq1_signif",
             "period_fast", "freq_varrat", "linear_trend",
             "n_epochs", "total_time"]
    wide = rollup_wide(s, ["conv"], feats)
    ev = _read(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    facts = (ev.groupBy(F.col("user_id").cast("string").alias("conv_id"))
             .agg(F.regr_slope(F.col("value"), sec).alias("slope_sql")))
    j = wide.join(facts, "conv_id")
    ok = ~F.isnan("freq1_freq")

    def inv(cond):
        return F.when(ok, cond).otherwise(F.lit(True))

    return j.select(
        "conv_id",
        F.col("n_epochs").cast("long").alias("n_epochs"),
        ok.alias("fit_ok"),
        inv(F.abs(F.col("period_fast") * F.col("freq1_freq") - 1) < 1e-9)
        .alias("period_consistent"),
        inv((F.col("freq1_freq") > 0)
            & (F.col("freq1_freq")
               <= 0.5 * F.col("n_epochs") / F.col("total_time") + 1e-9))
        .alias("freq_in_nyquist"),
        inv((F.col("freq_varrat") >= 0) & (F.col("freq_varrat") <= 1 + 1e-9))
        .alias("varrat_in_range"),
        inv(F.col("freq1_signif") > 0).alias("signif_positive"),
        inv(F.col("freq1_amplitude1") > 0).alias("amp_positive"),
        inv(F.abs(F.col("linear_trend") - F.col("slope_sql"))
            <= 1e-6 * (F.lit(1.0) + F.abs("slope_sql")))
        .alias("trend_matches_ols"),
    )


SQL_TS_LOMB_SCARGLE = oracle(q_ts_lomb_scargle_conv, """
SELECT cast(user_id AS varchar) AS conv_id,
       count(*) AS n_epochs,
       (count(*) >= 4 AND var_pop(value) > 0
        AND epoch(max(ts)) > epoch(min(ts))) AS fit_ok,
       TRUE AS period_consistent,
       TRUE AS freq_in_nyquist,
       TRUE AS varrat_in_range,
       TRUE AS signif_positive,
       TRUE AS amp_positive,
       TRUE AS trend_matches_ols
FROM events GROUP BY 1
""")


def q_ts_qso_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-random-walk variability scores per conversation (cesium
    qso_model.py † family; spec pinned in cesium_spark/functions/qso.py).
    Driver oracle via invariants (round 3; exact values pytest-pinned):

    * ``n_epochs`` exact, ``qso_defined`` ⇔ (n ≥ 2 ∧ var > 0),
      ``qso_capped`` ⇔ n > QSO_MAX_N — all SQL-computable;
    * ``chi2null_consistent``: the two features telescope —
      qso_log_chi2_qsonu + qso_log_chi2nuNULL_chi2nu =
      log(chi2_null / (n−1)) — and chi2_null = n·var_pop(value)/e² is
      computable NATIVELY from events (e = 1e-4 constant), so the
      kernel's Cholesky solve is pinned to a SQL quantity (asserted for
      uncapped fits; thinning changes the point set under the cap)."""
    s = _value_series(spark, sf_dir)
    feats = ["qso_log_chi2_qsonu", "qso_log_chi2nuNULL_chi2nu",
             "n_epochs", "qso_capped"]
    wide = rollup_wide(s, ["conv"], feats)
    ev = _read(spark, sf_dir, "events")
    facts = (ev.groupBy(F.col("user_id").cast("string").alias("conv_id"))
             .agg(F.var_pop("value").alias("vp"), F.count("*").alias("cnt")))
    j = wide.join(facts, "conv_id")
    ok = ~F.isnan("qso_log_chi2_qsonu")
    lognull = F.log(F.col("cnt") * F.col("vp") / F.lit(1e-8)
                    / (F.col("cnt") - 1))
    sumf = F.col("qso_log_chi2_qsonu") + F.col("qso_log_chi2nuNULL_chi2nu")
    return j.select(
        "conv_id",
        F.col("n_epochs").cast("long").alias("n_epochs"),
        ok.alias("qso_defined"),
        (F.col("qso_capped") > 0).alias("qso_capped"),
        F.when(ok & (F.col("qso_capped") == 0),
               F.abs(sumf - lognull) <= 1e-6 * (F.lit(1.0) + F.abs(lognull)))
        .otherwise(F.lit(True)).alias("chi2null_consistent"),
    )


SQL_TS_QSO = oracle(q_ts_qso_conv, """
SELECT cast(user_id AS varchar) AS conv_id,
       count(*) AS n_epochs,
       (count(*) >= 2 AND var_pop(value) > 0) AS qso_defined,
       count(*) > 1500 AS qso_capped,
       TRUE AS chi2null_consistent
FROM events GROUP BY 1
""")


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH driver oracle via PLANTED duplicates: the corpus is
    documents ∪ {copy of every 10th doc under doc_id+100000}. Identical
    text ⇒ identical shingle sets ⇒ identical 64-hash signature ⇒ all 16
    bands collide, so every planted pair MUST surface as a candidate
    with n_shared_bands = 16 — a deterministic recall check DuckDB can
    state without reproducing xxhash64. A missed pair drops the inner
    join's row count (rows_match goes red)."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    corpus = docs.unionByName(planted)
    cands = dedup.minhash_lsh_candidates(corpus, k=64, bands=16, shingle_n=3)
    expect = (docs.where(F.col("doc_id") % 10 == 0)
              .select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 100000).alias("id_b")))
    return (expect.join(cands, ["id_a", "id_b"])
            .select("id_a", "id_b",
                    F.col("n_shared_bands").cast("long").alias("n_shared_bands")))


SQL_DOC_MINHASH_LSH = oracle(q_doc_minhash_lsh, """
SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
       CAST(16 AS BIGINT) AS n_shared_bands
FROM documents WHERE doc_id % 10 = 0
""")


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash driver oracle via a token-permutation invariant: simhash
    is a function of the DISTINCT-token set (dedup.simhash explodes
    array_distinct), so reversing the token order of every document must
    produce a bit-identical 64-bit hash — hamming distance 0 for all 500
    docs. DuckDB states the invariant without reproducing xxhash64."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    rev = docs.select(
        "doc_id",
        F.array_join(F.reverse(F.split(F.trim(F.col("text")), r"\s+")), " ")
        .alias("text"))
    a = dedup.simhash(docs).withColumnRenamed("simhash", "sh_a")
    b = dedup.simhash(rev).withColumnRenamed("simhash", "sh_b")
    return (a.join(b, "doc_id")
            .select("doc_id",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .cast("int").alias("perm_hamming")))


SQL_DOC_SIMHASH = oracle(q_doc_simhash, """
SELECT doc_id, CAST(0 AS INTEGER) AS perm_hamming FROM documents
""")


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-blocking driver oracle via PLANTED duplicates (the
    minhash_lsh pattern): corpus = documents ∪ {copy of every 10th doc
    under doc_id+100000}. Identical text ⇒ identical token set ⇒
    identical 64-bit simhash ⇒ all 4 bands collide and hamming = 0, so
    every planted pair MUST surface with (hamming, n_shared_bands) =
    (0, 4) — recall DuckDB can state without reproducing xxhash64. A
    missed pair drops the inner join's row count; a broken band shift
    or bit_count changes the pinned columns. (The hamming ≤ 3 recall
    GUARANTEE on non-identical pairs is pytest-pinned with handcrafted
    signatures in tests/test_pipeline_ops.py — band math is not
    SQL-expressible.)"""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    corpus = docs.unionByName(planted)
    cands = dedup.simhash_candidates(corpus, bands=4, max_hamming=3)
    expect = (docs.where(F.col("doc_id") % 10 == 0)
              .select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 100000).alias("id_b")))
    return (expect.join(cands, ["id_a", "id_b"])
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming"),
                    F.col("n_shared_bands").cast("long")
                    .alias("n_shared_bands")))


SQL_DOC_SIMHASH_PAIRS = oracle(q_doc_simhash_pairs, """
SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
       CAST(0 AS BIGINT) AS hamming, CAST(4 AS BIGINT) AS n_shared_bands
FROM documents WHERE doc_id % 10 = 0
""")


def q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-value oracle: the hyperplane matrix is a small deterministic
    constant (similarity._planes, seed 42), so the ENTIRE LSH pipeline —
    sign-bit signatures, multi-probe hamming≤1 candidate set, exact
    cosine re-rank — is replayed in pure DuckDB SQL with the planes
    inlined as literals (built by _lsh_topk_sql below)."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = similarity.lsh_bucketed_topk(embs, [float(x) for x in q],
                                       k=10, n_planes=12)
    return out.select("vec_id", _r0(F.round("cosine", 5)).alias("cosine"))


def _lsh_topk_sql(dim: int = 64, n_planes: int = 12, k: int = 10) -> str:
    """DuckDB replay of lsh_bucketed_topk(n_planes, multiprobe_bits=1):
    the deterministic plane matrix is inlined as double literals; dot
    products vs float64-cast embeddings reproduce the pandas-UDF matmul
    signs exactly (verified value-identical at sf0.01 and sf0.001)."""
    planes = similarity._planes(dim, n_planes)

    def arr(j: int) -> str:
        return "[" + ", ".join(repr(float(planes[i, j]))
                               for i in range(dim)) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr(j)}) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket}) AS bucket FROM e),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
cand AS (
  SELECT b.vec_id, b.v, q.qv FROM b, q
  WHERE bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.qb AS BIGINT))) <= 1
),
x AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(v, qv), s -> s[1] * s[2])) AS dot,
         sqrt(list_sum(list_transform(v, a -> a * a))) AS na,
         sqrt(list_sum(list_transform(qv, a2 -> a2 * a2))) AS nb
  FROM cand
)
SELECT vec_id, round(dot / (na * nb), 5) + 0.0 AS cosine
FROM x ORDER BY dot / (na * nb) DESC, vec_id LIMIT {k}
"""


oracle(q_emb_lsh_topk, _lsh_topk_sql())


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-value oracle for the IVF ANN path, round 4 on TRAINED
    centroids: the frozen k-means index (similarity.
    ivf_trained_centroids — trained once by tools/train_ivf_centroids.
    py, balanced lists pytest-pinned vs random) is a checked-in
    constant, so the ENTIRE pipeline — argmax-dot list assignment,
    nprobe=4/16 probe selection, exact cosine re-rank of the probed
    lists — is replayed in pure DuckDB SQL with the centroids inlined
    as literals (built by _ivf_topk_sql below). A genuine pruning path
    (25% of lists probed), not the degenerate nprobe=n_centroids mode.
    check_ties=1e-9 makes the replay non-flaky BY CONSTRUCTION: any
    vector whose assignment (or the probe cut) sits within summation-
    order rounding of a tie fails fast instead of hash-mismatching."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = similarity.ivf_topk(embs, [float(x) for x in q],
                              k=10, n_centroids=16, nprobe=4,
                              centroids=similarity.ivf_trained_centroids(),
                              check_ties=1e-9)
    return out.select("vec_id", _r0(F.round("cosine", 5)).alias("cosine"))


def _ivf_topk_sql(dim: int = 64, n_centroids: int = 16, nprobe: int = 4,
                  k: int = 10) -> str:
    """DuckDB replay of ivf_topk over the frozen trained centroids
    (inlined as double literals); per-vector argmax assignment uses the
    same tie rule as np.argmax (dot desc, list id asc) — and the engine
    side's check_ties margin guarantees no near-tie can make the two
    replays diverge."""
    cents = similarity.ivf_trained_centroids()
    assert cents.shape == (n_centroids, dim)
    rows = ", ".join(
        "(" + str(j) + ", [" +
        ", ".join(repr(float(cents[j, i])) for i in range(dim)) + "])"
        for j in range(n_centroids))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT * FROM (VALUES {rows}) AS t(cid, cv)),
d AS (SELECT e.vec_id, e.v, c.cid, list_dot_product(e.v, c.cv) AS dot
      FROM e CROSS JOIN c),
assign AS (
  SELECT vec_id, v, cid FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) = 1
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probes AS (
  SELECT c.cid FROM c CROSS JOIN q
  ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid LIMIT {nprobe}
),
cand AS (
  SELECT a.vec_id, a.v, q.qv
  FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
),
x AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(v, qv), s -> s[1] * s[2])) AS dot,
         sqrt(list_sum(list_transform(v, a -> a * a))) AS na,
         sqrt(list_sum(list_transform(qv, a2 -> a2 * a2))) AS nb
  FROM cand
)
SELECT vec_id, round(dot / (na * nb), 5) + 0.0 AS cosine
FROM x ORDER BY dot / (na * nb) DESC, vec_id LIMIT {k}
"""


oracle(q_emb_ivf_topk, _ivf_topk_sql())


def q_emb_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN through the trained IVF index: top-10
    among vectors with label=7 AND vec_id%4==0 (a ~3% predicate that
    empties the nearest lists, forcing the probe set to WIDEN past the
    requested nprobe=4 to the shortest dot-ordered centroid prefix
    holding >= k filtered candidates). Pre-filter composes with
    list_id pruning; widening arithmetic is exact integer counts; the
    oracle replays filter, assignment, per-list counts, the cut, and
    the re-score — full-value, n_probed pinned as a column.
    check_ties=1e-9 asserts EVERY adjacent centroid-dot gap (the cut
    index is data-dependent), measured >= 4e-4 at all SFs."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    pred = (F.col("label") == 7) & (F.col("vec_id") % 4 == 0)
    out = similarity.ivf_topk_filtered(
        embs, [float(x) for x in q], pred, k=10, n_centroids=16, nprobe=4,
        centroids=similarity.ivf_trained_centroids(), check_ties=1e-9)
    return out.select("vec_id", _r0(F.round("cosine", 5)).alias("cosine"),
                      F.col("n_probed").cast("int").alias("n_probed"))


def _ivf_filtered_sql(dim: int = 64, n_centroids: int = 16,
                      nprobe: int = 4, k: int = 10) -> str:
    """DuckDB replay of ivf_topk_filtered: same centroid literals as
    the engine, same pre-filter, same shortest-prefix widening rule
    (rn >= nprobe AND running matched count >= k; all lists if the
    filtered corpus holds < k matches)."""
    cents = similarity.ivf_trained_centroids()
    assert cents.shape == (n_centroids, dim)
    rows = ", ".join(
        "(" + str(j) + ", [" +
        ", ".join(repr(float(cents[j, i])) for i in range(dim)) + "])"
        for j in range(n_centroids))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE label = 7 AND vec_id % 4 = 0),
c AS (SELECT * FROM (VALUES {rows}) AS t(cid, cv)),
d AS (SELECT e.vec_id, e.v, c.cid, list_dot_product(e.v, c.cv) AS dot
      FROM e CROSS JOIN c),
assign AS (
  SELECT vec_id, v, cid FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) = 1
),
q AS (SELECT v AS qv FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                           FROM embeddings) WHERE vec_id = 0),
ordered AS (
  SELECT c.cid,
         row_number() OVER (
           ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid) AS rn
  FROM c CROSS JOIN q
),
cnts AS (SELECT cid, count(*) AS m FROM assign GROUP BY 1),
cum AS (
  SELECT o.rn, o.cid,
         sum(coalesce(cn.m, 0)) OVER (ORDER BY o.rn) AS cm
  FROM ordered o LEFT JOIN cnts cn USING (cid)
),
cut AS (SELECT min(rn) AS r FROM cum WHERE rn >= {nprobe} AND cm >= {k}),
probes AS (
  SELECT cid FROM cum CROSS JOIN cut
  WHERE rn <= coalesce(cut.r, {n_centroids})
),
np_ AS (SELECT cast(count(*) AS int) AS n_probed FROM probes),
cand AS (
  SELECT a.vec_id, a.v, q.qv
  FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
),
x AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(v, qv), s -> s[1] * s[2])) AS dot,
         sqrt(list_sum(list_transform(v, a -> a * a))) AS na,
         sqrt(list_sum(list_transform(qv, a2 -> a2 * a2))) AS nb
  FROM cand
)
SELECT vec_id, round(dot / (na * nb), 5) + 0.0 AS cosine, np_.n_probed
FROM x CROSS JOIN np_
ORDER BY dot / (na * nb) DESC, vec_id LIMIT {k}
"""


SQL_EMB_IVF_FILTERED = oracle(q_emb_ivf_filtered, _ivf_filtered_sql())


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing driver oracle via two deterministic invariants per doc
    (the hash values themselves are not SQL-expressible): (a) count
    bounds — 0 fingerprints iff n_tokens < k, else 1 ≤ count ≤
    n_tokens−k+1 (one rolling hash per k-gram, dedup'd); (b) planted
    exact duplicates (every 10th doc) must get an identical fingerprint
    ARRAY. Any violation flips a boolean the DuckDB oracle pins true."""
    _prep(spark)
    k = 5
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    corpus = docs.unionByName(planted)
    fp = textstats.winnowing_fingerprints(corpus, k=k, window=4)
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    base = (corpus.select("doc_id", n_tok.alias("n_tokens"))
            .join(fp, "doc_id")
            .withColumn("n_fp", F.size("fingerprints")))
    orig = base.where(F.col("doc_id") < 100000)
    copy = (base.where(F.col("doc_id") >= 100000)
            .select((F.col("doc_id") - 100000).alias("doc_id"),
                    F.col("fingerprints").alias("fp_copy")))
    bounds_ok = F.when(F.col("n_tokens") < k, F.col("n_fp") == 0) \
        .otherwise((F.col("n_fp") >= 1)
                   & (F.col("n_fp") <= F.col("n_tokens") - (k - 1)))
    return (orig.join(copy, "doc_id", "left")
            .select("doc_id", bounds_ok.alias("bounds_ok"),
                    F.coalesce(F.col("fingerprints") == F.col("fp_copy"),
                               F.lit(True)).alias("dup_consistent")))


SQL_DOC_WINNOWING = oracle(q_doc_winnowing, """
SELECT doc_id, true AS bounds_ok, true AS dup_consistent FROM documents
""")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-value oracle for the REAL decode → pool pipeline (round 4:
    no fake path left). The engine builds genuine PGM/WAV/Y4M
    containers with native exprs and PARSES them back in the kernel;
    the oracle replays the construction from the text column — sample
    streams are byte/256 (image/video rasters, space-padded) or
    (pcm16 ^ 0x8000)/65536 (audio) — all dyadic rationals, the pooled
    mean uses a float64 accumulator, and the stored float32 truncation
    is replayed with CAST(.. AS REAL), so all 8 feature columns are
    REPRESENTATION-identical. A header-parsing bug (wrong offset, wrong
    sample count, wrong endianness) shifts every downstream value and
    flips the hash."""
    _prep(spark)
    media = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, feat_dim=8)
    return feats.select(
        "doc_id", "media_type",
        *[F.col("feat")[i].cast("double").alias(f"f{i}") for i in range(8)])


SQL_MULTIMODAL_FEATURES = oracle(q_multimodal_features, """
WITH meta AS (
  SELECT doc_id, text, length(text) AS n,
         16 + (length(text) % 48) AS w,
         16 + ((length(text) * 7) % 48) AS h,
         1 + (length(text) % 30) AS nf,
         ['image', 'audio', 'video'][(doc_id % 3) + 1] AS media_type
  FROM documents
),
img AS (  -- PGM raster: content bytes space-padded to w*h, /256
  SELECT doc_id, media_type, i AS j,
         CAST(CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)])
              ELSE 32 END AS DOUBLE) AS num,
         256.0 AS denom, w * h AS L
  FROM meta, LATERAL unnest(range(1, w * h + 1)) AS u(i)
  WHERE media_type = 'image'
),
aud AS (  -- WAV PCM16 LE mono: content padded to even length;
          -- sample = (lo + 256*hi + 32768) mod 65536, /65536
  SELECT doc_id, media_type, j,
         CAST(((CASE WHEN 2*j-1 <= n THEN ord(text[CAST(2*j-1 AS INTEGER)])
                ELSE 32 END)
             + 256 * (CASE WHEN 2*j <= n THEN ord(text[CAST(2*j AS INTEGER)])
                      ELSE 32 END)
             + 32768) % 65536 AS DOUBLE) AS num,
         65536.0 AS denom, (n + n % 2) // 2 AS L
  FROM meta, LATERAL unnest(range(1, (n + n % 2) // 2 + 1)) AS u(j)
  WHERE media_type = 'audio'
),
vid AS (  -- Y4M mono frames: content space-padded to nf*w*h, /256
  SELECT doc_id, media_type, i AS j,
         CAST(CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)])
              ELSE 32 END AS DOUBLE) AS num,
         256.0 AS denom, nf * w * h AS L
  FROM meta, LATERAL unnest(range(1, nf * w * h + 1)) AS u(i)
  WHERE media_type = 'video'
),
s AS (
  SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
),
f AS (  -- mean-pool: (sum of exact numerators)/denom/ceil(L/8) — the
        -- kernel's division order; zero-pad rows add nothing to sums
  SELECT doc_id, media_type, (j - 1) % 8 AS colidx,
         CAST(sum(num) / max(denom) / ceil(max(L) / 8.0) AS REAL) AS fv
  FROM s GROUP BY 1, 2, 3
)
SELECT doc_id, media_type,
       CAST(max(CASE WHEN colidx = 0 THEN fv END) AS DOUBLE) AS f0,
       CAST(max(CASE WHEN colidx = 1 THEN fv END) AS DOUBLE) AS f1,
       CAST(max(CASE WHEN colidx = 2 THEN fv END) AS DOUBLE) AS f2,
       CAST(max(CASE WHEN colidx = 3 THEN fv END) AS DOUBLE) AS f3,
       CAST(max(CASE WHEN colidx = 4 THEN fv END) AS DOUBLE) AS f4,
       CAST(max(CASE WHEN colidx = 5 THEN fv END) AS DOUBLE) AS f5,
       CAST(max(CASE WHEN colidx = 6 THEN fv END) AS DOUBLE) AS f6,
       CAST(max(CASE WHEN colidx = 7 THEN fv END) AS DOUBLE) AS f7
FROM f GROUP BY 1, 2
""")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-value oracle for the area-mean resize kernel over the REAL
    decode (round 4): images use their parsed PGM raster, videos their
    first Y4M frame — both are the content bytes space-padded to w*h,
    so ONE SQL formula replays them; audio rows have no raster and are
    filtered. Source pixel (i, j) pools into output cell (i*4//h,
    j*4//w); the pooled mean is sum/count/256 in float64, stored
    float32. Every step is replayed in SQL with the same division order
    and a CAST(.. AS REAL) truncation, so all 16 raster cells are
    representation-exact (same technique as multimodal_features)."""
    _prep(spark)
    media = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    pix = multimodal.resize_media(media.where(F.col("media_type") != "audio"),
                                  out_h=4, out_w=4)
    return pix.select(
        "doc_id",
        *[F.col("pix")[i].cast("double").alias(f"p{i}") for i in range(16)])


SQL_MULTIMODAL_RESIZE = oracle(q_multimodal_resize, """
WITH meta AS (
  SELECT doc_id, text, length(text) AS n,
         16 + (length(text) % 48) AS w,
         16 + ((length(text) * 7) % 48) AS h
  FROM documents
  WHERE (doc_id % 3) != 1  -- audio rows have no raster
),
pix AS (
  SELECT doc_id, w, h, i,
         CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)]) ELSE 32 END AS b
  FROM meta, LATERAL unnest(range(1, w * h + 1)) AS u(i)
),
grp AS (
  SELECT doc_id,
         ((((i - 1) // w) * 4) // h) * 4 + (((i - 1) % w) * 4) // w AS p,
         CAST(CAST(sum(b) AS DOUBLE) / count(*) / 256.0 AS REAL) AS fv
  FROM pix GROUP BY 1, 2
)
SELECT doc_id,
       CAST(max(CASE WHEN p = 0 THEN fv END) AS DOUBLE) AS p0,
       CAST(max(CASE WHEN p = 1 THEN fv END) AS DOUBLE) AS p1,
       CAST(max(CASE WHEN p = 2 THEN fv END) AS DOUBLE) AS p2,
       CAST(max(CASE WHEN p = 3 THEN fv END) AS DOUBLE) AS p3,
       CAST(max(CASE WHEN p = 4 THEN fv END) AS DOUBLE) AS p4,
       CAST(max(CASE WHEN p = 5 THEN fv END) AS DOUBLE) AS p5,
       CAST(max(CASE WHEN p = 6 THEN fv END) AS DOUBLE) AS p6,
       CAST(max(CASE WHEN p = 7 THEN fv END) AS DOUBLE) AS p7,
       CAST(max(CASE WHEN p = 8 THEN fv END) AS DOUBLE) AS p8,
       CAST(max(CASE WHEN p = 9 THEN fv END) AS DOUBLE) AS p9,
       CAST(max(CASE WHEN p = 10 THEN fv END) AS DOUBLE) AS p10,
       CAST(max(CASE WHEN p = 11 THEN fv END) AS DOUBLE) AS p11,
       CAST(max(CASE WHEN p = 12 THEN fv END) AS DOUBLE) AS p12,
       CAST(max(CASE WHEN p = 13 THEN fv END) AS DOUBLE) AS p13,
       CAST(max(CASE WHEN p = 14 THEN fv END) AS DOUBLE) AS p14,
       CAST(max(CASE WHEN p = 15 THEN fv END) AS DOUBLE) AS p15
FROM grp GROUP BY 1
""")


# ---------------------------------------------------------------------------
# round-4 additions: as-of join, interpolation gap-fill, M4 downsample,
# counter rate, quantile rollup
# ---------------------------------------------------------------------------

def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most recent purchase at-or-before each click, per user — the
    general two-table as-of join (union-trick plan, one exchange).
    DuckDB's native ASOF LEFT JOIN is the oracle, so the tie (>=) and
    no-match (NULL) semantics are certified against an independent
    implementation, not a replay of our own."""
    from cesium_spark.operators.asof import asof_join
    ev = _events(spark, sf_dir)
    left = (ev.where(F.col("event_type") == "click")
            .select("user_id", "event_id", "ts", "value"))
    right = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts",
                     F.col("value").alias("purchase_value")))
    j = asof_join(left, right, on=["user_id"], ts="ts",
                  values=["purchase_value"], direction="backward",
                  matched_ts_col="matched_ts")
    return j.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "event_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("value")).alias("value"),
        _r(F.col("purchase_value")).alias("purchase_value"),
        F.date_format("matched_ts", TS_FMT).alias("matched_ts"),
    )


SQL_TS_ASOF_JOIN = oracle(q_ts_asof_join, f"""
SELECT cast(l.user_id AS varchar) AS conv_id,
       l.event_id,
       strftime(l.ts, '{DUCK_TS_FMT}') AS ts,
       round(l.value, 6) + 0.0 AS value,
       round(r.value, 6) + 0.0 AS purchase_value,
       strftime(r.ts, '{DUCK_TS_FMT}') AS matched_ts
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")


def q_ts_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid with linear interpolation between observed
    neighbors (timescaledb interpolate() semantics); edge buckets with
    a neighbor on only one side stay NULL."""
    g = gapfill(_value_series(spark, sf_dir), "1h", policy="interp")
    # interpolated values land exactly on 1e-6 half-way points (grid
    # fractions are small rationals), where Spark's HALF_UP round and
    # DuckDB's round disagree by one ulp of the 6th decimal; both sides
    # therefore round via the SAME explicit IEEE ops:
    # floor(y * 1e6 + 0.5) / 1e6
    rexp = (F.floor(_nn(F.col("y")) * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6) + F.lit(0.0))
    return g.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        rexp.alias("y"),
        F.col("filled"),
    )


# interpolation restated with the SAME window shapes and the SAME
# arithmetic order (prev + (next - prev) * ((b - pb) / (nb - pb)))
SQL_TS_GAPFILL_INTERP = oracle(q_ts_gapfill_interp, f"""
WITH b AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS bucket,
         arg_max(value, ts) AS y_obs
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT conv_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1
),
grid AS (
  SELECT conv_id,
         unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM spans
),
j AS (
  SELECT g.conv_id, g.bucket, b.y_obs
  FROM grid g LEFT JOIN b ON g.conv_id = b.conv_id AND g.bucket = b.bucket
),
nb AS (
  SELECT conv_id, bucket, y_obs,
         last_value(y_obs IGNORE NULLS) OVER wb AS prev_y,
         last_value(CASE WHEN y_obs IS NOT NULL THEN bucket END
                    IGNORE NULLS) OVER wb AS prev_b,
         first_value(y_obs IGNORE NULLS) OVER wf AS next_y,
         first_value(CASE WHEN y_obs IS NOT NULL THEN bucket END
                     IGNORE NULLS) OVER wf AS next_b
  FROM j
  WINDOW wb AS (PARTITION BY conv_id ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY conv_id ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       floor((CASE WHEN y_obs IS NOT NULL THEN y_obs
                   WHEN prev_y IS NOT NULL AND next_y IS NOT NULL
                   THEN prev_y + (next_y - prev_y)
                        * ((epoch(bucket) - epoch(prev_b))
                           / (epoch(next_b) - epoch(prev_b)))
              END) * 1e6 + 0.5) / 1e6 + 0.0 AS y,
       y_obs IS NULL AS filled
FROM nb
""")


def q_ts_m4_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsample (min/max/first/last per hour bucket
    — Jugel VLDB'14), full-value oracle via arg_min/arg_max."""
    from cesium_spark.operators.downsample import m4_downsample
    m = m4_downsample(_value_series(spark, sf_dir), "1h")
    return m.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
        _r(F.col("y_first")).alias("y_first"),
        _r(F.col("y_last")).alias("y_last"),
        _r(F.col("t_first")).alias("t_first"),
        _r(F.col("t_last")).alias("t_last"),
        F.col("n").cast("long").alias("n"),
    )


SQL_TS_M4_1H = oracle(q_ts_m4_1h, f"""{_VALUE_SERIES_SQL}
SELECT conv_id,
       strftime(date_trunc('hour', ts), '{DUCK_TS_FMT}') AS bucket,
       round(min(y), 6) + 0.0 AS y_min,
       round(max(y), 6) + 0.0 AS y_max,
       round(arg_min(y, t), 6) + 0.0 AS y_first,
       round(arg_max(y, t), 6) + 0.0 AS y_last,
       round(min(t), 6) + 0.0 AS t_first,
       round(max(t), 6) + 0.0 AS t_last,
       count(*) AS n
FROM series
GROUP BY 1, 2
""")


_LTTB_M = 24


def q_ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB perceptual downsample to 24 points per conv (Steinarsson
    2013). The selection recursion isn't SQL-expressible, so this is an
    invariant oracle over SQL-computable facts of the output, all
    computed IN Spark and pinned to constants the oracle restates:
    n_out = least(n_raw, m); the first and last raw points survive;
    every output row is byte-identical to a raw row (membership join);
    and for downsampled series each of the m−2 interior buckets
    (replayed with the kernel's own integer edge arithmetic, native
    HOFs — no extra shuffle) contributed EXACTLY one point. Exact
    selection values are pinned in pytest against an independent
    scalar reference."""
    from cesium_spark.operators.downsample import lttb_downsample
    m = _LTTB_M
    raw = _value_series(spark, sf_dir)
    out = lttb_downsample(raw, m)

    raw_stats = raw.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.min("t").alias("rt_min"), F.max("t").alias("rt_max"))
    out_stats = out.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_out"),
        F.min("t").alias("ot_min"), F.max("t").alias("ot_max"))
    n_match = (out.join(raw.select("conv_id", "channel", "turn_idx",
                                   "t", "y"),
                        ["conv_id", "channel", "turn_idx", "t", "y"])
               .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_match")))

    # replay the kernel's bucket edges (edge_k = 1 + (k*(n-2)) DIV (m-2))
    # and check one selected point per interior bucket — native
    # transform/filter HOFs on a tiny (m-1)-element array, no shuffle
    interior = (out.join(raw_stats.select("conv_id", "n_raw"), "conv_id")
                .where((F.col("n_raw") > m)
                       & (F.col("turn_idx") >= 1)
                       & (F.col("turn_idx") <= F.col("n_raw") - 2))
                .withColumn("bucket", F.expr(
                    f"size(filter(transform(sequence(0, {m - 2}), "
                    f"k -> 1 + (k * (n_raw - 2)) DIV {m - 2}), "
                    f"e -> e <= turn_idx)) - 1")))
    per_bucket = (interior.groupBy("conv_id", "bucket")
                  .agg(F.count(F.lit(1)).alias("c")))
    bucket_ok = per_bucket.groupBy("conv_id").agg(
        ((F.max("c") == 1) & (F.count(F.lit(1)) == m - 2))
        .alias("one_per_bucket_raw"))

    j = (raw_stats.join(out_stats, "conv_id")
         .join(n_match, "conv_id")
         .join(bucket_ok, "conv_id", "left"))
    return j.select(
        "conv_id",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_out").cast("long").alias("n_out"),
        (F.col("ot_min") == F.col("rt_min")).alias("first_kept"),
        (F.col("ot_max") == F.col("rt_max")).alias("last_kept"),
        (F.col("n_match") == F.col("n_out")).alias("all_from_raw"),
        F.coalesce(F.col("one_per_bucket_raw"), F.lit(True))
        .alias("one_per_bucket"),
    )


SQL_TS_LTTB = oracle(q_ts_lttb, f"""{_VALUE_SERIES_SQL}
SELECT conv_id,
       count(*) AS n_raw,
       least(count(*), {_LTTB_M}) AS n_out,
       TRUE AS first_kept,
       TRUE AS last_kept,
       TRUE AS all_from_raw,
       TRUE AS one_per_bucket
FROM series
GROUP BY conv_id
""")


def q_ts_counter_rate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter rate per hour bucket with reset detection
    (delta when monotone, raw value after a reset)."""
    from cesium_spark.operators.rates import counter_rate
    r = counter_rate(_value_series(spark, sf_dir), "1h", grid=100)
    return r.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("increase")).alias("increase"),
        _r(F.col("rate_per_s")).alias("rate_per_s"),
        F.col("n_resets").cast("long").alias("n_resets"),
        F.col("n").cast("long").alias("n"),
    )


# Restated on the exact 1e-2 value grid (r4 verdict item #2): cent
# increments sum as int64, one terminal division — matching the
# engine's grid=100 path bit-for-bit in any accumulation order.
SQL_TS_COUNTER_RATE_1H = oracle(q_ts_counter_rate_1h, f"""{_VALUE_SERIES_SQL},
c AS (
  SELECT conv_id, ts, t, turn_idx,
         CAST(round(y * 100.0) AS BIGINT) AS yc
  FROM series
),
d AS (
  SELECT conv_id, date_trunc('hour', ts) AS bucket,
         CASE WHEN lag(yc) OVER w IS NULL THEN NULL
              WHEN yc >= lag(yc) OVER w THEN yc - lag(yc) OVER w
              ELSE yc END AS inc,
         CASE WHEN lag(yc) OVER w IS NOT NULL AND yc < lag(yc) OVER w
              THEN 1 ELSE 0 END AS reset
  FROM c
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       round(CAST(sum(inc) AS DOUBLE) / 100.0, 6) + 0.0 AS increase,
       round(CAST(sum(inc) AS DOUBLE) / 100.0 / 3600.0, 6)
         + 0.0 AS rate_per_s,
       CAST(sum(reset) AS BIGINT) AS n_resets,
       count(inc) AS n
FROM d
GROUP BY 1, 2
HAVING count(inc) > 0
""")


def q_ts_quantiles_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p95/p99 via the EXACT percentile path (linear
    interpolation on the sorted group — the definition DuckDB's
    quantile_cont shares). The mergeable GK-sketch path
    (``approx=True``) is the 100 TB variant, verified against this one
    by bounded-rank-error pytest (not SQL-restatable)."""
    from cesium_spark.operators.rollup import rollup_quantiles
    q = rollup_quantiles(_value_series(spark, sf_dir), "1d",
                         qs=(0.5, 0.95, 0.99), approx=False)
    return q.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("p50")).alias("p50"),
        _r(F.col("p95")).alias("p95"),
        _r(F.col("p99")).alias("p99"),
    )


SQL_TS_QUANTILES_1D = oracle(q_ts_quantiles_1d, f"""{_VALUE_SERIES_SQL}
SELECT conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       count(y) AS n,
       round(quantile_cont(y, 0.5), 6) + 0.0 AS p50,
       round(quantile_cont(y, 0.95), 6) + 0.0 AS p95,
       round(quantile_cont(y, 0.99), 6) + 0.0 AS p99
FROM series
GROUP BY 1, 2
""")


def q_ts_hll_tier_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count tiers: hourly HLL sketches of distinct
    props per conv, FOLDED to daily by sketch union (never rescanning
    raw — the 10^12-turn plan), vs the daily sketch computed directly.
    Invariant oracle (sketch bytes aren't SQL-restatable): (a) the
    folded estimate EQUALS the direct estimate (sketch-union algebra —
    deterministic, not approximate), (b) estimate within 5% of the
    exact distinct, which the oracle recomputes exactly; row count, n,
    and exact_distinct are full-value-checked."""
    from cesium_spark.operators.fold import (
        fold_distinct_sketches,
        rollup_distinct_sketches,
    )
    _prep(spark)
    ev = (_read(spark, sf_dir, "events")
          .select(F.col("user_id").cast("string").alias("conv_id"),
                  "ts", "props"))
    hourly = rollup_distinct_sketches(ev, "1h", ["conv_id"], "props")
    folded = fold_distinct_sketches(hourly, "1d", ["conv_id"])
    direct = (rollup_distinct_sketches(ev, "1d", ["conv_id"], "props")
              .select("conv_id", "window_start",
                      F.hll_sketch_estimate("sketch").cast("long")
                      .alias("direct_est")))
    exact = (ev.withColumn("window_start", F.date_trunc("day", F.col("ts")))
             .groupBy("conv_id", "window_start")
             .agg(F.countDistinct("props").alias("exact_distinct")))
    out = (folded.join(direct, ["conv_id", "window_start"])
           .join(exact, ["conv_id", "window_start"]))
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (F.col("distinct_est") == F.col("direct_est"))
        .alias("fold_identical"),
        (F.abs(F.col("distinct_est").cast("double")
               - F.col("exact_distinct").cast("double"))
         <= F.lit(0.05) * F.col("exact_distinct").cast("double"))
        .alias("est_ok"),
    )


SQL_TS_HLL_TIER_FOLD = oracle(q_ts_hll_tier_fold, f"""
SELECT cast(user_id AS varchar) AS conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n,
       count(DISTINCT props) AS exact_distinct,
       TRUE AS fold_identical,
       TRUE AS est_ok
FROM events
GROUP BY 1, 2
""")


def q_ts_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows under the driver gate: the value
    series replayed through readStream (availableNow), native
    F.session_window with a 30-minute gap, append mode — each session
    emitted exactly once when the watermark (max ts − 7000 s,
    non-round so the <=/< edge can't bite) passes session end =
    last_ts + gap. Oracle: batch lag-gap sessionization with the SAME
    boundary rule (new session iff Δ > gap — Δ == gap merges, measured
    against Spark's operator) and the same cutoff."""
    import os
    import tempfile

    from cesium_spark.streaming.window_delta import stream_sessionize

    _prep(spark)
    # per-run unique scratch (round-4 s5 review): a fixed path +
    # rmtree lets a concurrent driver delete a live run's files
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_sess_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    s.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    sess = stream_sessionize(stream, gap="30 minutes",
                             watermark="7000 seconds")
    q = (sess.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", f"{base}/out")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("ts_stream_sessions: availableNow stream "
                           "did not finish within 300s")
    out = spark.read.parquet(f"{base}/out")
    return out.select(
        "conv_id",
        F.date_format("session_start", TS_FMT).alias("session_start"),
        F.date_format("session_end", TS_FMT).alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


SQL_TS_STREAM_SESSIONS = oracle(q_ts_stream_sessions, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
g AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT conv_id, ts,
         sum(new_sess) OVER (PARTITION BY conv_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT conv_id,
       strftime(min(ts), '{DUCK_TS_FMT}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{DUCK_TS_FMT}')
         AS session_end,
       count(*) AS n_events
FROM sid, mx
GROUP BY conv_id, sess, mx.m
HAVING max(ts) + INTERVAL 30 MINUTE <= mx.m - INTERVAL 7000 SECONDS
""")


def q_doc_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction on a deterministic PII-augmented corpus (the raw
    documents are synthetic word soup, so the query plants one of each
    PII kind per doc from doc_id — replayed identically in SQL). Counts
    are taken before replacement; replacement order is part of the
    contract. Pure codegen projection, restated verbatim in RE2."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" card 4111 1111 1111 1111 ssn 123-45-6789"
                  " tel +1 555-123-4567"),
        ).alias("text"))
    out = textstats.redact_pii(aug)
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_card", "n_ipv4", "n_phone",
        "n_pii_total", "text_redacted")


def _redact_sql() -> str:
    from cesium_spark.operators.textstats import PII_PATTERNS
    aug = ("text || ' contact u' || doc_id || '@ex.com ip 10.0.0.' || "
           "(doc_id % 256) || ' card 4111 1111 1111 1111 "
           "ssn 123-45-6789 tel +1 555-123-4567'")
    counts = ",\n       ".join(
        f"cast(len(regexp_extract_all(t, '{rx}')) AS bigint) AS n_{kind}"
        for kind, rx in PII_PATTERNS)
    red = "t"
    for kind, rx in PII_PATTERNS:
        red = f"regexp_replace({red}, '{rx}', '<{kind.upper()}>', 'g')"
    total = " + ".join(f"n_{kind}" for kind, _ in PII_PATTERNS)
    return f"""
WITH a AS (SELECT doc_id, {aug} AS t FROM documents),
c AS (
  SELECT doc_id, t,
       {counts}
  FROM a
)
SELECT doc_id, n_email, n_ssn, n_card, n_ipv4, n_phone,
       {total} AS n_pii_total,
       {red} AS text_redacted
FROM c
"""


oracle(q_doc_redact_pii, _redact_sql())


def q_doc_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster RESOLUTION: the doc_dedup_clusters labels plus
    the doc_quality score (quantized to 1e-6 — doc_quality proves
    round-6 cross-engine equality, so the keep-best ordering is
    cross-engine total) → keep the best-scoring doc per cluster, map
    every member to its keeper. Full-value oracle: recursive-CTE
    clusters + the same quantized score + the same (score DESC, id)
    window pick."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, block_col="source",
                                      shingle_n=1, threshold=0.2, max_df=20)
    comp = dedup.connected_components(pairs)
    lab = (docs.select("doc_id")
           .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id"))
                   .alias("cluster_id")))
    score = (textstats.quality_score(docs)
             .select("doc_id",
                     _r0(F.round("quality_score", 6)).alias("score")))
    res = dedup.resolve_duplicates(lab, score, score_col="score")
    return res.select("doc_id", "cluster_id", _r0(F.col("score")).alias("score"),
                      "is_canonical", "kept_id")


SQL_DOC_DEDUP_RESOLVE = oracle(q_doc_dedup_resolve, """
WITH RECURSIVE tok0 AS (
  SELECT DISTINCT doc_id, source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS s
  FROM documents
),
hot AS (
  SELECT s, source FROM tok0 GROUP BY 1, 2 HAVING count(*) > 20
),
tok AS (
  SELECT t.* FROM tok0 t
  WHERE NOT EXISTS (SELECT 1 FROM hot h
                    WHERE h.s = t.s AND h.source = t.source)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.source = b.source
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE i / (sa.sz + sb.sz - i) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
qs AS (
  SELECT doc_id,
         cast(len(string_split_regex(trim(lower(text)), '\\s+')) AS double)
           AS n_tokens,
         cast(length(text) AS double) AS n_chars,
         cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
           AS n_punct,
         cast(len(regexp_extract_all(lower(text),
              '\\b(the|a|of|to|and|in|for|on|with)\\b')) AS double) AS n_stop
  FROM documents
),
q AS (
  SELECT l.doc_id, l.cluster_id,
         round(least(s.n_tokens / 64.0, 1.0) * 0.4
               + least(s.n_stop / s.n_tokens * 4.0, 1.0) * 0.4
               + (1.0 - least(s.n_punct / s.n_chars * 10.0, 1.0)) * 0.2,
               6) + 0.0 AS score
  FROM lab l JOIN qs s USING (doc_id)
)
SELECT doc_id, cluster_id, score,
       row_number() OVER w = 1 AS is_canonical,
       first_value(doc_id) OVER w AS kept_id
FROM q
WINDOW w AS (PARTITION BY cluster_id ORDER BY score DESC, doc_id)
""")


_PACK_CAP = 200


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of documents into cap-token bins per
    source shard (applyInPandas per shard — packing is a sequential
    recurrence, parallel ACROSS shards). Full-value oracle: DuckDB
    recursive CTE replays the recurrence doc-by-doc."""
    from cesium_spark.operators.packing import pack_sequences
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    lens = docs.select(
        F.col("source").alias("shard"), "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_tokens"))
    out = pack_sequences(lens, cap=_PACK_CAP)
    return out.select("shard", "doc_id", "n_tokens", "bin_id",
                      "bin_fill", "oversize")


SQL_DOC_PACK = oracle(q_doc_pack, f"""
WITH RECURSIVE lens AS (
  SELECT source AS shard, doc_id,
         cast(len(string_split_regex(trim(text), '\\s+')) AS bigint)
           AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rec AS (
  SELECT shard, doc_id, n_tokens, rn,
         cast(0 AS bigint) AS bin_id, n_tokens AS bin_fill
  FROM lens WHERE rn = 1
  UNION ALL
  SELECT l.shard, l.doc_id, l.n_tokens, l.rn,
         CASE WHEN r.bin_fill + l.n_tokens <= {_PACK_CAP}
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.bin_fill + l.n_tokens <= {_PACK_CAP}
              THEN r.bin_fill + l.n_tokens ELSE l.n_tokens END
  FROM rec r JOIN lens l ON l.shard = r.shard AND l.rn = r.rn + 1
)
SELECT shard, doc_id, n_tokens, bin_id, bin_fill,
       n_tokens > {_PACK_CAP} AS oversize
FROM rec
""")


def q_doc_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing denominated in toy-BPE tokens (the r5
    tokenizer seam): the packing cap now bounds SUBWORD counts from
    the frozen greedy longest-match vocabulary — the unit a real
    context window is measured in — instead of whitespace words. The
    token count is ONE native nested-HOF Spark expression (zero
    Python); packing itself is the unchanged per-shard recurrence.
    Full-value oracle: DuckDB recursive CTEs replay BOTH folds — the
    per-word greedy scan (identical match CASE over the identical
    literal vocab) and the doc-by-doc bin recurrence."""
    from cesium_spark.functions.tokenizer import token_count
    from cesium_spark.operators.packing import pack_sequences
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    lens = docs.select(
        F.col("source").alias("shard"), "doc_id",
        token_count("text", "toy_bpe").cast("long").alias("n_tokens"))
    out = pack_sequences(lens, cap=_PACK_CAP_BPE)
    return out.select("shard", "doc_id", "n_tokens", "bin_id",
                      "bin_fill", "oversize")


_PACK_CAP_BPE = 300


def _pack_bpe_sql() -> str:
    from cesium_spark.functions.tokenizer import duckdb_token_count_cte
    tok = duckdb_token_count_cte("documents", "doc_id")
    return f"""WITH RECURSIVE {tok},
lens AS (
  SELECT d.source AS shard, d.doc_id,
         coalesce(t.n_tokens, 0) AS n_tokens,
         row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id)
           AS rn
  FROM documents d LEFT JOIN n_tokens_cte t USING (doc_id)
),
rec AS (
  SELECT shard, doc_id, n_tokens, rn,
         cast(0 AS bigint) AS bin_id, n_tokens AS bin_fill
  FROM lens WHERE rn = 1
  UNION ALL
  SELECT l.shard, l.doc_id, l.n_tokens, l.rn,
         CASE WHEN r.bin_fill + l.n_tokens <= {_PACK_CAP_BPE}
              THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.bin_fill + l.n_tokens <= {_PACK_CAP_BPE}
              THEN r.bin_fill + l.n_tokens ELSE l.n_tokens END
  FROM rec r JOIN lens l ON l.shard = r.shard AND l.rn = r.rn + 1
)
SELECT shard, doc_id, n_tokens, bin_id, bin_fill,
       n_tokens > {_PACK_CAP_BPE} AS oversize
FROM rec
"""


oracle(q_doc_pack_bpe, _pack_bpe_sql())


_BM25_TERMS = ("spark", "window", "hash")


def q_doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 of every document against a fixed 3-term query: two
    stateless projections + one broadcast 1-row corpus-stats aggregate
    — zero corpus shuffles. Integer Σdl keeps avgdl (and therefore the
    whole score) bit-reproducible and restatable in DuckDB."""
    _prep(spark)
    out = textstats.bm25_scores(_read(spark, sf_dir, "documents"),
                                _BM25_TERMS)
    return out.select(
        "doc_id", "dl",
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
        _r(F.col("bm25")).alias("bm25"),
    )


def _bm25_sql(terms=_BM25_TERMS, k1=1.2, b=0.75) -> str:
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    tf_cols = ",\n         ".join(
        f"cast(len(list_filter({toks}, x -> x = '{t}')) AS bigint)"
        f" AS tf_{i}" for i, t in enumerate(terms))
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    # identical arithmetic order to the engine:
    # idf * (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl))
    term_exprs = " + ".join(
        f"(ln((cast(N AS double) - cast(df_{i} AS double) + 0.5)"
        f" / (cast(df_{i} AS double) + 0.5) + 1.0)"
        f" * (cast(tf_{i} AS double) * {k1 + 1.0})"
        f" / (cast(tf_{i} AS double) + {k1} * ({1.0 - b}"
        f" + {b} * cast(dl AS double)"
        f" / (cast(sum_dl AS double) / cast(N AS double)))))"
        for i in range(len(terms)))
    out_tfs = ", ".join(f"tf_{i} AS tf_{t}" for i, t in enumerate(terms))
    return f"""
WITH p AS (
  SELECT doc_id,
         cast(len({toks}) AS bigint) AS dl,
         {tf_cols}
  FROM documents
),
s AS (
  SELECT count(*) AS N, sum(dl) AS sum_dl,
         {df_cols}
  FROM p
)
SELECT doc_id, dl, {out_tfs},
       round({term_exprs}, 6) + 0.0 AS bm25
FROM p, s
"""


oracle(q_doc_bm25, _bm25_sql())


# Prometheus-style log-spaced edges covering the events.value range
# (0.01 … ~500 in the fixtures); the overflow bucket is part of the
# contract even when empty at small SF.
_HIST_EDGES = [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0]


def _hist_bucket_sql(col: str = "y") -> str:
    """The exact SQL restatement of histogram.bucket_expr's CASE chain."""
    whens = " ".join(f"WHEN {col} <= {e!r} THEN {i}"
                     for i, e in enumerate(_HIST_EDGES))
    return f"CASE {whens} ELSE {len(_HIST_EDGES)} END"


def q_ts_histogram_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram retention tiers: hourly fixed-edge bucket counts per
    conv FOLDED to daily by integer addition (never rescanning raw —
    the mergeable tier plan, operators/histogram.py). Because the fold
    is exact int arithmetic, the folded counts must EQUAL the daily
    counts the oracle computes directly from raw — a full-value check
    of the whole fold path, bit-stable at any parallelism."""
    from cesium_spark.operators.histogram import (
        fold_histogram,
        rollup_histogram,
    )
    hourly = rollup_histogram(_value_series(spark, sf_dir), "1h",
                              ["conv_id"], "y", _HIST_EDGES)
    daily = fold_histogram(hourly, "1d", ["conv_id"])
    return daily.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    )


SQL_TS_HISTOGRAM_FOLD = oracle(q_ts_histogram_fold, f"""{_VALUE_SERIES_SQL}
SELECT conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       {_hist_bucket_sql('y')} AS bucket,
       count(*) AS cnt
FROM series
WHERE y IS NOT NULL
GROUP BY 1, 2, 3
""")


def _hist_quantile_sql_expr(q_lit: str, out: str) -> str:
    """SQL restatement of histogram.histogram_quantile's interpolation
    for one quantile — the SAME expression tree (lo + (hi-lo)*(rank -
    cum_prev)/cnt with rank = q*total) so the double is reproduced
    bit-for-bit from the integer counts and edge literals."""
    n = len(_HIST_EDGES)
    lo_case = " ".join(f"WHEN {i} THEN {_HIST_EDGES[i - 1]!r}"
                       for i in range(1, n + 1))
    hi_case = " ".join(f"WHEN {i} THEN {_HIST_EDGES[i]!r}"
                       for i in range(1, n))
    rank = f"CAST({q_lit} AS DOUBLE) * CAST(total AS DOUBLE)"
    return f"""
  SELECT conv_id, window_start, total,
         CASE WHEN bucket = 0 THEN {_HIST_EDGES[0]!r}
              WHEN bucket >= {n} THEN {_HIST_EDGES[-1]!r}
              ELSE (CASE bucket {lo_case} END)
                   + ((CASE bucket {hi_case} END)
                      - (CASE bucket {lo_case} END))
                   * ({rank} - CAST(cum - cnt AS DOUBLE))
                   / CAST(cnt AS DOUBLE)
         END AS {out}
  FROM r
  WHERE CAST(cum AS DOUBLE) >= {rank}
    AND CAST(cum - cnt AS DOUBLE) < {rank}
"""


def q_ts_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_quantile (Prometheus twin) over the folded daily tier:
    p50/p90 estimated by linear interpolation inside the hit bucket.
    Deterministic by construction — integer counts + edge literals
    through one fixed expression tree, no float aggregation — so the
    oracle restates the arithmetic and matches full-value (the bucket-
    resolution error bound vs the exact quantile is pytest-pinned)."""
    from cesium_spark.operators.histogram import (
        fold_histogram,
        histogram_quantile,
        rollup_histogram,
    )
    hourly = rollup_histogram(_value_series(spark, sf_dir), "1h",
                              ["conv_id"], "y", _HIST_EDGES)
    daily = fold_histogram(hourly, "1d", ["conv_id"])
    out = histogram_quantile(daily, ["conv_id"], [0.5, 0.9], _HIST_EDGES,
                             ["p50_est", "p90_est"])
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("p50_est")).alias("p50_est"),
        _r(F.col("p90_est")).alias("p90_est"),
    )


SQL_TS_HISTOGRAM_QUANTILE = oracle(q_ts_histogram_quantile, f"""{_VALUE_SERIES_SQL},
h AS (
  SELECT conv_id, date_trunc('day', ts) AS window_start,
         {_hist_bucket_sql('y')} AS bucket, count(*) AS cnt
  FROM series
  WHERE y IS NOT NULL
  GROUP BY 1, 2, 3
),
r AS (
  SELECT conv_id, window_start, bucket, cnt,
         sum(cnt) OVER (PARTITION BY conv_id, window_start ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY conv_id, window_start) AS total
  FROM h
),
q50 AS ({_hist_quantile_sql_expr('0.5', 'p50_est')}),
q90 AS ({_hist_quantile_sql_expr('0.9', 'p90_est')})
SELECT q50.conv_id,
       strftime(q50.window_start, '{DUCK_TS_FMT}') AS window_start,
       CAST(q50.total AS BIGINT) AS n,
       round(q50.p50_est, 6) + 0.0 AS p50_est,
       round(q90.p90_est, 6) + 0.0 AS p90_est
FROM q50
JOIN q90 ON q50.conv_id = q90.conv_id
        AND q50.window_start = q90.window_start
""")


_SPLIT_WEIGHTS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
_SPLIT_SALT = "r4"


def q_doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed train/val/test assignment: split is a pure
    function of md5(doc_id || salt) — stable under re-runs,
    repartitions and table growth (no randomSplit leakage). Row-level
    full-value oracle: DuckDB replays the identical hash bands."""
    from cesium_spark.operators.sampling import hash_split
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    out = hash_split(docs, dict(_SPLIT_WEIGHTS), key="doc_id",
                     salt=_SPLIT_SALT)
    return out.select("doc_id", "split")


def _hash_split_sql() -> str:
    bucket = (f"(('0x' || substr(md5(cast(doc_id AS varchar) || "
              f"'{_SPLIT_SALT}'), 1, 8))::BIGINT % 10000)")
    names = [n for n, _ in _SPLIT_WEIGHTS]
    cum, cases = 0.0, []
    for n, w in _SPLIT_WEIGHTS[:-1]:
        cum += w
        cases.append(f"WHEN {bucket} < {int(round(cum * 10000))} "
                     f"THEN '{n}'")
    return f"""
SELECT doc_id,
       CASE {' '.join(cases)} ELSE '{names[-1]}' END AS split
FROM documents
"""


oracle(q_doc_hash_split, _hash_split_sql())


# ---------------------------------------------------------------------------
# round-4 session-3: ingest compaction, time-weighted aggregates,
# incremental cagg refresh, SAX symbolization, EWMA smoothing
# ---------------------------------------------------------------------------

def q_ts_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins compaction of a re-delivered stream: events as
    version 1, a corrected copy of every 7th event (y+100) as version
    2; upsert_latest keeps exactly one row per event_id — the latest —
    via one partial-aggregating max_by exchange (no window, no sort).
    Full-value oracle: arg_max per column in DuckDB."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts"), F.col("value").alias("y"),
        F.lit(1).alias("version"))
    fix = (ev.where(F.col("event_id") % 7 == 0)
           .select("event_id",
                   F.col("user_id").cast("string").alias("conv_id"),
                   F.col("ts"), (F.col("value") + 100.0).alias("y"),
                   F.lit(2).alias("version")))
    from cesium_spark.operators.compaction import upsert_latest
    out = upsert_latest(base.unionByName(fix), keys=["event_id"],
                        order_cols=["version"])
    return out.select(
        "event_id", "conv_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("y")).alias("y"),
        F.col("version").cast("int").alias("version"))


SQL_TS_UPSERT_LATEST = oracle(q_ts_upsert_latest, f"""
WITH v AS (
  SELECT event_id, cast(user_id AS varchar) AS conv_id, ts,
         value AS y, 1 AS version
  FROM events
  UNION ALL
  SELECT event_id, cast(user_id AS varchar), ts, value + 100.0, 2
  FROM events WHERE event_id % 7 = 0
)
SELECT event_id,
       arg_max(conv_id, version) AS conv_id,
       strftime(arg_max(ts, version), '{DUCK_TS_FMT}') AS ts,
       round(arg_max(y, version), 6) + 0.0 AS y,
       cast(max(version) AS int) AS version
FROM v
GROUP BY event_id
""")


def q_ts_twa_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average (LOCF step integral over the
    observed span — TimescaleDB time_weight semantics) of the value
    series; single-point / zero-span buckets return the first point's
    value. Full-value oracle restates the lead() arithmetic."""
    from cesium_spark.operators.rates import time_weighted_avg
    out = time_weighted_avg(_value_series(spark, sf_dir), "1h",
                            method="locf")
    return out.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("twa")).alias("twa"),
        _r(F.col("span_s")).alias("span_s"),
        F.col("n").cast("long").alias("n"))


SQL_TS_TWA_1H = oracle(q_ts_twa_1h, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, date_trunc('hour', ts) AS bucket, t, turn_idx, y,
         lead(t) OVER w AS nt
  FROM series
  WINDOW w AS (PARTITION BY conv_id, date_trunc('hour', ts)
               ORDER BY t, turn_idx)
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       round(CASE WHEN max(t) - min(t) > 0
                  THEN sum(y * (nt - t)) / (max(t) - min(t))
                  ELSE arg_min(y, t) END, 6) + 0.0 AS twa,
       round(max(t) - min(t), 6) + 0.0 AS span_s,
       count(*) AS n
FROM b
GROUP BY 1, 2
""")


def q_ts_caggs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate refresh: rollup_moments over
    ~90% of the series (base), then merge_moments with the rollup of
    the held-back 'late' slice (turn_idx % 10 == 7) — the refresh
    shuffles only MOMENT rows, never re-scanning base raw turns. The
    oracle computes the full from-scratch hourly rollup directly, so a
    green row certifies incremental == from-scratch (n/min/max exact;
    mean via merged float sums at house round-6)."""
    from cesium_spark.operators.fold import merge_moments
    s = _value_series(spark, sf_dir)
    late_pred = F.col("turn_idx") % 10 == 7
    m_base = rollup_moments(s.where(~late_pred), "1h")
    m_late = rollup_moments(s.where(late_pred), "1h")
    merged = merge_moments(m_base, m_late)
    return merged.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
        _r(F.col("y_sum") / F.col("n")).alias("mean"),
        _r(F.col("t_min")).alias("t_min"),
        _r(F.col("t_max")).alias("t_max"))


SQL_TS_CAGGS_INCREMENTAL = oracle(q_ts_caggs_incremental, f"""{_VALUE_SERIES_SQL}
SELECT conv_id,
       strftime(date_trunc('hour', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n,
       round(min(y), 6) + 0.0 AS y_min,
       round(max(y), 6) + 0.0 AS y_max,
       round(sum(y) / count(*), 6) + 0.0 AS mean,
       round(min(t), 6) + 0.0 AS t_min,
       round(max(t), 6) + 0.0 AS t_max
FROM series
GROUP BY 1, 2
""")


_SAX_W = 8
_SAX_BPS = [15.0, 35.0, 70.0]


def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al. 2003): 8-letter word per conv over
    alphabet abcd with raw-unit breakpoints 15/35/70 (the value
    column's rough quartiles, so words discriminate) — PAA segment
    means via integer edge arithmetic, quantized after round-6 so the
    boundary decision is pinned. Full-value string oracle."""
    from cesium_spark.operators.downsample import sax_symbolize
    out = sax_symbolize(_value_series(spark, sf_dir), _SAX_W, _SAX_BPS,
                        alphabet="abcd")
    return out.select(
        "conv_id", "word",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("n_points").cast("long").alias("n_points"))


SQL_TS_SAX = oracle(q_ts_sax, f"""{_VALUE_SERIES_SQL}
, ranked AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           - 1 AS r,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM series
),
paa AS (
  SELECT conv_id, (r * {_SAX_W}) // n AS seg,
         round(avg(y), 6) + 0.0 AS paa, max(n) AS n
  FROM ranked GROUP BY 1, 2
)
SELECT conv_id,
       string_agg(substring('abcd',
         1 + len(list_filter({_SAX_BPS!r}, b -> b < paa)), 1),
         '' ORDER BY seg) AS word,
       count(*) AS n_segments,
       max(n) AS n_points
FROM paa
GROUP BY conv_id
""")


_EWMA_ALPHA = 0.25


def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (alpha=0.25, adjust=False) of the value series —
    sequential per series, parallel across series (one exchange into
    the pandas kernel). alpha is dyadic, so the kernel's C recurrence
    is bit-replayable by s = 0.75·s_prev + 0.25·y (see smoothing.py);
    the oracle replays it as a recursive CTE over dense turn_idx."""
    from cesium_spark.operators.smoothing import ewma
    out = ewma(_value_series(spark, sf_dir), _EWMA_ALPHA)
    # y_smooth is BIT-identical to the oracle recurrence, so the only
    # divergence risk is the rounding step itself: Spark's round is
    # exact-decimal HALF_UP while DuckDB rounds in float — they split
    # on doubles sitting at the 6-dp boundary (observed: 19.7871875).
    # Use the identical float expression floor(x·1e6 + 0.5)/1e6 on
    # BOTH sides (gapfill-interp precedent) so the boundary decision
    # is the same fp op.
    r6 = (F.floor(F.col("y_smooth") * 1e6 + 0.5) / 1e6 + F.lit(0.0))
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"),
        _r(F.col("y")).alias("y"),
        r6.alias("y_smooth"))


SQL_TS_EWMA = oracle(q_ts_ewma,
    _VALUE_SERIES_SQL.replace("WITH series", "WITH RECURSIVE series", 1)
    + """
, r AS (
  SELECT conv_id, turn_idx, t, y, y AS s
  FROM series WHERE turn_idx = 0
  UNION ALL
  SELECT s2.conv_id, s2.turn_idx, s2.t, s2.y,
         0.75 * r.s + 0.25 * s2.y
  FROM r JOIN series s2
    ON s2.conv_id = r.conv_id AND s2.turn_idx = r.turn_idx + 1
)
SELECT conv_id, turn_idx, round(t, 6) + 0.0 AS t,
       round(y, 6) + 0.0 AS y,
       floor(s * 1e6 + 0.5) / 1e6 + 0.0 AS y_smooth
FROM r
""")


_ACF_K = 5


def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation at turn lags 1..5 per conv (Pearson corr
    of lag-aligned pairs — identical (n−1) estimator in Spark and
    DuckDB). One window + one agg, one exchange. NaN (constant series)
    normalizes to NULL on both sides."""
    from cesium_spark.operators.seriesstats import acf
    out = acf(_value_series(spark, sf_dir), _ACF_K)
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        *[_r(F.col(f"acf_{k}")).alias(f"acf_{k}")
          for k in range(1, _ACF_K + 1)])


SQL_TS_ACF = oracle(q_ts_acf, f"""{_VALUE_SERIES_SQL}
, lagged AS (
  SELECT conv_id, y,
         {', '.join(f'lag(y, {k}) OVER w AS lag{k}'
                    for k in range(1, _ACF_K + 1))}
  FROM series
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
)
SELECT conv_id, count(*) AS n,
       {', '.join(f'round(corr(y, lag{k}), 6) + 0.0 AS acf_{k}'
                  for k in range(1, _ACF_K + 1))}
FROM lagged
GROUP BY conv_id
""")


_ZSCORE_THRESHOLD = 2.0


def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal z-score anomalies: points > 2σ from their conv's own
    day-of-week baseline (population std). Window-based — no
    self-join; output is the anomaly set only. Full-value oracle
    (slot aligned: Spark dayofweek = DuckDB dayofweek + 1)."""
    from cesium_spark.operators.seriesstats import seasonal_zscore
    out = seasonal_zscore(_value_series(spark, sf_dir),
                          threshold=_ZSCORE_THRESHOLD,
                          season="day_of_week")
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("y")).alias("y"),
        F.col("slot").cast("int").alias("slot"),
        _r(F.col("slot_mean")).alias("slot_mean"),
        _r(F.col("slot_std")).alias("slot_std"),
        F.col("slot_n").cast("long").alias("slot_n"),
        _r(F.col("z")).alias("z"))


SQL_TS_ANOMALY = oracle(q_ts_anomaly, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, turn_idx, ts, y,
         dayofweek(ts) + 1 AS slot,
         avg(y) OVER w AS slot_mean,
         stddev_pop(y) OVER w AS slot_std,
         count(*) OVER w AS slot_n
  FROM series
  WINDOW w AS (PARTITION BY conv_id, dayofweek(ts))
)
SELECT conv_id, turn_idx, strftime(ts, '{DUCK_TS_FMT}') AS ts,
       round(y, 6) + 0.0 AS y, cast(slot AS int) AS slot,
       round(slot_mean, 6) + 0.0 AS slot_mean,
       round(slot_std, 6) + 0.0 AS slot_std, slot_n,
       round((y - slot_mean) / slot_std, 6) + 0.0 AS z
FROM b
WHERE slot_std > 0
  AND abs((y - slot_mean) / slot_std) > {_ZSCORE_THRESHOLD}
""")


# ---------------------------------------------------------------------------
# round-4 session-4: time-window family (trailing RANGE windows,
# interval containment join, heartbeat/uptime, CUSUM drift alarms) +
# stratified sampling
# ---------------------------------------------------------------------------

_ROLL_WINDOW_S = 3600.0


def q_ts_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point trailing-1h mean/min/max/count over a RANGE frame
    keyed on integer milliseconds (floor(t·1e3 + 0.5) — the same fp op
    in both engines, so frame membership at the exact span boundary
    cannot diverge). One window exchange, no UDF; full-value oracle
    replays the identical RANGE frame."""
    from cesium_spark.operators.intervals import rolling_window
    out = rolling_window(_value_series(spark, sf_dir), _ROLL_WINDOW_S)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"),
        _r(F.col("y")).alias("y"),
        _r(F.col("roll_mean")).alias("roll_mean"),
        _r(F.col("roll_min")).alias("roll_min"),
        _r(F.col("roll_max")).alias("roll_max"),
        F.col("roll_n").cast("long").alias("roll_n"))


SQL_TS_ROLLING_1H = oracle(q_ts_rolling_1h, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, turn_idx, t, y,
         avg(y) OVER w AS roll_mean,
         min(y) OVER w AS roll_min,
         max(y) OVER w AS roll_max,
         count(y) OVER w AS roll_n
  FROM (SELECT *, cast(floor(t * 1000 + 0.5) AS bigint) AS tms
        FROM series)
  WINDOW w AS (PARTITION BY conv_id ORDER BY tms
               RANGE BETWEEN {int(_ROLL_WINDOW_S * 1000)} PRECEDING
                     AND CURRENT ROW)
)
SELECT conv_id, turn_idx, round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y,
       round(roll_mean, 6) + 0.0 AS roll_mean,
       round(roll_min, 6) + 0.0 AS roll_min,
       round(roll_max, 6) + 0.0 AS roll_max, roll_n
FROM b
""")


_INCIDENT_MOD = 499
_INCIDENT_SPAN = "INTERVAL 2 HOURS"


def q_ts_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-in-intervals containment join without a cartesian:
    'incident windows' (every 499th event's [ts, ts+2h)) explode to
    the hour buckets they overlap, the broadcast equi-join on the
    point's single bucket prunes candidates, and the exact half-open
    predicate refines — a naive ts BETWEEN lo AND hi join plans as
    BroadcastNestedLoopJoin (quadratic at 10^12 points). Per-pair
    full-value oracle (the BETWEEN join restated directly)."""
    from cesium_spark.operators.intervals import interval_join
    ev = _events(spark, sf_dir)
    iv = ev.where(F.col("event_id") % _INCIDENT_MOD == 0).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr(_INCIDENT_SPAN)).alias("hi"))
    pts = ev.select("event_id", "user_id", "ts")
    out = interval_join(pts, iv, keys=(), ts_col="ts",
                        lo_col="lo", hi_col="hi", bucket_s=3600)
    return out.select(
        F.col("incident_id").cast("long").alias("incident_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.date_format("ts", TS_FMT).alias("ts"))


SQL_TS_INTERVAL_JOIN = oracle(q_ts_interval_join, f"""
WITH iv AS (
  SELECT event_id AS incident_id, ts AS lo, ts + INTERVAL 2 HOUR AS hi
  FROM events WHERE event_id % {_INCIDENT_MOD} = 0
)
SELECT iv.incident_id, e.event_id, e.user_id,
       strftime(e.ts, '{DUCK_TS_FMT}') AS ts
FROM events e JOIN iv ON e.ts >= iv.lo AND e.ts < iv.hi
""")


_HEARTBEAT_S = 3600.0


def q_ts_heartbeat_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily uptime accounting (heartbeat_agg semantics): each point
    keeps its series live for min(gap_to_next, 1h); live/dead seconds
    attributed to the EARLIER point's day bucket, the final point
    contributes a full heartbeat. One window exchange + one hash agg;
    full-value oracle restates the lead() arithmetic."""
    from cesium_spark.operators.intervals import heartbeat_uptime
    out = heartbeat_uptime(_value_series(spark, sf_dir), "1d",
                           _HEARTBEAT_S, t_grid=1_000_000)
    return out.select(
        "conv_id", F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("live_s")).alias("live_s"),
        _r(F.col("dead_s")).alias("dead_s"),
        F.col("n_beats").cast("long").alias("n_beats"),
        F.col("n_gaps").cast("long").alias("n_gaps"))


_HEARTBEAT_US = int(round(_HEARTBEAT_S * 1e6))

# Restated on the exact µs integer grid (r4 verdict item #2): spans sum
# as int64 lattice units, one terminal division to seconds — matching
# the engine's t_grid=1_000_000 path bit-for-bit regardless of
# partition count or accumulation order.
SQL_TS_HEARTBEAT_1D = oracle(q_ts_heartbeat_1d, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, date_trunc('day', ts) AS bucket,
         CAST(round(t * 1000000.0) AS BIGINT) AS tu,
         lead(CAST(round(t * 1000000.0) AS BIGINT))
           OVER (PARTITION BY conv_id ORDER BY t, turn_idx) AS ntu
  FROM series
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       round(CAST(sum(CASE WHEN ntu IS NULL THEN {_HEARTBEAT_US}
                           ELSE least(ntu - tu, {_HEARTBEAT_US}) END)
                  AS DOUBLE) / 1000000.0, 6)
         + 0.0 AS live_s,
       round(CAST(sum(CASE WHEN ntu IS NULL THEN 0
                           ELSE greatest(ntu - tu - {_HEARTBEAT_US}, 0) END)
                  AS DOUBLE) / 1000000.0, 6)
         + 0.0 AS dead_s,
       count(*) AS n_beats,
       CAST(sum(CASE WHEN ntu - tu > {_HEARTBEAT_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gaps
FROM b
GROUP BY 1, 2
""")


_CUSUM_K, _CUSUM_H = 0.25, 4.0


def q_ts_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift alarms (Page): S snapped to a 1e-4 grid
    with the engine-independent floor op before the h-threshold
    compare, so alarm membership is identical across engines despite
    ~1e-12 prefix-sum drift. The max(0,·) recursion is computed as
    prefix-sum minus running-min — two stacked window functions over
    ONE exchange — and the oracle replays the identical identity."""
    from cesium_spark.operators.intervals import cusum_changepoints
    out = cusum_changepoints(_value_series(spark, sf_dir),
                             k=_CUSUM_K, h=_CUSUM_H, grid_dp=4)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("y")).alias("y"),
        (F.col("s_pos") + F.lit(0.0)).alias("s_pos"),
        (F.col("s_neg") + F.lit(0.0)).alias("s_neg"))


SQL_TS_CUSUM_CHANGEPOINTS = oracle(q_ts_cusum_changepoints, f"""{_VALUE_SERIES_SQL}
, z AS (
  SELECT *, avg(y) OVER p AS m, stddev_pop(y) OVER p AS sd
  FROM series WINDOW p AS (PARTITION BY conv_id)
), c AS (
  SELECT *, sum((y - m) / sd - {_CUSUM_K}) OVER o AS Cp,
            sum(-((y - m) / sd) - {_CUSUM_K}) OVER o AS Cn
  FROM z WHERE sd > 0
  WINDOW o AS (PARTITION BY conv_id ORDER BY t, turn_idx
               ROWS UNBOUNDED PRECEDING)
), s AS (
  SELECT *,
         floor((Cp - least(0, min(Cp) OVER o)) * 1e4 + 0.5) / 1e4 AS sp,
         floor((Cn - least(0, min(Cn) OVER o)) * 1e4 + 0.5) / 1e4 AS sn
  FROM c WINDOW o AS (PARTITION BY conv_id ORDER BY t, turn_idx
                      ROWS UNBOUNDED PRECEDING)
)
SELECT conv_id, turn_idx, strftime(ts, '{DUCK_TS_FMT}') AS ts,
       round(y, 6) + 0.0 AS y, sp + 0.0 AS s_pos, sn + 0.0 AS s_neg
FROM s WHERE sp > {_CUSUM_H} OR sn > {_CUSUM_H}
""")


_STRATA_FRACS = (("en", 0.5), ("de", 0.4), ("fr", 0.25), ("es", 0.1))
_STRATA_SALT = "r4s4"


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed stratified sample (sampleBy semantics, but a
    pure function of (doc_id, salt, stratum) — stable across re-runs,
    repartitions and table growth; 'zh' absent from the rates → rate 0,
    dropped). Zero-shuffle projection+filter; row-level full-value
    oracle replays the stratum-salted md5 bands."""
    from cesium_spark.operators.sampling import stratified_sample
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_sample(docs, "lang", dict(_STRATA_FRACS),
                            key="doc_id", salt=_STRATA_SALT)
    return out.select("doc_id", "lang")


def _stratified_sample_sql() -> str:
    bucket = (f"(('0x' || substr(md5(cast(doc_id AS varchar) || "
              f"'{_STRATA_SALT}' || chr(31) || lang), 1, 8))::BIGINT"
              f" % 10000)")
    cases = " ".join(
        f"WHEN '{s}' THEN {int(round(f * 10000))}"
        for s, f in _STRATA_FRACS)
    return f"""
SELECT doc_id, lang
FROM documents
WHERE {bucket} < (CASE lang {cases} ELSE 0 END)
"""


oracle(q_doc_stratified_sample, _stratified_sample_sql())


# ---------------------------------------------------------------------------
# round-4 session-5: state accounting, cross-channel correlation,
# decontamination, repetition quality signals
# ---------------------------------------------------------------------------


def q_ts_state_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-in-state (TimescaleDB state_agg semantics) over the
    transcript role column: each turn holds its role until the next
    turn, the span attributed to the earlier turn's day bucket. One
    window exchange + one hash agg; full-value oracle restates the
    lead arithmetic."""
    from cesium_spark.operators.intervals import state_agg
    out = state_agg(events_transcripts(spark, sf_dir), "role", "1d",
                    t_grid=1_000_000)
    return out.select(
        "conv_id", F.date_format("bucket", TS_FMT).alias("bucket"),
        F.col("state"),
        _r(F.col("dur_s")).alias("dur_s"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_closed").cast("long").alias("n_closed"))


# Restated on the exact µs integer grid (r4 verdict item #2), matching
# the engine's t_grid=1_000_000 path: spans sum as int64 µs, one
# terminal division to seconds.
SQL_TS_STATE_AGG = oracle(q_ts_state_agg, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS state, ts,
         epoch_us(ts) AS su,
         -- engine orders by (ts, turn_idx); turn_idx is itself the
         -- row_number over (ts, event_id), so this is the same order
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxu
  FROM events
)
SELECT conv_id, strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS bucket,
       state,
       round(CAST(sum(coalesce(nxu - su, 0)) AS DOUBLE) / 1000000.0, 6)
         + 0.0 AS dur_s,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN nxu IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_closed
FROM t
GROUP BY 1, 2, 3
""")


_CORR_CH = ("latency", "tokens")


def q_ts_channel_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation Pearson correlation of latency vs tokens,
    aligned on turn_idx (pairwise-complete: turn 0 has no latency and
    drops). try_divide → NULL on degenerate groups instead of an ANSI
    throw. Two shrinking exchanges, no join; full-value oracle
    replays the identical covar_pop/stddev_pop ratio."""
    from cesium_spark.operators.seriesstats import channel_corr
    s = derive_series(events_transcripts(spark, sf_dir))
    out = channel_corr(s, *_CORR_CH)
    return out.select(
        "conv_id", F.col("n_pairs").cast("long").alias("n_pairs"),
        _r(F.col("r")).alias("r"),
        _r(F.col("mean_a")).alias("mean_a"),
        _r(F.col("mean_b")).alias("mean_b"))


SQL_TS_CHANNEL_CORR = oracle(q_ts_channel_corr, _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS ya,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS yb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
)
SELECT conv_id, count(*) AS n_pairs,
       round(CASE WHEN stddev_pop(ya) * stddev_pop(yb) > 0
                  THEN covar_pop(ya, yb)
                       / (stddev_pop(ya) * stddev_pop(yb)) END, 6)
         + 0.0 AS r,
       round(avg(ya), 6) + 0.0 AS mean_a,
       round(avg(yb), 6) + 0.0 AS mean_b
FROM aligned
WHERE ya IS NOT NULL AND yb IS NOT NULL
GROUP BY conv_id
""")


_CONTAM_MOD = 97
_CONTAM_N = 4


def _duck_shingles(src: str, n: int) -> str:
    """DuckDB CTE body producing (doc_id, sh) distinct word n-grams —
    the replay of dedup._shingles (lowercase, whitespace split, n-token
    windows joined by single spaces). NB: '\\s' here is RE2 while the
    engine splits with Java regex — they differ only on \\x0B, the
    standing convention of every shingle oracle in this file (jaccard,
    minhash); testdata contains neither \\x0B nor unicode spaces."""
    return f"""
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {n - 1}], ' ') AS sh
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM {src}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.toks) - {n - 1}))
                AS i) g
"""


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents sharing any word 4-gram
    with the planted 'eval suite' (doc_id % 97 == 0). Eval side folds
    to ONE broadcast row of distinct shingles; corpus side scores with
    a native array_intersect — zero corpus shuffles. Full-value
    oracle replays the shingling + semi-join in SQL."""
    from cesium_spark.operators.dedup import contamination
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % _CONTAM_MOD == 0)
    train = docs.where(F.col("doc_id") % _CONTAM_MOD != 0)
    out = contamination(train, ev, n=_CONTAM_N)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles"), F.col("n_hits"), F.col("contaminated"))


SQL_DOC_CONTAMINATION = oracle(q_doc_contamination, f"""
WITH ev AS (
  SELECT DISTINCT sh FROM ({_duck_shingles(
      f"(SELECT * FROM documents WHERE doc_id % {_CONTAM_MOD} = 0)",
      _CONTAM_N)})
), ds AS ({_duck_shingles(
      f"(SELECT * FROM documents WHERE doc_id % {_CONTAM_MOD} <> 0)",
      _CONTAM_N)}
), hits AS (
  SELECT ds.doc_id, count(*) AS n_shingles, count(ev.sh) AS n_hits
  FROM ds LEFT JOIN ev ON ds.sh = ev.sh
  GROUP BY ds.doc_id
)
SELECT d.doc_id,
       coalesce(h.n_shingles, 0) AS n_shingles,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {_CONTAM_MOD} <> 0
""")


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition signals per document: duplicate-line
    fraction (native, zero-shuffle), duplicate-line CHARACTER fraction
    and most-frequent-2-gram coverage (two-phase counts over exploded
    units — the shuffles carry one row per distinct (doc, unit)).
    Integer counts + one division each; full-value oracle."""
    from cesium_spark.operators.textstats import repetition_stats
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = repetition_stats(docs, gram_n=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars"), F.col("n_lines"),
        _r(F.col("dup_line_frac")).alias("dup_line_frac"),
        _r(F.col("dup_line_char_frac")).alias("dup_line_char_frac"),
        F.col("top_gram"),
        F.col("top_gram_cnt"),
        _r(F.col("top_gram_frac")).alias("top_gram_frac"))


SQL_DOC_REPETITION = oracle(q_doc_repetition, """
WITH d AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split(text, chr(10)),
                     x -> regexp_matches(x, '[^ \\t\\n\\r\\f]')) AS lines,
         list_filter(string_split_regex(trim(lower(text)),
                                        '[ \\t\\n\\r\\f]+'),
                     x -> x <> '') AS toks
  FROM documents
), pl AS (
  SELECT doc_id,
         sum(cnt * length(u)) AS line_chars,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(u) ELSE 0 END)
           AS dup_chars
  FROM (SELECT doc_id, u, count(*) AS cnt
        FROM d, LATERAL (SELECT unnest(d.lines) AS u) t
        GROUP BY 1, 2)
  GROUP BY doc_id
), pg AS (
  SELECT doc_id, g AS top_gram, cnt AS top_gram_cnt
  FROM (SELECT doc_id, g, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, g ASC) AS rn
        FROM (SELECT doc_id,
                     array_to_string(toks[i : i + 1], ' ') AS g,
                     count(*) AS cnt
              FROM d,
                   LATERAL (SELECT unnest(generate_series(1, len(d.toks) - 1))
                            AS i) s
              GROUP BY 1, 2))
  WHERE rn = 1
)
SELECT d.doc_id, d.n_chars, len(d.lines) AS n_lines,
       round(CASE WHEN len(d.lines) > 0
                  THEN (len(d.lines) - len(list_distinct(d.lines)))
                       * 1.0 / len(d.lines) END, 6) + 0.0
         AS dup_line_frac,
       round(CASE WHEN pl.line_chars > 0
                  THEN pl.dup_chars * 1.0 / pl.line_chars END, 6) + 0.0
         AS dup_line_char_frac,
       pg.top_gram, pg.top_gram_cnt,
       round(CASE WHEN d.n_chars > 0
                  THEN pg.top_gram_cnt * length(pg.top_gram) * 1.0
                       / d.n_chars END, 6) + 0.0 AS top_gram_frac
FROM d LEFT JOIN pl ON d.doc_id = pl.doc_id
       LEFT JOIN pg ON d.doc_id = pg.doc_id
""")


_HAMPEL_K, _HAMPEL_NSIGMA = 2, 3.0


def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despike (k=2, 3σ·1.4826·MAD): centered rolling median +
    MAD per point, windows shrinking at the edges, outlier decision
    snapped to a 1e-6 grid on both engines before the compare. One
    exchange into the vectorized kernel; full-value oracle replays the
    window median (DuckDB median window fn) and the MAD via an
    explicit windowed self-join."""
    from cesium_spark.operators.smoothing import hampel
    out = hampel(_value_series(spark, sf_dir), k=_HAMPEL_K,
                 n_sigma=_HAMPEL_NSIGMA)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"),
        _r(F.col("med")).alias("med"), _r(F.col("mad")).alias("mad"),
        F.col("is_outlier"),
        _r(F.col("y_clean")).alias("y_clean"))


SQL_TS_HAMPEL = oracle(q_ts_hampel, f"""{_VALUE_SERIES_SQL}
, m AS (
  SELECT conv_id, turn_idx, t, y,
         median(y) OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN {_HAMPEL_K} PRECEDING
                               AND {_HAMPEL_K} FOLLOWING) AS med
  FROM series
), d AS (
  SELECT a.conv_id, a.turn_idx, a.t, a.y, a.med,
         median(abs(b.y - a.med)) AS mad
  FROM m a JOIN series b
    ON b.conv_id = a.conv_id
   AND b.turn_idx BETWEEN a.turn_idx - {_HAMPEL_K}
                      AND a.turn_idx + {_HAMPEL_K}
  GROUP BY a.conv_id, a.turn_idx, a.t, a.y, a.med
)
SELECT conv_id, turn_idx, round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y,
       round(med, 6) + 0.0 AS med, round(mad, 6) + 0.0 AS mad,
       floor(abs(y - med) * 1e6 + 0.5)
         > floor({_HAMPEL_NSIGMA} * 1.4826 * mad * 1e6 + 0.5) AS is_outlier,
       round(CASE WHEN floor(abs(y - med) * 1e6 + 0.5)
                       > floor({_HAMPEL_NSIGMA} * 1.4826 * mad * 1e6 + 0.5)
                  THEN med ELSE y END, 6) + 0.0 AS y_clean
FROM d
""")


_HOLT_A, _HOLT_B = 0.5, 0.25


def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (alpha=0.5, beta=0.25 — both
    dyadic, so the kernel's scalar recursion is bit-replayable): the
    oracle restates the l/b recurrences verbatim as a recursive CTE
    over dense turn_idx (EWMA precedent). floor-snap on both sides so
    the 6-dp boundary decision is the same fp op."""
    from cesium_spark.operators.smoothing import holt_linear
    out = holt_linear(_value_series(spark, sf_dir), _HOLT_A, _HOLT_B)

    def r6(c):
        return F.floor(F.col(c) * 1e6 + 0.5) / 1e6 + F.lit(0.0)

    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"),
        r6("level").alias("level"), r6("trend").alias("trend"),
        r6("forecast").alias("forecast"),
        r6("residual").alias("residual"))


SQL_TS_HOLT = oracle(q_ts_holt,
    _VALUE_SERIES_SQL.replace("WITH series", "WITH RECURSIVE series", 1)
    + f"""
, base AS (
  SELECT conv_id, count(*) AS n,
         max(CASE WHEN turn_idx = 0 THEN y END) AS y0,
         max(CASE WHEN turn_idx = 1 THEN y END) AS y1
  FROM series GROUP BY conv_id
), rec AS (
  SELECT conv_id, 0 AS turn_idx, y0 AS l, y1 - y0 AS b,
         CAST(NULL AS DOUBLE) AS f
  FROM base WHERE n >= 2
  UNION ALL
  SELECT r.conv_id, r.turn_idx + 1,
         {_HOLT_A} * s2.y + (1.0 - {_HOLT_A}) * (r.l + r.b),
         {_HOLT_B} * (({_HOLT_A} * s2.y
                       + (1.0 - {_HOLT_A}) * (r.l + r.b)) - r.l)
           + (1.0 - {_HOLT_B}) * r.b,
         CASE WHEN r.turn_idx + 1 >= 2 THEN r.l + r.b END
  FROM rec r JOIN series s2
    ON s2.conv_id = r.conv_id AND s2.turn_idx = r.turn_idx + 1
)
SELECT s.conv_id, s.turn_idx, round(s.t, 6) + 0.0 AS t,
       round(s.y, 6) + 0.0 AS y,
       floor(r.l * 1e6 + 0.5) / 1e6 + 0.0 AS level,
       floor(r.b * 1e6 + 0.5) / 1e6 + 0.0 AS trend,
       floor(r.f * 1e6 + 0.5) / 1e6 + 0.0 AS forecast,
       floor((s.y - r.f) * 1e6 + 0.5) / 1e6 + 0.0 AS residual
FROM rec r JOIN series s USING (conv_id, turn_idx)
UNION ALL
SELECT s.conv_id, s.turn_idx, round(s.t, 6) + 0.0, round(s.y, 6) + 0.0,
       floor(s.y * 1e6 + 0.5) / 1e6 + 0.0, NULL, NULL, NULL
FROM series s JOIN base ON s.conv_id = base.conv_id AND base.n = 1
""")


def q_doc_vocab_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-novelty drift over the event text stream: per day,
    the fraction of that day's distinct tokens seen for the first time
    corpus-wide, plus the cumulative vocabulary — the freshness
    monitor (a crawl that stops discovering, or a new domain suddenly
    ingested, moves new_frac before any quality score does). Exact
    integer counts + one division; full-value oracle."""
    from cesium_spark.operators.textstats import vocab_novelty
    _prep(spark)
    ev = _read(spark, sf_dir, "events").select("ts", "props")
    out = vocab_novelty(ev, time_col="ts", text_col="props", tier="1d")
    return out.select(
        F.date_format("bucket", TS_FMT).alias("bucket"),
        "n_tokens", "n_new", _r(F.col("new_frac")).alias("new_frac"),
        "vocab_cum")


SQL_DOC_VOCAB_NOVELTY = oracle(q_doc_vocab_novelty, f"""
WITH bt AS (
  SELECT DISTINCT date_trunc('day', ts) AS bucket,
         unnest(string_split_regex(trim(lower(props)), '\\s+')) AS token
  FROM events
),
bt2 AS (SELECT * FROM bt WHERE token != ''),
first_ AS (SELECT token, min(bucket) AS fb FROM bt2 GROUP BY 1),
per AS (
  SELECT b.bucket,
         cast(count(*) AS bigint) AS n_tokens,
         cast(sum(CASE WHEN f.fb = b.bucket THEN 1 ELSE 0 END)
              AS bigint) AS n_new
  FROM bt2 b JOIN first_ f USING (token)
  GROUP BY 1
)
SELECT strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       n_tokens, n_new,
       round(cast(n_new AS double) / cast(n_tokens AS double), 6)
         + 0.0 AS new_frac,
       cast(sum(n_new) OVER (ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS bigint)
         AS vocab_cum
FROM per
""")


def q_ts_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC (Mann–Whitney, tie-averaged ranks,
    doubled-rank integer carry): a partially-informative planted score
    (value + 30 on purchase events) against the purchase label —
    genuinely overlapping classes with real tie groups (2-dp value
    grid). All-integer until one terminal division; full-value
    oracle restates the distinct-score rank table verbatim."""
    from cesium_spark.operators.scoring import auc_score
    ev = _events(spark, sf_dir)
    scored = ev.select(
        (F.col("value")
         + F.when(F.col("event_type") == "purchase", F.lit(30.0))
         .otherwise(F.lit(0.0))).alias("score"),
        (F.col("event_type") == "purchase").alias("label"))
    out = auc_score(scored, "score", "label")
    return out.select("n", "n_pos", "n_neg",
                      _r(F.col("auc")).alias("auc"))


SQL_TS_AUC = oracle(q_ts_auc, """
WITH s AS (
  SELECT value + CASE WHEN event_type = 'purchase'
                      THEN 30.0 ELSE 0.0 END AS s,
         event_type = 'purchase' AS lab
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
g AS (
  SELECT s, count(*) AS cnt,
         sum(CASE WHEN lab THEN 1 ELSE 0 END) AS pos
  FROM s GROUP BY 1
),
r AS (
  SELECT *,
         cast(2 * coalesce(sum(cnt) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS bigint) AS r2
  FROM g
),
tot AS (
  SELECT cast(sum(cnt) AS bigint) AS n,
         cast(sum(pos) AS bigint) AS n_pos,
         cast(sum(pos * r2) AS bigint) AS r2_pos
  FROM r
)
SELECT n, n_pos, n - n_pos AS n_neg,
       round(CASE WHEN n_pos > 0 AND n > n_pos THEN
         (cast(r2_pos AS double)
          - cast(n_pos AS double) * (cast(n_pos AS double) + 1.0))
         / (2.0 * cast(n_pos AS double)
            * cast(n - n_pos AS double)) END, 6) + 0.0 AS auc
FROM tot
""")


def q_ts_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance over the event values: digit
    extraction never touches floats (grid contract → exact integer →
    first char of its decimal rendering), counts are exact, and the χ²
    is an ORDERED cumulative fold in digit order (9 non-negative
    terms; total = max of the cumulative) so even the 9-term float sum
    is sequence-pinned. Full-value oracle."""
    from cesium_spark.operators.datastats import benford_test
    ev = _events(spark, sf_dir)
    out = benford_test(ev, "value", scale=100)
    return out.select("digit", "n_obs",
                      _r(F.col("frac_obs")).alias("frac_obs"),
                      _r(F.col("p_benford")).alias("p_benford"),
                      _r(F.col("chi2_total")).alias("chi2_total"))


def _benford_sql() -> str:
    from cesium_spark.operators.datastats import BENFORD_P
    plist = ", ".join(f"({d}, {BENFORD_P[d - 1]!r})" for d in range(1, 10))
    return f"""
WITH cents AS (
  SELECT cast(round(value * 100.0) AS bigint) AS c
  FROM events WHERE value IS NOT NULL
),
cnt AS (
  SELECT cast(substr(cast(abs(c) AS varchar), 1, 1) AS int) AS digit,
         count(*) AS n_obs
  FROM cents WHERE c != 0 GROUP BY 1
),
p AS (SELECT * FROM (VALUES {plist}) AS t(digit, p_benford)),
full_ AS (
  SELECT p.digit, cast(coalesce(cnt.n_obs, 0) AS bigint) AS n_obs,
         p.p_benford
  FROM p LEFT JOIN cnt USING (digit)
),
tot AS (SELECT sum(n_obs) AS n FROM full_),
contrib AS (
  SELECT f.digit, f.n_obs, f.p_benford,
         cast(f.n_obs AS double) / cast(t.n AS double) AS frac_obs,
         (cast(f.n_obs AS double)
            - cast(t.n AS double) * f.p_benford)
         * (cast(f.n_obs AS double)
            - cast(t.n AS double) * f.p_benford)
         / (cast(t.n AS double) * f.p_benford) AS ctr
  FROM full_ f CROSS JOIN tot t
),
cum AS (
  SELECT *, sum(ctr) OVER (ORDER BY digit
                           ROWS UNBOUNDED PRECEDING) AS cumc
  FROM contrib
)
SELECT digit, n_obs,
       round(frac_obs, 6) + 0.0 AS frac_obs,
       round(p_benford, 6) + 0.0 AS p_benford,
       round(max(cumc) OVER (), 6) + 0.0 AS chi2_total
FROM cum
"""


SQL_TS_BENFORD = oracle(q_ts_benford, _benford_sql())


def q_ts_welch_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test, the A/B experimentation primitive:
    purchase events get a planted +5.00 treatment lift so the test has
    real signal; sufficient statistics are exact integer grid units
    (ANSI overflow contract), every derived float one fixed tree —
    full-value oracle restates mean/variance/t/dof verbatim."""
    from cesium_spark.operators.datastats import welch_ttest
    ev = _events(spark, sf_dir)
    planted = ev.select(
        (F.col("value")
         + F.when(F.col("event_type") == "purchase", F.lit(5.0))
         .otherwise(F.lit(0.0))).alias("value"),
        (F.col("event_type") == "purchase").alias("treated"))
    out = welch_ttest(planted, "value", "treated", scale=100)
    return out.select("n_a", "n_b",
                      _r(F.col("mean_a")).alias("mean_a"),
                      _r(F.col("mean_b")).alias("mean_b"),
                      _r(F.col("t_stat")).alias("t_stat"),
                      _r(F.col("dof")).alias("dof"))


SQL_TS_WELCH_AB = oracle(q_ts_welch_ab, """
WITH s AS (
  SELECT cast(round((value + CASE WHEN event_type = 'purchase'
                                  THEN 5.0 ELSE 0.0 END) * 100.0)
              AS bigint) AS x,
         event_type = 'purchase' AS g
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
agg AS (
  SELECT cast(sum(CASE WHEN g THEN 1 ELSE 0 END) AS bigint) AS n_a,
         cast(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS bigint) AS n_b,
         cast(sum(CASE WHEN g THEN x ELSE 0 END) AS bigint) AS s_a,
         cast(sum(CASE WHEN NOT g THEN x ELSE 0 END) AS bigint) AS s_b,
         cast(sum(CASE WHEN g THEN x * x ELSE 0 END) AS bigint) AS q_a,
         cast(sum(CASE WHEN NOT g THEN x * x ELSE 0 END) AS bigint)
           AS q_b
  FROM s
),
d AS (
  SELECT n_a, n_b,
         cast(n_a AS double) AS nad, cast(n_b AS double) AS nbd,
         cast(s_a AS double) / cast(n_a AS double) AS ma,
         cast(s_b AS double) / cast(n_b AS double) AS mb,
         (cast(q_a AS double) - cast(s_a AS double)
            * cast(s_a AS double) / cast(n_a AS double))
           / (cast(n_a AS double) - 1.0) AS va,
         (cast(q_b AS double) - cast(s_b AS double)
            * cast(s_b AS double) / cast(n_b AS double))
           / (cast(n_b AS double) - 1.0) AS vb
  FROM agg
),
e AS (SELECT *, va / nad + vb / nbd AS se2 FROM d)
SELECT n_a, n_b,
       round(ma / 100.0, 6) + 0.0 AS mean_a,
       round(mb / 100.0, 6) + 0.0 AS mean_b,
       round(CASE WHEN se2 > 0 THEN (ma - mb) / sqrt(se2) END, 6)
         + 0.0 AS t_stat,
       round(CASE WHEN se2 > 0 THEN
         se2 * se2 / ((va / nad) * (va / nad) / (nad - 1.0)
                      + (vb / nbd) * (vb / nbd) / (nbd - 1.0)) END, 6)
         + 0.0 AS dof
FROM e
""")


def q_doc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    (undirected) token-bigram graph — the ordered node-iterator
    scheme: each triangle a<b<c found exactly once via two equi-joins.
    Exact integers, one terminal division; full-value oracle."""
    from cesium_spark.operators.graphrank import (
        token_edges,
        triangle_stats,
    )
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = triangle_stats(token_edges(docs))
    return out.select("n_nodes", "n_edges", "n_triangles", "n_wedges",
                      _r(F.col("global_cc")).alias("global_cc"))


SQL_DOC_TRIANGLES = oracle(q_doc_triangles, """
WITH tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
bigr AS (
  SELECT a.tok AS src, b.tok AS dst
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM bigr WHERE src != dst
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1
),
base AS (
  SELECT cast(count(*) AS bigint) AS n_nodes,
         cast(sum(deg) / 2 AS bigint) AS n_edges,
         cast(sum(deg * (deg - 1) / 2) AS bigint) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges,
       cast(tri.n_triangles AS bigint) AS n_triangles, n_wedges,
       round(CASE WHEN n_wedges > 0 THEN
         3.0 * cast(tri.n_triangles AS double)
         / cast(n_wedges AS double) END, 6) + 0.0 AS global_cc
FROM base CROSS JOIN tri
""")


def q_doc_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 highest-degree token-bigram-graph nodes with exact
    triangle participation and local clustering coefficient — the
    per-node refinement of doc_triangles. deg/n_tri exact integers,
    cc one terminal division; deterministic (deg DESC, v ASC) rank."""
    from cesium_spark.operators.graphrank import (
        local_clustering,
        token_edges,
    )
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = local_clustering(token_edges(docs), top_k=50)
    return out.select("v", "deg", "n_tri",
                      _r(F.col("local_cc")).alias("local_cc"))


SQL_DOC_LOCAL_CLUSTERING = oracle(q_doc_local_clustering, """
WITH tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
bigr AS (
  SELECT a.tok AS src, b.tok AS dst
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM bigr WHERE src != dst
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
),
tri_v AS (
  SELECT v, count(*) AS n_tri FROM (
    SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY 1
),
deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1
)
SELECT d.v, cast(d.deg AS bigint) AS deg,
       cast(coalesce(t.n_tri, 0) AS bigint) AS n_tri,
       round(CASE WHEN d.deg >= 2 THEN
         2.0 * cast(coalesce(t.n_tri, 0) AS double)
         / (cast(d.deg AS double) * (cast(d.deg AS double) - 1))
       END, 6) + 0.0 AS local_cc
FROM deg d LEFT JOIN tri_v t USING (v)
ORDER BY d.deg DESC, d.v ASC
LIMIT 50
""")


def q_ts_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lag-1 nested-model F-test, pooled across
    conversations: does the PREVIOUS turn's spend (grid cents) help
    predict this turn's token count beyond the token count's own lag?
    A planted +3-token bump after >5.00-spend turns gives x2 real
    incremental signal. Lag alignment never crosses a conversation
    boundary; all sufficient statistics are exact int64; both SSEs,
    b2, and F are fixed double trees restated verbatim in SQL."""
    from cesium_spark.operators.scoring import ols_granger
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tok = F.size(F.split(F.trim(F.col("props")), r"\s+"))
    cents = F.round(F.col("value") * 100).cast("long")
    lagged = ev.select(
        tok.alias("tok"),
        F.lag(tok).over(w).alias("tok_prev"),
        F.lag(cents).over(w).alias("cents_prev"))
    aligned = (lagged
               .where(F.col("tok").isNotNull()
                      & F.col("tok_prev").isNotNull()
                      & F.col("cents_prev").isNotNull())
               .select(
                   (F.col("tok")
                    + F.when(F.col("cents_prev") > 500, F.lit(3))
                    .otherwise(F.lit(0))).cast("long").alias("y"),
                   F.col("tok_prev").cast("long").alias("x1"),
                   F.col("cents_prev").alias("x2")))
    out = ols_granger(aligned, "y", "x1", "x2")
    return out.select(
        "n",
        _r(F.col("b2"), 9).alias("b2"),
        _r(F.col("sse_r")).alias("sse_r"),
        _r(F.col("sse_u")).alias("sse_u"),
        _r(F.col("f_stat")).alias("f_stat"))


SQL_TS_GRANGER_LAG1 = oracle(q_ts_granger_lag1, """
WITH t AS (
  SELECT len(string_split_regex(trim(props), '\\s+')) AS tok,
         lag(len(string_split_regex(trim(props), '\\s+')))
           OVER w AS tok_prev,
         lag(cast(round(value * 100) AS bigint)) OVER w AS cents_prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
al AS (
  SELECT cast(tok + CASE WHEN cents_prev > 500 THEN 3 ELSE 0 END
              AS bigint) AS y,
         cast(tok_prev AS bigint) AS x1, cents_prev AS x2
  FROM t
  WHERE tok IS NOT NULL AND tok_prev IS NOT NULL
        AND cents_prev IS NOT NULL
),
g AS (
  SELECT count(*) AS n_int,
         sum(x1) AS isx1, sum(x2) AS isx2,
         sum(x1 * x1) AS isx11, sum(x1 * x2) AS isx12,
         sum(x2 * x2) AS isx22,
         sum(y) AS isy, sum(x1 * y) AS isx1y,
         sum(x2 * y) AS isx2y, sum(y * y) AS isyy
  FROM al
),
s AS (
  SELECT n_int,
         cast(n_int AS double) AS n,
         cast(isx1 AS double) AS sx1, cast(isx2 AS double) AS sx2,
         cast(isx11 AS double) AS sx11, cast(isx12 AS double) AS sx12,
         cast(isx22 AS double) AS sx22,
         cast(isy AS double) AS sy, cast(isx1y AS double) AS sx1y,
         cast(isx2y AS double) AS sx2y, cast(isyy AS double) AS syy
  FROM g
),
dets AS (
  SELECT *,
    n * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2)
      + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
    sy * (sx11 * sx22 - sx12 * sx12)
      - sx1 * (sx1y * sx22 - sx12 * sx2y)
      + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
    n * (sx1y * sx22 - sx12 * sx2y) - sy * (sx1 * sx22 - sx12 * sx2)
      + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
    n * (sx11 * sx2y - sx1y * sx12) - sx1 * (sx1 * sx2y - sx1y * sx2)
      + sy * (sx1 * sx12 - sx11 * sx2) AS det2,
    n * sx11 - sx1 * sx1 AS det_r
  FROM s
),
beta AS (
  SELECT *, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
         (n * sx1y - sx1 * sy) / det_r AS b1r
  FROM dets
),
beta2 AS (
  SELECT *, (sy - b1r * sx1) / n AS b0r FROM beta
),
sse AS (
  SELECT *,
    greatest(0.0, syy - 2.0 * (b0 * sy + b1 * sx1y + b2 * sx2y)
      + (b0 * b0 * n + b1 * b1 * sx11 + b2 * b2 * sx22
         + 2.0 * (b0 * b1 * sx1 + b0 * b2 * sx2
                  + b1 * b2 * sx12))) AS sse_u,
    greatest(0.0, syy - 2.0 * (b0r * sy + b1r * sx1y)
      + (b0r * b0r * n + b1r * b1r * sx11
         + 2.0 * b0r * b1r * sx1)) AS sse_r
  FROM beta2
)
SELECT cast(n_int AS bigint) AS n,
       round(CASE WHEN det != 0 THEN b2 END, 9) + 0.0 AS b2,
       round(CASE WHEN det_r != 0 THEN sse_r END, 6) + 0.0 AS sse_r,
       round(CASE WHEN det != 0 THEN sse_u END, 6) + 0.0 AS sse_u,
       round(CASE WHEN det != 0 AND det_r != 0 AND n_int > 3
                       AND sse_u > 0 THEN
             (sse_r - sse_u) / (sse_u / (n - 3.0)) END, 6) + 0.0
         AS f_stat
FROM sse
""")


def q_doc_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of (lang x source) over the
    documents corpus — dense cells (absent combos included), exact
    integer counts/marginals, double-tree expected/contrib, ordered
    (a,b) cumulative chi-square fold, Cramér's V. Full-value oracle
    restates every tree verbatim."""
    from cesium_spark.operators.datastats import chi2_independence
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = chi2_independence(docs, "lang", "source")
    return out.select(
        "a", "b", "n_obs",
        _r(F.col("expected")).alias("expected"),
        _r(F.col("contrib")).alias("contrib"),
        _r(F.col("chi2_total")).alias("chi2_total"),
        "dof", "n",
        _r(F.col("cramers_v")).alias("cramers_v"))


SQL_DOC_CHI2_LANG_SOURCE = oracle(q_doc_chi2_lang_source, """
WITH cells AS (
  SELECT lang AS a, source AS b, count(*) AS n_obs
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
),
rows_ AS (SELECT a, sum(n_obs) AS row_tot FROM cells GROUP BY 1),
cols_ AS (SELECT b, sum(n_obs) AS col_tot FROM cells GROUP BY 1),
dense AS (
  SELECT r.a, c.b, r.row_tot, c.col_tot,
         coalesce(x.n_obs, 0) AS n_obs
  FROM rows_ r CROSS JOIN cols_ c
  LEFT JOIN cells x ON x.a = r.a AND x.b = c.b
),
f AS (
  SELECT a, b, n_obs,
         cast(row_tot AS double) * cast(col_tot AS double)
           / cast(sum(n_obs) OVER () AS double) AS expected,
         sum(n_obs) OVER () AS n_tot,
         (SELECT count(*) FROM rows_) AS r_card,
         (SELECT count(*) FROM cols_) AS c_card
  FROM dense
),
g AS (
  SELECT a, b, n_obs, expected, n_tot, r_card, c_card,
         (cast(n_obs AS double) - expected)
           * (cast(n_obs AS double) - expected) / expected AS contrib
  FROM f
),
h AS (
  SELECT *, max(cum) OVER () AS chi2_total FROM (
    SELECT *, sum(contrib) OVER (ORDER BY a, b
                                 ROWS UNBOUNDED PRECEDING) AS cum
    FROM g)
)
SELECT a, b, cast(n_obs AS bigint) AS n_obs,
       round(expected, 6) + 0.0 AS expected,
       round(contrib, 6) + 0.0 AS contrib,
       round(chi2_total, 6) + 0.0 AS chi2_total,
       cast((r_card - 1) * (c_card - 1) AS bigint) AS dof,
       cast(n_tot AS bigint) AS n,
       round(CASE WHEN (r_card - 1) * (c_card - 1) > 0 THEN
         sqrt(chi2_total / (cast(n_tot AS double)
              * least(cast(r_card - 1 AS double),
                      cast(c_card - 1 AS double)))) END, 6) + 0.0
         AS cramers_v
FROM h
""")


_CROSTON_A = 0.25


def q_ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecasting (alpha=0.25, dyadic):
    the value series made genuinely intermittent (demand only on every
    5th turn, 80% exact zeros — the regime where Holt/EWMA chase zeros
    and under-forecast spikes). Separate size/interval smoothing
    updated only on demands, SBA bias correction, NULL forecasts until
    the first demand initializes state. Bit-replay contract: the
    oracle restates the z/p recurrences verbatim as a recursive CTE
    with the integer inter-demand counter carried through the
    recursion; floor-snap on both sides (holt precedent)."""
    from cesium_spark.operators.smoothing import croston
    s = _value_series(spark, sf_dir)
    planted = s.withColumn(
        "y", F.when(F.col("turn_idx") % 5 == 0, F.col("y"))
        .otherwise(F.lit(0.0)))
    out = croston(planted, alpha=_CROSTON_A)

    def r6(c):
        return F.floor(F.col(c) * 1e6 + 0.5) / 1e6 + F.lit(0.0)

    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"),
        "is_demand", r6("level").alias("level"),
        r6("interval").alias("interval"),
        r6("forecast").alias("forecast"),
        r6("forecast_sba").alias("forecast_sba"))


SQL_TS_CROSTON = oracle(q_ts_croston,
    _VALUE_SERIES_SQL.replace("WITH series", "WITH RECURSIVE series", 1)
    + f"""
, rows_ AS (
  SELECT conv_id, turn_idx, t,
         CASE WHEN turn_idx % 5 = 0 THEN y ELSE 0.0 END AS y
  FROM series
), rec AS (
  SELECT conv_id, turn_idx,
         CASE WHEN y > 0 THEN y END AS z,
         -- CAST matters: a bare 1.0 literal would type the whole
         -- recursive column DECIMAL(2,1), silently rounding every
         -- recursive double update to one decimal place
         CASE WHEN y > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
         CASE WHEN y > 0 THEN 0 ELSE 1 END AS q,
         CAST(NULL AS DOUBLE) AS f
  FROM rows_ WHERE turn_idx = 0
  UNION ALL
  SELECT r.conv_id, r.turn_idx + 1,
         CASE WHEN s2.y > 0 THEN
             CASE WHEN r.z IS NULL THEN s2.y
                  ELSE {_CROSTON_A!r} * s2.y
                       + (1.0 - {_CROSTON_A!r}) * r.z END
             ELSE r.z END,
         CASE WHEN s2.y > 0 THEN
             CASE WHEN r.z IS NULL THEN CAST(r.q + 1 AS DOUBLE)
                  ELSE {_CROSTON_A!r} * CAST(r.q + 1 AS DOUBLE)
                       + (1.0 - {_CROSTON_A!r}) * r.p END
             ELSE r.p END,
         CASE WHEN s2.y > 0 THEN 0 ELSE r.q + 1 END,
         r.z / r.p
  FROM rec r JOIN rows_ s2
    ON s2.conv_id = r.conv_id AND s2.turn_idx = r.turn_idx + 1
)
SELECT s.conv_id, s.turn_idx, round(s.t, 6) + 0.0 AS t,
       round(s.y, 6) + 0.0 AS y,
       s.y > 0 AS is_demand,
       floor(r.z * 1e6 + 0.5) / 1e6 + 0.0 AS level,
       floor(r.p * 1e6 + 0.5) / 1e6 + 0.0 AS interval,
       floor(r.f * 1e6 + 0.5) / 1e6 + 0.0 AS forecast,
       floor(({1.0 - _CROSTON_A / 2.0!r} * r.f) * 1e6 + 0.5) / 1e6
         + 0.0 AS forecast_sba
FROM rec r JOIN rows_ s USING (conv_id, turn_idx)
""")


_DEDUP_PLANT_MOD = 7


def q_ts_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state: the value
    series plus a planted re-delivery of every 7th turn is replayed
    through readStream, dropDuplicatesWithinWatermark on (conv_id,
    turn_idx) collapses the duplicates while its state store stays
    O(in-watermark keys) — vs dropDuplicates' O(all keys ever), an
    OOM at 10^12 turns. Oracle = the batch DISTINCT (the original
    series: re-deliveries carry identical payloads)."""
    import os
    import tempfile

    from cesium_spark.streaming.window_delta import stream_dedup

    _prep(spark)
    # unique per-run scratch: a fixed path + rmtree would let a second
    # concurrent driver/bench process delete this run's live streaming
    # source and checkpoint mid-query (review finding, round 4 s5)
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_dedup_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    dups = s.where(F.col("turn_idx") % _DEDUP_PLANT_MOD == 0)
    s.unionByName(dups).coalesce(1).write.mode("append") \
        .parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    out = stream_dedup(stream, ["conv_id", "turn_idx"], "ts", "2 hours")
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", f"{base}/out")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_dedup: availableNow stream did not finish "
            "within 300s")
    got = spark.read.parquet(f"{base}/out")
    return got.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"))


SQL_TS_STREAM_DEDUP = oracle(q_ts_stream_dedup, f"""{_VALUE_SERIES_SQL}
SELECT conv_id, turn_idx, strftime(ts, '{DUCK_TS_FMT}') AS ts,
       round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y
FROM series
""")


_SJOIN_SPAN = "6 hours"


def q_ts_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream event-time interval join: the turn stream joined
    online to the purchase-alert stream of the same conversation
    within (alert_ts, alert_ts + 6h] — both sides watermarked, the
    range condition bounding BOTH state stores (the unbounded-state
    OOM guard at 10^12 turns). Replayed via availableNow from per-run
    scratch; oracle = the identical batch join in DuckDB."""
    import os
    import tempfile

    from cesium_spark.streaming.window_delta import stream_interval_join

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_join_")
    os.makedirs(f"{base}/turns")
    os.makedirs(f"{base}/alerts")
    ev = _read(spark, sf_dir, "events")
    turns = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "ts", F.col("value").alias("y"))
    alerts = (ev.where(F.col("event_type") == "purchase")
              .select(F.col("user_id").cast("string").alias("conv_id"),
                      F.col("event_id").cast("long").alias("alert_id"),
                      F.col("ts").alias("alert_ts")))
    turns.coalesce(1).write.mode("append").parquet(f"{base}/turns")
    alerts.coalesce(1).write.mode("append").parquet(f"{base}/alerts")
    t_stream = spark.readStream.schema(
        "conv_id string, event_id long, ts timestamp, y double") \
        .parquet(f"{base}/turns")
    a_stream = spark.readStream.schema(
        "conv_id string, alert_id long, alert_ts timestamp") \
        .parquet(f"{base}/alerts")
    out = stream_interval_join(t_stream, a_stream, span=_SJOIN_SPAN)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", f"{base}/out")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_join: availableNow stream did not finish "
            "within 300s")
    got = spark.read.parquet(f"{base}/out")
    return got.select(
        "conv_id", "event_id", "alert_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        F.date_format("alert_ts", TS_FMT).alias("alert_ts"),
        _r(F.col("y")).alias("y"))


SQL_TS_STREAM_JOIN = oracle(q_ts_stream_join, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_id, ts, value AS y
  FROM events
),
a AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_id AS alert_id,
         ts AS alert_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT t.conv_id, t.event_id, a.alert_id,
       strftime(t.ts, '{DUCK_TS_FMT}') AS ts,
       strftime(a.alert_ts, '{DUCK_TS_FMT}') AS alert_ts,
       round(t.y, 6) + 0.0 AS y
FROM t JOIN a ON t.conv_id = a.conv_id
  AND t.ts > a.alert_ts
  AND t.ts <= a.alert_ts + INTERVAL 6 HOUR
""")


_DTW_TEMPLATE = (12.0, 40.0, 25.0, 60.0, 18.0, 75.0, 30.0, 50.0)
_DTW_PLANT = "__tpl__"


def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW distance of every conversation's value series to a fixed
    incident template (anti-diagonal vectorized DP, one exchange).
    Invariant oracle (LTTB/QSO precedent — the recursion is not
    SQL-expressible; exact values are pytest-pinned vs a scalar DP):
    LB_Kim-corner lower bound ≤ dtw ≤ explicit-path upper bound, both
    restated exactly in SQL, with a planted template-equal series
    forcing lb = ub = 0 — so the invariant is tight at the plant and
    dtw must be exactly 0 there."""
    from cesium_spark.operators.dtw import dtw_to_template
    s = _value_series(spark, sf_dir)
    n_t = len(_DTW_TEMPLATE)
    plant = spark.createDataFrame(
        [(_DTW_PLANT, "value", i, None, float(i), v, 1e-4)
         for i, v in enumerate(_DTW_TEMPLATE)],
        "conv_id string, channel string, turn_idx int, ts timestamp, "
        "t double, y double, e double")
    out = dtw_to_template(s.unionByName(plant), _DTW_TEMPLATE)
    assert n_t == 8
    # lb is order statistics (exact both engines — 6 dp); ub is a ~70-
    # term SUM whose association differs between the kernel's fold and
    # the aggregate's row order, so it gets a coarser 1e-4 floor-snap
    # grid (same fp op both sides) that absorbs the ~1e-10 drift
    # instead of flaking on a 6-dp boundary
    ub4 = F.floor(F.col("ub") * 1e4 + 0.5) / 1e4 + F.lit(0.0)
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        _r(F.col("lb")).alias("lb"), ub4.alias("ub"),
        F.col("within_bounds"))


def _dtw_sql() -> str:
    t = _DTW_TEMPLATE
    m = len(t)
    vals = ", ".join(f"({j}, {v})" for j, v in enumerate(t))
    return f"""{_VALUE_SERIES_SQL}
, tpl(j, v) AS (VALUES {vals})
, splus AS (
  SELECT conv_id, turn_idx, y FROM series
  UNION ALL
  SELECT '{_DTW_PLANT}', j, v FROM tpl
), a AS (
  SELECT conv_id, count(*) AS n,
         max(CASE WHEN turn_idx = 0 THEN y END) AS y0,
         max_by(y, turn_idx) AS ylast,
         max(y) AS ymax, min(y) AS ymin
  FROM splus GROUP BY conv_id
), ubd AS (
  SELECT s.conv_id,
         sum(CASE WHEN s.turn_idx <= {m - 1} THEN abs(s.y - t.v)
                  ELSE abs(s.y - {t[-1]}) END) AS ub1
  FROM splus s JOIN tpl t ON t.j = least(s.turn_idx, {m - 1})
  GROUP BY s.conv_id
), ubt AS (
  SELECT a.conv_id, sum(abs(a.ylast - t.v)) AS ub2
  FROM a JOIN tpl t ON t.j >= a.n GROUP BY a.conv_id
)
SELECT a.conv_id, a.n,
       round(greatest(abs(a.y0 - {t[0]}), abs(a.ylast - {t[-1]}),
                      abs(a.ymax - {max(t)}), abs(a.ymin - {min(t)})),
             6) + 0.0 AS lb,
       floor((ubd.ub1 + coalesce(ubt.ub2, 0.0)) * 1e4 + 0.5) / 1e4
         + 0.0 AS ub,
       TRUE AS within_bounds
FROM a JOIN ubd ON a.conv_id = ubd.conv_id
       LEFT JOIN ubt ON a.conv_id = ubt.conv_id
"""


oracle(q_ts_dtw, _dtw_sql())


_DECOMP_P = 7


def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (period 7, turn
    positions): centered-MA trend (NULL at the 3 edge rows — honest
    undefined, not edge-shrunken), slot-mean seasonal centered by the
    unweighted mean of slot means, residual. Entirely native windows
    sharing ONE exchange; full-value oracle replays every window."""
    from cesium_spark.operators.seriesstats import classical_decompose
    out = classical_decompose(_value_series(spark, sf_dir), _DECOMP_P)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"),
        F.col("slot").cast("long").alias("slot"),
        _r(F.col("trend")).alias("trend"),
        _r(F.col("seasonal")).alias("seasonal"),
        _r(F.col("resid")).alias("resid"))


_DECOMP_HALF = (_DECOMP_P - 1) // 2

SQL_TS_DECOMPOSE = oracle(q_ts_decompose, f"""{_VALUE_SERIES_SQL}
, o AS (
  SELECT conv_id, turn_idx, ts, t, y,
         row_number() OVER w - 1 AS rn,
         count(*) OVER (PARTITION BY conv_id) AS n,
         avg(y) OVER (PARTITION BY conv_id ORDER BY t, turn_idx
                      ROWS BETWEEN {_DECOMP_HALF} PRECEDING
                            AND {_DECOMP_HALF} FOLLOWING) AS ma
  FROM series WHERE y IS NOT NULL AND t IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
), d AS (
  SELECT *, rn % {_DECOMP_P} AS slot,
         CASE WHEN rn >= {_DECOMP_HALF} AND rn < n - {_DECOMP_HALF}
              THEN ma END AS trend
  FROM o
), sm AS (
  SELECT *,
         avg(y - trend) OVER (PARTITION BY conv_id, slot) AS slot_mean,
         row_number() OVER (PARTITION BY conv_id, slot
                            ORDER BY t, turn_idx) AS srn
  FROM d
), c AS (
  SELECT *, avg(CASE WHEN srn = 1 THEN slot_mean END)
              OVER (PARTITION BY conv_id) AS ctr
  FROM sm
)
SELECT conv_id, turn_idx, round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y,
       slot,
       round(trend, 6) + 0.0 AS trend,
       round(slot_mean - ctr, 6) + 0.0 AS seasonal,
       round(y - trend - (slot_mean - ctr), 6) + 0.0 AS resid
FROM c
""")


_ROLLQ_Q, _ROLLQ_W = 0.95, 20


def q_ts_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling p95 over the trailing 20 rows per conv (shrinking head
    windows): one exchange into the sliding_window_view + np.quantile
    kernel; the oracle replays it with DuckDB's windowed quantile_cont
    over the identical ROWS frame — both are the same linear order-
    statistic interpolation, so 6-dp values match."""
    from cesium_spark.operators.intervals import rolling_quantile
    out = rolling_quantile(_value_series(spark, sf_dir),
                           _ROLLQ_Q, _ROLLQ_W)
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("t")).alias("t"), _r(F.col("y")).alias("y"),
        _r(F.col("roll_q")).alias("roll_q"))


SQL_TS_ROLLING_QUANTILE = oracle(q_ts_rolling_quantile, f"""{_VALUE_SERIES_SQL}
SELECT conv_id, turn_idx, round(t, 6) + 0.0 AS t, round(y, 6) + 0.0 AS y,
       round(quantile_cont(y, {_ROLLQ_Q})
               OVER (PARTITION BY conv_id ORDER BY t, turn_idx
                     ROWS BETWEEN {_ROLLQ_W - 1} PRECEDING
                           AND CURRENT ROW), 6) + 0.0 AS roll_q
FROM series
""")


def q_ts_gauge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL delta()/idelta() for gauges per hourly bucket: last −
    first via min_by/max_by on the order struct (deterministic under
    ties), idelta = the last IN-BUCKET adjacent pair (a trailing
    boundary-crossing point can't shadow a real pair; single-point
    buckets → NULL, never fake 0). One exchange; full-value oracle
    restates the arg_min/arg_max and the bucket-membership guard."""
    from cesium_spark.operators.rates import gauge_delta
    out = gauge_delta(_value_series(spark, sf_dir), "1h")
    return out.select(
        "conv_id", F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(F.col("delta")).alias("delta"),
        _r(F.col("idelta")).alias("idelta"),
        F.col("n").cast("long").alias("n"))


SQL_TS_GAUGE_DELTA = oracle(q_ts_gauge_delta, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, date_trunc('hour', ts) AS bucket, turn_idx, y,
         lag(y) OVER w AS py,
         date_trunc('hour', lag(ts) OVER w) AS pbucket
  FROM series
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
)
SELECT conv_id, strftime(bucket, '{DUCK_TS_FMT}') AS bucket,
       round(arg_max(y, turn_idx) - arg_min(y, turn_idx), 6) + 0.0
         AS delta,
       round(arg_max(CASE WHEN pbucket = bucket THEN y - py END,
                     CASE WHEN pbucket = bucket THEN turn_idx END), 6)
         + 0.0 AS idelta,
       count(*) AS n
FROM b
GROUP BY conv_id, bucket
""")


_XCORR_LAG = 2


def q_ts_channel_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation latency×tokens at turn lags −2..2 —
    lead/lag detection between channels of one conversation. One scan,
    pair-restricted Pearson per lag in a single aggregation pass;
    full-value oracle replays the shifted covar/σ ratios."""
    from cesium_spark.operators.seriesstats import channel_xcorr
    s = derive_series(events_transcripts(spark, sf_dir))
    out = channel_xcorr(s, *_CORR_CH, max_lag=_XCORR_LAG)
    lag_cols = ([f"r_m{k}" for k in range(_XCORR_LAG, 0, -1)]
                + ["r_0"] + [f"r_p{k}" for k in range(1, _XCORR_LAG + 1)])
    return out.select(
        "conv_id", F.col("n_pairs").cast("long").alias("n_pairs"),
        *[_r(F.col(c)).alias(c) for c in lag_cols])


def _xcorr_sql() -> str:
    shifts = []
    rs = []
    for k in range(1, _XCORR_LAG + 1):
        shifts.append(f"lead(yb, {k}) OVER w AS bp{k}")
        shifts.append(f"lag(yb, {k}) OVER w AS bm{k}")
    for name, col in ([(f"r_m{k}", f"bm{k}")
                       for k in range(_XCORR_LAG, 0, -1)]
                      + [("r_0", "yb")]
                      + [(f"r_p{k}", f"bp{k}")
                         for k in range(1, _XCORR_LAG + 1)]):
        rs.append(
            f"round(CASE WHEN stddev_pop(CASE WHEN {col} IS NOT NULL "
            f"THEN ya END) * stddev_pop({col}) > 0 THEN "
            f"covar_pop(ya, {col}) / (stddev_pop(CASE WHEN {col} IS NOT "
            f"NULL THEN ya END) * stddev_pop({col})) END, 6) + 0.0 "
            f"AS {name}")
    return _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS ya,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS yb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
  HAVING ya IS NOT NULL AND yb IS NOT NULL
), l AS (
  SELECT *, {', '.join(shifts)}
  FROM aligned
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, count(*) AS n_pairs,
       {', '.join(rs)}
FROM l
GROUP BY conv_id
"""


oracle(q_ts_channel_xcorr, _xcorr_sql())


_SCORE_W = (("mean", 0.03), ("std", -0.11), ("amplitude", 0.07))
_SCORE_B = -1.5


def q_ts_score_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring over the daily feature matrix — the inference
    half of the cesium → sklearn workflow: logistic link over
    (mean, std, amplitude) with offline-fit weights inlined as
    literals. Pure projection on top of the rollup (no extra
    exchange); full-value oracle replays the identical left-assoc
    linear term and sigmoid."""
    from cesium_spark.operators.rollup import moments_derived, rollup_moments
    from cesium_spark.operators.scoring import score_linear
    m = moments_derived(rollup_moments(_value_series(spark, sf_dir), "1d"))
    out = score_linear(m, dict(_SCORE_W), _SCORE_B)
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n_epochs").cast("long").alias("n_epochs"),
        _r(F.col("score")).alias("score"))


_SCORE_Z = (f"{_SCORE_B} + {_SCORE_W[0][1]} * avg(y) "
            f"+ {_SCORE_W[1][1]} * sqrt(greatest(avg(y*y) - avg(y)*avg(y),"
            f" 0)) + {_SCORE_W[2][1]} * ((max(y) - min(y)) / 2)")

SQL_TS_SCORE_FEATURES = oracle(q_ts_score_features, _VALUE_SERIES_SQL + f"""
SELECT conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n_epochs,
       round(1.0 / (1.0 + exp(-({_SCORE_Z}))), 6) + 0.0 AS score
FROM series
GROUP BY 1, 2
""")


_CURATE_MIN_Q, _CURATE_MAX_DUP, _CURATE_MAX_TOP = 0.5, 0.34, 0.25


def q_doc_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the operators composed the way a
    training-data pipeline actually chains them: quality gate AND
    not-contaminated AND repetition caps (undefined repetition =
    REJECT — an empty doc must not slip through on a NULL), then the
    content-addressed train/val/test assignment over the survivors.
    Every gate compares the 6-dp-rounded value on BOTH engines so a
    boundary doc can't flip. The oracle composes the same four
    oracle bodies as subquery CTEs — one query certifying the whole
    chain, not just its pieces."""
    from cesium_spark.operators.dedup import contamination
    from cesium_spark.operators.sampling import hash_split
    from cesium_spark.operators.textstats import (
        quality_score,
        repetition_stats,
    )
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % _CONTAM_MOD == 0)
    pool = docs.where(F.col("doc_id") % _CONTAM_MOD != 0)
    q = quality_score(pool).select(
        "doc_id", _r(F.col("quality_score")).alias("q6"))
    rep = repetition_stats(pool).select(
        "doc_id", _r(F.col("dup_line_frac")).alias("dl6"),
        _r(F.col("top_gram_frac")).alias("tg6"))
    con = contamination(pool, ev, n=_CONTAM_N).select(
        "doc_id", "contaminated")
    kept = (q.join(rep, "doc_id").join(con, "doc_id")
            .where((F.col("q6") >= _CURATE_MIN_Q)
                   & ~F.col("contaminated")
                   & F.col("dl6").isNotNull()
                   & (F.col("dl6") <= _CURATE_MAX_DUP)
                   & (F.coalesce(F.col("tg6"), F.lit(0.0))
                      <= _CURATE_MAX_TOP)))
    out = hash_split(kept, dict(_SPLIT_WEIGHTS), key="doc_id",
                     salt=_SPLIT_SALT)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "split",
        F.col("q6").alias("quality"))


def _curate_sql() -> str:
    bucket = (f"(('0x' || substr(md5(cast(doc_id AS varchar) || "
              f"'{_SPLIT_SALT}'), 1, 8))::BIGINT % 10000)")
    names = [n for n, _ in _SPLIT_WEIGHTS]
    cum, cases = 0.0, []
    for nm, w in _SPLIT_WEIGHTS[:-1]:
        cum += w
        cases.append(f"WHEN {bucket} < {int(round(cum * 10000))} "
                     f"THEN '{nm}'")
    return f"""
WITH q AS (SELECT doc_id, quality_score FROM ({SQL_DOC_QUALITY}) t),
rep AS (SELECT doc_id, dup_line_frac, top_gram_frac
        FROM ({SQL_DOC_REPETITION}) t),
con AS (SELECT doc_id, contaminated FROM ({SQL_DOC_CONTAMINATION}) t),
kept AS (
  SELECT q.doc_id, q.quality_score
  FROM q JOIN rep ON q.doc_id = rep.doc_id
         JOIN con ON q.doc_id = con.doc_id
  WHERE q.quality_score >= {_CURATE_MIN_Q}
    AND NOT con.contaminated
    AND rep.dup_line_frac IS NOT NULL
    AND rep.dup_line_frac <= {_CURATE_MAX_DUP}
    AND coalesce(rep.top_gram_frac, 0.0) <= {_CURATE_MAX_TOP}
)
SELECT doc_id, CASE {' '.join(cases)} ELSE '{names[-1]}' END AS split,
       quality_score AS quality
FROM kept
"""


oracle(q_doc_curate, _curate_sql())


def q_ts_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines transcript ingest roundtrip: the transcript table is
    serialized to JSON lines with native to_json and parsed back with
    from_json (PERMISSIVE) — plus one planted corrupt line, which must
    surface as a quarantine row (NULL fields, is_malformed=true)
    rather than killing the ingest. Pure projections, zero shuffles;
    the oracle states the expected parse directly from events."""
    from cesium_spark.sources.text_ingest import parse_json_turns
    tr = events_transcripts(spark, sf_dir)
    js = tr.select(F.to_json(F.struct(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")).alias("value"))
    bad = spark.createDataFrame([("{definitely not json",)], "value string")
    out = parse_json_turns(js.unionByName(bad))
    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool",
        F.date_format("ts", TS_FMT).alias("ts"),
        F.col("_malformed").isNotNull().alias("is_malformed"))


SQL_TS_PARSE_JSON = oracle(q_ts_parse_json, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'purchase' THEN 'checkout' END AS tool,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '{DUCK_TS_FMT}') AS ts, false AS is_malformed
FROM t
UNION ALL
SELECT NULL, NULL, NULL, NULL, NULL, NULL, true
""")


def q_doc_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing/MOSS candidate pairs via PLANTED duplicates (minhash
    pattern): identical text ⇒ identical fingerprint set ⇒ containment
    exactly 1.0 and n_shared = the copy's own fingerprint count, so
    every planted pair MUST surface; the inner join makes a missed
    pair drop the row count. Inverted-index equi-join (no cross join),
    df-capped boilerplate fingerprints."""
    from cesium_spark.operators.textstats import winnowing_pairs
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    pairs = winnowing_pairs(docs.unionByName(planted), threshold=0.99)
    # eligibility gate on BOTH sides via the identical explicit
    # whitespace class (no \s — Java and RE2 disagree on \x0B, python
    # str.split on far more): splitting on FEWER separators yields <=
    # as many tokens as the kernel's python split, so class-gate >= 5
    # IMPLIES kernel tokens >= 5 implies fingerprints exist — the gate
    # is sound by construction, not by testdata luck
    gate = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")) >= 5
    expect = (docs.where((F.col("doc_id") % 10 == 0) & gate)
              .select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 100000).alias("id_b")))
    return (expect.join(pairs, ["id_a", "id_b"])
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    _r(F.col("containment")).alias("containment")))


SQL_DOC_WINNOWING_PAIRS = oracle(q_doc_winnowing_pairs, """
SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 1.0 AS containment
FROM documents
WHERE doc_id % 10 = 0
  AND len(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) >= 5
""")


_SUBSTR_MIN_RUN = 50
_SUBSTR_CAP = 2048


def q_doc_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring refinement at pair grain (Lee et al. 2022
    substring semantics): candidate pairs are re-scored with the EXACT
    longest shared token run via the run DP — closing the n-gram-grain
    approximation gap of doc_ngram_coverage. Planted-duplicate design
    (winnowing_pairs pattern): each eligible doc gets a twin carrying a
    VERBATIM 60-token slice (tokens 6..65) between junk flanks, so the
    pair's max_run is the planted insertion found at its exact length
    and position. The oracle is an INDEPENDENT algorithm — diagonal
    gaps-and-islands over the token-match join (group matches by i−j,
    islands by i − row_number, run = island size) with the same
    lexicographic (a_start, b_start) tie-break — not a replay of the
    DP."""
    from cesium_spark.operators.dedup import substring_pairs
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")),
                            r"[ \t\n\r\f]+"),
                    lambda x: x != "")
    base = (docs.select("doc_id", toks.alias("__toks"))
            .where((F.col("doc_id") % 10 == 0)
                   & (F.size("__toks") >= 65)))
    planted = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.array(F.lit("xxja"), F.lit("xxjb"),
                             F.lit("xxjc")),
                     F.slice("__toks", 6, 60),
                     F.array(F.lit("xxjd"), F.lit("xxje"))))
        .alias("text"))
    corpus = docs.unionByName(planted)
    pairs = base.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 200000).alias("id_b"))
    out = substring_pairs(corpus, pairs, min_run=_SUBSTR_MIN_RUN,
                          max_tokens=_SUBSTR_CAP)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "capped_a", "capped_b",
        F.col("max_run").cast("long").alias("max_run"),
        F.col("a_start").cast("long").alias("a_start"),
        F.col("b_start").cast("long").alias("b_start"),
        "is_dup")


SQL_DOC_SUBSTRING_PAIRS = oracle(q_doc_substring_pairs, f"""
WITH tok0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''),
                                        '[ \\t\\n\\r\\f]+'),
                     x -> x != '') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, toks FROM tok0
  WHERE doc_id % 10 = 0 AND len(toks) >= 65
),
planted AS (
  SELECT doc_id + 200000 AS doc_id,
         ['xxja', 'xxjb', 'xxjc'] || toks[6:65]
           || ['xxjd', 'xxje'] AS toks
  FROM base
),
corpus AS (SELECT * FROM tok0 UNION ALL SELECT * FROM planted),
pairs AS (SELECT doc_id AS id_a, doc_id + 200000 AS id_b FROM base),
ta AS (
  SELECT doc_id, unnest(toks[1:{_SUBSTR_CAP}]) AS tok,
         generate_subscripts(toks[1:{_SUBSTR_CAP}], 1) AS i
  FROM corpus
),
m AS (
  SELECT p.id_a, p.id_b, a.i AS i, b.i AS j
  FROM pairs p
  JOIN ta a ON a.doc_id = p.id_a
  JOIN ta b ON b.doc_id = p.id_b AND b.tok = a.tok
),
isl AS (
  SELECT id_a, id_b, i, j, i - j AS diag,
         i - row_number() OVER (PARTITION BY id_a, id_b, i - j
                                ORDER BY i) AS grp
  FROM m
),
runs AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS run,
         CAST(min(i) - 1 AS BIGINT) AS a_start,
         CAST(min(j) - 1 AS BIGINT) AS b_start
  FROM isl GROUP BY id_a, id_b, diag, grp
),
best AS (
  SELECT id_a, id_b, run, a_start, b_start,
         row_number() OVER (PARTITION BY id_a, id_b
                            ORDER BY run DESC, a_start, b_start) AS rk
  FROM runs
),
n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM corpus)
SELECT p.id_a, p.id_b, na.n AS n_a, nb.n AS n_b,
       na.n > {_SUBSTR_CAP} AS capped_a,
       nb.n > {_SUBSTR_CAP} AS capped_b,
       coalesce(b.run, 0) AS max_run,
       b.a_start, b.b_start,
       coalesce(b.run, 0) >= {_SUBSTR_MIN_RUN} AS is_dup
FROM pairs p
JOIN n na ON na.doc_id = p.id_a
JOIN n nb ON nb.doc_id = p.id_b
LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
  ON b.id_a = p.id_a AND b.id_b = p.id_b
""")




def _int_token_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer per-turn payload series for the r5 randomness/
    changepoint family: the events ``props`` column is JSON
    ``{"k": <int>}``, so the integer series is the extracted k —
    a genuinely varying int64 channel (the whitespace token count of
    a JSON object is the constant 2 — degenerate for a randomness
    test). Turns without a ``k`` are dropped after numbering, so
    turn_idx keeps counting every event; ``_INT_TOKEN_SERIES_SQL`` is
    the oracle twin."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    kv = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        kv.alias("y")).where(F.col("y").isNotNull())


_INT_TOKEN_SERIES_SQL = """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(row_number() OVER w - 1 AS double) AS t,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  QUALIFY y IS NOT NULL
)
"""


def q_ts_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Neumann successive-difference ratio over integer
    tokens-per-turn: eta = N^2*Sd2/((N-1)*SS) over exact int64
    sufficient statistics (Sd2, S, Q), Hart 1942 exact moments for
    the z, 6-dp-margin flags. ONE exchange; oracle replays the
    identical double tree."""
    from cesium_spark.operators.seriesstats import von_neumann
    out = von_neumann(_int_token_series(spark, sf_dir))
    return out.select(
        "conv_id", "n",
        _r(F.col("vn_ratio")).alias("vn_ratio"),
        _r(F.col("z")).alias("z"),
        "trending_95", "oscillating_95")


SQL_TS_VON_NEUMANN = oracle(q_ts_von_neumann, f"""{_INT_TOKEN_SERIES_SQL},
l AS (
  SELECT conv_id, y, y - lag(y) OVER (PARTITION BY conv_id
                                      ORDER BY t, turn_idx) AS d
  FROM s
),
a AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n,
         sum(y) AS sy, sum(y * y) AS q,
         coalesce(sum(d * d), 0) AS sd2
  FROM l GROUP BY conv_id
),
c AS (
  SELECT conv_id, n, n * q - sy * sy AS ss, sd2,
         cast(n AS double) AS nd
  FROM a
),
e AS (
  SELECT conv_id, n, ss,
         nd * nd * cast(sd2 AS double)
           / ((nd - 1.0) * cast(ss AS double)) AS eta,
         2.0 * nd / (nd - 1.0) AS mu,
         4.0 * nd * nd * (nd - 2.0)
           / ((nd + 1.0) * (nd - 1.0) * (nd - 1.0) * (nd - 1.0)) AS var
  FROM c
)
SELECT conv_id, n,
       round(CASE WHEN n >= 3 AND ss > 0 THEN eta END, 6) + 0.0
         AS vn_ratio,
       round(CASE WHEN n >= 3 AND ss > 0
                  THEN (eta - mu) / sqrt(var) END, 6) + 0.0 AS z,
       CASE WHEN n >= 3 AND ss > 0
            THEN round((eta - mu) / sqrt(var), 6) < -1.96 END
         AS trending_95,
       CASE WHEN n >= 3 AND ss > 0
            THEN round((eta - mu) / sqrt(var), 6) > 1.96 END
         AS oscillating_95
FROM e
""")


def q_ts_snht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNHT mean-shift changepoint (Alexandersson 1986) over the
    1e-2-gridded value channel as exact cents: T(k) =
    n*U_k^2/(k*(n-k)*V) with U_k = n*S_k - k*S and V = n*Q - S^2 all
    exact int64 — one cumsum window + a fixed double tree per row;
    argmax with the cusum 9-dp grid snap, earliest-k ties. Oracle
    replays U/V/T and the row_number argmax verbatim."""
    from cesium_spark.operators.seriesstats import snht
    base = _value_series(spark, sf_dir)
    cents = base.select(
        "conv_id", "turn_idx", "t",
        F.round(F.col("y") * 100).cast("long").alias("y"))
    out = snht(cents)
    return out.select(
        "conv_id", "n", "k_snht",
        _r(F.col("t_change")).alias("t_change"),
        _r(F.col("t_max")).alias("t_max"),
        _r(F.col("mean_left")).alias("mean_left_c"),
        _r(F.col("mean_right")).alias("mean_right_c"),
        _r(F.col("delta_mean")).alias("delta_mean_c"))


SQL_TS_SNHT = oracle(q_ts_snht, f"""{_VALUE_SERIES_SQL},
c AS (
  SELECT conv_id, t, turn_idx,
         CAST(round(y * 100) AS BIGINT) AS yc
  FROM series WHERE t IS NOT NULL AND y IS NOT NULL
),
pre AS (
  SELECT conv_id, t,
         row_number() OVER wo AS k,
         sum(yc) OVER (PARTITION BY conv_id ORDER BY t, turn_idx
                       ROWS UNBOUNDED PRECEDING) AS sk,
         CAST(count(*) OVER wa AS BIGINT) AS n,
         sum(yc) OVER wa AS s,
         sum(yc * yc) OVER wa AS q
  FROM c
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx),
         wa AS (PARTITION BY conv_id)
),
scored AS (
  SELECT conv_id, t, k, sk, n, s,
         round(cast(n AS double)
               * cast(n * sk - k * s AS double)
               * cast(n * sk - k * s AS double)
               / (cast(k AS double) * cast(n - k AS double)
                  * cast(n * q - s * s AS double)), 9) AS ts
  FROM pre
  WHERE k < n AND n * q - s * s > 0 AND n >= 3
),
best AS (
  SELECT conv_id, t, k, sk, n, s, ts,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY ts DESC, k) AS rk
  FROM scored
)
SELECT conv_id, n, CAST(k AS BIGINT) AS k_snht,
       round(t, 6) + 0.0 AS t_change,
       round(ts, 6) + 0.0 AS t_max,
       round(cast(sk AS double) / cast(k AS double), 6) + 0.0
         AS mean_left_c,
       round(cast(s - sk AS double) / cast(n - k AS double), 6) + 0.0
         AS mean_right_c,
       round(cast(s - sk AS double) / cast(n - k AS double)
             - cast(sk AS double) / cast(k AS double), 6) + 0.0
         AS delta_mean_c
FROM best WHERE rk = 1
""")


_PH_DELTA, _PH_LAM = 0.5, 12.0


def q_ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift alarms over integer tokens-per-turn
    (delta=0.5, lam=12, grid=4): the whole detector runs on the exact
    4n-scaled integer lattice - cumsum, running min, and the alarm
    compare are all int64, the two excursions divide back ONCE.
    Oracle replays the lattice arithmetic verbatim."""
    from cesium_spark.operators.seriesstats import page_hinkley
    out = page_hinkley(_int_token_series(spark, sf_dir),
                       delta=_PH_DELTA, lam=_PH_LAM, grid=4)
    return out.select(
        "conv_id", "n", "alarm_inc_idx", "alarm_dec_idx",
        _r(F.col("max_exc_inc")).alias("max_exc_inc"),
        _r(F.col("max_exc_dec")).alias("max_exc_dec"),
        "alarmed")


def _ph_sql() -> str:
    dg = int(round(_PH_DELTA * 4))
    lg = int(round(_PH_LAM * 4))
    return f"""{_INT_TOKEN_SERIES_SQL},
pre AS (
  SELECT conv_id,
         row_number() OVER wo AS k,
         sum(y) OVER (PARTITION BY conv_id ORDER BY t, turn_idx
                      ROWS UNBOUNDED PRECEDING) AS sk,
         CAST(count(*) OVER wa AS BIGINT) AS n,
         sum(y) OVER wa AS s
  FROM s
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx),
         wa AS (PARTITION BY conv_id)
),
g AS (
  SELECT conv_id, k, n,
         4 * (n * sk - k * s) - k * n * {dg} AS gi,
         -(4 * (n * sk - k * s)) - k * n * {dg} AS gd
  FROM pre
),
r AS (
  SELECT conv_id, k, n,
         gi - min(gi) OVER wr AS phi,
         gd - min(gd) OVER wr AS phd
  FROM g
  WINDOW wr AS (PARTITION BY conv_id ORDER BY k
                ROWS UNBOUNDED PRECEDING)
),
a AS (
  SELECT conv_id, max(n) AS n,
         min(CASE WHEN phi > {lg} * n THEN k END) AS alarm_inc_idx,
         min(CASE WHEN phd > {lg} * n THEN k END) AS alarm_dec_idx,
         max(phi) AS mi, max(phd) AS md
  FROM r GROUP BY conv_id
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       CAST(alarm_inc_idx AS BIGINT) AS alarm_inc_idx,
       CAST(alarm_dec_idx AS BIGINT) AS alarm_dec_idx,
       round(cast(mi AS double) / cast(n * 4 AS double), 6) + 0.0
         AS max_exc_inc,
       round(cast(md AS double) / cast(n * 4 AS double), 6) + 0.0
         AS max_exc_dec,
       alarm_inc_idx IS NOT NULL OR alarm_dec_idx IS NOT NULL
         AS alarmed
FROM a
"""


oracle(q_ts_page_hinkley, _ph_sql())




def q_ts_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall turning-points test over the integer JSON-k payload
    series: exact integer peak/trough counts (strict-inequality tie
    rule), classic E = 2(n-2)/3 and Var = (16n-29)/90 moments, 6-dp
    margin flags. ONE exchange; full-value oracle replays the
    lag/lead compares and the fixed double tree verbatim."""
    from cesium_spark.operators.seriesstats import turning_points
    out = turning_points(_int_token_series(spark, sf_dir))
    return out.select(
        "conv_id", "n", "n_turning",
        _r(F.col("expected")).alias("expected"),
        _r(F.col("z")).alias("z"),
        "trending_95", "alternating_95")


SQL_TS_TURNING_POINTS = oracle(q_ts_turning_points, f"""{_INT_TOKEN_SERIES_SQL},
l AS (
  SELECT conv_id, y,
         lag(y) OVER w2 AS yp, lead(y) OVER w2 AS yn
  FROM s
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
a AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
                        AND ((y > yp AND y > yn)
                             OR (y < yp AND y < yn))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
  FROM l GROUP BY conv_id
)
SELECT conv_id, n, n_turning,
       round(CASE WHEN n >= 4
                  THEN 2.0 * (cast(n AS double) - 2.0) / 3.0 END, 6)
         + 0.0 AS expected,
       round(CASE WHEN n >= 4 THEN
             (cast(n_turning AS double)
              - 2.0 * (cast(n AS double) - 2.0) / 3.0)
             / sqrt((16.0 * cast(n AS double) - 29.0) / 90.0) END, 6)
         + 0.0 AS z,
       CASE WHEN n >= 4 THEN
            round((cast(n_turning AS double)
                   - 2.0 * (cast(n AS double) - 2.0) / 3.0)
                  / sqrt((16.0 * cast(n AS double) - 29.0) / 90.0), 6)
            < -1.96 END AS trending_95,
       CASE WHEN n >= 4 THEN
            round((cast(n_turning AS double)
                   - 2.0 * (cast(n AS double) - 2.0) / 3.0)
                  / sqrt((16.0 * cast(n AS double) - 29.0) / 90.0), 6)
            > 1.96 END AS alternating_95
FROM a
""")




_ESD_K = 3


def q_ts_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner 1983) 3-round outlier ladder over the
    integer JSON-k payload series: each round recomputes (n, S, Q)
    after removing the previous extreme, so masking cannot hide a
    second outlier. Exact int64 argmaxes (earliest ties), grubbs
    fixed tree per round; oracle unrolls the three rounds as CTEs
    with the identical row_number argmax (the kcore unroll rule)."""
    from cesium_spark.operators.seriesstats import esd_outliers
    out = esd_outliers(_int_token_series(spark, sf_dir), k=_ESD_K)
    sel = ["conv_id", "n"]
    for i in range(1, _ESD_K + 1):
        sel += [_r(F.col(f"r_{i}")).alias(f"r_{i}"),
                F.col(f"turn_{i}")]
    return out.select(*sel)


def _esd_sql(k=_ESD_K) -> str:
    # round i: stats over rem_{i-1}, argmax by (-dev, turn), remove
    parts = ["rem_0 AS (SELECT conv_id, turn_idx, y FROM s)"]
    outs = []
    for i in range(1, k + 1):
        parts.append(f"""st_{i} AS (
  SELECT conv_id, turn_idx, y,
         CAST(count(*) OVER wa AS BIGINT) AS n,
         sum(y) OVER wa AS sy, sum(y * y) OVER wa AS q
  FROM rem_{i - 1}
  WINDOW wa AS (PARTITION BY conv_id)
),
rk_{i} AS (
  SELECT conv_id, turn_idx, y, n, sy, q,
         abs(n * y - sy) AS dev,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY abs(n * y - sy) DESC, turn_idx)
           AS rnk
  FROM st_{i}
),
pick_{i} AS (
  SELECT conv_id, CAST(n AS BIGINT) AS n_{i},
         CASE WHEN n >= 3 AND n * q - sy * sy > 0 THEN
              round(cast(dev AS double)
                    / sqrt(cast(n * q - sy * sy AS double)), 6) + 0.0
         END AS r_{i},
         CASE WHEN n >= 3 AND n * q - sy * sy > 0
              THEN CAST(turn_idx AS BIGINT) END AS turn_{i}
  FROM rk_{i} WHERE rnk = 1
)""")
        outs.append(f"pick_{i}")
        if i < k:
            parts.append(f"""rem_{i} AS (
  SELECT r.conv_id, r.turn_idx, r.y
  FROM rem_{i - 1} r
  LEFT JOIN pick_{i} p
    ON p.conv_id = r.conv_id AND p.turn_{i} = r.turn_idx
  WHERE p.conv_id IS NULL
)""")
    joins = "\n".join(
        f"LEFT JOIN pick_{i} USING (conv_id)" for i in range(2, k + 1))
    cols = ", ".join(f"r_{i}, turn_{i}" for i in range(1, k + 1))
    return (f"{_INT_TOKEN_SERIES_SQL.rstrip()},\n"
            + ",\n".join(parts)
            + f"\nSELECT conv_id, n_1 AS n, {cols}\n"
            + f"FROM pick_1\n{joins}\n")


oracle(q_ts_esd, _esd_sql())




_THETA_H = 3


def q_ts_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecasts (Assimakopoulos & Nikolopoulos 2000, the
    M3 winner) over the integer JSON-k payload series: exact-integer
    OLS theta-0 line, theta-2 line smoothed by SES(alpha=1/2, dyadic)
    as an ORDERED reverse-time fold, h-step forecast = the average of
    trend extrapolation and SES level. Oracle replays the identical
    fold with the identical window order."""
    from cesium_spark.operators.smoothing import theta_forecast
    base = _int_token_series(spark, sf_dir).withColumn(
        "channel", F.lit("k"))
    out = theta_forecast(base, h=_THETA_H)
    sel = ["conv_id", "n",
           _r(F.col("intercept")).alias("intercept"),
           _r(F.col("slope")).alias("slope"),
           _r(F.col("ses_level")).alias("ses_level")]
    for i in range(1, _THETA_H + 1):
        sel.append(_r(F.col(f"fc_{i}")).alias(f"fc_{i}"))
    return out.select(*sel)


def _theta_sql(h=_THETA_H) -> str:
    fc_cols = ",\n       ".join(
        f"round(CASE WHEN n >= 3 AND b_den > 0 THEN "
        f"((a + b * cast(n + {i} AS double)) + ses) / 2.0 END, 6) "
        f"+ 0.0 AS fc_{i}" for i in range(1, h + 1))
    return f"""{_INT_TOKEN_SERIES_SQL.rstrip()},
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY t, turn_idx) AS i,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM s
),
st AS (
  SELECT conv_id, y, i, n,
         sum(y) OVER wa AS sy,
         sum(i * y) OVER wa AS siy,
         sum(i * i) OVER wa AS sii,
         sum(i) OVER wa AS si
  FROM r WINDOW wa AS (PARTITION BY conv_id)
),
ab AS (
  SELECT conv_id, y, i, n, sy, si, siy, sii,
         CAST(n * siy - si * sy AS BIGINT) AS b_num,
         CAST(n * sii - si * si AS BIGINT) AS b_den
  FROM st
),
zed AS (
  SELECT conv_id, i, n, b_num, b_den, sy, si,
         cast(b_num AS double) / cast(b_den AS double) AS b,
         (cast(sy AS double)
          - cast(b_num AS double) / cast(b_den AS double)
            * cast(si AS double)) / cast(n AS double) AS a,
         2.0 * cast(y AS double)
           - ((cast(sy AS double)
               - cast(b_num AS double) / cast(b_den AS double)
                 * cast(si AS double)) / cast(n AS double)
              + cast(b_num AS double) / cast(b_den AS double)
                * cast(i AS double)) AS z
  FROM ab
),
fold AS (
  SELECT conv_id, i, n, a, b, b_den,
         sum((CASE WHEN i = 1
                   THEN power(0.5, cast(n - 1 AS double))
                   ELSE power(0.5, cast(n - i + 1 AS double)) END) * z)
           OVER (PARTITION BY conv_id ORDER BY i DESC
                 ROWS UNBOUNDED PRECEDING) AS ses_cum
  FROM zed
)
SELECT conv_id, n,
       round(CASE WHEN n >= 3 AND b_den > 0 THEN a END, 6) + 0.0
         AS intercept,
       round(CASE WHEN n >= 3 AND b_den > 0 THEN b END, 6) + 0.0
         AS slope,
       round(CASE WHEN n >= 3 AND b_den > 0 THEN ses END, 6) + 0.0
         AS ses_level,
       {fc_cols}
FROM (SELECT conv_id, n, a, b, b_den, ses_cum AS ses
      FROM fold WHERE i = 1)
"""


oracle(q_ts_theta, _theta_sql())




_TBT_H = 3


def q_ts_theta_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout backtest of the Theta forecaster (last 3 turns held
    out, MASE + sMAPE per Hyndman & Koehler 2006): MASE < 1 means
    Theta beats the in-sample naive-1 forecast - the publishable
    forecast-accuracy number. The naive-1 denominator is an exact
    int64 aggregate over the training prefix; oracle replays the
    prefix theta fit, the holdout join, and both metric trees."""
    from cesium_spark.operators.smoothing import theta_backtest
    base = _int_token_series(spark, sf_dir).withColumn(
        "channel", F.lit("k"))
    out = theta_backtest(base, h=_TBT_H)
    return out.select(
        "conv_id", "n_train", "n_test",
        _r(F.col("mae")).alias("mae"),
        _r(F.col("mase")).alias("mase"),
        _r(F.col("smape")).alias("smape"))


def _theta_backtest_sql(h=_TBT_H) -> str:
    return f"""{_INT_TOKEN_SERIES_SQL.rstrip()},
rk AS (
  SELECT conv_id, y, t, turn_idx,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY t, turn_idx) AS gi,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS cnt
  FROM s
),
tr AS (SELECT conv_id, y, t, turn_idx FROM rk WHERE gi <= cnt - {h}),
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY t, turn_idx) AS i,
         CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM tr
),
st AS (
  SELECT conv_id, y, i, n,
         sum(y) OVER wa AS sy,
         sum(i * y) OVER wa AS siy,
         sum(i * i) OVER wa AS sii,
         sum(i) OVER wa AS si
  FROM r WINDOW wa AS (PARTITION BY conv_id)
),
ab AS (
  SELECT conv_id, y, i, n, sy, si,
         CAST(n * siy - si * sy AS BIGINT) AS b_num,
         CAST(n * sii - si * si AS BIGINT) AS b_den
  FROM st
),
zed AS (
  SELECT conv_id, i, n, b_num, b_den,
         cast(b_num AS double) / cast(b_den AS double) AS b,
         (cast(sy AS double)
          - cast(b_num AS double) / cast(b_den AS double)
            * cast(si AS double)) / cast(n AS double) AS a,
         2.0 * cast(y AS double)
           - ((cast(sy AS double)
               - cast(b_num AS double) / cast(b_den AS double)
                 * cast(si AS double)) / cast(n AS double)
              + cast(b_num AS double) / cast(b_den AS double)
                * cast(i AS double)) AS z
  FROM ab
),
fold AS (
  SELECT conv_id, i, n, a, b, b_den,
         sum((CASE WHEN i = 1
                   THEN power(0.5, cast(n - 1 AS double))
                   ELSE power(0.5, cast(n - i + 1 AS double)) END) * z)
           OVER (PARTITION BY conv_id ORDER BY i DESC
                 ROWS UNBOUNDED PRECEDING) AS ses_cum
  FROM zed
),
fit AS (
  SELECT conv_id, n, a, b, b_den, ses_cum AS ses
  FROM fold WHERE i = 1 AND n >= 3 AND b_den > 0
),
fc AS (
  SELECT f.conv_id, f.n, st.step,
         ((f.a + f.b * cast(f.n + st.step AS double)) + f.ses) / 2.0
           AS fcast
  FROM fit f, (SELECT unnest(generate_series(1, {h})) AS step) st
),
hold AS (
  SELECT conv_id, CAST(gi - (cnt - {h}) AS BIGINT) AS step,
         y AS act
  FROM rk WHERE gi > cnt - {h}
),
naive AS (
  SELECT conv_id,
         CAST(sum(ad) AS BIGINT) AS sad,
         CAST(count(ad) AS BIGINT) AS m1
  FROM (SELECT conv_id,
               abs(y - lag(y) OVER (PARTITION BY conv_id
                                    ORDER BY t, turn_idx)) AS ad
        FROM tr)
  GROUP BY conv_id
),
scored AS (
  SELECT f.conv_id, f.n AS n_train,
         count(*) AS n_test_raw,
         CAST(count(*) AS BIGINT) AS n_test,
         sum(abs(cast(h.act AS double) - f.fcast)) AS sae,
         avg(CASE WHEN abs(cast(h.act AS double)) + abs(f.fcast) > 0
                  THEN 200.0 * abs(cast(h.act AS double) - f.fcast)
                       / (abs(cast(h.act AS double)) + abs(f.fcast))
             END) AS smape
  FROM fc f JOIN hold h ON h.conv_id = f.conv_id AND h.step = f.step
  GROUP BY f.conv_id, f.n
)
SELECT s.conv_id, s.n_train, s.n_test,
       round(s.sae / cast(s.n_test AS double), 6) + 0.0 AS mae,
       round(CASE WHEN n.m1 > 0 AND n.sad > 0 THEN
             (s.sae / cast(s.n_test AS double))
             / (cast(n.sad AS double) / cast(n.m1 AS double)) END, 6)
         + 0.0 AS mase,
       round(s.smape, 6) + 0.0 AS smape
FROM scored s LEFT JOIN naive n ON n.conv_id = s.conv_id
"""


oracle(q_ts_theta_backtest, _theta_backtest_sql())




def q_ts_stream_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PromQL rate() under the driver gate: the value series
    is split into 3 turn-RANGE files (the in-order append-log ingest
    shape) and replayed with maxFilesPerTrigger=1, so increments REALLY
    cross micro-batch boundaries through the one-int64-per-key carry.
    Each batch emits per-bucket partial lattice sums; the final fold
    is a plain SUM per bucket (mergeable, like the tier fold), so the
    result equals the batch counter_rate(grid=100) bit-for-bit and the
    oracle is ts_counter_rate_1h's SQL verbatim."""
    import os
    import tempfile

    from cesium_spark.streaming.stateful import stateful_counter_rate

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_stream_rate_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    # turn-RANGE thirds: per-key event order is preserved ACROSS files
    hi = s.agg(F.max("turn_idx")).collect()[0][0] or 0
    cuts = (hi // 3 + 1, 2 * (hi // 3 + 1))
    parts = [s.where(F.col("turn_idx") < cuts[0]),
             s.where((F.col("turn_idx") >= cuts[0])
                     & (F.col("turn_idx") < cuts[1])),
             s.where(F.col("turn_idx") >= cuts[1])]
    for i, part in enumerate(parts):
        part.coalesce(1).write.mode("append").parquet(
            f"{base}/src/batch={i}")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{base}/src/batch=*"))
    out = stateful_counter_rate(stream, tier="1h", grid=100)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", f"{base}/out")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_counter_rate: availableNow stream did not "
            "finish within 300s")
    res = spark.read.parquet(f"{base}/out")
    tot = (res.groupBy("conv_id", "bucket")
           .agg(F.sum("inc_units").alias("__iu"),
                F.sum("n_resets").alias("n_resets"),
                F.sum("n").alias("n"))
           .where(F.col("n") > 0))
    inc = F.col("__iu").cast("double") / F.lit(100.0)
    return tot.select(
        "conv_id",
        F.date_format("bucket", TS_FMT).alias("bucket"),
        _r(inc).alias("increase"),
        _r(inc / F.lit(3600.0)).alias("rate_per_s"),
        F.col("n_resets").cast("long").alias("n_resets"),
        F.col("n").cast("long").alias("n"))


oracle(q_ts_stream_counter_rate, SQL_TS_COUNTER_RATE_1H)


def q_rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix (the classic product-analytics
    rollup): users grouped by first-activity ISO week, distinct active
    users per (cohort_week, week_offset). Join-free — the cohort is a
    min() window over the user's own partition, the (user, week)
    dedup's clustering is SATISFIED by that window's partitioning
    (exchange elided), so the whole matrix is two shrinking exchanges.
    Integer counts → exact, bit-stable; full-value oracle."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    wk = F.date_trunc("week", F.col("ts"))
    cohort = F.date_trunc("week", F.min("ts").over(w))
    return (
        ev.select(F.col("user_id"), wk.alias("wk"), cohort.alias("cw"))
        .distinct()
        .groupBy("cw", ((F.datediff(F.col("wk"), F.col("cw")) / 7)
                        .cast("long").alias("week_offset")))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(F.date_format("cw", TS_FMT).alias("cohort_week"),
                "week_offset",
                F.col("n_users").cast("long").alias("n_users"))
    )


SQL_REL_RETENTION = oracle(q_rel_retention_cohorts, f"""
WITH a AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS cw
  FROM events
), d AS (SELECT DISTINCT user_id, wk, cw FROM a)
SELECT strftime(cw, '{DUCK_TS_FMT}') AS cohort_week,
       cast(date_diff('day', cw, wk) / 7 AS bigint) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM d GROUP BY cw, date_diff('day', cw, wk) / 7
""")


_JL_DIM, _JL_OUT = 64, 16


def q_ts_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule–Walker AR(1) fit per conversation over the value series:
    φ̂ = Σ(yₜ−ȳ)(yₜ₋₁−ȳ)/Σ(yₜ−ȳ)², intercept ȳ(1−φ̂), innovation
    variance (1−φ̂²)·var_pop, one-step forecast ȳ+φ̂(y_last−ȳ). One
    window + one agg, ONE exchange; degenerate series (constant /
    single-point) come back NULL via try_divide. Full-value oracle:
    the estimator is restated term-for-term in DuckDB (same windows,
    same max_by-on-unique-turn_idx last-value pick)."""
    from cesium_spark.operators.seriesstats import ar1_fit
    out = ar1_fit(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        _r(F.col("ybar")).alias("ybar"),
        _r(F.col("phi")).alias("phi"),
        _r(F.col("intercept")).alias("intercept"),
        _r(F.col("sigma2")).alias("sigma2"),
        _r(F.col("forecast")).alias("forecast"))


SQL_TS_AR1 = oracle(q_ts_ar1, f"""{_VALUE_SERIES_SQL}
, l AS (
  SELECT conv_id, turn_idx, y,
         lag(y) OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           AS prev,
         avg(y) OVER (PARTITION BY conv_id) AS ybar
  FROM series
  WHERE y IS NOT NULL AND t IS NOT NULL
),
a AS (
  SELECT conv_id, count(*) AS n, any_value(ybar) AS ybar,
         sum(CASE WHEN prev IS NOT NULL
                  THEN (y - ybar) * (prev - ybar) END) AS num,
         sum((y - ybar) * (y - ybar)) AS den,
         var_pop(y) AS v,
         max_by(y, turn_idx) AS ylast
  FROM l GROUP BY conv_id
)
SELECT conv_id, n, round(ybar, 6) + 0.0 AS ybar,
       round(num / nullif(den, 0), 6) + 0.0 AS phi,
       round(ybar * (1 - num / nullif(den, 0)), 6) + 0.0 AS intercept,
       round((1 - (num / nullif(den, 0)) * (num / nullif(den, 0))) * v,
             6) + 0.0 AS sigma2,
       round(ybar + (num / nullif(den, 0)) * (ylast - ybar), 6) + 0.0
         AS forecast
FROM a
""")


def q_ts_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global first-order Markov transition matrix of the role
    sequence (lead window + count agg + row-probability window —
    three shrinking exchanges, no join). Counts integer-exact, p an
    exact ratio of them; full-value oracle."""
    from cesium_spark.operators.sequences import role_transitions
    out = role_transitions(events_transcripts(spark, sf_dir))
    return out.select(
        "role", "next_role",
        F.col("n_trans").cast("long").alias("n_trans"),
        F.col("n_from").cast("long").alias("n_from"),
        _r(F.col("p")).alias("p"))


SQL_TS_ROLE_TRANSITIONS = oracle(q_ts_role_transitions, """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx, event_type AS role
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT role,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS next_role
  FROM t
)
SELECT role, next_role, count(*) AS n_trans,
       CAST(sum(count(*)) OVER (PARTITION BY role) AS BIGINT) AS n_from,
       round(count(*) / (sum(count(*)) OVER (PARTITION BY role)), 6)
         + 0.0 AS p
FROM p WHERE role IS NOT NULL AND next_role IS NOT NULL
GROUP BY role, next_role
""")


_FUNNEL_STEPS = ("view", "click", "purchase")


def q_ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per conversation via the
    single-fold engine path (ONE exchange, no K-level self-join). The
    oracle computes the same semantics through the INDEPENDENT
    textbook K-level min-chain (one CTE per step, strictly-after
    join) — a semantic check, not a restatement."""
    from cesium_spark.operators.sequences import funnel
    out = funnel(events_transcripts(spark, sf_dir), list(_FUNNEL_STEPS))
    return out.select(
        "conv_id", F.col("depth").cast("int").alias("depth"),
        *[F.col(f"step_{i}").cast("long").alias(f"step_{i}")
          for i in range(1, len(_FUNNEL_STEPS) + 1)])


SQL_TS_FUNNEL = oracle(q_ts_funnel, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx, event_type AS role
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s1 AS (
  SELECT conv_id,
         min(CASE WHEN role = '{_FUNNEL_STEPS[0]}' THEN turn_idx END)
           AS st
  FROM t GROUP BY conv_id
),
s2 AS (
  SELECT t.conv_id, min(t.turn_idx) AS st
  FROM t JOIN s1 ON t.conv_id = s1.conv_id
  WHERE t.role = '{_FUNNEL_STEPS[1]}' AND t.turn_idx > s1.st
  GROUP BY t.conv_id
),
s3 AS (
  SELECT t.conv_id, min(t.turn_idx) AS st
  FROM t JOIN s2 ON t.conv_id = s2.conv_id
  WHERE t.role = '{_FUNNEL_STEPS[2]}' AND t.turn_idx > s2.st
  GROUP BY t.conv_id
)
SELECT c.conv_id,
       cast(CASE WHEN s3.st IS NOT NULL THEN 3
                 WHEN s2.st IS NOT NULL THEN 2
                 WHEN s1.st IS NOT NULL THEN 1 ELSE 0 END AS int)
         AS depth,
       s1.st AS step_1, s2.st AS step_2, s3.st AS step_3
FROM (SELECT DISTINCT conv_id FROM t) c
LEFT JOIN s1 ON c.conv_id = s1.conv_id
LEFT JOIN s2 ON c.conv_id = s2.conv_id
LEFT JOIN s3 ON c.conv_id = s3.conv_id
""")


def q_doc_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram entropy + type/token + hapax diversity (two
    shrinking two-phase aggregates, no join). Cancellation-free
    H = log2(n) − Σc·log2(c)/n restated identically in the oracle;
    zero-token docs keep a row (n_tokens=0, NULL entropy)."""
    from cesium_spark.operators.textstats import lexical_stats
    _prep(spark)
    out = lexical_stats(_read(spark, sf_dir, "documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        _r(F.col("entropy_bits")).alias("entropy_bits"),
        _r(F.col("type_token_ratio")).alias("type_token_ratio"),
        _r(F.col("hapax_frac")).alias("hapax_frac"))


SQL_DOC_LEXICAL = oracle(q_doc_lexical, r"""
WITH tok AS (
  SELECT doc_id, nullif(t, '') AS token
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(coalesce(text, '')),
                                         '[ \t\n\r\f]+')) AS t
        FROM documents)
),
c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         cast(coalesce(sum(c) FILTER (WHERE token IS NOT NULL), 0)
              AS bigint) AS n_tokens,
         cast(count(*) FILTER (WHERE token IS NOT NULL) AS bigint)
           AS n_types,
         sum(CASE WHEN token IS NOT NULL AND c = 1 THEN 1 ELSE 0 END)
           AS hapax,
         sum(CASE WHEN token IS NOT NULL THEN c * log2(c) END) AS clog
  FROM c GROUP BY 1)
SELECT doc_id, n_tokens, n_types,
       round(CASE WHEN n_tokens > 0
                  THEN log2(n_tokens) - clog / n_tokens END, 6) + 0.0
         AS entropy_bits,
       round(CASE WHEN n_tokens > 0
                  THEN n_types / cast(n_tokens AS double) END, 6) + 0.0
         AS type_token_ratio,
       round(CASE WHEN n_types > 0
                  THEN hapax / cast(n_types AS double) END, 6) + 0.0
         AS hapax_frac
FROM a
""")


_UNPIVOT_FEATS = ("mean", "std", "amplitude")


def q_ts_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot_wide's inverse: melt the daily wide feature matrix back
    to (feature, value) long shape via the native stack generator —
    ZERO exchanges beyond the rollup's own aggregate (pure per-row
    expansion in codegen). Values are rounded BEFORE the melt, so the
    oracle is the rounded long shape directly (one SELECT per
    feature, UNION ALL)."""
    from cesium_spark.operators.rollup import unpivot_long
    s = _value_series(spark, sf_dir)
    m = moments_derived(rollup_moments(s, "1d"))
    wide = m.select(
        "conv_id", "channel", "tier",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        *[_r(F.col(f)).alias(f) for f in _UNPIVOT_FEATS])
    return unpivot_long(wide, _UNPIVOT_FEATS)


SQL_TS_UNPIVOT = oracle(q_ts_unpivot, _VALUE_SERIES_SQL + f"""
, w AS (
  SELECT conv_id, 'value' AS channel, '1d' AS tier,
         strftime(date_trunc('day', ts), '{DUCK_TS_FMT}')
           AS window_start,
         round(avg(y), 6) + 0.0 AS mean,
         round(sqrt(greatest(avg(y*y) - avg(y)*avg(y), 0)), 6) + 0.0
           AS std,
         round((max(y) - min(y)) / 2, 6) + 0.0 AS amplitude
  FROM series GROUP BY 1, 2, 3, 4
)
SELECT conv_id, channel, tier, window_start, 'mean' AS feature,
       mean AS value FROM w
UNION ALL
SELECT conv_id, channel, tier, window_start, 'std', std FROM w
UNION ALL
SELECT conv_id, channel, tier, window_start, 'amplitude', amplitude
FROM w
""")


_Z_LOS = [0.0, 1704067200.0]           # value ≥ 0, ts ≥ 2024-01-01
_Z_HIS = [500.0, 1706745600.0]         # value < 500, ts < 2024-02-01
_Z_BOX = {"value": (50.0, 120.0),
          "sec": (1704844800.0, 1705276800.0)}  # Jan 10 .. Jan 15


def q_ts_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout end-to-end: events written
    partitionBy(Morton cell of (value, epoch-second)) with rows
    Morton-sorted inside cells, then a rectangle query through the
    cell IN-list + exact residual filter. The oracle is the PLAIN
    full-scan filter — proving the pruned read returns exactly the
    unpruned answer (pruning evidence itself is pytest scan-metric
    asserted)."""
    import tempfile

    from cesium_spark.sources.layout import read_box, write_zordered

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_zorder_")
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("string").alias("conv_id"),
        "ts", "value", F.col("ts").cast("double").alias("sec"))
    write_zordered(ev, f"{base}/tbl", ["value", "sec"],
                   _Z_LOS, _Z_HIS, cell_bits=3)
    got = read_box(spark, f"{base}/tbl", _Z_BOX, ["value", "sec"],
                   _Z_LOS, _Z_HIS, cell_bits=3)
    return got.select(
        "event_id", "conv_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        _r(F.col("value")).alias("value"))


SQL_TS_ZORDER_BOX = oracle(q_ts_zorder_box, f"""
SELECT event_id, cast(user_id AS varchar) AS conv_id,
       strftime(ts, '{DUCK_TS_FMT}') AS ts,
       round(value, 6) + 0.0 AS value
FROM events
WHERE value BETWEEN {_Z_BOX['value'][0]} AND {_Z_BOX['value'][1]}
  AND epoch(ts) BETWEEN {_Z_BOX['sec'][0]} AND {_Z_BOX['sec'][1]}
""")


_LM_ALPHA = 0.5


def q_doc_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality filter (in-sample add-α model):
    per-doc cross-entropy and ppl through one smoothed closed form —
    unseen histories degrade to exactly 1/V with no special-case
    branch. Sub-2-token docs keep a NULL row. Full-value oracle
    restates the LM training, smoothing, and scoring in SQL."""
    from cesium_spark.operators.textstats import lm_perplexity
    _prep(spark)
    out = lm_perplexity(_read(spark, sf_dir, "documents"),
                        alpha=_LM_ALPHA)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        _r(F.col("cross_entropy_bits")).alias("cross_entropy_bits"),
        _r(F.col("ppl")).alias("ppl"))


SQL_DOC_LM_PPL = oracle(q_doc_lm_ppl, rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                                        '[ \t\n\r\f]+'),
                     x -> x != '') AS l
  FROM documents
),
tt AS (SELECT unnest(l) AS w1 FROM d),
uni AS (SELECT w1, count(*) AS c1 FROM tt GROUP BY 1),
v AS (SELECT cast(count(*) AS double) AS V FROM uni),
tb AS (SELECT unnest(list_zip(l[:-2], l[2:])) AS z FROM d),
cnt AS (
  SELECT z[1] AS w1, z[2] AS w2, count(*) AS c12
  FROM tb GROUP BY 1, 2
),
db AS (
  SELECT doc_id, z[1] AS w1, z[2] AS w2
  FROM (SELECT doc_id, unnest(list_zip(l[:-2], l[2:])) AS z FROM d)
),
dm AS (
  SELECT doc_id, w1, w2, count(*) AS m FROM db GROUP BY 1, 2, 3
),
sc AS (
  SELECT doc_id, sum(m) AS n_bigrams,
         sum(-m * log2((coalesce(c12, 0) + {_LM_ALPHA})
                       / (coalesce(c1, 0) + {_LM_ALPHA} * V))) AS hsum
  FROM dm
  LEFT JOIN cnt USING (w1, w2)
  LEFT JOIN uni USING (w1)
  CROSS JOIN v
  GROUP BY 1
)
SELECT d.doc_id,
       cast(coalesce(sc.n_bigrams, 0) AS bigint) AS n_bigrams,
       round(sc.hsum / sc.n_bigrams, 6) + 0.0 AS cross_entropy_bits,
       round(pow(2.0, sc.hsum / sc.n_bigrams), 6) + 0.0 AS ppl
FROM d LEFT JOIN sc USING (doc_id)
""")


_DRIFT_EDGES = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]
_DRIFT_SPLIT = "2024-01-16 00:00:00"
_DRIFT_ALPHA = 0.5


def q_ts_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI / KL / total-variation drift of the value distribution
    between the pre- and post-2024-01-16 windows on a fixed bucket
    grid with Laplace smoothing (two shrinking exchanges, no join;
    absent buckets enter through the closed-form term, no spine
    join). Full-value oracle restates the smoothed closed form."""
    from cesium_spark.operators.seriesstats import drift_psi
    out = drift_psi(_value_series(spark, sf_dir), _DRIFT_SPLIT,
                    _DRIFT_EDGES, alpha=_DRIFT_ALPHA)
    return out.select(
        "channel", "n_ref", "n_cur",
        _r(F.col("psi")).alias("psi"),
        _r(F.col("kl")).alias("kl"),
        _r(F.col("tvd")).alias("tvd"))


def _drift_sql() -> str:
    edges = _DRIFT_EDGES
    nb = len(edges) + 1
    ab = _DRIFT_ALPHA * nb
    chain = "CASE " + " ".join(
        f"WHEN y <= {e} THEN {i}" for i, e in enumerate(edges)) \
        + f" ELSE {len(edges)} END"
    p = f"((c_ref + {_DRIFT_ALPHA}) / (n_ref + {ab}))"
    q = f"((c_cur + {_DRIFT_ALPHA}) / (n_cur + {ab}))"
    p0 = f"({_DRIFT_ALPHA} / (n_ref + {ab}))"
    q0 = f"({_DRIFT_ALPHA} / (n_cur + {ab}))"
    return f"""{_VALUE_SERIES_SQL}
, rows_ AS (
  SELECT {chain} AS bucket,
         CASE WHEN ts >= TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END
           AS cur
  FROM series WHERE y IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT bucket, sum(1 - cur) AS c_ref, sum(cur) AS c_cur
  FROM rows_ GROUP BY 1
),
tot AS (
  SELECT sum(c_ref) AS n_ref, sum(c_cur) AS n_cur,
         count(*) AS present
  FROM c
)
SELECT 'value' AS channel,
       cast(n_ref AS bigint) AS n_ref, cast(n_cur AS bigint) AS n_cur,
       round(sum(({p} - {q}) * ln({p} / {q}))
             + ({nb} - any_value(present))
               * any_value(({p0} - {q0}) * ln({p0} / {q0})), 6) + 0.0
         AS psi,
       round(sum({p} * ln({p} / {q}))
             + ({nb} - any_value(present))
               * any_value({p0} * ln({p0} / {q0})), 6) + 0.0 AS kl,
       round((sum(abs({p} - {q}))
              + ({nb} - any_value(present)) * any_value(abs({p0} - {q0})))
             / 2.0, 6) + 0.0 AS tvd
FROM c, tot
GROUP BY n_ref, n_cur
"""


oracle(q_ts_drift, _drift_sql())


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 (seeded Achlioptas ±1 matrix,
    1/√16 = 0.25 exact): pure codegen projection, zero shuffles —
    the dim-reduction pre-step for LSH/IVF at 10^9 vectors. Each
    coordinate is a native aggregate left-fold; the oracle restates
    the identical fold as an explicit left-associated sum, so values
    are bit-replayable before the shared 6-dp round."""
    from cesium_spark.operators.similarity import random_projection
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    out = random_projection(embs, _JL_DIM, _JL_OUT)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_r(F.col(f"p{j}")).alias(f"p{j}") for j in range(_JL_OUT)])


def _jl_sql() -> str:
    from cesium_spark.operators.similarity import _jl_signs
    signs = _jl_signs(_JL_DIM, _JL_OUT)
    outs = []
    for j in range(_JL_OUT):
        # v[i] is float32 in parquet — cast the LIST to DOUBLE[] up
        # front (cosine_topk oracle precedent) or DuckDB runs the fold
        # in float32 and every 6-dp round lands on a float32 repr
        terms = " + ".join(
            f"v[{i + 1}] * {signs[i, j]}" for i in range(_JL_DIM))
        outs.append(f"round(({terms}) * 0.25, 6) + 0.0 AS p{j}")
    cols = ",\n       ".join(outs)
    return ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            f"FROM embeddings)\nSELECT vec_id,\n       {cols}\nFROM e")


oracle(q_emb_random_projection, _jl_sql())


_BURST_GAP = 14400.0
_BURST_MIN_RUN = 2


def q_ts_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst extraction: maximal runs of ≥ 2 consecutive inter-turn
    gaps ≤ 4 h per conversation (rapid-fire segments the cadence
    moments blur away). Gaps are exact double differences and the
    threshold compare is one exact comparison — no grid; islands are
    integer arithmetic. ONE exchange. Full-value oracle restates the
    islands verbatim."""
    from cesium_spark.operators.sequences import burst_intervals
    out = burst_intervals(_value_series(spark, sf_dir),
                          gap_thresh_s=_BURST_GAP,
                          min_run=_BURST_MIN_RUN)
    return out.select(
        "conv_id",
        F.col("start_turn_idx").cast("int").alias("start_turn_idx"),
        F.col("end_turn_idx").cast("int").alias("end_turn_idx"),
        F.col("n_turns").cast("long").alias("n_turns"),
        _r(F.col("t_start")).alias("t_start"),
        _r(F.col("t_end")).alias("t_end"),
        _r(F.col("duration_s")).alias("duration_s"))


SQL_TS_BURSTS = oracle(q_ts_bursts, f"""{_VALUE_SERIES_SQL}
, p AS (
  SELECT conv_id, turn_idx, t,
         lag(t) OVER w AS pt, lag(turn_idx) OVER w AS pi
  FROM series WHERE t IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
f AS (
  SELECT conv_id, turn_idx, t, pt, pi,
         CASE WHEN pt IS NULL THEN NULL
              ELSE (t - pt) <= {_BURST_GAP} END AS hot
  FROM p
),
g AS (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
         - row_number() OVER (PARTITION BY conv_id, hot
                              ORDER BY t, turn_idx) AS grp
  FROM f
),
b AS (
  SELECT conv_id,
         cast(min(pi) AS int) AS start_turn_idx,
         cast(max(turn_idx) AS int) AS end_turn_idx,
         cast(count(*) + 1 AS bigint) AS n_turns,
         min(pt) AS t_start, max(t) AS t_end
  FROM g WHERE hot GROUP BY conv_id, grp
)
SELECT conv_id, start_turn_idx, end_turn_idx, n_turns,
       round(t_start, 6) + 0.0 AS t_start,
       round(t_end, 6) + 0.0 AS t_end,
       round(t_end - t_start, 6) + 0.0 AS duration_s
FROM b WHERE n_turns >= {_BURST_MIN_RUN + 1}
""")


_ZIPF_RANKS = 100


def q_doc_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health check: OLS fit of ln(count) on ln(rank)
    over the top-100 vocabulary (Zipf slope ≈ −1 on natural
    language). Integer counts + token-ASC tie-break make the point
    cloud engine-identical; regr_* compared on the 6-dp grid."""
    from cesium_spark.operators.textstats import zipf_fit
    _prep(spark)
    out = zipf_fit(_read(spark, sf_dir, "documents"),
                   max_rank=_ZIPF_RANKS)
    return out.select(
        "n_ranks", _r(F.col("slope")).alias("slope"),
        _r(F.col("intercept")).alias("intercept"),
        _r(F.col("r2")).alias("r2"))


SQL_DOC_ZIPF = oracle(q_doc_zipf, rf"""
WITH tok AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')),
                              '[ \t\n\r\f]+'), x -> x != '')) AS token
  FROM documents
),
c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC)
               AS rank
        FROM c ORDER BY cnt DESC, token ASC LIMIT {_ZIPF_RANKS})
SELECT cast(count(*) AS bigint) AS n_ranks,
       round(regr_slope(ln(cast(cnt AS double)),
                        ln(cast(rank AS double))), 6) + 0.0 AS slope,
       round(regr_intercept(ln(cast(cnt AS double)),
                            ln(cast(rank AS double))), 6) + 0.0
         AS intercept,
       round(regr_r2(ln(cast(cnt AS double)),
                     ln(cast(rank AS double))), 6) + 0.0 AS r2
FROM top
""")


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCR / RMS / peak over the REAL WAV decode path: features
    computed in integer sample space and divided last, so every value
    is a deterministic function of exact int16 samples — the oracle
    replays PCM extraction from the text bytes and must match to the
    6-dp grid with zero drift."""
    _prep(spark)
    m = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    out = multimodal.audio_features(m)
    return out.select(
        "doc_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        _r(F.col("zcr")).alias("zcr"),
        _r(F.col("rms")).alias("rms"),
        _r(F.col("peak")).alias("peak"))


SQL_MULTIMODAL_AUDIO = oracle(q_multimodal_audio, """
WITH meta AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 1
),
aud AS (
  SELECT doc_id, j,
         ((CASE WHEN 2*j-1 <= n
                THEN ord(text[CAST(2*j-1 AS INTEGER)]) ELSE 32 END)
          + 256 * (CASE WHEN 2*j <= n
                   THEN ord(text[CAST(2*j AS INTEGER)]) ELSE 32 END))
           AS v,
         (n + n % 2) // 2 AS L
  FROM meta, LATERAL unnest(range(1, (n + n % 2) // 2 + 1)) AS u(j)
),
s AS (
  SELECT doc_id, j, L,
         ((v + 32768) % 65536) - 32768 AS i
  FROM aud
),
z AS (
  SELECT doc_id, L, i,
         CASE WHEN (i >= 0) !=
                   (lag(i >= 0) OVER (PARTITION BY doc_id ORDER BY j))
              THEN 1 ELSE 0 END AS chg
  FROM s
)
SELECT doc_id, cast(max(L) AS bigint) AS n_samples,
       round(CASE WHEN max(L) >= 2
                  THEN sum(chg) / cast(max(L) - 1 AS double) END, 6)
         + 0.0 AS zcr,
       round(sqrt(sum(i * i) / cast(max(L) AS double)) / 65536.0, 6)
         + 0.0 AS rms,
       round(max(abs(i)) / 65536.0, 6) + 0.0 AS peak
FROM z GROUP BY doc_id
""")


def q_multimodal_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the REAL Y4M decode path: per video,
    adjacent-frame sum-of-absolute-byte-differences with the cut
    predicate 1000·mad > 2000·(w·h) (mean diff > 2 bytes/px) — pure
    integer arithmetic end to end, so the oracle replays frame bytes
    from the source text (truncate/pad-with-0x20, the audio-oracle
    idiom), every transition MAD, the cut set, first_cut, and the one
    terminal mean division — full-value. Natural data exercises both
    branches: word-boundary frames differ by tens of bytes/px, padded
    tail frames are identical (MAD 0)."""
    _prep(spark)
    m = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    out = multimodal.scene_cuts(
        m.where(F.col("media_type") == "video"), thr_milli=2000)
    mean_mad = (F.col("sum_mad").cast("double")
                / (F.col("px_per_frame")
                   * F.col("n_transitions")).cast("double"))
    return out.select(
        "doc_id", "n_frames", "n_transitions", "n_cuts", "first_cut",
        "max_mad",
        _r(F.when(F.col("n_transitions") > 0, mean_mad))
        .alias("mean_mad"))


SQL_MULTIMODAL_SCENECUT = oracle(q_multimodal_scenecut, """
WITH meta AS (
  SELECT doc_id, text, length(text) AS n,
         16 + (length(text) % 48) AS w,
         16 + ((length(text) * 7) % 48) AS h,
         1 + (length(text) % 30) AS nf
  FROM documents WHERE doc_id % 3 = 2
),
px AS (
  SELECT doc_id, w * h AS wh, f.f,
         abs(
           (CASE WHEN f.f * w * h + i.i <= n
                 THEN ord(text[CAST(f.f * w * h + i.i AS INTEGER)])
                 ELSE 32 END)
           - (CASE WHEN (f.f - 1) * w * h + i.i <= n
                   THEN ord(text[CAST((f.f - 1) * w * h + i.i
                                      AS INTEGER)])
                   ELSE 32 END)) AS d
  FROM meta,
       LATERAL unnest(range(1, nf)) AS f(f),
       LATERAL unnest(range(1, w * h + 1)) AS i(i)
),
tr AS (
  SELECT doc_id, wh, f, sum(d) AS mad
  FROM px GROUP BY 1, 2, 3
),
agg AS (
  SELECT doc_id, max(wh) AS wh,
         cast(count(*) AS int) AS n_transitions,
         cast(sum(CASE WHEN 1000 * mad > 2000 * wh
                       THEN 1 ELSE 0 END) AS int) AS n_cuts,
         cast(min(CASE WHEN 1000 * mad > 2000 * wh THEN f END)
              AS int) AS first_cut,
         cast(max(mad) AS bigint) AS max_mad,
         cast(sum(mad) AS bigint) AS sum_mad
  FROM tr GROUP BY 1
)
SELECT m.doc_id,
       cast(m.nf AS int) AS n_frames,
       coalesce(a.n_transitions, 0) AS n_transitions,
       coalesce(a.n_cuts, 0) AS n_cuts,
       a.first_cut,
       a.max_mad,
       round(cast(a.sum_mad AS double)
             / cast(a.wh * a.n_transitions AS double), 6) + 0.0
         AS mean_mad
FROM meta m LEFT JOIN agg a USING (doc_id)
""")


def q_ts_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed OLS by exact sufficient statistics (scoring.
    ols_fit2): fit total text chars per conversation on (n_turns,
    n_tool_calls) — one pass, 9 integer Gram sums, native 3×3 Cramer
    solve over the single aggregated row. Every sum is exact int64, so
    betas/R² are one fixed double tree over identical integers in both
    engines — full-value oracle restating the tree verbatim."""
    from cesium_spark.operators.scoring import ols_fit2
    ev = _events(spark, sf_dir)
    feats = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                  F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("long").alias("n_tools"),
                  F.sum(F.length("props")).cast("long").alias("chars")))
    out = ols_fit2(feats, "chars", "n_turns", "n_tools")
    return out.select("n", _r(F.col("b0")).alias("b0"),
                      _r(F.col("b1")).alias("b1"),
                      _r(F.col("b2")).alias("b2"),
                      _r(F.col("r2")).alias("r2"))


SQL_TS_LINEAR_PROBE = oracle(q_ts_linear_probe, """
WITH feats AS (
  SELECT user_id,
         cast(count(*) AS bigint) AS x1,
         cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS bigint) AS x2,
         cast(sum(length(props)) AS bigint) AS y
  FROM events GROUP BY 1
),
g AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast(sum(x1) AS bigint) AS sx1,
         cast(sum(x2) AS bigint) AS sx2,
         cast(sum(x1 * x1) AS bigint) AS sx11,
         cast(sum(x1 * x2) AS bigint) AS sx12,
         cast(sum(x2 * x2) AS bigint) AS sx22,
         cast(sum(y) AS bigint) AS sy,
         cast(sum(x1 * y) AS bigint) AS sx1y,
         cast(sum(x2 * y) AS bigint) AS sx2y,
         cast(sum(y * y) AS bigint) AS syy
  FROM feats
),
gd AS (
  SELECT n,
         cast(n AS double) AS nd, cast(sx1 AS double) AS sx1,
         cast(sx2 AS double) AS sx2, cast(sx11 AS double) AS sx11,
         cast(sx12 AS double) AS sx12, cast(sx22 AS double) AS sx22,
         cast(sy AS double) AS sy, cast(sx1y AS double) AS sx1y,
         cast(sx2y AS double) AS sx2y, cast(syy AS double) AS syy
  FROM g
),
dets AS (
  SELECT *,
         nd * (sx11 * sx22 - sx12 * sx12)
           - sx1 * (sx1 * sx22 - sx12 * sx2)
           + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
         sy * (sx11 * sx22 - sx12 * sx12)
           - sx1 * (sx1y * sx22 - sx12 * sx2y)
           + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
         nd * (sx1y * sx22 - sx12 * sx2y)
           - sy * (sx1 * sx22 - sx12 * sx2)
           + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
         nd * (sx11 * sx2y - sx1y * sx12)
           - sx1 * (sx1 * sx2y - sx1y * sx2)
           + sy * (sx1 * sx12 - sx11 * sx2) AS det2
  FROM gd
),
beta AS (
  SELECT *,
         CASE WHEN det <> 0.0 THEN det0 / det END AS b0,
         CASE WHEN det <> 0.0 THEN det1 / det END AS b1,
         CASE WHEN det <> 0.0 THEN det2 / det END AS b2
  FROM dets
),
fit AS (
  SELECT n, b0, b1, b2,
         syy - 2.0 * (b0 * sy + b1 * sx1y + b2 * sx2y)
             + (b0 * b0 * nd + b1 * b1 * sx11 + b2 * b2 * sx22
                + 2.0 * (b0 * b1 * sx1 + b0 * b2 * sx2
                         + b1 * b2 * sx12)) AS sse,
         syy - sy * sy / nd AS tss
  FROM beta
)
SELECT n,
       round(b0, 6) + 0.0 AS b0,
       round(b1, 6) + 0.0 AS b1,
       round(b2, 6) + 0.0 AS b2,
       round(CASE WHEN tss <> 0.0 THEN 1.0 - sse / tss END, 6) + 0.0
         AS r2
FROM fit
""")


def q_ts_tool_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (A-Priori pair order) over (user, day)
    session baskets of event kinds: which activities co-fire within a
    user-day, with support / confidence / lift. Counts are exact
    integers (distinct presence per basket), the rule cut is an
    integer min_pair_count, and each measure is one fixed division —
    full-value oracle."""
    from cesium_spark.operators.assoc import association_rules
    ev = _events(spark, sf_dir)
    baskets = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("item"))
    out = association_rules(baskets, ["user_id", "day"], "item",
                            min_pair_count=5)
    return out.select(
        "antecedent", "consequent", "n_ant", "n_cons", "n_both",
        "n_baskets", _r(F.col("support")).alias("support"),
        _r(F.col("confidence")).alias("confidence"),
        _r(F.col("lift")).alias("lift"))


SQL_TS_TOOL_ASSOC = oracle(q_ts_tool_assoc, """
WITH b AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
         event_type AS item
  FROM events WHERE event_type IS NOT NULL
),
tot AS (SELECT count(*) AS n_baskets
        FROM (SELECT DISTINCT user_id, day FROM b)),
marg AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
pairs AS (
  SELECT l.item AS ia, r.item AS ib, count(*) AS n_both
  FROM b l JOIN b r ON l.user_id = r.user_id AND l.day = r.day
  WHERE l.item < r.item
  GROUP BY 1, 2
  HAVING count(*) >= 5
),
directed AS (
  SELECT ia AS antecedent, ib AS consequent, n_both FROM pairs
  UNION ALL
  SELECT ib, ia, n_both FROM pairs
)
SELECT d.antecedent, d.consequent,
       cast(ma.n_item AS bigint) AS n_ant,
       cast(mc.n_item AS bigint) AS n_cons,
       cast(d.n_both AS bigint) AS n_both,
       cast(tot.n_baskets AS bigint) AS n_baskets,
       round(cast(d.n_both AS double)
             / cast(tot.n_baskets AS double), 6) + 0.0 AS support,
       round(cast(d.n_both AS double)
             / cast(ma.n_item AS double), 6) + 0.0 AS confidence,
       round((cast(d.n_both AS double) * cast(tot.n_baskets AS double))
             / (cast(ma.n_item AS double) * cast(mc.n_item AS double)),
             6) + 0.0 AS lift
FROM directed d
JOIN marg ma ON ma.item = d.antecedent
JOIN marg mc ON mc.item = d.consequent
CROSS JOIN tot
""")


_KM_HORIZON = 172800.0  # 2 days


def q_ts_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curves of conversation duration,
    stratified by first role, right-censoring conversations still
    active within 2 days of the dataset end. Running product via
    exp(Σ ln(1−d/n)) with an explicit terminal-event branch (Spark
    log(0)→NULL vs DuckDB ln(0)→throw — neither gives the −∞ the
    algebra wants). Full-value oracle restates grain, risk sets, and
    the log-sum verbatim."""
    from cesium_spark.operators.survival import (
        conversation_spans,
        kaplan_meier,
    )
    spans = conversation_spans(events_transcripts(spark, sf_dir),
                               censor_horizon_s=_KM_HORIZON)
    out = kaplan_meier(spans, "duration", "event", "first_role")
    return out.select(
        "first_role",
        _r(F.col("duration")).alias("duration"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events", "n_censored",
        _r(F.col("survival")).alias("survival"))


SQL_TS_SURVIVAL = oracle(q_ts_survival, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role, epoch(ts) AS sec
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per AS (
  SELECT conv_id, max(sec) - min(sec) AS duration,
         max(sec) AS last_s, arg_min(role, turn_idx) AS first_role
  FROM t GROUP BY 1
),
mx AS (SELECT max(epoch(ts)) AS m FROM events),
spans AS (
  SELECT first_role, duration,
         last_s <= m - {_KM_HORIZON} AS event
  FROM per, mx
),
grain AS (
  SELECT first_role, duration AS tt,
         sum(CASE WHEN event THEN 1 ELSE 0 END) AS n_events,
         sum(CASE WHEN NOT event THEN 1 ELSE 0 END) AS n_censored
  FROM spans GROUP BY 1, 2
),
g AS (
  SELECT first_role, tt, n_events, n_censored,
         sum(n_events + n_censored) OVER (PARTITION BY first_role)
           - sum(n_events + n_censored) OVER wc
           + n_events + n_censored AS n_risk
  FROM grain
  WINDOW wc AS (PARTITION BY first_role ORDER BY tt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT *,
         CASE WHEN max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
                   OVER wc = 1 THEN 0.0
              ELSE exp(sum(CASE WHEN n_events = n_risk THEN 0.0
                           ELSE ln(1.0 - n_events
                                   / cast(n_risk AS double)) END)
                       OVER wc)
         END AS survival
  FROM g
  WINDOW wc AS (PARTITION BY first_role ORDER BY tt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT first_role, round(tt, 6) + 0.0 AS duration,
       cast(n_risk AS bigint) AS n_risk,
       cast(n_events AS bigint) AS n_events,
       cast(n_censored AS bigint) AS n_censored,
       round(survival, 6) + 0.0 AS survival
FROM s
""")


_MAHA_THR = 9.21  # chi2_2(0.99)


def q_ts_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis anomaly scoring of (latency, tokens) per
    conversation: d² under the conversation's own 2×2 covariance,
    flag at χ²₂(0.99)=9.21 on the 6-dp-rounded value. Degenerate
    (constant/collinear) conversations report NULL max_d2 honestly.
    Full-value oracle restates alignment, stat windows, and the d²
    expression verbatim."""
    from cesium_spark.operators.seriesstats import mahalanobis2
    s = derive_series(events_transcripts(spark, sf_dir))
    out = mahalanobis2(s, *_CORR_CH, threshold=_MAHA_THR)
    return out.select(
        "conv_id",
        F.col("n_points").cast("long").alias("n_points"),
        F.col("n_anomalies").cast("long").alias("n_anomalies"),
        _r(F.col("max_d2")).alias("max_d2"))


def _maha_sql() -> str:
    return _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS ya,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS yb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
),
f AS (SELECT * FROM aligned WHERE ya IS NOT NULL AND yb IS NOT NULL),
s AS (
  SELECT conv_id, ya, yb,
         avg(ya) OVER w AS ma, avg(yb) OVER w AS mb,
         stddev_pop(ya) OVER w AS sa, stddev_pop(yb) OVER w AS sb,
         covar_pop(ya, yb) OVER w AS cov
  FROM f WINDOW w AS (PARTITION BY conv_id)
),
z AS (
  SELECT conv_id,
         (ya - ma) / nullif(sa, 0) AS za,
         (yb - mb) / nullif(sb, 0) AS zb,
         cov / nullif(sa * sb, 0) AS rho
  FROM s
),
d AS (
  SELECT conv_id,
         (za * za - 2 * rho * za * zb + zb * zb)
           / nullif(1 - rho * rho, 0) AS d2
  FROM z
)
SELECT conv_id,
       cast(count(*) AS bigint) AS n_points,
       cast(coalesce(sum(CASE WHEN round(d2, 6) > {_MAHA_THR}
                          THEN 1 END), 0) AS bigint) AS n_anomalies,
       round(max(d2), 6) + 0.0 AS max_d2
FROM d GROUP BY conv_id
"""


oracle(q_ts_mahalanobis, _maha_sql())


def q_ts_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1h window / 15m hop) streaming aggregation
    replayed via availableNow; append mode emits each of the 4
    overlapping windows per event exactly once when the watermark
    passes its end. Oracle rebuilds the hop-window set per event in
    SQL (time_bucket grid, k = 0..3 back-hops, containment + the
    same non-round finalization cutoff)."""
    import os
    import tempfile

    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_sliding_moments,
        stream_to_table,
    )

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_slide_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir)
    s.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    io = TableIO(spark, f"{base}/tables")
    q = stream_to_table(
        stream_sliding_moments(stream, "1 hour", "15 minutes",
                               "7000 seconds"),
        io, "stream_sliding", f"{base}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_sliding: availableNow stream did not finish "
            "within 300s")
    out = io.read("stream_sliding")
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
        _r0(F.round(F.col("y_sum"), 4)).alias("y_sum"))


SQL_TS_STREAM_SLIDING = oracle(q_ts_stream_sliding, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
e AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts, value
  FROM events
),
w AS (
  SELECT conv_id, value, ts,
         time_bucket(INTERVAL 15 MINUTES, ts)
           - k.k * (INTERVAL 15 MINUTES) AS ws
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
  WHERE time_bucket(INTERVAL 15 MINUTES, ts)
          - k.k * (INTERVAL 15 MINUTES) + INTERVAL 1 HOUR > ts
)
SELECT conv_id, strftime(ws, '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max,
       round(sum(value), 4) + 0.0 AS y_sum
FROM w, mx
GROUP BY conv_id, ws, mx.m
HAVING ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 7000 SECONDS
""")


def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per 1h window over closed
    conversation spans (max sessions in flight; peak attained at
    start instants). Engine: bucketed containment self-join; oracle:
    the INDEPENDENT naive correlated containment count — a semantic
    check, not a restatement."""
    from cesium_spark.operators.intervals import peak_concurrency
    out = peak_concurrency(events_transcripts(spark, sf_dir),
                           tier="1h")
    return out.select(
        F.date_format("window_start", TS_FMT).alias("window_start"),
        "n_starts", "peak_concurrency", "tier")


SQL_TS_CONCURRENCY = oracle(q_ts_concurrency, f"""
WITH spans AS (
  SELECT user_id AS conv, min(ts) AS lo, max(ts) AS hi
  FROM events GROUP BY 1
),
conc AS (
  SELECT a.conv, a.lo,
         (SELECT count(*) FROM spans b
          WHERE b.lo <= a.lo AND a.lo <= b.hi) AS c
  FROM spans a
)
SELECT strftime(date_trunc('hour', lo), '{DUCK_TS_FMT}')
         AS window_start,
       cast(count(*) AS bigint) AS n_starts,
       cast(max(c) AS bigint) AS peak_concurrency,
       '1h' AS tier
FROM conc GROUP BY 1
""")


_FH_DIM = 8


def q_doc_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick signed bag-of-words document vectors (dim=8):
    integer-exact ±1 bucket sums from md5 bucket/sign hashes — the
    no-vocabulary text→vector bridge into the embedding operators.
    Zero-token docs keep the all-zero row. Full-value oracle replays
    the md5 arithmetic per component."""
    from cesium_spark.operators.textstats import feature_hash_vectors
    _prep(spark)
    out = feature_hash_vectors(_read(spark, sf_dir, "documents"),
                               dim=_FH_DIM)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[F.col(f"h{b}").cast("long").alias(f"h{b}")
          for b in range(_FH_DIM)],
        _r(F.col("norm")).alias("norm"))


def _hash_vectors_sql(dim: int = _FH_DIM) -> str:
    comps = ",\n         ".join(
        f"coalesce(sum(CASE WHEN b = {b} THEN sgn END), 0) AS h{b}"
        for b in range(dim))
    normsq = " + ".join(f"h{b} * h{b}" for b in range(dim))
    hs = ", ".join(f"cast(h{b} AS bigint) AS h{b}" for b in range(dim))
    return rf"""
WITH l AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                                        '[ \t\n\r\f]+'),
                     x -> x != '') AS toks
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) = 0
                THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS tok
  FROM l
),
s AS (
  SELECT doc_id,
         (('0x' || substr(md5('b:' || tok), 1, 8))::BIGINT % {dim})
           AS b,
         CASE WHEN ('0x' || substr(md5('s:' || tok), 1, 1))::INT < 8
              THEN 1 ELSE -1 END AS sgn
  FROM tok
),
a AS (
  SELECT doc_id,
         {comps}
  FROM s GROUP BY doc_id
)
SELECT doc_id, {hs},
       round(sqrt(cast({normsq} AS double)), 6) + 0.0 AS norm
FROM a
"""


oracle(q_doc_hash_vectors, _hash_vectors_sql())


_BUDGET = 60.0


def q_ts_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget overflow detection: first turn whose running
    whitespace-token total strictly exceeds the budget, per
    conversation. Running sums of integer token counts are exact in
    double, so the crossing compare needs no grid. ONE exchange.
    Full-value oracle restates tokenize, cumsum, and the filtered
    aggregates."""
    from cesium_spark.operators.sequences import budget_crossing
    out = budget_crossing(events_transcripts(spark, sf_dir),
                          budget=_BUDGET)
    return out.select(
        "conv_id", "n_turns",
        _r(F.col("total_cost")).alias("total_cost"),
        "crossed",
        F.col("cross_turn_idx").cast("int").alias("cross_turn_idx"),
        _r(F.col("cost_at_cross")).alias("cost_at_cross"))


SQL_TS_BUDGET = oracle(q_ts_budget, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         props AS text
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
  SELECT conv_id, turn_idx,
         sum(cast(len(list_filter(
               string_split_regex(lower(coalesce(text, '')),
                                  '[ \t\n\r\f]+'),
               x -> x != '')) AS double))
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT conv_id,
       cast(count(*) AS bigint) AS n_turns,
       round(max(cum), 6) + 0.0 AS total_cost,
       bool_or(cum > {_BUDGET}) AS crossed,
       cast(min(CASE WHEN cum > {_BUDGET} THEN turn_idx END) AS int)
         AS cross_turn_idx,
       round(min(CASE WHEN cum > {_BUDGET} THEN cum END), 6) + 0.0
         AS cost_at_cross
FROM c GROUP BY conv_id
""")


_BUDGET_BPE = 150.0


def q_ts_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget overflow denominated in toy-BPE tokens (the r5
    tokenizer seam): the running total that trips the budget is now
    the frozen-vocab greedy subword count per turn — the unit a real
    context window is measured in. Same one-exchange cumsum plan as
    ts_budget; the oracle replays the greedy per-word fold as a
    recursive CTE over the identical literal vocab, then the same
    cumsum + filtered aggregates."""
    from cesium_spark.operators.sequences import budget_crossing
    out = budget_crossing(events_transcripts(spark, sf_dir),
                          budget=_BUDGET_BPE, tokenizer="toy_bpe")
    return out.select(
        "conv_id", "n_turns",
        _r(F.col("total_cost")).alias("total_cost"),
        "crossed",
        F.col("cross_turn_idx").cast("int").alias("cross_turn_idx"),
        _r(F.col("cost_at_cross")).alias("cost_at_cross"))


def _budget_bpe_sql() -> str:
    from cesium_spark.functions.tokenizer import duckdb_token_count_cte
    tok = duckdb_token_count_cte("t", "conv_id, turn_idx",
                                 text_col="text", out="n_tok")
    return f"""WITH RECURSIVE t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         props AS text
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
{tok},
c AS (
  SELECT t.conv_id, t.turn_idx,
         sum(cast(coalesce(k.n_tok, 0) AS double))
           OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t LEFT JOIN n_tok_cte k
    ON t.conv_id = k.conv_id AND t.turn_idx = k.turn_idx
)
SELECT conv_id,
       cast(count(*) AS bigint) AS n_turns,
       round(max(cum), 6) + 0.0 AS total_cost,
       bool_or(cum > {_BUDGET_BPE}) AS crossed,
       cast(min(CASE WHEN cum > {_BUDGET_BPE} THEN turn_idx END) AS int)
         AS cross_turn_idx,
       round(min(CASE WHEN cum > {_BUDGET_BPE} THEN cum END), 6) + 0.0
         AS cost_at_cross
FROM c GROUP BY conv_id
"""


oracle(q_ts_budget_bpe, _budget_bpe_sql())


def q_ts_ks_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS goodness-of-fit of inter-arrival gaps vs the exponential
    MLE (λ̂ = m/(t_last−t_first), telescoped): D⁺/D⁻ over the sorted
    gaps, 95% asymptotic reject flag on the 6-dp-rounded margin. One
    exchange. Full-value oracle restates λ̂, F, both one-sided sups
    and the flag."""
    from cesium_spark.operators.seriesstats import ks_exponential
    out = ks_exponential(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", F.col("n_gaps").cast("long").alias("n_gaps"),
        _r(F.col("lambda_hat")).alias("lambda_hat"),
        _r(F.col("ks")).alias("ks"),
        "reject_95")


SQL_TS_KS_EXP = oracle(q_ts_ks_exp, f"""{_VALUE_SERIES_SQL}
, gaps AS (
  SELECT conv_id, turn_idx,
         t - lag(t) OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           AS dt
  FROM series WHERE t IS NOT NULL
),
g AS (
  SELECT conv_id, dt,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY dt, turn_idx) AS j,
         count(*) OVER (PARTITION BY conv_id) AS m,
         sum(dt) OVER (PARTITION BY conv_id) AS span
  FROM gaps WHERE dt IS NOT NULL
),
a AS (
  SELECT conv_id,
         any_value(m) AS m,
         any_value(cast(m AS double) / nullif(span, 0)) AS lam,
         max(greatest(
           cast(j AS double) / cast(m AS double)
             - (1.0 - exp(-(cast(m AS double) / nullif(span, 0)) * dt)),
           (1.0 - exp(-(cast(m AS double) / nullif(span, 0)) * dt))
             - (cast(j AS double) - 1) / cast(m AS double))) AS ks
  FROM g GROUP BY conv_id
)
SELECT conv_id, cast(m AS bigint) AS n_gaps,
       round(CASE WHEN m >= 2 THEN lam END, 6) + 0.0 AS lambda_hat,
       round(CASE WHEN m >= 2 THEN ks END, 6) + 0.0 AS ks,
       CASE WHEN m >= 2 AND ks IS NOT NULL
            THEN round(ks - 1.36 / sqrt(m), 6) > 0 END AS reject_95
FROM a
""")


def q_ts_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series rank normalization of the melted daily feature
    matrix: pct_rank = percent_rank within each feature over the
    6-dp-rounded values (ties share a rank — deterministic without a
    tiebreak; rounding-before-rank makes the order engine-stable).
    NULL feature cells keep their row with NULL pct_rank. Full-value
    oracle restates melt + percent_rank with the same NULL split."""
    from cesium_spark.operators.rollup import unpivot_long
    from cesium_spark.operators.scoring import rank_normalize
    s = _value_series(spark, sf_dir)
    m = moments_derived(rollup_moments(s, "1d"))
    wide = m.select(
        "conv_id", "channel", "tier",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        *[_r(F.col(f)).alias(f) for f in _UNPIVOT_FEATS])
    out = rank_normalize(unpivot_long(wide, _UNPIVOT_FEATS))
    return out.select(
        "conv_id", "channel", "tier", "window_start", "feature",
        _r0(F.col("value")).alias("value"),
        _r(F.col("pct_rank")).alias("pct_rank"))


SQL_TS_RANK_NORMALIZE = oracle(q_ts_rank_normalize,
    "WITH lng AS (" + "\n".join(SQL_TS_UNPIVOT.splitlines()) + """
)
SELECT conv_id, channel, tier, window_start, feature,
       value + 0.0 AS value,
       round(percent_rank() OVER (PARTITION BY feature ORDER BY value),
             6) + 0.0 AS pct_rank
FROM lng WHERE value IS NOT NULL
UNION ALL
SELECT conv_id, channel, tier, window_start, feature,
       value + 0.0 AS value, NULL AS pct_rank
FROM lng WHERE value IS NULL
""")


_PMI_MIN = 5
_PMI_K = 20


def q_doc_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-bigram collocations by PMI (Church & Hanks),
    min_count-floored BEFORE the cut (PMI explodes on hapax pairs),
    PMI rounded 6dp before ranking with (w1,w2) tie-break. Full-value
    oracle restates tokenization, both count aggregates, the PMI
    expression division-for-division, the floor, and the cut."""
    from cesium_spark.operators.textstats import pmi_collocations
    _prep(spark)
    out = pmi_collocations(_read(spark, sf_dir, "documents"),
                           min_count=_PMI_MIN, k=_PMI_K)
    return out.select(
        "w1", "w2",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        _r0(F.col("pmi")).alias("pmi"),
        F.col("rank").cast("int").alias("rank"))


SQL_DOC_PMI = oracle(q_doc_pmi, rf"""
WITH d AS (
  SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                                        '[ \t\n\r\f]+'),
                     x -> x != '') AS l
  FROM documents
),
tt AS (SELECT unnest(l) AS w FROM d),
uni AS (SELECT w, count(*) AS c FROM tt GROUP BY 1),
nn AS (SELECT cast(sum(c) AS double) AS N FROM uni),
tb AS (SELECT unnest(list_zip(l[:-2], l[2:])) AS z FROM d),
bi AS (SELECT z[1] AS w1, z[2] AS w2, count(*) AS c12
       FROM tb GROUP BY 1, 2),
bt AS (SELECT cast(sum(c12) AS double) AS B FROM bi),
sc AS (
  SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
         round(log2((c12 / B) / ((u1.c / N) * (u2.c / N))), 6) AS pmi
  FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w
  CROSS JOIN nn CROSS JOIN bt
  WHERE c12 >= {_PMI_MIN})
SELECT w1, w2, cast(c12 AS bigint) AS c12, cast(c1 AS bigint) AS c1,
       cast(c2 AS bigint) AS c2, pmi + 0.0 AS pmi,
       cast(rank AS int) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
      FROM sc)
WHERE rank <= {_PMI_K}
""")


def q_ts_calendar_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month retention tier by folding the DAILY moments
    (1m→1d→1mo chain — months are irregular 28–31 d spans, exactly
    what date_trunc handles; the fold never rescans raw turns). n and
    min/max merge exactly; the folded Σy re-associates float sums
    (~1e-16 relative drift, measured), and is the safe compare column:
    sums of the 2-dp event values sit ~1e-12 from exact 0.01
    multiples, never near a 6-dp round-half boundary — whereas
    mean = Σy/n lands EXACTLY on .xxxxxx5 half-points where Spark
    HALF_UP and DuckDB disagree (hit once at sf0.01). Oracle = direct
    monthly aggregate over raw events."""
    s = _value_series(spark, sf_dir)
    folded = fold_moments(fold_moments(rollup_moments(s, "1m"), "1d"),
                          "1mo")
    return folded.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n_epochs"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"),
        _r(F.col("y_sum")).alias("y_sum"))


SQL_TS_CALENDAR_FOLD = oracle(q_ts_calendar_fold, f"""
SELECT cast(user_id AS varchar) AS conv_id,
       strftime(date_trunc('month', ts), '{DUCK_TS_FMT}')
         AS window_start,
       count(*) AS n_epochs,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max,
       round(sum(value), 6) + 0.0 AS y_sum
FROM events
GROUP BY 1, 2
""")


_WS_K = 10
_WS_SALT = "ws1"


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Espirakis weighted sample-without-replacement, k per
    lang stratum, weight = n_chars, uniforms content-addressed from
    md5(doc_id||salt) (exact dyadic (h+0.5)/2^32, never 0/1); ES key
    ln(u)/w rounded to 6dp BEFORE ranking with doc_id tie-break so
    the selected set is engine-stable. Full-value oracle replays the
    hash, the key, the round-before-rank and the cut."""
    from cesium_spark.operators.sampling import weighted_sample
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    out = weighted_sample(docs, k=_WS_K, weight_col="n_chars",
                          strata_col="lang", key="doc_id",
                          salt=_WS_SALT)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        _r0(F.col("es_key")).alias("es_key"),
        F.col("sample_rank").cast("int").alias("sample_rank"))


SQL_DOC_WEIGHTED_SAMPLE = oracle(q_doc_weighted_sample, f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         round(ln((('0x' || substr(md5(cast(doc_id AS varchar)
                                       || '{_WS_SALT}'), 1, 8))::BIGINT
                   + 0.5) / 4294967296.0)
               / cast(n_chars AS double), 6) AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, doc_id ASC)
              AS sample_rank
  FROM d)
SELECT doc_id, lang, cast(n_chars AS bigint) AS n_chars,
       es_key + 0.0 AS es_key, cast(sample_rank AS int) AS sample_rank
FROM r WHERE sample_rank <= {_WS_K}
""")


_BT_MIN_TRAIN = 3
_BT_RTOL = 1e-9


def q_ts_ar1_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step AR(1) backtest: per-prefix Yule–Walker
    fit via cumulative-sum closed forms (O(n)/series, ONE exchange),
    out-of-sample MAE/RMSE per conversation. Near-constant prefixes
    are guarded by a scale-relative den > rtol·S2 test (the expanded
    den cancels catastrophically there); the oracle restates every
    closed form and the guard verbatim."""
    from cesium_spark.operators.seriesstats import ar1_backtest
    out = ar1_backtest(_value_series(spark, sf_dir),
                       min_train=_BT_MIN_TRAIN, rel_tol=_BT_RTOL)
    return out.select(
        "conv_id", F.col("n").cast("long").alias("n"),
        F.col("n_pred").cast("long").alias("n_pred"),
        _r(F.col("mae")).alias("mae"),
        _r(F.col("rmse")).alias("rmse"))


SQL_TS_AR1_BACKTEST = oracle(q_ts_ar1_backtest, f"""{_VALUE_SERIES_SQL}
, b1 AS (
  SELECT conv_id, t, turn_idx, y,
         lag(y) OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           AS prev,
         row_number() OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           AS i
  FROM series WHERE y IS NOT NULL AND t IS NOT NULL
),
b2 AS (
  SELECT *,
         sum(y) OVER wc AS s1,
         sum(y * y) OVER wc AS s2,
         sum(CASE WHEN prev IS NOT NULL THEN y * prev END) OVER wc
           AS p,
         first_value(y) OVER wc AS y1
  FROM b1
  WINDOW wc AS (PARTITION BY conv_id ORDER BY t, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b3 AS (
  SELECT conv_id, t, turn_idx, y,
         CASE WHEN i >= {_BT_MIN_TRAIN} THEN
           s1 / i
           + (CASE WHEN (s2 - i * (s1 / i) * (s1 / i))
                        > {_BT_RTOL} * s2
              THEN (p - (s1 / i) * (2 * s1 - y1 - y)
                    + (i - 1) * (s1 / i) * (s1 / i))
                   / (s2 - i * (s1 / i) * (s1 / i)) END)
             * (y - s1 / i)
         END AS f
  FROM b2
),
b4 AS (
  SELECT conv_id, y,
         y - lag(f) OVER (PARTITION BY conv_id ORDER BY t, turn_idx)
           AS err
  FROM b3
)
SELECT conv_id, cast(count(*) AS bigint) AS n,
       cast(count(err) AS bigint) AS n_pred,
       round(avg(abs(err)), 6) + 0.0 AS mae,
       round(sqrt(avg(err * err)), 6) + 0.0 AS rmse
FROM b4 GROUP BY conv_id
""")


def q_rel_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals from the event change log:
    consecutive duplicate states merge, NULL is a real state
    (null-safe change detection), half-open [valid_from, valid_to),
    open current row. ONE hash exchange (two stacked windows + a
    filter on the key). Full-value oracle restates the null-safe
    lag-compare and lead-close verbatim."""
    from cesium_spark.operators.compaction import scd2_intervals
    ev = _events(spark, sf_dir)
    out = scd2_intervals(ev, "user_id", "event_type", "ts",
                         ["event_id"])
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("state"),
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
        F.date_format("valid_to", TS_FMT).alias("valid_to"),
        F.col("version").cast("int").alias("version"),
        "is_current")


SQL_REL_SCD2 = oracle(q_rel_scd2, f"""
WITH o AS (
  SELECT user_id, event_type AS state, ts,
         (event_type IS DISTINCT FROM
            lag(event_type) OVER w
          OR row_number() OVER w = 1) AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (SELECT user_id, state, ts FROM o WHERE chg)
SELECT user_id,
       state,
       strftime(ts, '{DUCK_TS_FMT}') AS valid_from,
       strftime(lead(ts) OVER w2, '{DUCK_TS_FMT}') AS valid_to,
       cast(row_number() OVER w2 AS int) AS version,
       (lead(ts) OVER w2) IS NULL AS is_current
FROM p WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
""")


def q_emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 certification of the IVF ANN path against the exact
    brute-force top-10 — the measurement every ANN deployment needs
    BEFORE trusting the pruned path at 1e9 vectors (a composition
    certificate like doc_curate: both legs are already oracle-gated
    individually; this gates their agreement). Both legs run in Spark
    (pruned IVF probe vs full-scan exact), intersect on vec_id, and
    report n_hits/k. The oracle replays BOTH legs in DuckDB (trained
    centroid literals + exact scan) and must land on the identical
    recall — deterministic because the engine's check_ties margin
    fails fast on any assignment/probe near-tie."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qv = [float(x) for x in q]
    ivf = similarity.ivf_topk(
        embs, qv, k=10, n_centroids=16, nprobe=4,
        centroids=similarity.ivf_trained_centroids(),
        check_ties=1e-9).select("vec_id")
    exact = similarity.cosine_topk(embs, qv, k=10).select("vec_id")
    return (ivf.join(exact, "vec_id")
            .agg(F.count(F.lit(1)).alias("__h"))
            .select(F.lit(10).cast("int").alias("k"),
                    F.lit(4).cast("int").alias("nprobe"),
                    F.col("__h").cast("long").alias("n_hits"),
                    _r0(F.round(F.col("__h") / F.lit(10.0), 6))
                    .alias("recall")))


def _ivf_recall_sql() -> str:
    return f"""
SELECT cast(10 AS int) AS k, cast(4 AS int) AS nprobe,
       cast(count(*) AS bigint) AS n_hits,
       round(count(*) / 10.0, 6) + 0.0 AS recall
FROM ({_ivf_topk_sql()}) i
JOIN ({SQL_EMB_COSINE_TOPK}) e USING (vec_id)
"""


oracle(q_emb_ivf_recall, _ivf_recall_sql())


_CMS_W = 256
_CMS_D = 4


def q_ts_cms_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch mergeable frequency tier: build per-(role, 1h)
    d×w counter cells from the turn payloads, fold 1h→1d by
    elementwise integer addition. The oracle rebuilds the DAILY grid
    directly from raw with the same md5 hash arithmetic, so the
    comparison certifies build AND fold==direct cell-for-cell
    (integer exact — the sketch algebra, like the histogram tiers).
    Point-estimate semantics (min over rows, ≥ truth) are pinned in
    pytest."""
    from cesium_spark.operators.sketches import cms_build, cms_fold
    _prep(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("role"), "ts",
        F.col("props").alias("item"))
    fold = cms_fold(cms_build(ev, "1h", ["role"], "item",
                              width=_CMS_W, depth=_CMS_D),
                    "1d", ["role"])
    return fold.select(
        "role",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        "tier",
        F.col("d").cast("int").alias("d"),
        F.col("col").cast("long").alias("col"),
        F.col("cnt").cast("long").alias("cnt"))


SQL_TS_CMS_FOLD = oracle(q_ts_cms_fold, f"""
WITH cells AS (
  SELECT event_type AS role,
         date_trunc('day', ts) AS w,
         cast(ds.d AS int) AS d,
         (('0x' || substr(md5(cast(ds.d AS varchar) || ':' || props),
                          1, 8))::BIGINT % {_CMS_W}) AS col
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS d) ds
  WHERE props IS NOT NULL
)
SELECT role, strftime(w, '{DUCK_TS_FMT}') AS window_start,
       '1d' AS tier, d, cast(col AS bigint) AS col,
       cast(count(*) AS bigint) AS cnt
FROM cells GROUP BY role, w, d, col
""")


_LOOP_THRESH = 0.8
_LOOP_MAXLEN = 200


def q_ts_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-loop detection: normalized Levenshtein similarity of each
    turn to its predecessor, per-conversation loop-pair counts and the
    longest consecutive near-duplicate run (gaps-and-islands). sim is
    one exact-integer division — the threshold compare is
    bit-identical in any engine, no grid snap. ONE hash exchange.
    Full-value oracle restates cap, distance, flag, and islands."""
    from cesium_spark.operators.sequences import turn_self_similarity
    out = turn_self_similarity(events_transcripts(spark, sf_dir),
                               threshold=_LOOP_THRESH,
                               max_len=_LOOP_MAXLEN)
    return out.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_loop_pairs").cast("long").alias("n_loop_pairs"),
        _r(F.col("loop_frac")).alias("loop_frac"),
        F.col("max_loop_run").cast("long").alias("max_loop_run"))


SQL_TS_LOOPS = oracle(q_ts_loops, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         substring(coalesce(props, ''), 1, {_LOOP_MAXLEN}) AS cur
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT conv_id, turn_idx, cur,
         lag(cur) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM t
),
f AS (
  SELECT conv_id, turn_idx,
         CASE WHEN prev IS NULL THEN NULL
              WHEN greatest(length(prev), length(cur)) = 0 THEN TRUE
              ELSE 1.0 - levenshtein(prev, cur)
                   / cast(greatest(length(prev), length(cur)) AS double)
                   >= {_LOOP_THRESH}
         END AS loop_flag
  FROM p
),
g AS (
  SELECT conv_id, loop_flag,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         - row_number() OVER (PARTITION BY conv_id, loop_flag
                              ORDER BY turn_idx) AS grp
  FROM f
),
runs AS (
  SELECT conv_id, loop_flag, grp, count(*) AS run
  FROM g GROUP BY 1, 2, 3
)
SELECT conv_id,
       cast(sum(run) AS bigint) AS n_turns,
       cast(coalesce(sum(run) FILTER (WHERE loop_flag IS NOT NULL), 0)
            AS bigint) AS n_pairs,
       cast(coalesce(sum(run) FILTER (WHERE loop_flag), 0) AS bigint)
         AS n_loop_pairs,
       round(coalesce(sum(run) FILTER (WHERE loop_flag), 0)
             / nullif(cast(coalesce(sum(run)
                           FILTER (WHERE loop_flag IS NOT NULL), 0)
                           AS double), 0), 6) + 0.0 AS loop_frac,
       cast(coalesce(max(run) FILTER (WHERE loop_flag), 0) AS bigint)
         AS max_loop_run
FROM runs GROUP BY conv_id
""")


_TFIDF_M = 5


def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TF-IDF top-m terms (smooth idf, sklearn form): the
    keyword/document-vector primitive next to BM25. tfidf rounded to
    6 dp BEFORE ranking so the rank-m boundary can't flip on engine
    ulp drift in ln(); ties (tfidf DESC, term ASC). Zero-token docs
    keep one NULL-term row. Full-value oracle restates tf, smooth
    idf, the rounding-before-rank, and the tie-break verbatim."""
    from cesium_spark.operators.textstats import tfidf_topm
    _prep(spark)
    out = tfidf_topm(_read(spark, sf_dir, "documents"), m=_TFIDF_M)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf_count").cast("long").alias("tf_count"),
        F.col("doc_frequency").cast("long").alias("doc_frequency"),
        _r0(F.col("tfidf")).alias("tfidf"),
        F.col("rank").cast("int").alias("rank"))


SQL_DOC_TFIDF = oracle(q_doc_tfidf, rf"""
WITH tok AS (
  SELECT doc_id, nullif(t, '') AS term
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(coalesce(text, '')),
                                         '[ \t\n\r\f]+')) AS t
        FROM documents)
),
c AS (SELECT doc_id, term,
             count(*) FILTER (WHERE term IS NOT NULL) AS tf_count
      FROM tok GROUP BY 1, 2),
n AS (SELECT doc_id, term, tf_count,
             sum(tf_count) OVER (PARTITION BY doc_id) AS n_tok
      FROM c),
df AS (SELECT term, count(*) AS doc_frequency FROM c
       WHERE term IS NOT NULL GROUP BY 1),
nd AS (SELECT cast(count(*) AS double) AS ndocs FROM documents),
scored AS (
  SELECT n.doc_id, n.term, n.tf_count, df.doc_frequency,
         CASE WHEN n.term IS NOT NULL THEN
           round(tf_count / cast(n_tok AS double)
                 * (ln((ndocs + 1.0)
                       / (cast(doc_frequency AS double) + 1.0)) + 1.0),
                 6)
         END AS tfidf
  FROM n LEFT JOIN df USING (term) CROSS JOIN nd
  WHERE n.term IS NOT NULL OR n_tok = 0),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY tfidf DESC NULLS LAST, term ASC NULLS LAST) AS rank
      FROM scored)
SELECT doc_id, term, cast(tf_count AS bigint) AS tf_count,
       cast(doc_frequency AS bigint) AS doc_frequency,
       tfidf + 0.0 AS tfidf, cast(rank AS int) AS rank
FROM r WHERE rank <= {_TFIDF_M}
""")


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-value oracle for the perceptual image hashes (aHash +
    dHash) over the REAL decode: both hashes are pure integer
    arithmetic on the pooled byte sums (cross-multiplied thresholds —
    see multimodal.image_phash), so DuckDB replays pooling, both bit
    predicates, and the two's-complement bit assembly exactly. Images
    use their parsed raster, videos their first frame — both are the
    content bytes space-padded to w·h, the multimodal_resize replay."""
    _prep(spark)
    media = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    return multimodal.image_phash(
        media.where(F.col("media_type") != "audio"))


def _phash_cte(corpus: str = "documents") -> str:
    """DuckDB CTE chain computing (doc_id, ahash, dhash) from a
    relation ``corpus(doc_id, text)`` — the exact integer replay of
    multimodal.image_phash over attach_media's containers: raster =
    text bytes space-padded to w·h (ASCII ⇒ byte = ord), 8×8 / 8×9
    area pooling by the (i·R//h, j·C//w) map, aHash bit = cell sum ·
    (h·w) > total · cell count, dHash bit = right-cell vs left-cell
    cross-multiplication, bit k = r·8+c assembled into a SIGNED bigint
    (bit 63 = the two's-complement sign term)."""
    bit = ("CASE WHEN {k} = 63 THEN (-9223372036854775807 - 1) "
           "ELSE (CAST(1 AS BIGINT) << CAST({k} AS INTEGER)) END")
    return f"""meta AS (
  SELECT doc_id, text, length(text) AS n,
         16 + (length(text) % 48) AS w,
         16 + ((length(text) * 7) % 48) AS h
  FROM {corpus}
  WHERE (doc_id % 3) != 1  -- audio rows have no raster
),
pix AS (
  SELECT doc_id, w, h, i,
         CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)]) ELSE 32 END AS b
  FROM meta, LATERAL unnest(range(1, w * h + 1)) AS u(i)
),
tot AS (SELECT doc_id, sum(b) AS total, max(w * h) AS wh
        FROM pix GROUP BY 1),
a8 AS (
  SELECT doc_id, (((i - 1) // w) * 8) // h AS r,
         (((i - 1) % w) * 8) // w AS c,
         sum(b) AS s, count(*) AS cnt
  FROM pix GROUP BY 1, 2, 3
),
ab AS (
  SELECT a8.doc_id,
         CAST(sum(CASE WHEN s * wh > total * cnt
                  THEN {bit.format(k='r * 8 + c')} ELSE 0 END)
              AS BIGINT) AS ahash
  FROM a8 JOIN tot USING (doc_id) GROUP BY 1
),
d9 AS (
  SELECT doc_id, (((i - 1) // w) * 8) // h AS r,
         (((i - 1) % w) * 9) // w AS c,
         sum(b) AS s, count(*) AS cnt
  FROM pix GROUP BY 1, 2, 3
),
db AS (
  SELECT l.doc_id,
         CAST(sum(CASE WHEN rt.s * l.cnt > l.s * rt.cnt
                  THEN {bit.format(k='l.r * 8 + l.c')} ELSE 0 END)
              AS BIGINT) AS dhash
  FROM d9 l JOIN d9 rt
    ON l.doc_id = rt.doc_id AND l.r = rt.r AND rt.c = l.c + 1
  GROUP BY 1
),
ph AS (SELECT doc_id, ahash, dhash FROM ab JOIN db USING (doc_id))"""


SQL_MULTIMODAL_PHASH = oracle(q_multimodal_phash, f"""
WITH {_phash_cte()}
SELECT doc_id, ahash, dhash FROM ph
""")


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidate pairs: hamming-banded blocking
    (dedup.simhash_band_pairs — 4×16-bit bands, exact bit_count
    re-score, hamming ≤ 3) over the dHash column, on a corpus with
    PLANTED near-dups: every 30th doc (an image: doc_id % 3 = 0)
    re-attached under doc_id+300000 with its first character mutated
    to 'Z'. One changed pixel changes one pooling cell, which flips at
    most its two gradient comparisons → dhash hamming ≤ 2, inside the
    banding recall guarantee, so every plant MUST surface. Unlike
    doc_simhash_pairs (xxhash64 signatures, pinned-recall oracle),
    the phash pipeline is integer-exact end-to-end, so this oracle is
    FULL-VALUE: DuckDB replays signature, banding, equi-join, and
    hamming cut, certifying organic pairs and plants alike."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 30 == 0)
               .select((F.col("doc_id") + 300000).alias("doc_id"),
                       F.concat(F.lit("Z"), F.expr("substring(text, 2)"))
                       .alias("text")))
    media = multimodal.attach_media(docs.unionByName(planted))
    sig = multimodal.image_phash(media.where(F.col("media_type") != "audio"))
    pairs = dedup.simhash_band_pairs(sig, id_col="doc_id", sig_col="dhash",
                                     bands=4, max_hamming=3)
    return pairs.select("id_a", "id_b",
                        F.col("hamming").cast("long").alias("hamming"),
                        F.col("n_shared_bands").cast("long")
                        .alias("n_shared_bands"))


SQL_MULTIMODAL_PHASH_PAIRS = oracle(q_multimodal_phash_pairs, f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000, 'Z' || substring(text, 2)
  FROM documents WHERE doc_id % 30 = 0
),
{_phash_cte('corpus')},
band AS (
  SELECT doc_id, dhash, b, (dhash >> CAST(b * 16 AS INTEGER)) & 65535 AS bv
  FROM ph, LATERAL unnest([0, 1, 2, 3]) AS t(b)
),
j AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         bit_count(xor(a.dhash, b2.dhash)) AS hamming
  FROM band a JOIN band b2
    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id
),
g AS (
  SELECT id_a, id_b, CAST(min(hamming) AS BIGINT) AS hamming,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM j GROUP BY 1, 2
)
SELECT id_a, id_b, hamming, n_shared_bands FROM g WHERE hamming <= 3
""")


def q_ts_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs-up-and-down test per conversation: R, n,
    E[R] = (2n+1)/3 and z — the distribution-free trend/oscillation
    detector. Differences and sign compares are exact (no grid before
    the final rounding); R and n are integers, so z is one closed
    form of two exact integers. ONE hash exchange. Full-value oracle
    restates the IGNORE-NULLS previous-sign construction verbatim."""
    from cesium_spark.operators.seriesstats import runs_test
    out = runs_test(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", "n_moves", "n_runs",
        _r(F.col("expected_runs")).alias("expected_runs"),
        _r(F.col("z")).alias("z"),
        "reject_95")


SQL_TS_RUNS = oracle(q_ts_runs, f"""{_VALUE_SERIES_SQL}
, d AS (
  SELECT conv_id, turn_idx, t, y - lag(y) OVER w AS dd
  FROM series WHERE t IS NOT NULL AND y IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
s AS (
  SELECT conv_id, turn_idx, t,
         CASE WHEN dd > 0 THEN 1 WHEN dd < 0 THEN -1 END AS sgn
  FROM d
),
p AS (
  SELECT conv_id, sgn,
         last_value(sgn IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY t, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM s
),
a AS (
  SELECT conv_id,
         count(sgn) AS n_moves,
         sum(CASE WHEN sgn IS NOT NULL AND prev IS NOT NULL
                  AND sgn != prev THEN 1 ELSE 0 END) AS nchg
  FROM p GROUP BY conv_id
)
SELECT conv_id,
       cast(n_moves AS bigint) AS n_moves,
       CASE WHEN n_moves > 0 THEN cast(nchg + 1 AS bigint) END AS n_runs,
       CASE WHEN n_moves >= 2
            THEN round((2.0 * n_moves + 1.0) / 3.0, 6) + 0.0
       END AS expected_runs,
       CASE WHEN n_moves >= 2
            THEN round((cast(nchg + 1 AS double)
                        - (2.0 * n_moves + 1.0) / 3.0)
                       / sqrt((16.0 * n_moves - 13.0) / 90.0), 6) + 0.0
       END AS z,
       CASE WHEN n_moves >= 2
            THEN round(abs((cast(nchg + 1 AS double)
                            - (2.0 * n_moves + 1.0) / 3.0)
                           / sqrt((16.0 * n_moves - 13.0) / 90.0))
                       - 1.96, 6) > 0
       END AS reject_95
FROM a
""")


def q_ts_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt–Pompe permutation entropy (m = 3) per conversation: the
    ordinal-pattern complexity measure, invariant to monotone
    rescaling. Pattern codes are exact integer functions of exact
    double compares (stable-argsort tie rule); entropy uses the
    cancellation-free log2 form on integer counts. TWO shrinking
    exchanges. Full-value oracle restates ranks and entropy."""
    from cesium_spark.operators.seriesstats import permutation_entropy
    out = permutation_entropy(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", "n_windows", "n_patterns",
        _r(F.col("h_bits")).alias("h_bits"),
        _r(F.col("h_norm")).alias("h_norm"))


SQL_TS_PERM_ENTROPY = oracle(q_ts_perm_entropy, f"""{_VALUE_SERIES_SQL}
, t3 AS (
  SELECT conv_id, y AS y0,
         lead(y, 1) OVER w AS y1,
         lead(y, 2) OVER w AS y2
  FROM series WHERE t IS NOT NULL AND y IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
code AS (
  SELECT conv_id,
         ((CASE WHEN y1 < y0 THEN 1 ELSE 0 END)
          + (CASE WHEN y2 < y0 THEN 1 ELSE 0 END)) * 9
         + ((CASE WHEN y0 < y1 THEN 1 ELSE 0 END)
            + (CASE WHEN y2 < y1 THEN 1 ELSE 0 END)
            + (CASE WHEN y0 = y1 THEN 1 ELSE 0 END)) * 3
         + ((CASE WHEN y0 < y2 THEN 1 ELSE 0 END)
            + (CASE WHEN y1 < y2 THEN 1 ELSE 0 END)
            + (CASE WHEN y0 = y2 THEN 1 ELSE 0 END)
            + (CASE WHEN y1 = y2 THEN 1 ELSE 0 END)) AS pattern
  FROM t3 WHERE y1 IS NOT NULL AND y2 IS NOT NULL
),
c AS (
  SELECT conv_id, pattern, count(*) AS cnt
  FROM code GROUP BY conv_id, pattern
),
a AS (
  SELECT conv_id,
         sum(cnt) AS n_windows,
         count(*) AS n_patterns,
         sum(cast(cnt AS double) * log2(cast(cnt AS double))) AS sclc
  FROM c GROUP BY conv_id
)
SELECT conv_id,
       cast(n_windows AS bigint) AS n_windows,
       cast(n_patterns AS int) AS n_patterns,
       round((cast(n_windows AS double)
              * log2(cast(n_windows AS double)) - sclc)
             / cast(n_windows AS double), 6) + 0.0 AS h_bits,
       round((cast(n_windows AS double)
              * log2(cast(n_windows AS double)) - sclc)
             / cast(n_windows AS double) / log2(6.0), 6) + 0.0
         AS h_norm
FROM a
""")


def q_ts_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint per conversation: K = max|Uₖ| over all
    split points via the O(n) midrank identity, earliest-k tiebreak,
    asymptotic p, and the mean shift from the SAME time-ordered
    cumulative sum. Uₖ and K are exact bigints (2·midrank is an
    integer), so the argmax cannot flip between engines; ONE hash
    exchange. Full-value oracle replays midranks, cumulants, and the
    row_number argmax verbatim."""
    from cesium_spark.operators.seriesstats import pettitt
    out = pettitt(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", "n", "k_change",
        _r(F.col("t_change")).alias("t_change"),
        "K",
        _r(F.col("p_approx")).alias("p_approx"),
        _r(F.col("delta_mean")).alias("delta_mean"))


SQL_TS_PETTITT = oracle(q_ts_pettitt, f"""{_VALUE_SERIES_SQL}
, r AS (
  SELECT conv_id, turn_idx, t, y,
         {_midrank2_sql("y")} AS r2
  FROM series WHERE t IS NOT NULL AND y IS NOT NULL
),
c0 AS (
  SELECT conv_id, t, turn_idx,
         row_number() OVER wo AS k,
         count(*) OVER wa AS n,
         sum(r2) OVER wc AS s2,
         sum(y) OVER wc AS sy
  FROM r
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx),
         wc AS (PARTITION BY conv_id ORDER BY t, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY conv_id ORDER BY t, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
c AS (
  SELECT *, last_value(sy) OVER (
           PARTITION BY conv_id ORDER BY t, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS sy_tot
  FROM c0
),
u AS (
  SELECT conv_id, t, k, n, sy, sy_tot,
         abs(s2 - k * (n + 1)) AS absu,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY abs(s2 - k * (n + 1)) DESC,
                                     k ASC) AS rn
  FROM c WHERE k < n
)
SELECT conv_id,
       cast(n AS bigint) AS n,
       cast(k AS bigint) AS k_change,
       round(t, 6) + 0.0 AS t_change,
       cast(absu AS bigint) AS K,
       round(least(1.0, 2.0 * exp(-6.0 * cast(absu AS double)
                                  * cast(absu AS double)
                                  / (cast(n AS double) * n * n
                                     + cast(n AS double) * n))),
             6) + 0.0 AS p_approx,
       round((sy_tot - sy) / (cast(n AS double) - k)
             - sy / cast(k AS double), 6) + 0.0 AS delta_mean
FROM u WHERE rn = 1
""")


def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per conversation: S, tie
    counts, and the 18·var(S) numerator are exact integers from an
    O(n·log²n) in-kernel inversion count (no pair shuffle); z and τ_b
    are fixed double trees over those integers. The oracle replays S
    by the literal pair definition — a within-conversation self-join
    DuckDB can afford at test scale — so a single off-by-one in the
    inversion identity S = T − U − 2·inv would hash-mismatch."""
    from cesium_spark.operators.seriesstats import mann_kendall
    out = mann_kendall(_value_series(spark, sf_dir))
    return out.select(
        "conv_id", "n", "s_stat", "tied_pairs", "var18",
        _r(F.col("z")).alias("z"),
        _r(F.col("tau_b"), 9).alias("tau_b"))


SQL_TS_MANN_KENDALL = oracle(q_ts_mann_kendall, f"""{_VALUE_SERIES_SQL}
, pairs AS (
  SELECT a.conv_id,
         sum(CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS s_stat,
         sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS tied_pairs
  FROM series a
  JOIN series b ON a.conv_id = b.conv_id AND b.turn_idx > a.turn_idx
  WHERE a.y IS NOT NULL AND b.y IS NOT NULL
        AND a.t IS NOT NULL AND b.t IS NOT NULL
  GROUP BY 1
),
ties AS (
  SELECT conv_id, sum(c * (c - 1) * (2 * c + 5)) AS tie_term,
         CAST(sum(c) AS BIGINT) AS n
  FROM (SELECT conv_id, y, count(*) AS c FROM series
        WHERE y IS NOT NULL AND t IS NOT NULL GROUP BY 1, 2)
  GROUP BY 1
),
mk AS (
  SELECT p.conv_id, t.n,
         cast(p.s_stat AS bigint) AS s_stat,
         cast(p.tied_pairs AS bigint) AS tied_pairs,
         cast(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term
              AS bigint) AS var18
  FROM pairs p JOIN ties t USING (conv_id)
  WHERE t.n >= 2
)
SELECT conv_id, n, s_stat, tied_pairs, var18,
       round(CASE WHEN var18 = 0 THEN NULL
                  WHEN s_stat > 0 THEN (cast(s_stat AS double) - 1)
                       / sqrt(cast(var18 AS double) / 18.0)
                  WHEN s_stat < 0 THEN (cast(s_stat AS double) + 1)
                       / sqrt(cast(var18 AS double) / 18.0)
                  ELSE 0.0 END, 6) + 0.0 AS z,
       round(CASE WHEN ((n * (n - 1)) / 2 - cast(tied_pairs AS double))
                       * ((n * (n - 1)) / 2) > 0 THEN
                  cast(s_stat AS double)
                  / sqrt(((n * (n - 1)) / 2
                          - cast(tied_pairs AS double))
                         * ((n * (n - 1)) / 2)) END, 9) + 0.0 AS tau_b
FROM mk
""")


def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per conversation (max_points=64):
    median of pairwise slopes after deterministic systematic thinning,
    intercept through the coordinate medians. Thinning is integer
    row-number arithmetic, each slope one exact double expression, and
    the median the interpolation both engines share (percentile ↔
    quantile_cont, ts_quantiles_1d precedent). Bounded self-equi-join
    on conv_id — no cartesian. Full-value oracle replays thinning,
    pairing, and both medians verbatim."""
    from cesium_spark.operators.seriesstats import theil_sen
    out = theil_sen(_value_series(spark, sf_dir), max_points=64)
    return out.select(
        "conv_id", "n", "n_used", "capped", "n_pairs",
        _r(F.col("slope"), 9).alias("slope"),
        _r(F.col("intercept")).alias("intercept"))


SQL_TS_THEIL_SEN = oracle(q_ts_theil_sen, f"""{_VALUE_SERIES_SQL}
, b AS (
  SELECT conv_id, t, y,
         row_number() OVER wo AS k,
         count(*) OVER wa AS n
  FROM series WHERE t IS NOT NULL AND y IS NOT NULL
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx),
         wa AS (PARTITION BY conv_id ORDER BY t, turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
kept AS (
  SELECT * FROM b
  WHERE k = 1 OR ((k - 1) * 64) // n > ((k - 2) * 64) // n
),
med AS (
  SELECT conv_id, max(n) AS n, count(*) AS n_used,
         quantile_cont(t, 0.5) AS med_t,
         quantile_cont(y, 0.5) AS med_y
  FROM kept GROUP BY conv_id
),
sl AS (
  SELECT a.conv_id,
         count(*) AS n_pairs,
         quantile_cont((b2.y - a.y) / (b2.t - a.t), 0.5) AS slope
  FROM kept a JOIN kept b2
    ON a.conv_id = b2.conv_id AND b2.k > a.k AND b2.t > a.t
  GROUP BY a.conv_id
)
SELECT m.conv_id,
       cast(m.n AS bigint) AS n,
       cast(m.n_used AS bigint) AS n_used,
       m.n > 64 AS capped,
       cast(coalesce(s.n_pairs, 0) AS bigint) AS n_pairs,
       round(s.slope, 9) + 0.0 AS slope,
       round(m.med_y - s.slope * m.med_t, 6) + 0.0 AS intercept
FROM med m LEFT JOIN sl s ON m.conv_id = s.conv_id
""")


def _pq_cb() -> list:
    from cesium_spark.operators._pq_trained import TRAINED_CODEBOOKS
    return TRAINED_CODEBOOKS


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the whole corpus under the frozen trained
    codebooks (m=8, ksub=16): per-subspace nearest-codeword indices +
    the packed 32-bit-in-bigint code. Every codeword distance is the
    same fixed-order exact double expression in both engines and
    argmin is first-match, so the codes admit a FULL-VALUE oracle (the
    numpy-BLAS IVF assignment cannot; stated in pq.py). Zero shuffle:
    the encoding is one projection over the scan."""
    from cesium_spark.operators import pq
    embs = _read(spark, sf_dir, "embeddings")
    cb = _pq_cb()
    out = pq.pq_encode(embs, cb)
    return out.select("vec_id", *[f"code_{i}" for i in range(len(cb))],
                      "pq_code")


def _pq_dist_sql(prefix: str, cb, i: int) -> list[str]:
    """ksub squared-distance term chains for subspace i against
    columns ``{prefix}{j}`` — ONE generator for both the codes oracle
    and the LUT oracle, because the term order and literal formatting
    are load-bearing for the exactness contract."""
    m, ksub, dsub = cb.shape
    return [" + ".join(
        f"({prefix}{i * dsub + j + 1} - {float(cb[i, kk, j])!r}) * "
        f"({prefix}{i * dsub + j + 1} - {float(cb[i, kk, j])!r})"
        for j in range(dsub)) for kk in range(ksub)]


def _pq_sql_parts() -> tuple[str, str]:
    """Shared oracle snippets: (element CTE 'e', code CTE chain
    'dl, codes') replaying pq.pq_code_cols verbatim — same term
    order, same first-match argmin, same packing."""
    import numpy as np
    cb = np.asarray(_pq_cb(), dtype=np.float64)
    m, ksub, dsub = cb.shape
    e_cols = ",\n         ".join(
        f"cast(embedding[{j + 1}] AS double) AS e{j + 1}"
        for j in range(m * dsub))
    e_cte = (f"e AS (\n  SELECT vec_id,\n         {e_cols}\n"
             f"  FROM embeddings WHERE embedding IS NOT NULL\n)")
    dl_cols = []
    for i in range(m):
        dists = _pq_dist_sql("e", cb, i)
        dl_cols.append("[" + ",\n          ".join(dists)
                       + f"] AS dl_{i}")
    dl_cte = ("dl AS (\n  SELECT vec_id,\n         "
              + ",\n         ".join(dl_cols) + "\n  FROM e\n)")
    code_exprs = ",\n         ".join(
        f"cast(list_position(dl_{i}, list_min(dl_{i})) - 1 AS int) "
        f"AS code_{i}" for i in range(m))
    # same packing stride as pq_encode: bits = ceil(log2(ksub))
    bits = int(ksub - 1).bit_length()
    pack = " + ".join(f"cast(code_{i} AS bigint) * {1 << (bits * i)}"
                      for i in range(m))
    codes_cte = (f"codes AS (\n  SELECT vec_id,\n         {code_exprs}"
                 f"\n  FROM dl\n),\npacked AS (\n  SELECT *, {pack} "
                 f"AS pq_code FROM codes\n)")
    return e_cte, dl_cte + ",\n" + codes_cte


def _pq_codes_sql() -> str:
    e_cte, codes = _pq_sql_parts()
    cols = ", ".join(f"code_{i}" for i in range(len(_pq_cb())))
    return (f"WITH {e_cte},\n{codes}\n"
            f"SELECT vec_id, {cols}, pq_code FROM packed")


oracle(q_emb_pq_codes, _pq_codes_sql())


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 around the vec_id=0 query under the frozen PQ
    codebooks: per-subspace lookup tables + TakeOrdered, then an exact
    squared-distance re-score of only the winners. LUT entries and the
    ADC sum are the same fixed-order arithmetic in both engines (the
    LUT is built from the query vector with sequential accumulation,
    replayed term-by-term in SQL), so adc, the ranking, and exact_sq
    are all full-value comparable."""
    from cesium_spark.operators import pq
    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    q = [float(x) for x in qrow[0]]
    out = pq.pq_adc_topk(embs, q, _pq_cb(), k=10)
    return out.select("vec_id", "pq_code",
                      _r(F.col("adc")).alias("adc"),
                      _r(F.col("exact_sq")).alias("exact_sq"))


def _pq_topk_sql() -> str:
    import numpy as np
    cb = np.asarray(_pq_cb(), dtype=np.float64)
    m, ksub, dsub = cb.shape
    e_cte, codes = _pq_sql_parts()
    lut_cols = []
    for i in range(m):
        entries = _pq_dist_sql("qe", cb, i)
        lut_cols.append("[" + ",\n          ".join(entries)
                        + f"] AS lut_{i}")
    q_cols = ",\n         ".join(
        f"cast(embedding[{j + 1}] AS double) AS qe{j + 1}"
        for j in range(m * dsub))
    q_cte = (f"q AS (\n  SELECT {q_cols}\n  FROM embeddings "
             f"WHERE vec_id = 0\n),\nlut AS (\n  SELECT "
             + ",\n         ".join(lut_cols) + "\n  FROM q\n)")
    adc = " + ".join(f"lut_{i}[code_{i} + 1]" for i in range(m))
    exact = " + ".join(
        f"(e{j + 1} - qe{j + 1}) * (e{j + 1} - qe{j + 1})"
        for j in range(m * dsub))
    return f"""WITH {e_cte},
{codes},
{q_cte},
adc AS (
  SELECT p.vec_id, p.pq_code, {adc} AS adc
  FROM packed p CROSS JOIN lut
),
top AS (
  SELECT * FROM adc ORDER BY adc, vec_id LIMIT 10
)
SELECT t.vec_id, t.pq_code,
       round(t.adc, 6) + 0.0 AS adc,
       round({exact}, 6) + 0.0 AS exact_sq
FROM top t JOIN e ON t.vec_id = e.vec_id CROSS JOIN q
"""


oracle(q_emb_pq_topk, _pq_topk_sql())


def q_doc_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage detection over a deterministically corrupted
    copy of the corpus (the synthetic documents are clean, so the
    query plants the three real failure modes in-query: doc_id%7==0
    gets every 'e' double-encoded to 'Ã©', %7==1 gets a U+FFFD pair a
    failed decoder left behind, %7==2 gets cp1252 smart-quote damage
    'â€™' for every 't', %7==3 gets a C1 control byte; the rest stay
    clean). Counts are integer regexp arithmetic over literal char
    classes (Java/RE2 parity probed); the oracle replays corruption
    and detection with chr()-built literals."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    mod = F.col("doc_id") % 7
    corrupted = docs.select(
        "doc_id",
        F.when(mod == 0, F.replace(t, F.lit("e"),
                                   F.lit("Ã©")))
        .when(mod == 1, F.concat(t, F.lit("��")))
        .when(mod == 2, F.replace(t, F.lit("t"),
                                  F.lit("â€™")))
        .when(mod == 3, F.concat(t, F.lit("\x85")))
        .otherwise(t).alias("text"))
    out = textstats.mojibake_stats(corrupted)
    return out.select(
        "doc_id", "n_chars", "n_replacement", "n_double_utf8", "n_c1",
        _r(F.col("mojibake_per_kchar")).alias("mojibake_per_kchar"),
        "is_damaged")


SQL_DOC_MOJIBAKE = oracle(q_doc_mojibake, r"""
WITH c AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0
             THEN replace(text, 'e', chr(195) || chr(169))
           WHEN doc_id % 7 = 1
             THEN text || chr(65533) || chr(65533)
           WHEN doc_id % 7 = 2
             THEN replace(text, 't', chr(226) || chr(8364) || chr(8217))
           WHEN doc_id % 7 = 3 THEN text || chr(133)
           ELSE text
         END AS text
  FROM documents
),
s AS (
  SELECT doc_id,
         cast(length(text) AS bigint) AS n_chars,
         cast(len(regexp_extract_all(text, '\x{fffd}', 0)) AS bigint)
           AS n_replacement,
         cast(len(regexp_extract_all(text, '\x{c3}[\x{80}-\x{ff}]', 0))
              + len(regexp_extract_all(text, '\x{e2}\x{20ac}', 0))
              AS bigint) AS n_double_utf8,
         cast(len(regexp_extract_all(text, '[\x{80}-\x{9f}]', 0))
              AS bigint) AS n_c1
  FROM c
)
SELECT doc_id, n_chars, n_replacement, n_double_utf8, n_c1,
       CASE WHEN n_chars > 0 THEN
         round(1000.0 * cast(3 * n_replacement + n_double_utf8 + n_c1
                             AS double)
               / cast(n_chars AS double), 6) + 0.0
       END AS mojibake_per_kchar,
       CASE WHEN n_chars > 0 THEN
         1000.0 * cast(3 * n_replacement + n_double_utf8 + n_c1
                       AS double) / cast(n_chars AS double) > 1.0
       END AS is_damaged
FROM s
""")


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-corpus health: n/mean/var_pop/min/max
    + collapsed flag per dim (64 rows). Map-side partials collapse
    the shuffle to dim-sized rows. Moments are order-dependent at
    1e-15 so both sides land on the 6-dp grid; the collapsed compare
    runs on the ROUNDED variance so the boundary is engine-stable."""
    from cesium_spark.operators.similarity import embedding_dim_stats
    embs = _read(spark, sf_dir, "embeddings")
    out = embedding_dim_stats(embs)
    return out.select(
        "dim", "n_vecs",
        _r(F.col("mean")).alias("mean"),
        _r(F.col("variance")).alias("variance"),
        _r(F.col("min_val")).alias("min_val"),
        _r(F.col("max_val")).alias("max_val"),
        (_r(F.col("variance")) < F.lit(1e-6)).alias("collapsed"))


SQL_EMB_DIM_STATS = oracle(q_emb_dim_stats, """
WITH x AS (
  SELECT u.val, u.pos
  FROM embeddings e,
       LATERAL (SELECT cast(unnest(e.embedding) AS double) AS val,
                       generate_subscripts(e.embedding, 1) AS pos) u
  WHERE e.embedding IS NOT NULL
)
SELECT cast(pos AS int) AS dim,
       cast(count(*) AS bigint) AS n_vecs,
       round(avg(val), 6) + 0.0 AS mean,
       round(var_pop(val), 6) + 0.0 AS variance,
       round(min(val), 6) + 0.0 AS min_val,
       round(max(val), 6) + 0.0 AS max_val,
       round(var_pop(val), 6) + 0.0 < 1e-6 AS collapsed
FROM x GROUP BY pos
""")


def q_ts_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment under the driver gate: the
    value series replays through readStream (availableNow), each event
    is broadcast-joined to its STATIC customer dimension row (user_id
    = c_custkey — stateless, no state store), and a watermarked 1h
    window counts per market segment finalize in append mode. Same
    non-round 7000 s cutoff as ts_stream_moments so the <=/< edge
    cannot bite. The oracle replays join + window + cutoff in batch
    SQL; sums are 4-dp (order-dependent), counts exact."""
    import os
    import tempfile

    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_enriched_counts,
    )

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_enrich_")
    os.makedirs(f"{base}/src")
    s = _value_series(spark, sf_dir).withColumn(
        "user_id", F.col("conv_id").cast("bigint"))
    s.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = ("conv_id string, channel string, turn_idx int, "
              "ts timestamp, t double, y double, e double, "
              "user_id bigint")
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    dim = (_read(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"),
                   "c_mktsegment"))
    out_stream = stream_enriched_counts(
        stream, dim, on="user_id", attr="c_mktsegment",
        tier="1h", watermark="7000 seconds")
    io = TableIO(spark, f"{base}/tables")
    q = (out_stream.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", io.path("stream_enrich"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_enrich: availableNow stream did not finish "
            "within 300s")
    out = io.read("stream_enrich")
    return out.select(
        "c_mktsegment",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r0(F.round(F.col("y_sum"), 4)).alias("y_sum"),
        _r(F.col("y_min")).alias("y_min"),
        _r(F.col("y_max")).alias("y_max"))


SQL_TS_STREAM_ENRICH = oracle(q_ts_stream_enrich, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
e AS (
  SELECT c.c_mktsegment,
         date_trunc('hour', ev.ts) AS ws,
         ev.value
  FROM events ev JOIN customer c ON ev.user_id = c.c_custkey
)
SELECT c_mktsegment,
       strftime(ws, '{DUCK_TS_FMT}') AS window_start,
       count(*) AS n,
       round(sum(value), 4) + 0.0 AS y_sum,
       round(min(value), 6) + 0.0 AS y_min,
       round(max(value), 6) + 0.0 AS y_max
FROM e, mx
GROUP BY c_mktsegment, ws, mx.m
HAVING ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 7000 SECONDS
""")


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style boilerplate line removal over a corpus with
    planted template lines (doc_id%3==0 gains a two-line footer,
    %3==1 a header; %97==0 gains a RARE line that must survive the
    min_docs=20 threshold). Matching on trimmed lines, reconstruction
    in original order, all-boilerplate docs keep an empty-text row.
    Exact string/integer work end-to-end — the oracle full-value
    compares the reconstructed text itself."""
    from cesium_spark.operators.dedup import line_dedup
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 3
    planted = docs.select(
        "doc_id",
        F.when(mod == 0, F.concat(
            F.col("text"),
            F.lit("\nSubscribe to our newsletter!"
                  "\nAll rights reserved.")))
        .when(mod == 1, F.concat(
            F.lit("All rights reserved.\n"), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    planted = planted.select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0,
               F.concat(F.col("text"), F.lit("\nrare footer line")))
        .otherwise(F.col("text")).alias("text"))
    out = line_dedup(planted, min_docs=20)
    return out.select("doc_id", "n_lines", "n_removed", "text_clean")


SQL_DOC_LINE_DEDUP = oracle(q_doc_line_dedup, """
WITH p0 AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN text || chr(10)
                || 'Subscribe to our newsletter!' || chr(10)
                || 'All rights reserved.'
           WHEN doc_id % 3 = 1
             THEN 'All rights reserved.' || chr(10) || text
           ELSE text
         END AS text
  FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0
              THEN text || chr(10) || 'rare footer line'
              ELSE text END AS text
  FROM p0
),
l AS (
  SELECT doc_id, u.line, u.pos
  FROM p,
       LATERAL (SELECT unnest(string_split(p.text, chr(10))) AS line,
                       generate_subscripts(
                         string_split(p.text, chr(10)), 1) AS pos) u
),
hot AS (
  SELECT trim(line) AS key
  FROM l WHERE trim(line) != ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 20
),
kept AS (
  SELECT * FROM l
  WHERE trim(line) NOT IN (SELECT key FROM hot)
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id,
       cast(len(string_split(p.text, chr(10))) AS bigint) AS n_lines,
       cast(len(string_split(p.text, chr(10)))
            - coalesce(r.n_kept, 0) AS bigint) AS n_removed,
       coalesce(r.text_clean, '') AS text_clean
FROM p LEFT JOIN rebuilt r ON p.doc_id = r.doc_id
""")


def _ddsketch_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value series with zero/negative stores exercised: every 13th
    turn pinned to exact 0.0 (zero store), every 17th sign-flipped
    (negative store; |v| unchanged, so the log bucket is identical)."""
    s = _value_series(spark, sf_dir)
    return s.withColumn(
        "y",
        F.when(F.col("turn_idx") % 13 == 0, F.lit(0.0))
        .when(F.col("turn_idx") % 17 == 0, -F.col("y"))
        .otherwise(F.col("y")))


_DDSKETCH_PLANT_SQL = """
planted AS (
  SELECT conv_id, ts,
         CASE WHEN turn_idx % 13 = 0 THEN 0.0
              WHEN turn_idx % 17 = 0 THEN -y
              ELSE y END AS y
  FROM series
)
"""

def q_ts_ddsketch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch retention tiers (Masson 2019 relative-error quantile
    sketch): hourly log-bucket cells per conv FOLDED to daily by
    integer addition. Same contract as the histogram/CMS tiers: the
    fold is exact int arithmetic over identical bucket boundaries
    (alpha frozen), so folded cells must EQUAL the daily cells the
    oracle computes directly from raw — full-value, bit-stable at any
    parallelism. Zero and negative stores are planted via turn_idx
    mods; the in-plan boundary-margin guard (1e-9) proves no value
    sits where engine ln() ulps could flip a ceil."""
    from cesium_spark.operators.ddsketch import ddsketch_build, ddsketch_fold
    hourly = ddsketch_build(_ddsketch_planted(spark, sf_dir), "1h",
                            ["conv_id"], "y", alpha=_DD_ALPHA)
    daily = ddsketch_fold(hourly, "1d", ["conv_id"])
    return daily.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("store").cast("int").alias("store"),
        F.col("bkt").cast("int").alias("bkt"),
        F.col("cnt").cast("long").alias("cnt"))


SQL_TS_DDSKETCH_FOLD = oracle(q_ts_ddsketch_fold, f"""{_VALUE_SERIES_SQL.rstrip()},
{_DDSKETCH_PLANT_SQL}
SELECT conv_id,
       strftime(date_trunc('day', ts), '{DUCK_TS_FMT}') AS window_start,
       {_DD_CELL_SQL},
       count(*) AS cnt
FROM planted
WHERE y IS NOT NULL
GROUP BY ALL
""")


def q_ts_ddsketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95 estimates from the FOLDED daily DDSketch — the payoff of
    the relative-error tier: |est − true| ≤ α·|true| at every quantile
    regardless of value range (pytest-pinned). Deterministic: integer
    counts + γ-literals through one fixed expression tree (one pow per
    bucket; cross-engine pow parity for this frozen γ pinned in pytest
    over the full plausible bucket range), rounded at the contract
    boundary."""
    from cesium_spark.operators.ddsketch import (
        ddsketch_build,
        ddsketch_fold,
        ddsketch_quantile,
    )
    hourly = ddsketch_build(_ddsketch_planted(spark, sf_dir), "1h",
                            ["conv_id"], "y", alpha=_DD_ALPHA)
    daily = ddsketch_fold(hourly, "1d", ["conv_id"])
    out = ddsketch_quantile(daily, ["conv_id"], [0.5, 0.95], _DD_ALPHA,
                            ["p50_est", "p95_est"])
    return out.select(
        "conv_id",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("n").cast("long").alias("n"),
        _r(F.col("p50_est")).alias("p50_est"),
        _r(F.col("p95_est")).alias("p95_est"))


def _dd_mid_list_sql(bkt_bound: int = 700) -> str:
    """DuckDB list literal of the SAME midpoint table the Spark plan
    uses (ddsketch.midpoint_literals) — repr roundtrips doubles, so
    both engines index bit-identical values."""
    from cesium_spark.operators.ddsketch import midpoint_literals
    mids = midpoint_literals(_DD_ALPHA, bkt_bound)
    return "[" + ", ".join(repr(m) for m in mids) + "]"


SQL_TS_DDSKETCH_QUANTILE = oracle(q_ts_ddsketch_quantile, f"""{_VALUE_SERIES_SQL.rstrip()},
{_DDSKETCH_PLANT_SQL},
cells AS (
  SELECT conv_id,
         date_trunc('day', ts) AS window_start,
         {_DD_CELL_SQL},
         count(*) AS cnt
  FROM planted
  WHERE y IS NOT NULL
  GROUP BY ALL
),
r AS (
  SELECT conv_id, window_start, store, bkt, cnt,
         sum(cnt) OVER (PARTITION BY conv_id, window_start
                        ORDER BY store,
                                 CASE WHEN store = -1 THEN -bkt
                                      ELSE bkt END
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY conv_id, window_start) AS total,
         CASE WHEN store = 0 THEN 0.0
              ELSE CAST(store AS DOUBLE)
                   * ({_dd_mid_list_sql()}[bkt + 701]) END AS est
  FROM cells
)
SELECT conv_id,
       strftime(window_start, '{DUCK_TS_FMT}') AS window_start,
       CAST(max(total) AS BIGINT) AS n,
       round(max(CASE WHEN CAST(cum AS DOUBLE)
                           >= 0.5 * CAST(total AS DOUBLE)
                      AND CAST(cum - cnt AS DOUBLE)
                          < 0.5 * CAST(total AS DOUBLE)
                      THEN est END), 6) + 0.0 AS p50_est,
       round(max(CASE WHEN CAST(cum AS DOUBLE)
                           >= 0.95 * CAST(total AS DOUBLE)
                      AND CAST(cum - cnt AS DOUBLE)
                          < 0.95 * CAST(total AS DOUBLE)
                      THEN est END), 6) + 0.0 AS p95_est
FROM r
GROUP BY conv_id, window_start
""")


def q_doc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram coverage (Lee et al. 2022 exact-substring
    dedup at n-gram granularity): per doc, the fraction of its distinct
    5-grams that occur in >= 2 documents. Every doc_id%5==0 doc gains a
    shared 12-token boilerplate paragraph (8 guaranteed-duplicated
    5-grams), so the is_dup flag at threshold 0.1 separates planted
    boilerplate carriers from the natural background. Counts are exact
    integers keyed by md5-prefix grams; dup_frac is one exact integer
    division — full-value oracle."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    plant = ("privacy policy terms of service cookie "
             "notice applies to this web site")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + plant)))
        .otherwise(F.col("text")).alias("text"))
    out = dedup.ngram_coverage(planted, n=5, min_df=2, dup_threshold=0.1)
    return out.select("doc_id", "n_grams", "n_dup",
                      _r(F.col("dup_frac")).alias("dup_frac"), "is_dup")


SQL_DOC_NGRAM_COVERAGE = oracle(q_doc_ngram_coverage, """
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' privacy policy terms of service cookie'
                   || ' notice applies to this web site'
              ELSE text END AS text
  FROM documents
),
tk AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM p
),
grams AS (
  SELECT doc_id, substr(md5(g), 1, 16) AS gk
  FROM (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
    FROM tk, LATERAL (
      SELECT unnest(generate_series(1, len(t) - 4)) AS i) u
    WHERE len(t) >= 5
  )
),
dfreq AS (SELECT gk, count(*) AS df FROM grams GROUP BY 1),
per AS (
  SELECT g.doc_id,
         cast(count(*) AS bigint) AS n_grams,
         cast(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS bigint)
           AS n_dup
  FROM grams g JOIN dfreq d USING (gk) GROUP BY 1
)
SELECT p.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.n_dup, 0) AS n_dup,
       round(cast(per.n_dup AS double) / cast(per.n_grams AS double), 6)
         + 0.0 AS dup_frac,
       coalesce(cast(per.n_dup AS double) / cast(per.n_grams AS double),
                0.0) >= 0.1 AS is_dup
FROM p LEFT JOIN per USING (doc_id)
""")


def q_doc_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea-Tarau 2004): 5 PageRank
    rounds over the directed token-bigram graph of the documents
    corpus, dangling tokens self-looped, every incoming sum a sorted
    sequential fold — bit-identical cross-engine (the oracle unrolls
    the 5 rounds as CTE stages with list_sum(list(... ORDER BY src)),
    the probed in-order fold). rank_rel = n·rank (1.0 = uniform) keeps
    6-dp rounding meaningful at any vocabulary size."""
    from cesium_spark.operators.graphrank import textrank
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = textrank(docs, damping=0.85, iterations=5,
                   checkpoint_mode="local")
    return out.select(
        "token", _r(F.col("rank"), 9).alias("rank"),
        _r(F.col("rank_rel")).alias("rank_rel"))


def _textrank_oracle_sql(k: int = 5, d: float = 0.85) -> str:
    """Unrolled k-stage PageRank CTE, generated from the same
    parameters the Spark query uses so the two cannot drift."""
    stages = []
    for i in range(1, k + 1):
        stages.append(f"""pr{i} AS (
  SELECT v.v,
         ((1.0 - {d!r}) / nn.nd) + {d!r} * coalesce(s.s, 0.0) AS x
  FROM verts v CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS v,
           list_sum(list((CAST(e.w AS DOUBLE)
                          / CAST(e.outdeg AS DOUBLE)) * p.x
                         ORDER BY e.src)) AS s
    FROM ej e JOIN pr{i - 1} p ON e.src = p.v
    GROUP BY e.dst) s ON v.v = s.v
)""")
    return f"""
WITH tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
edges0 AS (
  SELECT a.tok AS src, b.tok AS dst, count(*) AS w
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
verts AS (SELECT src AS v FROM edges0 UNION SELECT dst FROM edges0),
loops AS (
  SELECT v AS src, v AS dst, cast(1 AS bigint) AS w FROM verts
  WHERE v NOT IN (SELECT src FROM edges0)
),
edges AS (SELECT src, dst, cast(w AS bigint) AS w FROM edges0
          UNION ALL SELECT * FROM loops),
od AS (SELECT src, cast(sum(w) AS bigint) AS outdeg
       FROM edges GROUP BY 1),
ej AS (SELECT e.src, e.dst, e.w, o.outdeg
       FROM edges e JOIN od o USING (src)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM verts),
pr0 AS (SELECT v, 1.0 / nn.nd AS x FROM verts CROSS JOIN nn),
{",".join(stages)}
SELECT v AS token,
       round(x, 9) + 0.0 AS rank,
       round(x * nn.nd, 6) + 0.0 AS rank_rel
FROM pr{k} CROSS JOIN nn
"""


SQL_DOC_TEXTRANK = oracle(q_doc_textrank, _textrank_oracle_sql(5, 0.85))


def q_ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif/discord mining per conversation (k=4 words over
    per-point letters at fixed breakpoints 15/35/70): the recurring
    shape and the oddest subsequence, with deterministic tiebreaks
    (word asc, earliest position). Letters come from 6-dp-gridded
    compares; counts/positions are integers — the ranking cannot flip
    between engines. ONE hash exchange. Full-value oracle replays
    letters, lead-built words, counts, and both rankings verbatim."""
    from cesium_spark.operators.downsample import sax_motifs
    out = sax_motifs(_value_series(spark, sf_dir), k=4,
                     breakpoints=[15.0, 35.0, 70.0], alphabet="abcd")
    return out.select(
        "conv_id", "n_words", "motif_word", "motif_count", "motif_pos",
        "discord_word", "discord_count", "discord_pos")


SQL_TS_SAX_MOTIFS = oracle(q_ts_sax_motifs, f"""{_VALUE_SERIES_SQL}
, lt AS (
  SELECT conv_id, t, turn_idx,
         substr('abcd',
                len(list_filter([CAST(15.0 AS double),
                                 CAST(35.0 AS double),
                                 CAST(70.0 AS double)],
                                b -> b < round(y, 6))) + 1, 1) AS c,
         row_number() OVER wo - 1 AS pos
  FROM series WHERE y IS NOT NULL AND t IS NOT NULL
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
w AS (
  SELECT conv_id, pos,
         c || lead(c, 1) OVER wo || lead(c, 2) OVER wo
           || lead(c, 3) OVER wo AS word
  FROM lt
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx)
),
stats AS (
  SELECT conv_id, word, count(*) AS cnt, min(pos) AS first_pos
  FROM w WHERE word IS NOT NULL
  GROUP BY conv_id, word
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY cnt DESC, word ASC) AS rm,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY cnt ASC, word ASC) AS rd,
         sum(cnt) OVER (PARTITION BY conv_id) AS tot
  FROM stats
)
SELECT conv_id,
       cast(max(tot) AS bigint) AS n_words,
       max(CASE WHEN rm = 1 THEN word END) AS motif_word,
       cast(max(CASE WHEN rm = 1 THEN cnt END) AS bigint)
         AS motif_count,
       cast(max(CASE WHEN rm = 1 THEN first_pos END) AS bigint)
         AS motif_pos,
       max(CASE WHEN rd = 1 THEN word END) AS discord_word,
       cast(max(CASE WHEN rd = 1 THEN cnt END) AS bigint)
         AS discord_count,
       cast(max(CASE WHEN rd = 1 THEN first_pos END) AS bigint)
         AS discord_pos
FROM ranked WHERE rm = 1 OR rd = 1
GROUP BY conv_id
""")


def q_rel_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): customer ⋈ orders ⋈ lineitem with
    segment + date filters, revenue = Σ extprice·(1−disc) per order,
    top 10 by (revenue desc, orderdate, orderkey). The fact-side
    filters (o_orderdate < D, l_shipdate > D) reach the scans as
    pushed predicates; the filtered customer side broadcasts so the
    two joins add no fact-table shuffle; revenue terms are 2-dp-exact
    inputs so the per-order sum is replayed on the 4-dp grid, and the
    deterministic tiebreak keys make the LIMIT engine-stable."""
    _prep(spark)
    c = (_read(spark, sf_dir, "customer")
         .where(F.col("c_mktsegment") == "BUILDING")
         .select("c_custkey"))
    o = (_read(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
         .select("o_orderkey", "o_custkey", "o_orderdate",
                 "o_orderpriority"))
    li = (_read(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("date"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    out = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(li, o.o_orderkey == li.l_orderkey)
           .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.sum(rev).alias("revenue"))
           .orderBy(F.desc("revenue"), F.col("o_orderdate"),
                    F.col("o_orderkey"))
           .limit(10))
    return out.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        _r(F.round(F.col("revenue"), 4)).alias("revenue"))


SQL_REL_TPCH_Q3 = oracle(q_rel_tpch_q3, """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority,
       round(round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4),
             6) + 0.0 AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-01-01'
  AND l.l_shipdate > DATE '1998-01-01'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY sum(l.l_extendedprice * (1.0 - l.l_discount)) DESC,
         o.o_orderdate, o.o_orderkey
LIMIT 10
""")


def q_rel_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table star join —
    region gates nation, nation gates BOTH customer and supplier, the
    customer-order-lineitem-supplier chain closes on c_nationkey =
    s_nationkey, revenue per nation. Plan: the dimension chain
    (region→nation→supplier/customer) is all broadcasts, so the only
    shuffle is the orders⋈lineitem fact join (AQE free to pick SMJ at
    scale) plus the final small aggregate. Unlike Q3's few-terms-per-
    order sums, the per-NATION revenue aggregates thousands of float
    products — order-dependent at the ulp level — so revenue is summed
    in EXACT FIXED-POINT: each 2-dp factor is scaled to an integer
    (round(x·100)), the product is an exact int64 in 1e-4 units,
    the sum is exact at any parallelism, and ONE terminal division
    restores currency. Bit-stable by construction, not by rounding."""
    _prep(spark)
    r = (_read(spark, sf_dir, "region")
         .where(F.col("r_name") == "ASIA").select("r_regionkey"))
    n = (_read(spark, sf_dir, "nation")
         .join(F.broadcast(r),
               F.col("n_regionkey") == F.col("r_regionkey"))
         .select("n_nationkey", "n_name"))
    s = (_read(spark, sf_dir, "supplier")
         .join(F.broadcast(n),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_nationkey", "n_name"))
    c = (_read(spark, sf_dir, "customer")
         .join(F.broadcast(n.select("n_nationkey")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", "c_nationkey"))
    o = (_read(spark, sf_dir, "orders")
         .where((F.col("o_orderdate")
                 >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate")
                   < F.lit("1997-01-01").cast("date")))
         .select("o_orderkey", "o_custkey"))
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
         * F.round((F.lit(1.0) - F.col("l_discount")) * 100.0, 0)
         .cast("long")).alias("rev_i"))
    out = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
           .join(F.broadcast(s),
                 (F.col("l_suppkey") == F.col("s_suppkey"))
                 & (F.col("c_nationkey") == F.col("s_nationkey")))
           .groupBy("n_name")
           .agg(F.sum("rev_i").alias("rev_i")))
    return (out.select(
        "n_name",
        _r0(F.round(F.col("rev_i").cast("double") / 10000.0, 4))
        .alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name"))


SQL_REL_TPCH_Q5 = oracle(q_rel_tpch_q5, """
SELECT n.n_name,
       round(cast(sum(cast(round(l.l_extendedprice * 100.0) AS bigint)
                      * cast(round((1.0 - l.l_discount) * 100.0)
                             AS bigint)) AS double) / 10000.0, 4)
         + 0.0 AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""")


def q_ts_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation correlation search: top-20 most positively
    co-moving conversation pairs on the daily-mean grid (>= 10 shared
    days). Grid values are rounded BEFORE the correlation and the
    ranking orders by the ROUNDED r with id tiebreaks, so both the
    values and the top-k boundary are engine-stable. Exact mode
    (day-aligned self-join) — the quadratic-per-day caveat and the
    scale path are stated in the operator docstring."""
    from cesium_spark.operators.seriesstats import cross_series_corr
    return cross_series_corr(_value_series(spark, sf_dir),
                             min_overlap=10, top_k=20)


SQL_TS_CORR_PAIRS = oracle(q_ts_corr_pairs, f"""{_VALUE_SERIES_SQL}
, g AS (
  SELECT conv_id, date_trunc('day', ts) AS day,
         round(avg(y), 6) + 0.0 AS gv
  FROM series WHERE y IS NOT NULL AND ts IS NOT NULL
  GROUP BY conv_id, date_trunc('day', ts)
),
p AS (
  SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
         count(*) AS n_days,
         CASE WHEN stddev_pop(a.gv) * stddev_pop(b.gv) > 0
              THEN covar_pop(a.gv, b.gv)
                   / (stddev_pop(a.gv) * stddev_pop(b.gv))
         END AS r
  FROM g a JOIN g b ON a.day = b.day AND a.conv_id < b.conv_id
  GROUP BY a.conv_id, b.conv_id
)
SELECT conv_a, conv_b, cast(n_days AS bigint) AS n_days,
       round(r, 6) + 0.0 AS r
FROM p
WHERE n_days >= 10 AND r IS NOT NULL
ORDER BY round(r, 6) + 0.0 DESC, conv_a, conv_b
LIMIT 20
""")


def q_ts_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark advisor over a deterministically delayed replay: the
    synthetic events arrive in perfect order, so the query plants the
    streaming late-data scenario (every event_id % 11 == 0 event
    arrives as if 4 h delayed in transit) and measures the event-time
    lateness the arrival order then exhibits — n_late, late_frac,
    max (the zero-loss watermark) and p95 lateness per conversation.
    Lateness values are exact double subtractions; the quantile is
    the shared interpolation. ONE hash exchange."""
    from cesium_spark.streaming.window_delta import disorder_stats
    ev = _events(spark, sf_dir)
    sec = F.col("ts").cast("double")
    s = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        sec.alias("t"),
        (sec + F.when(F.col("event_id") % 11 == 0, F.lit(14400.0))
         .otherwise(F.lit(0.0))).alias("arrival"))
    out = disorder_stats(s, arrival_col="arrival")
    return out.select(
        "conv_id", "n", "n_late",
        _r(F.col("max_late_s")).alias("max_late_s"),
        _r(F.col("p95_late_s")).alias("p95_late_s"),
        _r(F.col("late_frac")).alias("late_frac"))


SQL_TS_DISORDER = oracle(q_ts_disorder, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         epoch(ts) AS t,
         epoch(ts) + CASE WHEN event_id % 11 = 0
                          THEN 14400.0 ELSE 0.0 END AS arrival
  FROM events WHERE ts IS NOT NULL
),
l AS (
  SELECT conv_id,
         max(t) OVER (PARTITION BY conv_id ORDER BY arrival, t
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) - t AS late
  FROM s
)
SELECT conv_id,
       cast(count(*) AS bigint) AS n,
       cast(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS bigint)
         AS n_late,
       round(max(late), 6) + 0.0 AS max_late_s,
       round(quantile_cont(late, 0.95), 6) + 0.0 AS p95_late_s,
       round(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END)
             / cast(count(*) AS double), 6) + 0.0 AS late_frac
FROM l GROUP BY conv_id
""")


_HW_A, _HW_B, _HW_G, _HW_P = 0.5, 0.25, 0.25, 6


def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive triple smoothing (alpha=0.5, beta=0.25,
    gamma=0.25 — all dyadic; period 6): the seasonal completion of
    ts_holt. The oracle restates the l/b/s recurrences verbatim in a
    recursive CTE that carries the 6 live seasonal values as a
    rotating LIST; the init means use list_sum, probed live to be the
    same sequential in-order fold as the kernel's loop, so the whole
    stream is bit-replayable (floor-snap on both sides, holt
    precedent). Series shorter than 2 periods drop out."""
    from cesium_spark.operators.smoothing import holt_winters
    out = holt_winters(_value_series(spark, sf_dir),
                       _HW_A, _HW_B, _HW_G, _HW_P)

    def r6(c):
        return F.floor(F.col(c) * 1e6 + 0.5) / 1e6 + F.lit(0.0)

    return out.select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        _r(F.col("y")).alias("y"),
        r6("level").alias("level"), r6("trend").alias("trend"),
        r6("seasonal").alias("seasonal"),
        r6("forecast").alias("forecast"),
        r6("residual").alias("residual"))


def _hw_sql() -> str:
    a, b, g, p = _HW_A, _HW_B, _HW_G, _HW_P
    # the level update expression, inlined everywhere l_i is needed
    li = f"({a} * (s2.y - r.s[1]) + (1.0 - {a}) * (r.l + r.b))"
    return (
        _VALUE_SERIES_SQL.replace("WITH series", "WITH RECURSIVE series", 1)
        + f"""
, base AS (
  SELECT conv_id, count(*) AS n,
         list(y ORDER BY t, turn_idx) AS ys
  FROM series GROUP BY conv_id
),
ini AS (
  SELECT conv_id, n, ys,
         list_sum(ys[1:{p}]) / {p} AS m1,
         list_sum(ys[{p + 1}:{2 * p}]) / {p} AS m2
  FROM base WHERE n >= {2 * p}
),
rec AS (
  SELECT conv_id, {p - 1} AS i,
         floor(m1 * 1e6 + 0.5) / 1e6 AS l,
         floor((m2 - m1) / {p} * 1e6 + 0.5) / 1e6 AS b,
         list_transform(ys[1:{p}],
                        v -> floor((v - m1) * 1e6 + 0.5) / 1e6) AS s,
         CAST(NULL AS DOUBLE) AS f,
         CAST(NULL AS DOUBLE) AS si
  FROM ini
  UNION ALL
  SELECT r.conv_id, r.i + 1,
         {li},
         {b} * ({li} - r.l) + (1.0 - {b}) * r.b,
         list_concat(r.s[2:],
                     [{g} * (s2.y - {li}) + (1.0 - {g}) * r.s[1]]),
         r.l + r.b + r.s[1],
         {g} * (s2.y - {li}) + (1.0 - {g}) * r.s[1]
  FROM rec r JOIN series s2
    ON s2.conv_id = r.conv_id AND s2.turn_idx = r.i + 1
)
SELECT s.conv_id, cast(s.turn_idx AS bigint) AS turn_idx,
       round(s.y, 6) + 0.0 AS y,
       floor(r.l * 1e6 + 0.5) / 1e6 + 0.0 AS level,
       floor(r.b * 1e6 + 0.5) / 1e6 + 0.0 AS trend,
       floor(r.si * 1e6 + 0.5) / 1e6 + 0.0 AS seasonal,
       floor(r.f * 1e6 + 0.5) / 1e6 + 0.0 AS forecast,
       floor((s.y - r.f) * 1e6 + 0.5) / 1e6 + 0.0 AS residual
FROM rec r JOIN series s USING (conv_id)
WHERE s.turn_idx = r.i AND r.i >= {p}
UNION ALL
SELECT i.conv_id, cast(s.turn_idx AS bigint), round(s.y, 6) + 0.0,
       CASE WHEN s.turn_idx = {p - 1}
            THEN floor(i.m1 * 1e6 + 0.5) / 1e6 + 0.0 END,
       CASE WHEN s.turn_idx = {p - 1}
            THEN floor((i.m2 - i.m1) / {p} * 1e6 + 0.5) / 1e6 + 0.0
       END,
       floor(floor((s.y - i.m1) * 1e6 + 0.5) / 1e6 * 1e6 + 0.5) / 1e6
         + 0.0,
       NULL, NULL
FROM ini i JOIN series s USING (conv_id)
WHERE s.turn_idx < {p}
""")


oracle(q_ts_holt_winters, _hw_sql())


def q_multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: the multimodal_phash_pairs candidate
    pipeline (planted mutated rasters included) fed through the same
    iterative min-label connected components that finishes the text
    dedup family — the composition that turns pairwise hamming hits
    into the actual dedup unit (keep one image per cluster). Every
    stage is integer-exact, so the oracle is FULL-VALUE end-to-end:
    DuckDB replays signature, banding, hamming cut, AND the
    components via the recursive min-reachable-label CTE; singleton
    images keep their own id."""
    _prep(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (docs.where(F.col("doc_id") % 30 == 0)
               .select((F.col("doc_id") + 300000).alias("doc_id"),
                       F.concat(F.lit("Z"), F.expr("substring(text, 2)"))
                       .alias("text")))
    media = multimodal.attach_media(docs.unionByName(planted))
    sig = multimodal.image_phash(media.where(F.col("media_type") != "audio"))
    pairs = dedup.simhash_band_pairs(sig, id_col="doc_id", sig_col="dhash",
                                     bands=4, max_hamming=3)
    comp = dedup.connected_components(pairs)
    lab = (sig.select("doc_id")
           .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("component", F.col("doc_id"))
                   .alias("cluster_id")))
    sizes = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (lab.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id",
                    F.col("cluster_size").cast("long")
                    .alias("cluster_size")))


def _phash_clusters_sql() -> str:
    final = ("SELECT id_a, id_b, hamming, n_shared_bands FROM g "
             "WHERE hamming <= 3")
    base = SQL_MULTIMODAL_PHASH_PAIRS
    assert final in base
    head = base.rsplit(final, 1)[0].rstrip().rstrip(")")
    head = head + ")"  # close the g CTE we just trimmed back to
    head = head.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    return head + """,
pairs AS (SELECT id_a, id_b FROM g WHERE hamming <= 3),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
lab AS (
  SELECT p.doc_id, coalesce(c.component, p.doc_id) AS cluster_id
  FROM ph p LEFT JOIN comp c ON c.node = p.doc_id
),
csz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
SELECT l.doc_id, l.cluster_id,
       cast(c.cluster_size AS bigint) AS cluster_size
FROM lab l JOIN csz c USING (cluster_id)
"""


oracle(q_multimodal_phash_clusters, _phash_clusters_sql())


def q_emb_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus-geometry health: cosine distribution over
    deterministic (rank + 37) mod n pairs — mean near 0 = isotropic,
    near 1 = collapsed cone where every ANN threshold degrades.
    Pairing is exact integer arithmetic; cosines are the shared
    aggregate/zip_with arithmetic on the 6-dp grid."""
    from cesium_spark.operators.similarity import embedding_anisotropy
    embs = _read(spark, sf_dir, "embeddings")
    out = embedding_anisotropy(embs, stride=37)
    return out.select(
        "n_pairs", "n_dropped",
        _r(F.col("cos_mean")).alias("cos_mean"),
        _r(F.col("cos_std")).alias("cos_std"),
        _r(F.col("cos_p05")).alias("cos_p05"),
        _r(F.col("cos_p50")).alias("cos_p50"),
        _r(F.col("cos_p95")).alias("cos_p95"))


SQL_EMB_ANISOTROPY = oracle(q_emb_anisotropy, """
WITH v AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings WHERE embedding IS NOT NULL
),
good AS (
  SELECT vec_id, v, nrm,
         row_number() OVER (ORDER BY vec_id) - 1 AS r
  FROM v WHERE nrm > 0
),
n AS (SELECT count(*) AS cnt FROM good),
p AS (
  SELECT list_sum(list_transform(list_zip(a.v, b.v),
                                 s -> s[1] * s[2]))
           / (a.nrm * b.nrm) AS c
  FROM good a JOIN good b
    ON (a.r + 37) % (SELECT cnt FROM n) = b.r
)
SELECT cast(count(*) AS bigint) AS n_pairs,
       cast((SELECT count(*) FROM v WHERE nrm <= 0) AS bigint)
         AS n_dropped,
       round(avg(c), 6) + 0.0 AS cos_mean,
       round(stddev_pop(c), 6) + 0.0 AS cos_std,
       round(quantile_cont(c, 0.05), 6) + 0.0 AS cos_p05,
       round(quantile_cont(c, 0.5), 6) + 0.0 AS cos_p50,
       round(quantile_cont(c, 0.95), 6) + 0.0 AS cos_p95
FROM p
""")


def q_ts_forecast_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE / RMSE / MASE per conversation over the Holt one-step
    forecasts — the scale-free benchmark that says whether the
    smoother beats the naive last-value forecast (MASE < 1). The
    engine scores the 6-dp-GRIDDED forecasts (the same floor-snap the
    holt oracle emits), so both engines score identical inputs; error
    means land on the 6-dp grid; constant series report NULL MASE via
    try_divide. The oracle wraps the full recursive holt CTE as a
    derived table and restates the scoring verbatim."""
    from cesium_spark.operators.smoothing import (
        forecast_scores,
        holt_linear,
    )
    raw = holt_linear(_value_series(spark, sf_dir), _HOLT_A, _HOLT_B)
    gridded = raw.withColumn(
        "forecast", F.floor(F.col("forecast") * 1e6 + 0.5) / 1e6)
    out = forecast_scores(gridded)
    return out.select(
        "conv_id", "n_scored",
        _r(F.col("mae")).alias("mae"),
        _r(F.col("rmse")).alias("rmse"),
        _r(F.col("mase")).alias("mase"))


def _forecast_score_sql() -> str:
    return f"""
WITH h AS ({SQL_TS_HOLT}),
l AS (
  SELECT conv_id, turn_idx, y, forecast,
         abs(y - lag(y) OVER (PARTITION BY conv_id
                              ORDER BY turn_idx)) AS nv,
         CASE WHEN forecast IS NOT NULL THEN y - forecast END AS e
  FROM h
)
SELECT conv_id,
       cast(count(forecast) AS bigint) AS n_scored,
       round(avg(abs(e)), 6) + 0.0 AS mae,
       round(sqrt(avg(e * e)), 6) + 0.0 AS rmse,
       round(CASE WHEN avg(nv) > 0 THEN avg(abs(e)) / avg(nv) END, 6)
         + 0.0 AS mase
FROM l GROUP BY conv_id
"""


oracle(q_ts_forecast_score, _forecast_score_sql())


_GRAPH_UND_SQL = """
WITH RECURSIVE tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
bigr AS (
  SELECT a.tok AS src, b.tok AS dst
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM bigr WHERE src != dst
)"""


def q_doc_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances from the seed token 'join'
    over the undirected token-bigram graph — level-synchronous
    frontier expansion, exact integer hops, raises rather than
    returning a truncated distance ball. Oracle: hop-capped recursive
    CTE + min(hop) (the same distances as long as the cap exceeds the
    seed's eccentricity — both sides use 20)."""
    from cesium_spark.operators.graphrank import bfs_hops, token_edges
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = bfs_hops(token_edges(docs), "join", max_hops=20)
    return out.select("v", F.col("hop").cast("long").alias("hop"))


SQL_DOC_GRAPH_BFS = oracle(q_doc_graph_bfs, _GRAPH_UND_SQL + """,
sym AS (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und
),
walk AS (
  SELECT 'join' AS v, 0 AS hop
  UNION
  SELECT s.b, w.hop + 1 FROM walk w JOIN sym s ON s.a = w.v
  WHERE w.hop < 20
)
SELECT v, cast(min(hop) AS bigint) AS hop FROM walk GROUP BY v
""")


def q_doc_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the token-bigram graph:
    Pearson r of (deg_src, deg_dst) over both orientations of every
    undirected edge. Exact int64 sufficient statistics, one fixed
    double tree, NULL on zero variance; full-value oracle."""
    from cesium_spark.operators.graphrank import (
        degree_assortativity,
        token_edges,
    )
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = degree_assortativity(token_edges(docs))
    return out.select("n_nodes", "n_edges",
                      _r(F.col("assortativity")).alias("assortativity"))


SQL_DOC_ASSORTATIVITY = oracle(q_doc_assortativity, _GRAPH_UND_SQL + """,
deg AS (
  SELECT v, cast(count(*) AS bigint) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1
),
sym AS (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und
),
pairs AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM sym JOIN deg da ON da.v = sym.a JOIN deg db ON db.v = sym.b
),
g AS (
  SELECT count(*) AS n_int,
         sum(dx) AS isx, sum(dy) AS isy,
         sum(dx * dx) AS isxx, sum(dy * dy) AS isyy,
         sum(dx * dy) AS isxy
  FROM pairs
),
s AS (
  SELECT n_int,
         cast(n_int AS double) AS n,
         cast(isx AS double) AS sx, cast(isy AS double) AS sy,
         cast(isxx AS double) AS sxx, cast(isyy AS double) AS syy,
         cast(isxy AS double) AS sxy
  FROM g
),
v AS (
  SELECT n_int,
         n * sxy - sx * sy AS cov,
         n * sxx - sx * sx AS vx,
         n * syy - sy * sy AS vy
  FROM s
)
SELECT (SELECT cast(count(DISTINCT v) AS bigint) FROM (
          SELECT a AS v FROM und UNION ALL SELECT b FROM und))
         AS n_nodes,
       cast(n_int / 2 AS bigint) AS n_edges,
       round(CASE WHEN vx > 0 AND vy > 0
                  THEN cov / sqrt(vx * vy) END, 6) + 0.0
         AS assortativity
FROM v
""")


def q_ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test (q=4) per conversation over the
    integer tokens-per-turn series: A (1-step) and C (overlapping
    4-step) centered-increment sum-of-squares numerators are exact
    int64 window+aggregate sums — (dₖ − D/n)² × n² stays integer — and
    VR / z are fixed double trees over those integers, restated
    verbatim in SQL (lag windows + one grouped aggregate on DuckDB).
    Constant series and n ≤ q come back NULL, never ±inf."""
    from cesium_spark.operators.seriesstats import variance_ratio
    series = _tok_series(spark, sf_dir)
    out = variance_ratio(series, q=4)
    return out.select(
        "conv_id", "n_points", "drift", "a_num", "c_num",
        _r(F.col("vr")).alias("vr"),
        _r(F.col("z")).alias("z"))


SQL_TS_VARIANCE_RATIO = oracle(q_ts_variance_ratio, _tok_series_sql() + """,
l AS (
  SELECT conv_id, y,
         lag(y, 1) OVER w2 AS y1,
         lag(y, 4) OVER w2 AS yq,
         count(*) OVER (PARTITION BY conv_id) AS cnt,
         first_value(y) OVER w2 AS y0,
         last_value(y) OVER (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING
             AND UNBOUNDED FOLLOWING) AS ylast
  FROM s
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)
),
g AS (
  SELECT conv_id,
         max(cnt - 1) AS n_inc,
         max(ylast - y0) AS drift,
         sum(CASE WHEN y1 IS NOT NULL THEN
             ((cnt - 1) * (y - y1) - (ylast - y0))
             * ((cnt - 1) * (y - y1) - (ylast - y0)) END) AS a_num,
         sum(CASE WHEN yq IS NOT NULL THEN
             ((cnt - 1) * (y - yq) - 4 * (ylast - y0))
             * ((cnt - 1) * (y - yq) - 4 * (ylast - y0)) END) AS c_num
  FROM l GROUP BY 1
)
SELECT conv_id,
       cast(n_inc + 1 AS bigint) AS n_points,
       cast(drift AS bigint) AS drift,
       cast(a_num AS bigint) AS a_num,
       cast(c_num AS bigint) AS c_num,
       round(CASE WHEN n_inc > 4 AND a_num > 0 THEN
             cast(c_num AS double) * (cast(n_inc AS double) - 1.0)
             / (cast(a_num AS double)
                * (4.0 * (cast(n_inc AS double) - 4.0 + 1.0)
                   * (1.0 - 4.0 / cast(n_inc AS double)))) END, 6)
         + 0.0 AS vr,
       round(CASE WHEN n_inc > 4 AND a_num > 0 THEN
             (cast(c_num AS double) * (cast(n_inc AS double) - 1.0)
              / (cast(a_num AS double)
                 * (4.0 * (cast(n_inc AS double) - 4.0 + 1.0)
                    * (1.0 - 4.0 / cast(n_inc AS double)))) - 1.0)
             / sqrt((2.0 * 7.0 * 3.0 / 12.0)
                    / cast(n_inc AS double)) END, 6) + 0.0 AS z
FROM g
""")


def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis over the integer
    tokens-per-turn series: per-block R/S = integer-range / sqrt of an
    integer (numⱼ = w·cumⱼ − j·S and s2 = w·Q − S² are exact
    block-local int64), block averages fold in block order, and H is
    the fixed-weight slope Σ cᵢ·ln(avg_rsᵢ) over the literal w grid
    {8,16,32,64} — the cᵢ are the SAME Python float literals inlined
    on both sides.  The oracle replays blocks, windows, fold, and
    slope verbatim in DuckDB."""
    from cesium_spark.operators.seriesstats import hurst_rs
    series = _tok_series(spark, sf_dir)
    out = hurst_rs(series, windows=(8, 16, 32, 64))
    return out.select(
        "conv_id", "n_points",
        *[_r(F.col(f"rs_{ww}")).alias(f"rs_{ww}") for ww in (8, 16, 32, 64)],
        _r(F.col("hurst")).alias("hurst"))


SQL_TS_HURST = oracle(q_ts_hurst, _tok_series_sql(
    "row_number() OVER w - 1 AS rk",
    "count(*) OVER (PARTITION BY user_id) AS n") + """,
ex AS (
  SELECT conv_id, n, w, rk // w AS block, rk % w + 1 AS j, y
  FROM s CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS w) g
  WHERE rk // w < n // w
),
wb AS (
  SELECT conv_id, n, w, block, j,
         w * sum(y) OVER (PARTITION BY conv_id, w, block ORDER BY j)
           - j * sum(y) OVER (PARTITION BY conv_id, w, block) AS num,
         sum(y) OVER (PARTITION BY conv_id, w, block) AS sb,
         sum(y * y) OVER (PARTITION BY conv_id, w, block) AS qb
  FROM ex
),
blk AS (
  SELECT conv_id, max(n) AS n, w, block,
         max(num) - min(num) AS rng,
         max(w * qb - sb * sb) AS s2
  FROM wb GROUP BY conv_id, w, block
),
fold AS (
  SELECT conv_id, n, w, block,
         sum(CASE WHEN s2 > 0 THEN
             cast(rng AS double) / sqrt(cast(s2 AS double)) END)
           OVER (PARTITION BY conv_id, w ORDER BY block) AS cum_rs,
         CASE WHEN s2 > 0 THEN 1 END AS valid
  FROM blk
),
perw AS (
  SELECT conv_id, max(n) AS n, w,
         max(cum_rs) AS tot, count(valid) AS k
  FROM fold GROUP BY conv_id, w
),
wide AS (
  SELECT conv_id, max(n) AS n_points,
         max(CASE WHEN w = 8 THEN CASE WHEN k > 0 THEN tot / k END END) AS rs_8,
         max(CASE WHEN w = 16 THEN CASE WHEN k > 0 THEN tot / k END END) AS rs_16,
         max(CASE WHEN w = 32 THEN CASE WHEN k > 0 THEN tot / k END END) AS rs_32,
         max(CASE WHEN w = 64 THEN CASE WHEN k > 0 THEN tot / k END END) AS rs_64
  FROM perw GROUP BY conv_id
)
SELECT conv_id,
       cast(n_points AS bigint) AS n_points,
       round(rs_8, 6) + 0.0 AS rs_8,
       round(rs_16, 6) + 0.0 AS rs_16,
       round(rs_32, 6) + 0.0 AS rs_32,
       round(rs_64, 6) + 0.0 AS rs_64,
       round(CASE WHEN rs_8 IS NOT NULL AND rs_16 IS NOT NULL AND rs_32 IS NOT NULL AND rs_64 IS NOT NULL THEN
             (-0.432808512266689) * ln(rs_8) + (-0.14426950408889622) * ln(rs_16) + (0.14426950408889658) * ln(rs_32) + (0.43280851226668915) * ln(rs_64) END, 6) + 0.0 AS hurst
FROM wide
""")


def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1-3 per conversation over the integer tokens-per-
    turn series: exact int64 centered-product ACF numerators (one lag
    window + one aggregate), one division per r_k, and the unrolled
    Durbin-Levinson closed forms as fixed double trees restated
    verbatim in SQL. Constant / too-short / |r1|=1 series come back
    NULL, never inf."""
    from cesium_spark.operators.seriesstats import pacf3
    series = _tok_series(spark, sf_dir)
    out = pacf3(series)
    return out.select(
        "conv_id", "n",
        _r(F.col("r1"), 9).alias("r1"),
        _r(F.col("r2"), 9).alias("r2"),
        _r(F.col("r3"), 9).alias("r3"),
        _r(F.col("pacf1"), 9).alias("pacf1"),
        _r(F.col("pacf2"), 9).alias("pacf2"),
        _r(F.col("pacf3"), 9).alias("pacf3"))


SQL_TS_PACF = oracle(q_ts_pacf, _tok_series_sql() + _acf_sums_sql(
    (1, 2, 3)) + """,
r AS (
  SELECT conv_id, n,
         CASE WHEN n0 > 0 THEN
           cast(n1 AS double) / cast(n0 AS double) END AS r1,
         CASE WHEN n0 > 0 THEN
           cast(n2 AS double) / cast(n0 AS double) END AS r2,
         CASE WHEN n0 > 0 THEN
           cast(n3 AS double) / cast(n0 AS double) END AS r3
  FROM g
),
p2 AS (
  SELECT *,
         CASE WHEN 1.0 - r1 * r1 <> 0 THEN
           (r2 - r1 * r1) / (1.0 - r1 * r1) END AS pacf2
  FROM r
),
p3 AS (
  SELECT *, r1 - pacf2 * r1 AS p21 FROM p2
)
SELECT conv_id, cast(n AS bigint) AS n,
       round(r1, 9) + 0.0 AS r1,
       round(r2, 9) + 0.0 AS r2,
       round(r3, 9) + 0.0 AS r3,
       round(r1, 9) + 0.0 AS pacf1,
       round(pacf2, 9) + 0.0 AS pacf2,
       round(CASE WHEN 1.0 - p21 * r1 - pacf2 * r2 <> 0 THEN
             (r3 - p21 * r2 - pacf2 * r1)
             / (1.0 - p21 * r1 - pacf2 * r2) END, 9) + 0.0 AS pacf3
FROM p3
""")


def q_doc_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 Adamic-Adar missing-link predictions over the token
    bigram graph: non-edge pairs scored by sum of 1/ln(deg) over
    common neighbors (ordered w-fold, never a parallel float sum),
    existing edges anti-joined away, cut ordered by (round(aa,6)
    DESC, u, v) so rounding absorbs ln() ulps and the pair key breaks
    ties exactly. Oracle replays adjacency, degrees, wedge join,
    fold, anti-join, and the cut verbatim in DuckDB."""
    from cesium_spark.operators.graphrank import adamic_adar, token_edges
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = adamic_adar(token_edges(docs), top_k=50)
    return out.select("u", "v", "n_common", _r(F.col("aa")).alias("aa"))


SQL_DOC_ADAMIC_ADAR = oracle(q_doc_adamic_adar, """
WITH tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
bigr AS (
  SELECT a.tok AS src, b.tok AS dst
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM bigr WHERE src != dst
),
adj AS (
  SELECT a AS v, b AS nbr FROM und
  UNION ALL
  SELECT b AS v, a AS nbr FROM und
),
deg AS (SELECT v, count(*) AS deg FROM adj GROUP BY 1),
wed AS (
  SELECT a1.nbr AS u, a1.v AS w, a2.nbr AS z
  FROM adj a1 JOIN adj a2 ON a1.v = a2.v AND a1.nbr < a2.nbr
),
wd AS (
  SELECT wed.u, wed.z, wed.w, 1.0 / ln(deg.deg) AS inv
  FROM wed JOIN deg ON wed.w = deg.v
),
fold AS (
  SELECT u, z,
         sum(inv) OVER (PARTITION BY u, z ORDER BY w) AS cum
  FROM wd
),
pairs AS (
  SELECT u, z, max(cum) AS aa, count(*) AS n_common
  FROM fold GROUP BY 1, 2
),
cand AS (
  SELECT p.u, p.z, p.aa, p.n_common
  FROM pairs p
  ANTI JOIN und ON p.u = und.a AND p.z = und.b
)
SELECT u, z AS v, cast(n_common AS bigint) AS n_common,
       round(aa, 6) + 0.0 AS aa
FROM cand
ORDER BY round(aa, 6) DESC, u, z
LIMIT 50
""")


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table with the frozen TRAINED
    k-means centroids: assignment (check_ties=1e-9 kills argmax
    near-tie flakiness by construction), within-cluster pair cosine,
    and the keep-the-outlier verdict all replayed verbatim in DuckDB
    with the centroids inlined as literals. Threshold 0.45 sits
    5.5e-4 away from the nearest pair cosine at sf0.01 — no boundary
    flip is possible."""
    _prep(spark)
    from cesium_spark.operators.dedup import semdedup
    embs = _read(spark, sf_dir, "embeddings")
    out = semdedup(embs, dim=64, threshold=0.45, n_centroids=16,
                   centroids=similarity.ivf_trained_centroids(),
                   check_ties=1e-9)
    return out.select(
        "vec_id", "list_id",
        _r(F.col("cent_cos")).alias("cent_cos"), "kept")


def _semdedup_sql(dim: int = 64, n_centroids: int = 16,
                  thr: float = 0.45) -> str:
    """DuckDB replay of semdedup over the frozen trained centroids:
    argmax assignment with the np.argmax tie rule (dot DESC, cid ASC
    - engine check_ties margin guarantees no near-tie divergence),
    centroid cosine, within-cluster pairs, pair-loser removal."""
    cents = similarity.ivf_trained_centroids()
    assert cents.shape == (n_centroids, dim)
    rows = ", ".join(
        "(" + str(j) + ", [" +
        ", ".join(repr(float(cents[j, i])) for i in range(dim)) + "])"
        for j in range(n_centroids))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
c AS (SELECT * FROM (VALUES {rows}) AS t(cid, cv)),
d AS (SELECT e.vec_id, e.v, c.cid, c.cv,
             list_dot_product(e.v, c.cv) AS dot
      FROM e CROSS JOIN c),
assign AS (
  SELECT vec_id, v, cid, cv FROM d
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dot DESC, cid) = 1
),
n AS (
  SELECT vec_id, cid, v,
         sqrt(list_sum(list_transform(v, a -> a * a))) AS norm,
         list_sum(list_transform(list_zip(v, cv), s -> s[1] * s[2]))
           / sqrt(list_sum(list_transform(v, a -> a * a))) AS cent_cos
  FROM assign
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.cent_cos AS ca, b.cent_cos AS cb,
         list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
           / (a.norm * b.norm) AS cosine
  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
dup AS (SELECT * FROM p WHERE cosine >= {thr!r}),
rem AS (
  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
                       WHEN cb > ca THEN id_b
                       ELSE greatest(id_a, id_b) END AS vec_id
  FROM dup
)
SELECT n.vec_id, cast(n.cid AS int) AS list_id,
       round(n.cent_cos, 6) + 0.0 AS cent_cos,
       rem.vec_id IS NULL AS kept
FROM n LEFT JOIN rem ON n.vec_id = rem.vec_id
"""


oracle(q_emb_semdedup, _semdedup_sql())


def q_rel_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate — no join at all, so the WHOLE query is one
    parquet scan whose three predicates (shipdate year, discount band,
    quantity cap) push down to the reader, plus a partial+final
    1-row aggregate. Revenue Σ ep·disc uses the Q5 exact-fixed-point
    contract: both 2-dp factors gridded to integers (the discount
    band filter runs on the SAME grid — integer between, no float
    boundary), product exact int64 in 1e-4 units, ONE terminal
    division — bit-stable at any parallelism, restated verbatim in
    SQL."""
    _prep(spark)
    li = _read(spark, sf_dir, "lineitem")
    disc_i = F.round(F.col("l_discount") * 100.0, 0).cast("long")
    rev_i = (F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
             * disc_i)
    out = (li.where((F.col("l_shipdate")
                     >= F.lit("1996-01-01").cast("timestamp"))
                    & (F.col("l_shipdate")
                       < F.lit("1997-01-01").cast("timestamp"))
                    & disc_i.between(5, 7)
                    & (F.col("l_quantity") < 24))
           .agg(F.sum(rev_i).alias("rev_i"),
                F.count(F.lit(1)).alias("n_items")))
    return out.select(
        _r0(F.round(F.col("rev_i").cast("double") / 10000.0, 4))
        .alias("revenue"),
        "n_items")


SQL_REL_TPCH_Q6 = oracle(q_rel_tpch_q6, """
SELECT round(sum(cast(round(l_extendedprice * 100.0) AS bigint)
                 * cast(round(l_discount * 100.0) AS bigint))
             / 10000.0, 4) + 0.0 AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
  AND l_shipdate < timestamp '1997-01-01 00:00:00'
  AND cast(round(l_discount * 100.0) AS bigint) BETWEEN 5 AND 7
  AND l_quantity < 24
""")


def q_rel_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): lineitem ⋈ part with a
    conditional aggregate — promo revenue share for one ship-month.
    part is the broadcast side (dimension), so the only exchange is
    the final 1-row aggregate; both the PROMO-gated and total revenue
    sums ride the exact-fixed-point integer contract (ep·(1−disc)
    gridded to 1e-4 units), and the share is ONE terminal division of
    two exact integers — no float sum anywhere, restated verbatim in
    SQL."""
    _prep(spark)
    li = _read(spark, sf_dir, "lineitem")
    pt = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_i = (F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")
             * F.round((F.lit(1.0) - F.col("l_discount")) * 100.0, 0)
             .cast("long"))
    out = (li.where((F.col("l_shipdate")
                     >= F.lit("1996-09-01").cast("timestamp"))
                    & (F.col("l_shipdate")
                       < F.lit("1996-10-01").cast("timestamp")))
           .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
           .agg(F.sum(F.when(F.col("p_type") == "PROMO", rev_i)
                      .otherwise(F.lit(0))).alias("promo_i"),
                F.sum(rev_i).alias("total_i"),
                F.count(F.lit(1)).alias("n_items")))
    share = F.when(F.col("total_i") > 0,
                   F.lit(100.0) * F.col("promo_i").cast("double")
                   / F.col("total_i").cast("double"))
    return out.select(
        _r(share).alias("promo_share"),
        _r0(F.round(F.col("promo_i").cast("double") / 10000.0, 4))
        .alias("promo_revenue"),
        _r0(F.round(F.col("total_i").cast("double") / 10000.0, 4))
        .alias("total_revenue"),
        "n_items")


SQL_REL_TPCH_Q14 = oracle(q_rel_tpch_q14, """
WITH j AS (
  SELECT cast(round(l_extendedprice * 100.0) AS bigint)
           * cast(round((1.0 - l_discount) * 100.0) AS bigint) AS rev_i,
         p.p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= timestamp '1996-09-01 00:00:00'
    AND l.l_shipdate < timestamp '1996-10-01 00:00:00'
),
g AS (
  SELECT sum(CASE WHEN p_type = 'PROMO' THEN rev_i ELSE 0 END) AS promo_i,
         sum(rev_i) AS total_i,
         count(*) AS n_items
  FROM j
)
SELECT round(CASE WHEN total_i > 0 THEN
             100.0 * cast(promo_i AS double) / cast(total_i AS double)
             END, 6) + 0.0 AS promo_share,
       round(cast(promo_i AS double) / 10000.0, 4) + 0.0 AS promo_revenue,
       round(cast(total_i AS double) / 10000.0, 4) + 0.0 AS total_revenue,
       n_items
FROM g
""")


def q_ts_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation Spearman rank correlation of latency vs
    tokens (aligned on turn_idx, pairwise-complete): 2-average-rank
    integers via rank window + tie-count window, exact int64 Pearson
    sufficient statistics over them, one fixed double tree. The
    oracle replays ranks, tie counts, and the tree verbatim."""
    from cesium_spark.operators.seriesstats import spearman_channels
    out = spearman_channels(
        derive_series(events_transcripts(spark, sf_dir)), *_CORR_CH)
    return out.select(
        "conv_id", F.col("n_pairs").cast("long").alias("n_pairs"),
        _r(F.col("rho"), 9).alias("rho"))


SQL_TS_SPEARMAN = oracle(q_ts_spearman, _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS ya,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS yb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
),
pairs AS (
  SELECT conv_id, ya, yb FROM aligned
  WHERE ya IS NOT NULL AND yb IS NOT NULL
),
ranked AS (
  SELECT conv_id,
         {_midrank2_sql("ya")} AS ra,
         {_midrank2_sql("yb")} AS rb
  FROM pairs
),
g AS (
  SELECT conv_id, count(*) AS n_pairs,
         sum(ra) AS sx, sum(rb) AS sy,
         sum(ra * ra) AS sxx, sum(rb * rb) AS syy,
         sum(ra * rb) AS sxy
  FROM ranked GROUP BY 1
)
SELECT conv_id, cast(n_pairs AS bigint) AS n_pairs,
       round(CASE WHEN n_pairs >= 2
                   AND cast(n_pairs AS double) * sxx
                       - cast(sx AS double) * sx > 0
                   AND cast(n_pairs AS double) * syy
                       - cast(sy AS double) * sy > 0 THEN
             (cast(n_pairs AS double) * sxy
              - cast(sx AS double) * cast(sy AS double))
             / sqrt((cast(n_pairs AS double) * cast(sxx AS double)
                     - cast(sx AS double) * cast(sx AS double))
                    * (cast(n_pairs AS double) * cast(syy AS double)
                       - cast(sy AS double) * cast(sy AS double)))
             END, 9) + 0.0 AS rho
FROM g
""")


def q_ts_dialogue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation dialogue structure over the canonical
    transcript shape: turn counts, role switches (gaps-and-islands
    runs), longest streak, tool traffic, token totals, and the
    deterministic majority role (turns DESC, role ASC). All integers
    + ONE terminal division; oracle replays the windows verbatim."""
    from cesium_spark.operators.derive import dialogue_stats
    out = dialogue_stats(events_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "n_turns", "n_roles", "n_switches", "longest_run",
        _r(F.col("switch_rate"), 9).alias("switch_rate"),
        "tool_turns", "tok_total", "top_role", "top_role_turns")


SQL_TS_DIALOGUE = oracle(q_ts_dialogue, """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'purchase' THEN 'checkout' END AS tool
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
b AS (
  SELECT conv_id, turn_idx, role, tool,
         len(string_split_regex(trim(text), '\\s+')) AS tok,
         CASE WHEN lag(role) OVER w2 IS NOT NULL
               AND role <> lag(role) OVER w2 THEN 1 ELSE 0 END AS sw
  FROM t
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)
),
r AS (
  SELECT *, sum(sw) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM b
),
rl AS (
  SELECT *,
         count(*) OVER (PARTITION BY conv_id, run) AS run_len,
         count(*) OVER (PARTITION BY conv_id, role) AS role_cnt
  FROM r
),
g AS (
  SELECT conv_id, count(*) AS n_turns,
         count(DISTINCT role) AS n_roles,
         sum(sw) AS n_switches, max(run_len) AS longest_run,
         count(tool) AS tool_turns, sum(tok) AS tok_total,
         max(role_cnt) AS top_role_turns
  FROM rl GROUP BY 1
),
tr AS (
  SELECT conv_id, role AS top_role
  FROM (SELECT conv_id, role, count(*) AS c FROM t GROUP BY 1, 2)
  QUALIFY row_number() OVER (PARTITION BY conv_id
                             ORDER BY c DESC, role) = 1
)
SELECT g.conv_id,
       cast(n_turns AS bigint) AS n_turns,
       cast(n_roles AS bigint) AS n_roles,
       cast(n_switches AS bigint) AS n_switches,
       cast(longest_run AS bigint) AS longest_run,
       round(CASE WHEN n_turns > 1 THEN
             cast(n_switches AS double)
             / cast(n_turns - 1 AS double) END, 9) + 0.0 AS switch_rate,
       cast(tool_turns AS bigint) AS tool_turns,
       cast(tok_total AS bigint) AS tok_total,
       tr.top_role,
       cast(top_role_turns AS bigint) AS top_role_turns
FROM g JOIN tr USING (conv_id)
""")


def q_ts_role_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information profile of the corpus role chain: marginal and
    conditional (Markov) entropy of the next role, their difference
    (mutual information — how much the previous role predicts the
    next), and conditional perplexity. Exact integer cell counts; the
    two entropy folds run in ORDERED (role, next_role) sequence on
    the r x r cell table; oracle replays cells, folds, and the
    fixed trees verbatim."""
    from cesium_spark.operators.sequences import transition_entropy
    out = transition_entropy(events_transcripts(spark, sf_dir))
    return out.select(
        "n_transitions", F.col("n_states").cast("long").alias("n_states"),
        _r(F.col("h_next"), 9).alias("h_next"),
        _r(F.col("h_cond"), 9).alias("h_cond"),
        _r(F.col("mi"), 9).alias("mi"),
        _r(F.col("perplexity"), 9).alias("perplexity"))


SQL_TS_ROLE_ENTROPY = oracle(q_ts_role_entropy, """
WITH tr AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT role, lead(role) OVER w2 AS next_role
  FROM tr
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)
),
pf AS (
  SELECT role, next_role FROM p
  WHERE role IS NOT NULL AND next_role IS NOT NULL
),
cells AS (
  SELECT role, next_role, count(*) AS n FROM pf GROUP BY 1, 2
),
e AS (
  SELECT role, next_role, n,
         sum(n) OVER () AS t,
         sum(n) OVER (PARTITION BY role) AS n_from,
         sum(n) OVER (PARTITION BY next_role) AS n_next,
         row_number() OVER (PARTITION BY next_role ORDER BY role) AS rn
  FROM cells
),
f AS (
  SELECT t,
         sum((cast(n AS double) / cast(t AS double))
             * ln(cast(n_from AS double) / cast(n AS double)))
           OVER wo AS cum_cond,
         sum(CASE WHEN rn = 1 THEN
             (cast(n_next AS double) / cast(t AS double))
             * ln(cast(t AS double) / cast(n_next AS double))
             ELSE 0.0 END) OVER wo AS cum_marg
  FROM e
  WINDOW wo AS (ORDER BY role, next_role)
),
g AS (
  SELECT max(t) AS n_transitions, max(cum_cond) AS h_cond,
         max(cum_marg) AS h_next
  FROM f
),
s AS (
  SELECT count(DISTINCT x) AS n_states FROM (
    SELECT role AS x FROM pf UNION ALL SELECT next_role FROM pf)
)
SELECT cast(g.n_transitions AS bigint) AS n_transitions,
       cast(s.n_states AS bigint) AS n_states,
       round(g.h_next, 9) + 0.0 AS h_next,
       round(g.h_cond, 9) + 0.0 AS h_cond,
       round(g.h_next - g.h_cond, 9) + 0.0 AS mi,
       round(exp(g.h_cond), 9) + 0.0 AS perplexity
FROM g, s
""")


def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page CUSUM drift alarms per conversation over the integer
    tokens-per-turn series (target=5, slack=1, h=20): the recursion
    collapses to running-sum-minus-running-min, so every statistic is
    an exact int64 window expression replayed verbatim in SQL."""
    from cesium_spark.operators.seriesstats import cusum
    series = _tok_series(spark, sf_dir)
    out = cusum(series, target=5, slack=1, h=20)
    return out.select("conv_id", "n", "s_up_max", "s_dn_max",
                      "crossed_up", "crossed_dn", "first_up", "first_dn")


SQL_TS_CUSUM = oracle(q_ts_cusum, _tok_series_sql() + """,
a AS (
  SELECT conv_id, turn_idx,
         sum(y - 5 - 1) OVER wr AS av,
         sum(5 - 1 - y) OVER wr AS bv
  FROM s
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
c AS (
  SELECT conv_id, turn_idx,
         av - least(min(av) OVER wr, 0) AS su,
         bv - least(min(bv) OVER wr, 0) AS sd
  FROM a
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
g AS (
  SELECT conv_id, count(*) AS n,
         max(su) AS s_up_max, max(sd) AS s_dn_max,
         min(CASE WHEN su > 20 THEN turn_idx END) AS first_up,
         min(CASE WHEN sd > 20 THEN turn_idx END) AS first_dn
  FROM c GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(s_up_max AS bigint) AS s_up_max,
       cast(s_dn_max AS bigint) AS s_dn_max,
       s_up_max > 20 AS crossed_up,
       s_dn_max > 20 AS crossed_dn,
       cast(first_up AS int) AS first_up,
       cast(first_dn AS int) AS first_dn
FROM g
""")


def q_ts_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of tokens-per-turn within each
    conversation: exact int64 rank-formula numerator and denominator,
    ONE terminal division, tie order provably irrelevant. Oracle
    replays rank and sums verbatim."""
    from cesium_spark.operators.seriesstats import gini_concentration
    series = _tok_series(spark, sf_dir)
    out = gini_concentration(series)
    return out.select("conv_id", "n", "total",
                      _r(F.col("gini"), 9).alias("gini"))


SQL_TS_GINI = oracle(q_ts_gini, _tok_series_sql() + """,
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY y, turn_idx) AS i
  FROM s
),
g AS (
  SELECT conv_id, count(*) AS n, sum(y) AS total,
         sum(2 * i * y) AS wsum
  FROM r GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(total AS bigint) AS total,
       round(CASE WHEN total > 0 THEN
             cast(wsum - (n + 1) * total AS double)
             / cast(n * total AS double) END, 9) + 0.0 AS gini
FROM g
""")


def q_ts_hac_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West HAC standard error of the per-conversation token
    mean (Bartlett L=3, dyadic weights 3/4 1/2 1/4 exactly
    representable on both engines): exact int64 autocovariance
    numerators (the pacf3 aggregate), fixed double trees, when-based
    clamp (greatest() skips NULLs — a too-short series must surface
    NULL, never an understated 0 error bar)."""
    from cesium_spark.operators.seriesstats import hac_mean_se
    series = _tok_series(spark, sf_dir)
    out = hac_mean_se(series, max_lag=3)
    return out.select(
        "conv_id", "n",
        _r(F.col("mean"), 9).alias("mean"),
        _r(F.col("se_iid"), 9).alias("se_iid"),
        _r(F.col("se_hac"), 9).alias("se_hac"),
        _r(F.col("inflation"), 9).alias("inflation"))


SQL_TS_HAC_SE = oracle(q_ts_hac_se, _tok_series_sql() + _acf_sums_sql(
    (1, 2, 3)) + """,
e AS (
  SELECT conv_id, n, sy, n0, n1, n2, n3,
         cast(n0 AS double)
           + 2.0 * (0.75 * cast(n1 AS double)
                    + 0.5 * cast(n2 AS double)
                    + 0.25 * cast(n3 AS double)) AS lrv_num,
         cast(n AS double) * cast(n AS double) AS nn
  FROM g
)
SELECT conv_id, cast(n AS bigint) AS n,
       round(cast(sy AS double) / cast(n AS double), 9) + 0.0 AS mean,
       round(CASE WHEN n0 > 0 THEN
             sqrt(cast(n0 AS double)) / nn END, 9) + 0.0 AS se_iid,
       round(CASE WHEN n0 > 0 AND n1 IS NOT NULL AND n2 IS NOT NULL
                   AND n3 IS NOT NULL THEN
             sqrt(CASE WHEN lrv_num < 0 THEN 0.0 ELSE lrv_num END)
             / nn END, 9) + 0.0 AS se_hac,
       round(CASE WHEN n0 > 0 AND n1 IS NOT NULL AND n2 IS NOT NULL
                   AND n3 IS NOT NULL THEN
             sqrt(CASE WHEN lrv_num < 0 THEN 0.0 ELSE lrv_num END
                  / cast(n0 AS double)) END, 9) + 0.0 AS inflation
FROM e
""")


def q_rel_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter — customer⋈nation are
    broadcast dimensions, orders date-filtered, the lineitem join is
    the one fact shuffle, and the top-20 cut orders by the EXACT
    int64 fixed-point revenue (rev_i DESC, c_custkey) so the
    boundary cannot flip between engines; the division to currency
    happens after the cut."""
    _prep(spark)
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (_read(spark, sf_dir, "orders")
         .where((F.col("o_orderdate")
                 >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate")
                   < F.lit("1997-04-01").cast("timestamp")))
         .select("o_orderkey", "o_custkey"))
    li = (_read(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  (F.round(F.col("l_extendedprice") * 100.0, 0)
                   .cast("long")
                   * F.round((F.lit(1.0) - F.col("l_discount")) * 100.0, 0)
                   .cast("long")).alias("rev_i")))
    out = (o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
           .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(n),
                 F.col("c_nationkey") == F.col("n_nationkey"))
           .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg(F.sum("rev_i").alias("rev_i"),
                F.count(F.lit(1)).alias("n_items"))
           .orderBy(F.desc("rev_i"), "c_custkey")
           .limit(20))
    return out.select(
        "c_custkey", "c_name",
        _r0(F.round(F.col("rev_i").cast("double") / 10000.0, 4))
        .alias("revenue"),
        _r0(F.round(F.col("c_acctbal"), 2)).alias("c_acctbal"),
        "n_name", "n_items")


SQL_REL_TPCH_Q10 = oracle(q_rel_tpch_q10, """
WITH li AS (
  SELECT l_orderkey,
         cast(round(l_extendedprice * 100.0) AS bigint)
           * cast(round((1.0 - l_discount) * 100.0) AS bigint) AS rev_i
  FROM lineitem WHERE l_returnflag = 'R'
),
j AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name, li.rev_i
  FROM orders o
  JOIN li ON o.o_orderkey = li.l_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= timestamp '1997-01-01 00:00:00'
    AND o.o_orderdate < timestamp '1997-04-01 00:00:00'
),
g AS (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         sum(rev_i) AS rev_i, count(*) AS n_items
  FROM j GROUP BY 1, 2, 3, 4
  ORDER BY rev_i DESC, c_custkey LIMIT 20
)
SELECT c_custkey, c_name,
       round(cast(rev_i AS double) / 10000.0, 4) + 0.0 AS revenue,
       round(c_acctbal, 2) + 0.0 AS c_acctbal,
       n_name, n_items
FROM g
""")


def q_emb_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (k=5 from an exact top-20 relevance
    pool, lambda=0.7): the greedy selection unrolls to k-1 lazy
    DataFrame steps on the engine and to k-1 generated CTE steps in
    the oracle — anti-join selected, max-sim penalty over pool x
    selected (bounded by signature), argmax by (score DESC, id).
    Both engines fold the same doubles in the same order, so the
    argmax compares identical floats."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    q = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = similarity.mmr_topk(embs, [float(x) for x in q],
                              k=5, pool=20, lam=0.7)
    return out.select(
        "pick", "vec_id",
        _r0(F.round("rel", 6)).alias("rel"),
        _r0(F.round("mmr_score", 6)).alias("mmr_score"))


def _mmr_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """DuckDB replay of mmr_topk: the greedy loop generated as
    unrolled CTE steps (pick_i / sel_i), each with the NOT IN
    anti-join, the correlated max-sim penalty over sel_{i-1}, and
    the (score DESC, id) argmax."""
    mu = 1.0 - lam
    parts = [f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT v AS qv,
             sqrt(list_sum(list_transform(v, a -> a * a))) AS qn
      FROM e WHERE vec_id = 0),
pool AS (
  SELECT e.vec_id, e.v,
         sqrt(list_sum(list_transform(e.v, a -> a * a))) AS n,
         list_sum(list_transform(list_zip(e.v, q.qv),
                                 s -> s[1] * s[2]))
           / (sqrt(list_sum(list_transform(e.v, a -> a * a))) * q.qn)
           AS rel
  FROM e CROSS JOIN q
  ORDER BY rel DESC, e.vec_id LIMIT {pool}
),
sel1 AS (
  SELECT vec_id, v, n, rel, 1 AS pick,
         cast(NULL AS double) AS mmr_score
  FROM pool ORDER BY rel DESC, vec_id LIMIT 1
)"""]
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        parts.append(f""",
pick{i} AS (
  SELECT p.vec_id, p.v, p.n, p.rel, {i} AS pick,
         {lam!r} * p.rel - {mu!r} * (
           SELECT max(list_sum(list_transform(list_zip(p.v, s.v),
                                              x -> x[1] * x[2]))
                      / (p.n * s.n))
           FROM {prev} s) AS mmr_score
  FROM pool p
  WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
  ORDER BY mmr_score DESC, p.vec_id LIMIT 1
),
sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{i})""")
    parts.append(f"""
SELECT pick, vec_id, round(rel, 6) + 0.0 AS rel,
       round(mmr_score, 6) + 0.0 AS mmr_score
FROM sel{k}
""")
    return "".join(parts)


oracle(q_emb_mmr, _mmr_sql())


def q_ts_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-half vs second-half two-sample KS per conversation over
    the integer tokens-per-turn series: exact int64 ECDF-difference
    numerator via a RANGE-framed cumulative count (ties absorbed like
    the ECDF definition), one division, fixed trees for lambda and
    the one-term Kolmogorov p bound. Oracle replays split, frames,
    and trees verbatim."""
    from cesium_spark.operators.seriesstats import ks_two_sample
    series = _tok_series(spark, sf_dir)
    out = ks_two_sample(series)
    return out.select(
        "conv_id", "n", "n1", "n2", "d_num",
        _r(F.col("d"), 9).alias("d"),
        _r(F.col("lambda"), 9).alias("lambda"),
        _r(F.col("p_bound"), 9).alias("p_bound"))


SQL_TS_KS_TWO_SAMPLE = oracle(q_ts_ks_two_sample, _tok_series_sql(
    "row_number() OVER w - 1 AS rk",
    "count(*) OVER (PARTITION BY user_id) AS cnt") + """,
h AS (
  SELECT conv_id, y, cnt, cnt // 2 AS n1,
         CASE WHEN rk >= cnt // 2 THEN 1 ELSE 0 END AS hh
  FROM s
),
c AS (
  SELECT conv_id, cnt, n1,
         sum(1 - hh) OVER wv AS c1,
         sum(hh) OVER wv AS c2
  FROM h
  WINDOW wv AS (PARTITION BY conv_id ORDER BY y
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
g AS (
  SELECT conv_id, max(cnt) AS n, max(n1) AS n1,
         max(abs(c1 * (cnt - n1) - c2 * n1)) AS d_num
  FROM c GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(n1 AS bigint) AS n1,
       cast(n - n1 AS bigint) AS n2,
       cast(d_num AS bigint) AS d_num,
       round(CASE WHEN n1 > 0 THEN
             cast(d_num AS double)
             / (cast(n1 AS double) * cast(n - n1 AS double)) END, 9)
         + 0.0 AS d,
       round(CASE WHEN n1 > 0 THEN
             (cast(d_num AS double)
              / (cast(n1 AS double) * cast(n - n1 AS double)))
             * sqrt(cast(n1 AS double) * cast(n - n1 AS double)
                    / (cast(n1 AS double) + cast(n - n1 AS double)))
             END, 9) + 0.0 AS "lambda",
       round(CASE WHEN n1 > 0 THEN
             least(1.0, 2.0 * exp(-2.0
               * ((cast(d_num AS double)
                   / (cast(n1 AS double) * cast(n - n1 AS double)))
                  * sqrt(cast(n1 AS double) * cast(n - n1 AS double)
                         / (cast(n1 AS double) + cast(n - n1 AS double))))
               * ((cast(d_num AS double)
                   / (cast(n1 AS double) * cast(n - n1 AS double)))
                  * sqrt(cast(n1 AS double) * cast(n - n1 AS double)
                         / (cast(n1 AS double)
                            + cast(n - n1 AS double))))))
             END, 9) + 0.0 AS p_bound
FROM g
""")


def q_ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B and memory M per conversation over
    whole-second-gridded inter-turn gaps: B = (sqrt(nQ - S^2) - S) /
    (sqrt(nQ - S^2) + S) over exact int64 sums (n cancels), M the
    exact-int six-sum Pearson over consecutive-gap pairs. Oracle
    replays grid, lead pairing, and trees verbatim."""
    from cesium_spark.operators.seriesstats import burstiness
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gap = F.round(sec - F.lag(sec).over(w), 0).cast("long")
    series = (ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        gap.alias("y"))
        .where(F.col("y").isNotNull()))
    out = burstiness(series)
    return out.select(
        "conv_id", "n_gaps",
        _r(F.col("mean_gap"), 6).alias("mean_gap"),
        _r(F.col("b"), 9).alias("b"),
        _r(F.col("m"), 9).alias("m"))


SQL_TS_BURSTINESS = oracle(q_ts_burstiness, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(round(epoch(ts) - lag(epoch(ts)) OVER w, 0) AS bigint) AS g
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
l AS (
  SELECT conv_id, g,
         lead(g) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gn
  FROM s WHERE g IS NOT NULL
),
a AS (
  SELECT conv_id, count(*) AS n,
         sum(g) AS s1, sum(g * g) AS q1,
         sum(CASE WHEN gn IS NOT NULL THEN g END) AS sx,
         sum(CASE WHEN gn IS NOT NULL THEN gn END) AS sy,
         sum(CASE WHEN gn IS NOT NULL THEN g * g END) AS sxx,
         sum(CASE WHEN gn IS NOT NULL THEN gn * gn END) AS syy,
         sum(CASE WHEN gn IS NOT NULL THEN g * gn END) AS sxy
  FROM l GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n_gaps,
       round(CASE WHEN n > 0 THEN
             cast(s1 AS double) / cast(n AS double) END, 6)
         + 0.0 AS mean_gap,
       round(CASE WHEN n >= 2 AND (q1 > 0 OR s1 > 0) THEN
             (sqrt(cast(n AS double) * cast(q1 AS double)
                   - cast(s1 AS double) * cast(s1 AS double))
              - cast(s1 AS double))
             / (sqrt(cast(n AS double) * cast(q1 AS double)
                     - cast(s1 AS double) * cast(s1 AS double))
                + cast(s1 AS double)) END, 9) + 0.0 AS b,
       round(CASE WHEN n >= 3
                   AND cast(n - 1 AS double) * sxx
                       - cast(sx AS double) * sx > 0
                   AND cast(n - 1 AS double) * syy
                       - cast(sy AS double) * sy > 0 THEN
             (cast(n - 1 AS double) * cast(sxy AS double)
              - cast(sx AS double) * cast(sy AS double))
             / sqrt((cast(n - 1 AS double) * cast(sxx AS double)
                     - cast(sx AS double) * cast(sx AS double))
                    * (cast(n - 1 AS double) * cast(syy AS double)
                       - cast(sy AS double) * cast(sy AS double)))
             END, 9) + 0.0 AS m
FROM a
""")


def q_doc_yules_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-spectrum stylometry per document: Yule's K,
    Simpson's repeat-rate D, Herdan's C — all from the three exact
    int64 sums (N, V, sum c^2); oracle replays the doc_lexical token
    convention and the fixed trees verbatim."""
    from cesium_spark.operators.textstats import yules_k
    _prep(spark)
    out = yules_k(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", "n_types", "sum_c2",
        _r(F.col("yules_k")).alias("yules_k"),
        _r(F.col("simpson_d"), 9).alias("simpson_d"),
        _r(F.col("herdan_c"), 9).alias("herdan_c"))


SQL_DOC_YULES_K = oracle(q_doc_yules_k, r"""
WITH tok AS (
  SELECT doc_id, nullif(t, '') AS token
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(coalesce(text, '')),
                                         '[ \t\n\r\f]+')) AS t
        FROM documents)
),
c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         cast(coalesce(sum(c) FILTER (WHERE token IS NOT NULL), 0)
              AS bigint) AS n_tokens,
         cast(count(*) FILTER (WHERE token IS NOT NULL) AS bigint)
           AS n_types,
         cast(coalesce(sum(c * c) FILTER (WHERE token IS NOT NULL), 0)
              AS bigint) AS sum_c2
  FROM c GROUP BY 1)
SELECT doc_id, n_tokens, n_types, sum_c2,
       round(CASE WHEN n_tokens > 0 THEN
             10000.0 * (cast(sum_c2 AS double) - cast(n_tokens AS double))
             / (cast(n_tokens AS double) * cast(n_tokens AS double))
             END, 6) + 0.0 AS yules_k,
       round(CASE WHEN n_tokens >= 2 THEN
             (cast(sum_c2 AS double) - cast(n_tokens AS double))
             / (cast(n_tokens AS double)
                * (cast(n_tokens AS double) - 1.0)) END, 9)
         + 0.0 AS simpson_d,
       round(CASE WHEN n_tokens >= 2 THEN
             ln(cast(n_types AS double)) / ln(cast(n_tokens AS double))
             END, 9) + 0.0 AS herdan_c
FROM a
""")


def q_doc_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-Colaresi-Quinn log-odds with informative Dirichlet
    prior between two document sources: exact int64 (token, group)
    counts, full-corpus totals taken BEFORE the min_count filter (the
    paper's n_a/n_b), fixed double trees for delta/z with the prior
    making every log argument strictly positive by construction.
    Full filtered vocabulary emitted - no top-k cut, no ordering in
    the contract."""
    from cesium_spark.operators.textstats import fightin_words
    _prep(spark)
    out = fightin_words(_read(spark, sf_dir, "documents"),
                        "source", "src0", "src1",
                        alpha0=500.0, min_count=5)
    return out.select("token", "c_a", "c_b",
                      _r(F.col("delta"), 9).alias("delta"),
                      _r(F.col("z"), 9).alias("z"))


SQL_DOC_FIGHTIN_WORDS = oracle(q_doc_fightin_words, r"""
WITH tok AS (
  SELECT nullif(t, '') AS token, source AS g
  FROM (SELECT source,
               unnest(string_split_regex(lower(coalesce(text, '')),
                                         '[ \t\n\r\f]+')) AS t
        FROM documents WHERE source IN ('src0', 'src1'))
),
cells AS (
  SELECT token,
         cast(sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END)
              AS bigint) AS c_a,
         cast(sum(CASE WHEN g = 'src1' THEN 1 ELSE 0 END)
              AS bigint) AS c_b
  FROM tok WHERE token IS NOT NULL GROUP BY 1
),
e AS (
  SELECT token, c_a, c_b,
         sum(c_a) OVER () AS na, sum(c_b) OVER () AS nb
  FROM cells
),
f AS (
  SELECT token, c_a, c_b,
         cast(c_a AS double) AS ca, cast(c_b AS double) AS cb,
         cast(na AS double) AS nad, cast(nb AS double) AS nbd,
         500.0 * (cast(c_a AS double) + cast(c_b AS double))
           / (cast(na AS double) + cast(nb AS double)) AS aw
  FROM e WHERE c_a + c_b >= 5
),
g AS (
  SELECT token, c_a, c_b,
         ln((ca + aw) / (nad + 500.0 - ca - aw))
           - ln((cb + aw) / (nbd + 500.0 - cb - aw)) AS delta,
         1.0 / (ca + aw) + 1.0 / (cb + aw) AS var
  FROM f
)
SELECT token, c_a, c_b,
       round(delta, 9) + 0.0 AS delta,
       round(delta / sqrt(var), 9) + 0.0 AS z
FROM g
""")


def q_ts_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed (10%) and winsorized token-mean per conversation:
    deterministic (y, turn_idx) ranks, integer k = floor(trim*n),
    exact int64 conditional sums and boundary picks, one division
    each. Oracle replays ranks, cuts, and sums verbatim."""
    from cesium_spark.operators.seriesstats import trimmed_stats
    series = _tok_series(spark, sf_dir)
    out = trimmed_stats(series, trim=0.1)
    return out.select(
        "conv_id", "n", "k", "lo_cut", "hi_cut",
        _r(F.col("trimmed_mean"), 9).alias("trimmed_mean"),
        _r(F.col("winsor_mean"), 9).alias("winsor_mean"))


SQL_TS_TRIMMED = oracle(q_ts_trimmed, _tok_series_sql() + """,
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY y, turn_idx) AS i,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
),
rk AS (
  SELECT conv_id, y, i, n,
         cast(floor(0.1 * cast(n AS double)) AS bigint) AS k
  FROM r
),
g AS (
  SELECT conv_id, max(n) AS n, max(k) AS k,
         sum(CASE WHEN i > k AND i <= n - k THEN y END) AS mid_sum,
         max(CASE WHEN i = k + 1 THEN y END) AS lo_cut,
         max(CASE WHEN i = n - k THEN y END) AS hi_cut
  FROM rk GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n, cast(k AS bigint) AS k,
       cast(lo_cut AS bigint) AS lo_cut,
       cast(hi_cut AS bigint) AS hi_cut,
       round(CASE WHEN n - 2 * k >= 1 THEN
             cast(mid_sum AS double) / cast(n - 2 * k AS double)
             END, 9) + 0.0 AS trimmed_mean,
       round(CASE WHEN n - 2 * k >= 1 THEN
             cast(mid_sum + k * lo_cut + k * hi_cut AS double)
             / cast(n AS double) END, 9) + 0.0 AS winsor_mean
FROM g
""")


def q_ts_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE + Brier for the rational probe score
    value/(value+50) (exact same double on both engines - no
    transcendental near the 1e-6 grid boundary) against the purchase
    label: micro-unit integer grid, exact per-bin counts, ordered
    ECE fold. Oracle replays grid, binning, and folds verbatim."""
    from cesium_spark.operators.scoring import calibration_bins
    ev = _events(spark, sf_dir)
    scored = ev.select(
        (F.col("value") / (F.col("value") + F.lit(50.0))).alias("score"),
        (F.col("event_type") == "purchase").alias("label"))
    out = calibration_bins(scored, "score", "label", bins=10)
    return out.select(
        "bin", "n", "n_pos",
        _r(F.col("mean_score"), 9).alias("mean_score"),
        _r(F.col("pos_rate"), 9).alias("pos_rate"),
        _r(F.col("gap"), 9).alias("gap"),
        "n_total",
        _r(F.col("ece"), 9).alias("ece"),
        _r(F.col("brier"), 9).alias("brier"))


SQL_TS_CALIBRATION = oracle(q_ts_calibration, """
WITH b AS (
  SELECT cast(round((value / (value + 50.0)) * 1000000.0) AS bigint)
           AS s,
         event_type = 'purchase' AS l
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
pb AS (
  SELECT cast(least((s * 10) // 1000000, 9) AS int) AS bin,
         count(*) AS n,
         sum(s) AS sum_s,
         sum(CASE WHEN l THEN 1 ELSE 0 END) AS n_pos,
         sum((s - CASE WHEN l THEN 1000000 ELSE 0 END)
             * (s - CASE WHEN l THEN 1000000 ELSE 0 END)) AS brier_num
  FROM b GROUP BY 1
),
e AS (
  SELECT bin, n, n_pos,
         cast(sum_s AS double) / (cast(n AS double) * 1000000.0)
           AS mean_score,
         cast(n_pos AS double) / cast(n AS double) AS pos_rate,
         abs(cast(n_pos AS double) / cast(n AS double)
             - cast(sum_s AS double)
               / (cast(n AS double) * 1000000.0)) AS gap,
         sum(n) OVER () AS nt,
         sum(brier_num) OVER () AS bn
  FROM pb
),
f AS (
  SELECT *,
         sum((cast(n AS double) / cast(nt AS double)) * gap)
           OVER (ORDER BY bin) AS cum_ece
  FROM e
)
SELECT bin, cast(n AS bigint) AS n, cast(n_pos AS bigint) AS n_pos,
       round(mean_score, 9) + 0.0 AS mean_score,
       round(pos_rate, 9) + 0.0 AS pos_rate,
       round(gap, 9) + 0.0 AS gap,
       cast(nt AS bigint) AS n_total,
       round(max(cum_ece) OVER (), 9) + 0.0 AS ece,
       round(cast(bn AS double)
             / (cast(nt AS double) * 1000000000000.0), 9)
         + 0.0 AS brier
FROM f
""")


def q_ts_tail_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-heaviness profile of tokens-per-turn: exact type-1
    quartile order statistics, moment skew/kurtosis over exact int64
    raw power sums (the scaled-deviation trick would overflow at
    4th powers - raw sums do not), and the IQR/1.349-sigma normal-
    consistency ratio with the constant inlined as the same Python
    float literal. Oracle replays ranks, sums, and trees verbatim."""
    from cesium_spark.operators.seriesstats import tail_stats
    series = _tok_series(spark, sf_dir)
    out = tail_stats(series)
    return out.select(
        "conv_id", "n", "q1", "q2", "q3",
        _r(F.col("bowley"), 9).alias("bowley"),
        _r(F.col("skew_g1"), 9).alias("skew_g1"),
        _r(F.col("kurtosis_ex"), 9).alias("kurtosis_ex"),
        _r(F.col("tail_ratio"), 9).alias("tail_ratio"))


SQL_TS_TAIL_STATS = oracle(q_ts_tail_stats, _tok_series_sql() + """,
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY y, turn_idx) AS i,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
),
g AS (
  SELECT conv_id, max(n) AS n,
         sum(y) AS s1, sum(y * y) AS s2,
         sum(y * y * y) AS s3, sum(y * y * y * y) AS s4,
         max(CASE WHEN i = (n * 1 + 3) // 4 THEN y END) AS q1,
         max(CASE WHEN i = (n * 1 + 1) // 2 THEN y END) AS q2,
         max(CASE WHEN i = (n * 3 + 3) // 4 THEN y END) AS q3
  FROM r GROUP BY 1
),
e AS (
  SELECT conv_id, n, q1, q2, q3,
         cast(n AS double) AS nd,
         cast(s1 AS double) AS d1, cast(s2 AS double) AS d2,
         cast(s3 AS double) AS d3, cast(s4 AS double) AS d4,
         cast(s1 AS double) / cast(n AS double) AS mu
  FROM g
),
m AS (
  SELECT conv_id, n, q1, q2, q3, nd, mu,
         d2 - d1 * mu AS m2,
         d3 - 3.0 * mu * d2 + 2.0 * nd * mu * mu * mu AS m3,
         d4 - 4.0 * mu * d3 + 6.0 * mu * mu * d2
           - 3.0 * nd * mu * mu * mu * mu AS m4
  FROM e
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(q1 AS bigint) AS q1, cast(q2 AS bigint) AS q2,
       cast(q3 AS bigint) AS q3,
       round(CASE WHEN q3 > q1 THEN
             cast(q3 + q1 - 2 * q2 AS double)
             / cast(q3 - q1 AS double) END, 9) + 0.0 AS bowley,
       round(CASE WHEN m2 > 0 THEN
             (m3 / nd) / pow(m2 / nd, 1.5) END, 9) + 0.0 AS skew_g1,
       round(CASE WHEN m2 > 0 AND n >= 4 THEN
             nd * m4 / (m2 * m2) - 3.0 END, 9) + 0.0 AS kurtosis_ex,
       round(CASE WHEN m2 > 0 THEN
             cast(q3 - q1 AS double)
             / (1.3489795003921634 * sqrt(m2 / nd)) END, 9)
         + 0.0 AS tail_ratio
FROM m
""")


def q_ts_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT per conversation on the purchase indicator stream
    (H0 rate 0.2 vs H1 rate 0.4): exact int64 running counts, the
    four ln() constants computed once in Python and inlined as
    IDENTICAL double literals on both sides, first-crossing-wins
    decision rule. Oracle replays the walk verbatim."""
    from cesium_spark.operators.seriesstats import sprt_bernoulli
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("y"))
    out = sprt_bernoulli(series, p0=0.2, p1=0.4,
                         alpha=0.05, beta=0.2)
    return out.select(
        "conv_id", "n", "n_pos", "decision", "decided_at",
        _r(F.col("llr_final"), 9).alias("llr_final"))


SQL_TS_SPRT = oracle(q_ts_sprt, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
l AS (
  SELECT conv_id, turn_idx, x,
         cast(sum(x) OVER wr AS double) * 0.6931471805599453
           + cast(count(*) OVER wr - sum(x) OVER wr AS double)
             * -0.28768207245178107 AS llr
  FROM s
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
g AS (
  SELECT conv_id, count(*) AS n, sum(x) AS n_pos,
         min(CASE WHEN llr >= 2.772588722239781 THEN turn_idx END) AS t1,
         min(CASE WHEN llr <= -1.5581446180465497 THEN turn_idx END) AS t0,
         max_by(llr, turn_idx) AS llr_final
  FROM l GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(n_pos AS bigint) AS n_pos,
       CASE WHEN t1 IS NOT NULL AND (t0 IS NULL OR t1 <= t0)
            THEN 'accept_h1'
            WHEN t0 IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       cast(CASE WHEN t1 IS NOT NULL AND (t0 IS NULL OR t1 <= t0)
                 THEN t1
                 WHEN t0 IS NOT NULL THEN t0 END AS int) AS decided_at,
       round(llr_final, 9) + 0.0 AS llr_final
FROM g
""")


def q_ts_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foster-Stuart records trend test on tokens-per-turn: integer
    record counts (strict, shifted-frame running max/min), longest
    strictly-increasing streak, and z = d/sqrt(2(H_n - 1)) with H_n
    as an ordered 1/i fold. Oracle replays frames and folds
    verbatim."""
    from cesium_spark.operators.seriesstats import record_stats
    series = _tok_series(spark, sf_dir)
    out = record_stats(series)
    return out.select("conv_id", "n", "rec_up", "rec_dn",
                      "longest_up_run", "d",
                      _r(F.col("z"), 9).alias("z"))


SQL_TS_RECORDS = oracle(q_ts_records, _tok_series_sql() + """,
r AS (
  SELECT conv_id, turn_idx, y,
         row_number() OVER wo AS i,
         max(y) OVER wp AS pmax,
         min(y) OVER wp AS pmin,
         lag(y) OVER wo AS prev
  FROM s
  WINDOW wo AS (PARTITION BY conv_id ORDER BY turn_idx),
         wp AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
b AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pmax IS NULL OR y > pmax THEN 1 ELSE 0 END AS up,
         CASE WHEN pmin IS NULL OR y < pmin THEN 1 ELSE 0 END AS dn,
         CASE WHEN prev IS NULL OR y <= prev THEN 1 ELSE 0 END AS brk,
         1.0 / cast(i AS double) AS inv
  FROM r
),
c AS (
  SELECT conv_id, up, dn,
         sum(brk) OVER wr AS runid,
         sum(inv) OVER wr AS cum_h
  FROM b
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
d AS (
  SELECT conv_id, up, dn, cum_h,
         count(*) OVER (PARTITION BY conv_id, runid) AS rlen
  FROM c
),
g AS (
  SELECT conv_id, count(*) AS n,
         sum(up) AS rec_up, sum(dn) AS rec_dn,
         max(rlen) AS longest_up_run, max(cum_h) AS hn
  FROM d GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(rec_up AS bigint) AS rec_up,
       cast(rec_dn AS bigint) AS rec_dn,
       cast(longest_up_run AS bigint) AS longest_up_run,
       cast(rec_up - rec_dn AS bigint) AS d,
       round(CASE WHEN n >= 2 THEN
             cast(rec_up - rec_dn AS double)
             / sqrt(2.0 * (hn - 1.0)) END, 9) + 0.0 AS z
FROM g
""")


def q_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between the even and odd vec_id slices:
    integer-gridded (1e-7) per-dim sums, ordered-dim folds with
    max_by terminal pick (signed terms - the max-of-cumsum trick
    deliberately does NOT apply), deterministic top-moved-dim.
    Oracle replays grid, folds, and the argmax rule verbatim."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    a = embs.where(F.col("vec_id") % 2 == 0)
    b = embs.where(F.col("vec_id") % 2 == 1)
    out = similarity.embedding_drift(a, b)
    return out.select(
        "n_a", "n_b",
        _r(F.col("mean_cos"), 9).alias("mean_cos"),
        _r(F.col("mean_l2"), 9).alias("mean_l2"),
        "top_gap_dim",
        _r(F.col("top_gap"), 9).alias("top_gap"))


SQL_EMB_DRIFT = oracle(q_emb_drift, """
WITH t AS (
  SELECT CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS tag,
         u.pos - 1 AS pos,
         cast(round(u.x * 10000000.0) AS bigint) AS g
  FROM embeddings e,
  LATERAL (SELECT unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                  generate_subscripts(e.embedding, 1) AS pos) u
  WHERE e.embedding IS NOT NULL
),
per AS (
  SELECT tag, pos, sum(g) AS s, count(*) AS n FROM t GROUP BY 1, 2
),
wide AS (
  SELECT pos,
         max(CASE WHEN tag = 'a' THEN s END) AS sa,
         max(CASE WHEN tag = 'b' THEN s END) AS sb,
         max(CASE WHEN tag = 'a' THEN n END) AS na,
         max(CASE WHEN tag = 'b' THEN n END) AS nb
  FROM per GROUP BY 1
),
folded AS (
  SELECT pos, na, nb,
         sum(cast(sa AS double) * cast(sb AS double)) OVER wo AS dot,
         sum(cast(sa AS double) * cast(sa AS double)) OVER wo AS aa,
         sum(cast(sb AS double) * cast(sb AS double)) OVER wo AS bb,
         sum((cast(sa AS double) / cast(na AS double)
              - cast(sb AS double) / cast(nb AS double))
             * (cast(sa AS double) / cast(na AS double)
                - cast(sb AS double) / cast(nb AS double)))
           OVER wo AS d2,
         abs(cast(sa AS double) / cast(na AS double)
             - cast(sb AS double) / cast(nb AS double))
           / 10000000.0 AS gap
  FROM wide
  WINDOW wo AS (ORDER BY pos)
),
sc AS (
  SELECT cast(max(na) AS bigint) AS n_a,
         cast(max(nb) AS bigint) AS n_b,
         arg_max(dot, pos) AS dot, arg_max(aa, pos) AS aa,
         arg_max(bb, pos) AS bb, arg_max(d2, pos) AS d2,
         max(gap) AS top_gap
  FROM folded
),
td AS (
  SELECT cast(pos + 1 AS int) AS top_gap_dim FROM folded
  QUALIFY row_number() OVER (ORDER BY gap DESC, pos) = 1
)
SELECT sc.n_a, sc.n_b,
       round(CASE WHEN sc.aa > 0 AND sc.bb > 0 THEN
             sc.dot / sqrt(sc.aa * sc.bb) END, 9) + 0.0 AS mean_cos,
       round(sqrt(sc.d2) / 10000000.0, 9) + 0.0 AS mean_l2,
       td.top_gap_dim,
       round(sc.top_gap, 9) + 0.0 AS top_gap
FROM sc, td
""")


def q_ts_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index (k=20) of tokens-per-turn per conversation:
    exact integer order-statistic threshold and top-k cut (no float
    in the membership decision), ordered nondecreasing ln-ratio
    fold, one terminal division. Oracle replays ranks and fold
    verbatim."""
    from cesium_spark.operators.seriesstats import hill_tail
    series = _tok_series(spark, sf_dir)
    out = hill_tail(series, k=20)
    return out.select(
        "conv_id", "n", "k", "threshold",
        _r(F.col("sum_ln"), 9).alias("sum_ln"),
        _r(F.col("alpha"), 9).alias("alpha"))


SQL_TS_HILL = oracle(q_ts_hill, _tok_series_sql() + """,
r AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY y DESC, turn_idx DESC) AS rk,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
),
t AS (
  SELECT conv_id, y, rk, n,
         max(CASE WHEN rk = 21 THEN y END)
           OVER (PARTITION BY conv_id) AS thr
  FROM r
),
f AS (
  SELECT conv_id, n, thr,
         sum(CASE WHEN rk <= 20 AND thr > 0 THEN
             ln(cast(y AS double) / cast(thr AS double))
             ELSE 0.0 END)
           OVER (PARTITION BY conv_id ORDER BY rk
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
g AS (
  SELECT conv_id, max(n) AS n, max(thr) AS thr, max(cum) AS sum_ln
  FROM f GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n, 20 AS k,
       cast(thr AS bigint) AS threshold,
       round(sum_ln, 9) + 0.0 AS sum_ln,
       round(CASE WHEN n > 20 AND thr > 0 AND sum_ln > 0 THEN
             20.0 / sum_ln END, 9) + 0.0 AS alpha
FROM g
""")


def q_ts_ks_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: the two-sample KS mid-conversation drift p-bounds
    across all 150 conversations, fed through Benjamini-Hochberg
    step-up FDR control (q=0.1) - which conversations' distribution
    shifts survive honest multiple-testing correction. The oracle
    replays the UNROUNDED p tree (ranking must see the same doubles)
    then the step-up rule and reverse-running-min adjustment
    verbatim; ties at p=1.0 break by conv_id on both engines."""
    from cesium_spark.operators.scoring import bh_fdr
    from cesium_spark.operators.seriesstats import ks_two_sample
    series = _tok_series(spark, sf_dir)
    ks = ks_two_sample(series)
    out = bh_fdr(ks, "p_bound", "conv_id", q=0.1)
    return out.select(
        "conv_id",
        _r(F.col("p"), 9).alias("p"),
        "rank",
        _r(F.col("p_adj"), 9).alias("p_adj"),
        "significant", "m")


SQL_TS_KS_FDR = oracle(q_ts_ks_fdr, _tok_series_sql(
    "row_number() OVER w - 1 AS rk",
    "count(*) OVER (PARTITION BY user_id) AS cnt") + """,
h AS (
  SELECT conv_id, y, cnt, cnt // 2 AS n1,
         CASE WHEN rk >= cnt // 2 THEN 1 ELSE 0 END AS hh
  FROM s
),
c AS (
  SELECT conv_id, cnt, n1,
         sum(1 - hh) OVER wv AS c1,
         sum(hh) OVER wv AS c2
  FROM h
  WINDOW wv AS (PARTITION BY conv_id ORDER BY y
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
g AS (
  SELECT conv_id, max(cnt) AS n, max(n1) AS n1,
         max(abs(c1 * (cnt - n1) - c2 * n1)) AS d_num
  FROM c GROUP BY 1
),
pv AS (
  SELECT conv_id,
         CASE WHEN n1 > 0 THEN
           least(1.0, 2.0 * exp(-2.0
             * ((cast(d_num AS double)
                 / (cast(n1 AS double) * cast(n - n1 AS double)))
                * sqrt(cast(n1 AS double) * cast(n - n1 AS double)
                       / (cast(n1 AS double) + cast(n - n1 AS double))))
             * ((cast(d_num AS double)
                 / (cast(n1 AS double) * cast(n - n1 AS double)))
                * sqrt(cast(n1 AS double) * cast(n - n1 AS double)
                       / (cast(n1 AS double)
                          + cast(n - n1 AS double))))))
         END AS p
  FROM g
),
v AS (SELECT conv_id, p FROM pv WHERE p IS NOT NULL AND NOT isnan(p)),
rked AS (
  SELECT conv_id, p,
         row_number() OVER (ORDER BY p, conv_id) AS rnk,
         count(*) OVER () AS m
  FROM v
),
kk AS (
  SELECT *,
         max(CASE WHEN p <= cast(rnk AS double) * 0.1
                       / cast(m AS double)
                  THEN rnk END) OVER () AS kmax,
         min(cast(m AS double) * p / cast(rnk AS double))
           OVER (ORDER BY rnk DESC ROWS UNBOUNDED PRECEDING) AS radj
  FROM rked
),
valid AS (
  SELECT conv_id, p, cast(rnk AS int) AS rank,
         least(1.0, radj) AS p_adj,
         CASE WHEN kmax IS NOT NULL THEN rnk <= kmax
              ELSE FALSE END AS significant,
         cast(m AS bigint) AS m
  FROM kk
),
inval AS (
  SELECT conv_id, cast(NULL AS double) AS p, cast(NULL AS int) AS rank,
         cast(NULL AS double) AS p_adj,
         cast(NULL AS boolean) AS significant,
         cast(NULL AS bigint) AS m
  FROM pv WHERE p IS NULL OR isnan(p)
)
SELECT conv_id, round(p, 9) + 0.0 AS p, rank,
       round(p_adj, 9) + 0.0 AS p_adj, significant, m
FROM (SELECT * FROM valid UNION ALL SELECT * FROM inval)
""")


def q_ts_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-of-day activity profile per conversation: exact integer
    hour-bucket counts, ordered entropy fold over <= 24 cells, the
    deterministic (count DESC, hour ASC) majority hour, and the
    entropy ratio against the same ln(24) Python literal on both
    sides. Oracle replays cells, fold, and tie rule verbatim."""
    from cesium_spark.operators.sequences import circadian_stats
    out = circadian_stats(events_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "n_turns", "n_hours_active", "top_hour",
        _r(F.col("top_hour_share"), 9).alias("top_hour_share"),
        _r(F.col("hour_entropy"), 9).alias("hour_entropy"),
        _r(F.col("entropy_ratio"), 9).alias("entropy_ratio"))


SQL_TS_CIRCADIAN = oracle(q_ts_circadian, """
WITH cells AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         hour(ts) AS hh, count(*) AS c
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
e0 AS (
  SELECT conv_id, hh, c,
         sum(c) OVER (PARTITION BY conv_id) AS n
  FROM cells
),
e AS (
  SELECT conv_id, hh, c, n,
         sum((cast(c AS double) / cast(n AS double))
             * ln(cast(n AS double) / cast(c AS double)))
           OVER (PARTITION BY conv_id ORDER BY hh
                 ROWS UNBOUNDED PRECEDING) AS cum_h
  FROM e0
),
g AS (
  SELECT conv_id, max(n) AS n_turns,
         count(*) AS n_hours_active,
         max(cum_h) AS hour_entropy, max(c) AS top_c
  FROM e GROUP BY 1
),
th AS (
  SELECT conv_id, hh AS top_hour FROM cells
  QUALIFY row_number() OVER (PARTITION BY conv_id
                             ORDER BY c DESC, hh) = 1
)
SELECT g.conv_id,
       cast(n_turns AS bigint) AS n_turns,
       cast(n_hours_active AS bigint) AS n_hours_active,
       cast(th.top_hour AS int) AS top_hour,
       round(cast(top_c AS double) / cast(n_turns AS double), 9)
         + 0.0 AS top_hour_share,
       round(hour_entropy, 9) + 0.0 AS hour_entropy,
       round(hour_entropy / 3.1780538303479458, 9) + 0.0 AS entropy_ratio
FROM g JOIN th USING (conv_id)
""")


def q_ts_leaky_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaky-bucket rate-limit replay (1 request / 60 s, burst 3)
    over whole-second inter-turn gaps: the Lindley recursion as
    running-sum-minus-running-min with denominators CLEARED - the
    rate is the rational 1/60, every quantity int64, the throttle
    test an integer comparison. Oracle replays grid, prefix windows,
    and the threshold verbatim."""
    from cesium_spark.operators.rates import leaky_bucket
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    gap = F.round(sec - F.lag(sec).over(w), 0).cast("long")
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        gap.alias("y"))
    out = leaky_bucket(series, rate_num=1, rate_den=60, burst=3)
    return out.select(
        "conv_id", "n", "n_throttled", "max_queue_num",
        _r(F.col("max_queue"), 9).alias("max_queue"),
        "first_throttle")


SQL_TS_LEAKY_BUCKET = oracle(q_ts_leaky_bucket, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(round(epoch(ts) - lag(epoch(ts)) OVER w, 0) AS bigint) AS g
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
a AS (
  SELECT conv_id, turn_idx,
         sum(60 - 1 * coalesce(g, 0)) OVER wr AS sv
  FROM s
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
q AS (
  SELECT conv_id, turn_idx,
         sv - least(min(sv) OVER wr, 0) AS qv
  FROM a
  WINDOW wr AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING)
),
g AS (
  SELECT conv_id, count(*) AS n,
         sum(CASE WHEN qv > 180 THEN 1 ELSE 0 END) AS n_throttled,
         max(qv) AS max_queue_num,
         min(CASE WHEN qv > 180 THEN turn_idx END) AS first_throttle
  FROM q GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(n_throttled AS bigint) AS n_throttled,
       cast(max_queue_num AS bigint) AS max_queue_num,
       round(cast(max_queue_num AS double) / 60.0, 9)
         + 0.0 AS max_queue,
       cast(first_throttle AS int) AS first_throttle
FROM g
""")


def q_ts_anova_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA per conversation: does the ROLE explain the
    tokens-per-turn variance ("are purchase turns wordier than view
    turns in this conversation")? Exact int64 cell sums, ordered
    S_g^2/n_g fold, clamped decomposition, eta^2 + F with perfect
    separation surfacing as eta2=1 / NULL F. Oracle replays cells,
    fold, and trees verbatim."""
    from cesium_spark.operators.seriesstats import anova_oneway
    series = _tok_series(spark, sf_dir,
                         F.col("event_type").alias("channel"))
    out = anova_oneway(series, group_col="channel")
    return out.select(
        "conv_id", "n", "k",
        _r(F.col("ss_between"), 6).alias("ss_between"),
        _r(F.col("ss_within"), 6).alias("ss_within"),
        _r(F.col("eta2"), 9).alias("eta2"),
        _r(F.col("f_stat"), 6).alias("f_stat"))


SQL_TS_ANOVA_ROLE = oracle(q_ts_anova_role, _tok_series_sql(
    "event_type AS g") + """,
cells AS (
  SELECT conv_id, g, count(*) AS ng, sum(y) AS sg, sum(y * y) AS qg
  FROM s WHERE g IS NOT NULL GROUP BY 1, 2
),
e AS (
  SELECT conv_id,
         sum(ng) OVER wp AS n, sum(sg) OVER wp AS sv,
         sum(qg) OVER wp AS q, count(*) OVER wp AS k,
         sum(cast(sg AS double) * cast(sg AS double)
             / cast(ng AS double))
           OVER (PARTITION BY conv_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM cells
  WINDOW wp AS (PARTITION BY conv_id)
),
gg AS (
  SELECT conv_id, max(n) AS n, max(k) AS k, max(sv) AS sv,
         max(q) AS q, max(cum_b) AS b
  FROM e GROUP BY 1
),
m AS (
  SELECT conv_id, n, k,
         cast(q AS double)
           - cast(sv AS double) * cast(sv AS double)
             / cast(n AS double) AS sst,
         CASE WHEN b - cast(sv AS double) * cast(sv AS double)
                       / cast(n AS double) < 0 THEN 0.0
              ELSE b - cast(sv AS double) * cast(sv AS double)
                       / cast(n AS double) END AS ssb
  FROM gg
),
f AS (
  SELECT conv_id, n, k, sst, ssb,
         CASE WHEN sst - ssb < 0 THEN 0.0 ELSE sst - ssb END AS ssw
  FROM m
)
SELECT conv_id, cast(n AS bigint) AS n, cast(k AS int) AS k,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0
                  THEN ssb END, 6) + 0.0 AS ss_between,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0
                  THEN ssw END, 6) + 0.0 AS ss_within,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0
                  THEN ssb / sst END, 9) + 0.0 AS eta2,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0 AND ssw > 0 THEN
             (ssb / (cast(k AS double) - 1.0))
             / (ssw / (cast(n AS double) - cast(k AS double)))
             END, 6) + 0.0 AS f_stat
FROM f
""")


def q_ts_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-level near-dup detection: each conversation's
    turn texts concatenate (deterministically, by turn order via
    sort_array over (rn, text) structs) into one document, every 10th
    conversation is planted as a copy under conv_id+100000, and the
    MinHash-LSH candidate generator must surface every planted pair
    with all 16 bands shared — the doc_minhash_lsh recall contract
    lifted to the transcript grain (duplicate CONVERSATIONS are what
    a training-data pipeline actually dedupes)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turns = ev.select(F.col("user_id").cast("long").alias("cid"),
                      F.row_number().over(w).alias("rn"),
                      F.col("props"))
    conv_docs = (turns.groupBy("cid")
                 .agg(F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.struct("rn", "props"))),
                         lambda s: s.getField("props")),
                     " ").alias("text"))
                 .select(F.col("cid").alias("doc_id"), "text"))
    planted = (conv_docs.where(F.col("doc_id") % 10 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"),
                       "text"))
    corpus = conv_docs.unionByName(planted)
    cands = dedup.minhash_lsh_candidates(corpus, k=64, bands=16,
                                         shingle_n=3)
    expect = (conv_docs.where(F.col("doc_id") % 10 == 0)
              .select(F.col("doc_id").alias("id_a"),
                      (F.col("doc_id") + 100000).alias("id_b")))
    return (expect.join(cands, ["id_a", "id_b"])
            .select("id_a", "id_b",
                    F.col("n_shared_bands").cast("long")
                    .alias("n_shared_bands")))


SQL_TS_CONV_DEDUP = oracle(q_ts_conv_dedup, """
SELECT DISTINCT cast(user_id AS bigint) AS id_a,
       cast(user_id AS bigint) + 100000 AS id_b,
       CAST(16 AS BIGINT) AS n_shared_bands
FROM events WHERE user_id % 10 = 0
""")


def q_doc_jsd_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document topic-shift detector: Jensen-Shannon
    divergence between the first and second half of each document's
    token stream plus the half-vocabulary Jaccard. posexplode
    positions (partition-independent), exact int64 half counts,
    explicit 0*ln0 = 0 CASE logic, ordered token fold. Oracle
    replays split, positions, cells, and fold verbatim."""
    from cesium_spark.operators.textstats import jsd_halves
    _prep(spark)
    out = jsd_halves(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens",
        _r(F.col("jsd"), 9).alias("jsd"),
        _r(F.col("jsd_norm"), 9).alias("jsd_norm"),
        _r(F.col("vocab_jaccard"), 9).alias("vocab_jaccard"))


SQL_DOC_JSD_HALVES = oracle(q_doc_jsd_halves, r"""
WITH tok AS (
  SELECT doc_id, u.pos AS rawpos, nullif(u.t, '') AS token
  FROM (SELECT doc_id,
               string_split_regex(lower(coalesce(text, '')),
                                  '[ \t\n\r\f]+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
pos AS (
  SELECT doc_id, token,
         count(token) OVER (PARTITION BY doc_id) AS n,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY token IS NULL, rawpos) AS p
  FROM tok
),
cells AS (
  SELECT doc_id, token, max(n) AS n,
         sum(CASE WHEN token IS NOT NULL AND p <= n // 2
                  THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN token IS NOT NULL AND p > n // 2
                  THEN 1 ELSE 0 END) AS b
  FROM pos GROUP BY 1, 2
),
e AS (
  SELECT doc_id, n, a, b,
         n // 2 AS na, n - n // 2 AS nb,
         sum(CASE WHEN token IS NOT NULL AND n // 2 > 0
                   AND n - n // 2 > 0 THEN
             (CASE WHEN a > 0 THEN
               0.5 * (cast(a AS double) / cast(n // 2 AS double))
               * ln((cast(a AS double) / cast(n // 2 AS double))
                    / ((cast(a AS double) / cast(n // 2 AS double)
                        + cast(b AS double)
                          / cast(n - n // 2 AS double)) / 2.0))
               ELSE 0.0 END
              + CASE WHEN b > 0 THEN
               0.5 * (cast(b AS double) / cast(n - n // 2 AS double))
               * ln((cast(b AS double) / cast(n - n // 2 AS double))
                    / ((cast(a AS double) / cast(n // 2 AS double)
                        + cast(b AS double)
                          / cast(n - n // 2 AS double)) / 2.0))
               ELSE 0.0 END)
             ELSE 0.0 END)
           OVER (PARTITION BY doc_id ORDER BY token
                 ROWS UNBOUNDED PRECEDING) AS cum,
         CASE WHEN token IS NOT NULL AND n // 2 > 0
               AND n - n // 2 > 0 AND a > 0 AND b > 0
              THEN 1 ELSE 0 END AS both_f,
         CASE WHEN token IS NOT NULL AND n // 2 > 0
               AND n - n // 2 > 0 AND (a > 0 OR b > 0)
              THEN 1 ELSE 0 END AS any_f
  FROM cells
),
g AS (
  SELECT doc_id, max(n) AS n_tokens, max(cum) AS jsd,
         sum(both_f) AS inter, sum(any_f) AS un
  FROM e GROUP BY 1
)
SELECT doc_id, cast(n_tokens AS bigint) AS n_tokens,
       round(CASE WHEN n_tokens >= 2 THEN jsd END, 9) + 0.0 AS jsd,
       round(CASE WHEN n_tokens >= 2 THEN jsd / 0.6931471805599453 END, 9)
         + 0.0 AS jsd_norm,
       round(CASE WHEN un > 0 THEN
             cast(inter AS double) / cast(un AS double) END, 9)
         + 0.0 AS vocab_jaccard
FROM g
""")


def q_ts_role_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 role trigram motifs corpus-wide: integer supports from
    lead windows that never cross a conversation boundary, the cut on
    (support DESC, gram ASC) - pure integers and strings, no float
    in the cut. Oracle replays leads, grams, and the cut verbatim."""
    from cesium_spark.operators.sequences import role_ngrams
    out = role_ngrams(events_transcripts(spark, sf_dir), n=3, top_k=20)
    return out.select("gram", "support",
                      _r(F.col("share"), 9).alias("share"))


SQL_TS_ROLE_NGRAMS = oracle(q_ts_role_ngrams, """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
l AS (
  SELECT role,
         lead(role, 1) OVER w2 AS r1,
         lead(role, 2) OVER w2 AS r2
  FROM t
  WINDOW w2 AS (PARTITION BY conv_id ORDER BY turn_idx)
),
g AS (
  SELECT role || '>' || r1 || '>' || r2 AS gram, count(*) AS support
  FROM l
  WHERE role IS NOT NULL AND r1 IS NOT NULL AND r2 IS NOT NULL
  GROUP BY 1
),
e AS (SELECT gram, support, sum(support) OVER () AS total FROM g)
SELECT gram, cast(support AS bigint) AS support,
       round(cast(support AS double) / cast(total AS double), 9)
         + 0.0 AS share
FROM e
ORDER BY support DESC, gram
LIMIT 20
""")


def q_ts_mix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type mix trajectory: per-day HHI concentration,
    Shannon entropy, and the deterministic majority type - the
    per-bucket view of what chi2_independence tests globally. Exact
    integer cells, ordered category folds. Oracle replays cells,
    folds, and the tie rule verbatim."""
    from cesium_spark.operators.datastats import mix_stats
    ev = _events(spark, sf_dir)
    out = mix_stats(ev, F.to_date("ts"), F.col("event_type"))
    return out.select(
        F.col("bucket").cast("string").alias("day"),
        "n", "n_categories",
        _r(F.col("hhi"), 9).alias("hhi"),
        _r(F.col("entropy"), 9).alias("entropy"),
        "top_category",
        _r(F.col("top_share"), 9).alias("top_share"))


SQL_TS_MIX_DAILY = oracle(q_ts_mix_daily, """
WITH cells AS (
  SELECT cast(cast(ts AS date) AS varchar) AS day,
         event_type AS cat, count(*) AS c
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
e0 AS (
  SELECT day, cat, c, sum(c) OVER (PARTITION BY day) AS n
  FROM cells
),
e AS (
  SELECT day, cat, c, n,
         sum((cast(c AS double) / cast(n AS double))
             * (cast(c AS double) / cast(n AS double)))
           OVER wo AS cum_hhi,
         sum((cast(c AS double) / cast(n AS double))
             * ln(cast(n AS double) / cast(c AS double)))
           OVER wo AS cum_ent
  FROM e0
  WINDOW wo AS (PARTITION BY day ORDER BY cat
                ROWS UNBOUNDED PRECEDING)
),
g AS (
  SELECT day, max(n) AS n, count(*) AS n_categories,
         max(cum_hhi) AS hhi, max(cum_ent) AS entropy,
         max(c) AS top_c
  FROM e GROUP BY 1
),
tc AS (
  SELECT day, cat AS top_category FROM cells
  QUALIFY row_number() OVER (PARTITION BY day
                             ORDER BY c DESC, cat) = 1
)
SELECT g.day, cast(g.n AS bigint) AS n,
       cast(n_categories AS bigint) AS n_categories,
       round(hhi, 9) + 0.0 AS hhi,
       round(entropy, 9) + 0.0 AS entropy,
       tc.top_category,
       round(cast(top_c AS double) / cast(g.n AS double), 9)
         + 0.0 AS top_share
FROM g JOIN tc USING (day)
""")


def q_ts_dominant_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant integer period (lags 2-12) of tokens-per-turn: the
    argmax compares EXACT int64 ACF numerators (the shared positive
    denominator cancels), ties to the lowest lag, lag 1 excluded so
    plain stickiness cannot mask true periodicity; greatest()'s
    null-skipping is exploited correctly here (an unmeasurable lag
    cannot win). Oracle replays numerators and the argmax chain
    verbatim."""
    from cesium_spark.operators.seriesstats import dominant_lag
    series = _tok_series(spark, sf_dir)
    out = dominant_lag(series, max_lag=12)
    return out.select("conv_id", "n", "best_lag",
                      _r(F.col("r_best"), 9).alias("r_best"))


SQL_TS_DOMINANT_LAG = oracle(q_ts_dominant_lag, _tok_series_sql()
                             + _acf_sums_sql(range(2, 13)) + """
SELECT conv_id, cast(n AS bigint) AS n,
       cast(CASE WHEN n0 > 0 AND greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) IS NOT NULL THEN
            CASE WHEN n2 IS NOT NULL AND n2 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 2
             WHEN n3 IS NOT NULL AND n3 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 3
             WHEN n4 IS NOT NULL AND n4 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 4
             WHEN n5 IS NOT NULL AND n5 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 5
             WHEN n6 IS NOT NULL AND n6 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 6
             WHEN n7 IS NOT NULL AND n7 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 7
             WHEN n8 IS NOT NULL AND n8 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 8
             WHEN n9 IS NOT NULL AND n9 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 9
             WHEN n10 IS NOT NULL AND n10 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 10
             WHEN n11 IS NOT NULL AND n11 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 11
             WHEN n12 IS NOT NULL AND n12 = greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) THEN 12
            END END AS int) AS best_lag,
       round(CASE WHEN n0 > 0 AND greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) IS NOT NULL THEN
             cast(greatest(n2, n3, n4, n5, n6, n7, n8, n9, n10, n11, n12) AS double) / cast(n0 AS double)
             END, 9) + 0.0 AS r_best
FROM g
""")


def q_ts_tw_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted quartiles of tokens-per-turn, each turn's value
    holding for the whole-second gap until the next turn: NO float
    anywhere including the cuts (4*cumw >= k*W integer comparisons,
    denominators cleared). Oracle replays grid, holds, and cuts
    verbatim."""
    from cesium_spark.operators.seriesstats import time_weighted_quantiles
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    hold = F.round(F.lead(sec).over(w) - sec, 0).cast("long")
    series = (_tok_series(spark, sf_dir, hold.alias("w"))
              .where(F.col("w").isNotNull()))
    out = time_weighted_quantiles(series)
    return out.select("conv_id", "n", "total_w",
                      "tw_q1", "tw_q2", "tw_q3")


SQL_TS_TW_QUANTILES = oracle(q_ts_tw_quantiles, _tok_series_sql(
    "cast(round(lead(epoch(ts)) OVER w - epoch(ts), 0) AS bigint)"
    " AS hold") + """,
c AS (
  SELECT conv_id, y,
         sum(hold) OVER (PARTITION BY conv_id ORDER BY y, turn_idx
                         ROWS UNBOUNDED PRECEDING) AS cw,
         sum(hold) OVER (PARTITION BY conv_id) AS tw
  FROM s WHERE hold IS NOT NULL
),
g AS (
  SELECT conv_id, count(*) AS n, max(tw) AS total_w,
         min(CASE WHEN 4 * cw >= 1 * tw THEN y END) AS q1,
         min(CASE WHEN 4 * cw >= 2 * tw THEN y END) AS q2,
         min(CASE WHEN 4 * cw >= 3 * tw THEN y END) AS q3
  FROM c GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(total_w AS bigint) AS total_w,
       cast(CASE WHEN total_w > 0 THEN q1 END AS bigint) AS tw_q1,
       cast(CASE WHEN total_w > 0 THEN q2 END AS bigint) AS tw_q2,
       cast(CASE WHEN total_w > 0 THEN q3 END AS bigint) AS tw_q3
FROM g
""")


def q_rel_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over hash-parity experiment cohorts
    (user_id % 2 - the standard deterministic bucketing): does the
    'treatment' cohort purchase at a different rate? Exact int64
    sufficient statistics from one conditional aggregate; z and the
    rates are fixed double trees replayed verbatim; a pooled rate of
    exactly 0/1 comes back NULL, never inf."""
    from cesium_spark.operators.datastats import prop_ztest
    ev = _events(spark, sf_dir)
    out = prop_ztest(
        ev.select(F.when(F.col("user_id") % 2 == 0, "even")
                  .otherwise("odd").alias("g"),
                  F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0).alias("x")),
        "g", "x", "even", "odd")
    return out.select(
        "n_a", "s_a", "n_b", "s_b",
        _r(F.col("rate_a"), 9).alias("rate_a"),
        _r(F.col("rate_b"), 9).alias("rate_b"),
        _r(F.col("lift"), 9).alias("lift"),
        _r(F.col("z"), 9).alias("z"))


SQL_REL_PROP_ZTEST = oracle(q_rel_prop_ztest, """
WITH b AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
),
a AS (
  SELECT sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN g = 'even' THEN x ELSE 0 END) AS s_a,
         sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN g = 'odd' THEN x ELSE 0 END) AS s_b
  FROM b
)
SELECT cast(n_a AS bigint) AS n_a, cast(s_a AS bigint) AS s_a,
       cast(n_b AS bigint) AS n_b, cast(s_b AS bigint) AS s_b,
       round(CASE WHEN n_a > 0 THEN
             cast(s_a AS double) / cast(n_a AS double) END, 9)
         + 0.0 AS rate_a,
       round(CASE WHEN n_b > 0 THEN
             cast(s_b AS double) / cast(n_b AS double) END, 9)
         + 0.0 AS rate_b,
       round(CASE WHEN n_a > 0 AND n_b > 0 AND s_a + s_b > 0
                   AND s_a + s_b < n_a + n_b THEN
             cast(s_a AS double) / cast(n_a AS double)
             - cast(s_b AS double) / cast(n_b AS double) END, 9)
         + 0.0 AS lift,
       round(CASE WHEN n_a > 0 AND n_b > 0 AND s_a + s_b > 0
                   AND s_a + s_b < n_a + n_b THEN
             (cast(s_a AS double) / cast(n_a AS double)
              - cast(s_b AS double) / cast(n_b AS double))
             / sqrt(((cast(s_a AS double) + cast(s_b AS double))
                     / (cast(n_a AS double) + cast(n_b AS double)))
                    * (1.0 - (cast(s_a AS double) + cast(s_b AS double))
                       / (cast(n_a AS double) + cast(n_b AS double)))
                    * (1.0 / cast(n_a AS double)
                       + 1.0 / cast(n_b AS double))) END, 9)
         + 0.0 AS z
FROM a
""")


def q_ts_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-ending profile: deterministic max_by-over-
    turn_idx picks, whole-second final gap, the documented
    abandonment heuristic (user had the last word OR a dangling tool
    call). Oracle replays picks and flags verbatim."""
    from cesium_spark.operators.derive import conversation_endings
    out = conversation_endings(events_transcripts(spark, sf_dir),
                               user_role="view")
    return out.select("conv_id", "n_turns", "last_role",
                      "last_turn_tokens", "ends_with_question",
                      "ends_after_tool", "final_gap_s", "abandoned")


SQL_TS_ENDINGS = oracle(q_ts_endings, """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'purchase' THEN 'checkout' END AS tool,
         round(epoch(ts) - lag(epoch(ts)) OVER w, 0) AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT conv_id, count(*) AS n_turns,
         arg_max(role, turn_idx) AS last_role,
         arg_max(cast(len(string_split_regex(trim(coalesce(text, '')),
                                             '\\s+')) AS bigint),
                 turn_idx) AS last_turn_tokens,
         arg_max(trim(coalesce(text, '')), turn_idx) AS last_txt,
         max(CASE WHEN tool IS NOT NULL THEN turn_idx END)
           AS last_tool_turn,
         max(turn_idx) AS last_turn,
         arg_max(cast(gap AS bigint), turn_idx) AS final_gap_s
  FROM t GROUP BY 1
)
SELECT conv_id, cast(n_turns AS bigint) AS n_turns, last_role,
       last_turn_tokens,
       last_txt LIKE '%?' AS ends_with_question,
       coalesce(last_tool_turn = last_turn, FALSE) AS ends_after_tool,
       final_gap_s,
       last_role = 'view'
         OR coalesce(last_tool_turn = last_turn, FALSE) AS abandoned
FROM g
""")


def q_emb_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dimensionality (participation ratio trace^2/frob^2
    of the covariance spectrum) of the embeddings corpus - NO
    eigendecomposition: exact int64 covariance numerators on the 1e-4
    grid (the squared-sum overflow bound - 1e-7 would wrap), double
    squares, ordered (d,e) folds; the grid cancels in ER exactly.
    Oracle replays outer products, cells, and folds verbatim."""
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    out = similarity.effective_rank(embs, dim=64)
    return out.select(
        "n", "dim",
        _r(F.col("total_variance"), 9).alias("total_variance"),
        _r(F.col("effective_rank"), 6).alias("effective_rank"))


SQL_EMB_EFFECTIVE_RANK = oracle(q_emb_effective_rank, """
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> cast(round(x * 10000.0) AS bigint)) AS g
  FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT u1.d AS d, u2.e AS e, u1.gd * u2.ge AS prod
  FROM e,
  LATERAL (SELECT unnest(g) AS gd,
                  generate_subscripts(g, 1) - 1 AS d) u1,
  LATERAL (SELECT unnest(g) AS ge,
                  generate_subscripts(g, 1) - 1 AS e) u2
),
cells AS (
  SELECT d, e, sum(prod) AS spp, count(*) AS n FROM pairs GROUP BY 1, 2
),
sums AS (
  SELECT u.d AS d, sum(u.gd) AS s
  FROM e, LATERAL (SELECT unnest(g) AS gd,
                          generate_subscripts(g, 1) - 1 AS d) u
  GROUP BY 1
),
j AS (
  SELECT c.d, c.e, c.n,
         c.n * c.spp - sa.s * se.s AS cnum
  FROM cells c
  JOIN sums sa ON c.d = sa.d
  JOIN sums se ON c.e = se.d
),
f AS (
  SELECT d, e, n,
         sum(CASE WHEN d = e THEN cast(cnum AS double)
                  ELSE 0.0 END) OVER wo AS tr,
         sum(cast(cnum AS double) * cast(cnum AS double))
           OVER wo AS fr
  FROM j
  WINDOW wo AS (ORDER BY d, e ROWS UNBOUNDED PRECEDING)
),
g2 AS (
  SELECT cast(max(n) AS bigint) AS n,
         arg_max(tr, d * 64 + e) AS trace_num,
         arg_max(fr, d * 64 + e) AS frob_num
  FROM f
)
SELECT n, 64 AS dim,
       round(trace_num / (cast(n AS double) * cast(n AS double)
                          * 10000.0 * 10000.0), 9)
         + 0.0 AS total_variance,
       round(CASE WHEN frob_num > 0 THEN
             trace_num * trace_num / frob_num END, 6)
         + 0.0 AS effective_rank
FROM g2
""")


def q_ts_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test per conversation: does the ROLE shift
    the tokens-per-turn DISTRIBUTION - the rank twin of ts_anova_role,
    immune to the whale turn that can buy a parametric F. Integer
    2-avg-rank sums and tie masses, one ordered float fold per group,
    fixed H / tie-corrected H trees replayed verbatim."""
    from cesium_spark.operators.seriesstats import kruskal_wallis
    series = _tok_series(spark, sf_dir,
                         F.col("event_type").alias("channel"))
    out = kruskal_wallis(series, group_col="channel")
    return out.select(
        "conv_id", "n", "k", "tie_mass",
        _r(F.col("h_stat"), 9).alias("h_stat"),
        _r(F.col("h_corrected"), 9).alias("h_corrected"))


SQL_TS_KRUSKAL = oracle(q_ts_kruskal, _tok_series_sql("event_type AS g") + f""",
r AS (
  SELECT conv_id, g,
         {_midrank2_sql("y")} AS r2,
         {_ties_sql("y")} AS t
  FROM s WHERE g IS NOT NULL AND y IS NOT NULL
),
cells AS (
  SELECT conv_id, g, count(*) AS ng, sum(r2) AS r2g,
         sum(t * t - 1) AS tg
  FROM r GROUP BY 1, 2
),
e AS (
  SELECT conv_id,
         sum(ng) OVER wp AS n, count(*) OVER wp AS k,
         sum(tg) OVER wp AS tm,
         sum(cast(r2g AS double) * cast(r2g AS double)
             / (4.0 * cast(ng AS double)))
           OVER (PARTITION BY conv_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM cells
  WINDOW wp AS (PARTITION BY conv_id)
),
gg AS (
  SELECT conv_id, max(n) AS n, max(k) AS k, max(tm) AS tm,
         max(cum_b) AS b
  FROM e GROUP BY 1
),
m AS (
  SELECT conv_id, n, k, tm,
         12.0 / (cast(n AS double) * (cast(n AS double) + 1.0)) * b
           - 3.0 * (cast(n AS double) + 1.0) AS h_raw,
         1.0 - cast(tm AS double)
           / (cast(n AS double) * cast(n AS double) * cast(n AS double)
              - cast(n AS double)) AS corr
  FROM gg
),
f AS (
  SELECT conv_id, n, k, tm,
         CASE WHEN h_raw < 0 THEN 0.0 ELSE h_raw END AS h, corr
  FROM m
)
SELECT conv_id, cast(n AS bigint) AS n, cast(k AS int) AS k,
       cast(tm AS bigint) AS tie_mass,
       round(CASE WHEN k >= 2 AND n >= 2 AND corr > 0
                  THEN h END, 9) + 0.0 AS h_stat,
       round(CASE WHEN k >= 2 AND n >= 2 AND corr > 0
                  THEN h / corr END, 9) + 0.0 AS h_corrected
FROM f
""")


def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau screen at lags 1-3 over tokens-per-turn:
    is there ANY jointly-detectable low-lag structure, the whiteness
    gate in front of ar1_fit/pacf3/dominant_lag. Exact int64 ACF
    numerators (the shared sufficient-statistics contract), one
    division per lag, fixed left-assoc Q tree; constant or too-short
    series NULL."""
    from cesium_spark.operators.seriesstats import ljung_box
    series = _tok_series(spark, sf_dir)
    out = ljung_box(series)
    return out.select(
        "conv_id", "n",
        _r(F.col("rho1"), 9).alias("rho1"),
        _r(F.col("rho2"), 9).alias("rho2"),
        _r(F.col("rho3"), 9).alias("rho3"),
        _r(F.col("q_lb"), 9).alias("q_lb"))


SQL_TS_LJUNG_BOX = oracle(q_ts_ljung_box, _tok_series_sql() + _acf_sums_sql(
    (1, 2, 3)) + """,
m AS (
  SELECT conv_id, n,
         n > 3 AND n0 > 0 AS ok,
         cast(n1 AS double) / cast(n0 AS double) AS r1,
         cast(n2 AS double) / cast(n0 AS double) AS r2,
         cast(n3 AS double) / cast(n0 AS double) AS r3
  FROM g
)
SELECT conv_id, cast(n AS bigint) AS n,
       round(CASE WHEN ok THEN r1 END, 9) + 0.0 AS rho1,
       round(CASE WHEN ok THEN r2 END, 9) + 0.0 AS rho2,
       round(CASE WHEN ok THEN r3 END, 9) + 0.0 AS rho3,
       round(CASE WHEN ok THEN
             cast(n AS double) * (cast(n AS double) + 2.0)
             * (r1 * r1 / (cast(n AS double) - 1.0)
                + r2 * r2 / (cast(n AS double) - 2.0)
                + r3 * r3 / (cast(n AS double) - 3.0)) END, 9)
         + 0.0 AS q_lb
FROM m
""")


def q_ts_allan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of inter-turn gaps at m = 1/2/4: the cadence-
    STABILITY profile (does the local mean gap wander between
    adjacent blocks) next to burstiness's shape profile. Integer
    block sums and squared-diff numerators, one terminal division by
    2(K-1)m^2; incomplete tails dropped; LONG output (conv, m). The
    floor()-not-cast bucketing is shared with the oracle because
    DuckDB's double->int cast rounds where Spark's truncates."""
    from cesium_spark.operators.seriesstats import allan_variance
    out = allan_variance(events_transcripts(spark, sf_dir))
    # avar is UNROUNDED: it is one IEEE division of exactly-cast
    # integers, bit-identical across engines by construction — while
    # round(x, 9) at 1e8 magnitude is where engine round()
    # implementations (BigDecimal vs scaled multiply) diverge by ulps
    return out.select(
        "conv_id", "m", "n_gaps", "k_blocks", "d_sum", "avar")


SQL_TS_ALLAN = oracle(q_ts_allan, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         -- floor, not cast: ts has sub-second parts; Spark's
         -- long cast floors positive epochs, DuckDB's cast rounds
         cast(floor(epoch(ts)) AS bigint) AS es
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gp AS (
  SELECT conv_id, turn_idx,
         es - lag(es) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS g
  FROM s
),
gi AS (
  SELECT conv_id, g,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
           AS i,
         count(*) OVER (PARTITION BY conv_id) AS ng
  FROM gp WHERE g IS NOT NULL
),
lg AS (SELECT gi.*, m FROM gi, (VALUES (1), (2), (4)) t(m)),
b AS (
  SELECT conv_id, m, floor(i / m) AS bk, sum(g) AS bs, max(ng) AS ng
  FROM lg WHERE floor(i / m) < floor(ng / m)
  GROUP BY 1, 2, 3
),
d AS (
  SELECT conv_id, m, ng,
         bs - lag(bs) OVER (PARTITION BY conv_id, m ORDER BY bk) AS dd
  FROM b
),
g2 AS (
  SELECT conv_id, m, max(ng) AS n_gaps, count(*) AS k_blocks,
         sum(dd * dd) AS d_sum
  FROM d GROUP BY 1, 2
)
SELECT conv_id, cast(m AS int) AS m,
       cast(n_gaps AS bigint) AS n_gaps,
       cast(k_blocks AS bigint) AS k_blocks,
       CASE WHEN k_blocks >= 2 THEN cast(d_sum AS bigint) END AS d_sum,
       CASE WHEN k_blocks >= 2 THEN
             cast(d_sum AS double)
             / (2.0 * cast(k_blocks - 1 AS double)
                * cast(m * m AS double)) END AS avar
FROM g2
""")


def q_doc_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie 2023): score every document by
    how much more likely its hashed unigram+bigram profile is under
    the TARGET distribution (the two trusted sources) than under the
    raw corpus, and keep the top 50. The B-row smoothed log-ratio
    dictionary is computed once and broadcast; per-doc scores fold in
    bucket order (terminal pick = max_by over the bucket id - the
    cumsum is non-monotone); the top-k reduces via sort-limit BEFORE
    the rank window so no global single-partition window ever sees
    the corpus. Ranking compares bit-identical doubles; ties break on
    doc_id."""
    from cesium_spark.operators.sampling import dsir_logweights
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = dsir_logweights(
        docs, F.col("source").isin(["src18", "src6"]), n_buckets=256)
    top = (out.orderBy(F.desc("logw"), F.asc("doc_id")).limit(50))
    w = Window.orderBy(F.desc("logw"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id", "n_items", "in_target",
        _r(F.col("logw"), 9).alias("logw"))


SQL_DOC_DSIR = oracle(q_doc_dsir, """
WITH d AS (
  SELECT doc_id, text, source IN ('src18', 'src6') AS tgt
  FROM documents WHERE text IS NOT NULL
),
tk AS (
  SELECT doc_id, tgt,
         unnest(string_split_regex(trim(text), '\\s+')) AS item
  FROM d
),
tok2 AS (
  SELECT doc_id, tgt,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         generate_subscripts(
           string_split_regex(trim(text), '\\s+'), 1) AS pos
  FROM d
),
bg AS (
  SELECT doc_id, tgt,
         tok || ' ' || lead(tok)
           OVER (PARTITION BY doc_id ORDER BY pos) AS item
  FROM tok2
  QUALIFY item IS NOT NULL
),
it AS (
  SELECT doc_id, tgt,
         (('0x' || substr(md5('g:' || item), 1, 8))::BIGINT % 256) AS b
  FROM (SELECT * FROM tk UNION ALL SELECT * FROM bg)
),
rcnt AS (SELECT b, count(*) AS cr FROM it GROUP BY 1),
tcnt AS (SELECT b, count(*) AS ct FROM it WHERE tgt GROUP BY 1),
tot AS (SELECT (SELECT sum(cr) FROM rcnt) AS tr,
               (SELECT sum(ct) FROM tcnt) AS tt),
dict AS (
  SELECT coalesce(rcnt.b, tcnt.b) AS b,
         ln((cast(coalesce(ct, 0) AS double) + 1.0)
            / (cast(tt AS double) + 256.0))
         - ln((cast(coalesce(cr, 0) AS double) + 1.0)
              / (cast(tr AS double) + 256.0)) AS delta
  FROM rcnt FULL OUTER JOIN tcnt ON rcnt.b = tcnt.b, tot
),
db AS (
  SELECT doc_id, b, count(*) AS c,
         max(CASE WHEN tgt THEN 1 ELSE 0 END) AS t
  FROM it GROUP BY 1, 2
),
f AS (
  SELECT doc_id, t, b,
         sum(cast(c AS double) * delta)
           OVER (PARTITION BY doc_id ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM db LEFT JOIN dict USING (b)
),
g AS (
  SELECT doc_id, max(n) AS n_items, max(t) AS t,
         arg_max(cum, b) AS logw
  FROM f GROUP BY 1
),
r AS (
  SELECT doc_id, n_items, t = 1 AS in_target, logw,
         row_number() OVER (ORDER BY logw DESC, doc_id) AS rnk
  FROM g
)
SELECT cast(rnk AS int) AS rank, doc_id,
       cast(n_items AS bigint) AS n_items, in_target,
       round(logw, 9) + 0.0 AS logw
FROM r WHERE rnk <= 50
""")


def q_rel_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to the synthetic
    schema: the dataset carries no l_commitdate/l_receiptdate, so the
    lateness predicate is l_shipdate > o_orderdate + 30 days - the
    same correlated EXISTS shape as spec Q4 (one order counts ONCE no
    matter how many late lines). Spark expresses EXISTS as a
    LEFT-SEMI hash join with a mixed equi+range condition - the
    dedup-free way (an inner join + distinct would shuffle the
    multiplicity only to throw it away). Counts are exact integers;
    no float exists in the query."""
    _prep(spark)
    od = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate")
    o = od.where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    late = o.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


SQL_REL_TPCH_Q4 = oracle(q_rel_tpch_q4, """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
  AND o_orderdate < timestamp '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")


def q_rel_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping priority by mode), adapted: the synthetic
    schema has no l_shipmode, so lines group by l_linestatus - the
    structure is identical (fact-to-fact equi-join + conditional
    split aggregate on the joined priority). orders is the smaller
    side and explicitly broadcast; the two CASE counts are exact
    integers from ONE pass - no second scan, no float."""
    _prep(spark)
    od = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"])
    out = (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
        .join(F.broadcast(od),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"))
        .orderBy("l_linestatus"))
    return out


SQL_REL_TPCH_Q12 = oracle(q_rel_tpch_q12, """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
  AND l_shipdate < timestamp '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
""")


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=50) of the user co-activity graph: users joined when
    they share >= 6 active hours; the core is the community whose
    every member keeps >= 50 persistently-co-active peers after
    peeling (7 rounds deep at sf0.01 - a real cascade, not a
    one-shot filter). Engine peels to a FIXPOINT with
    raise-on-non-convergence; the oracle unrolls 12 removal rounds
    (idempotent once converged, verified >= peel depth at this SF).
    All integers; no float anywhere."""
    from cesium_spark.operators.graphrank import kcore
    ev = _events(spark, sf_dir)
    uh = (ev.select(F.col("user_id").alias("u"),
                    F.date_trunc("hour", F.col("ts")).alias("h"))
          .distinct())
    a, b = uh.alias("a"), uh.alias("b")
    edges = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.u") < F.col("b.u")))
             .groupBy(F.col("a.u").alias("src"),
                      F.col("b.u").alias("dst"))
             .agg(F.count(F.lit(1)).alias("w"))
             .where(F.col("w") >= 6))
    out = kcore(edges, k=50, max_iter=30)
    return (out.select(F.col("v").cast("long").alias("v"), "core_deg")
            .orderBy("v"))


def _kcore_sql(k: int = 50, rounds: int = 12) -> str:
    head = """
WITH uh AS (
  SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
  FROM events
),
e0 AS MATERIALIZED (
  SELECT a.u AS a, b.u AS b
  FROM uh a JOIN uh b ON a.h = b.h AND a.u < b.u
  GROUP BY 1, 2 HAVING count(*) >= 6
)"""
    parts = [head]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM e{i-1} UNION ALL SELECT b FROM e{i-1}) z
  GROUP BY 1
),
x{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d < {k}),
e{i} AS MATERIALIZED (
  SELECT * FROM e{i-1}
  WHERE a NOT IN (SELECT v FROM x{i})
    AND b NOT IN (SELECT v FROM x{i})
)""")
    parts.append(f"""
SELECT cast(v AS bigint) AS v, cast(count(*) AS bigint) AS core_deg
FROM (SELECT a AS v FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) z
GROUP BY 1 ORDER BY 1
""")
    return "".join(parts)


oracle(q_graph_kcore, _kcore_sql())


def q_ts_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation Kendall tau-b of latency vs tokens: exact
    int64 concordance/tie pair counts over the theil_sen-style
    slot-thinned aligned sample (capped flag when thinned), one fixed
    S/sqrt(A*B) tree. Completes the association triple next to
    Pearson (ts_channel_corr) and Spearman (ts_spearman)."""
    from cesium_spark.operators.seriesstats import kendall_channels
    out = kendall_channels(
        derive_series(events_transcripts(spark, sf_dir)), *_CORR_CH,
        max_points=64)
    return out.select(
        "conv_id", "n", "n_used", "capped", "s_stat", "tx", "ty",
        _r(F.col("tau_b"), 9).alias("tau_b"))


SQL_TS_KENDALL = oracle(q_ts_kendall, _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS xa,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS xb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
),
pc AS (
  SELECT conv_id, turn_idx, xa, xb FROM aligned
  WHERE xa IS NOT NULL AND xb IS NOT NULL
),
b AS (
  SELECT conv_id, xa, xb,
         row_number() OVER wo AS k,
         count(*) OVER wa AS n
  FROM pc
  WINDOW wo AS (PARTITION BY conv_id ORDER BY turn_idx),
         wa AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
),
kept AS (
  SELECT * FROM b
  WHERE k = 1 OR ((k - 1) * 64) // n > ((k - 2) * 64) // n
),
counts AS (
  SELECT conv_id, max(n) AS n, count(*) AS n_used
  FROM kept GROUP BY 1
),
pr AS (
  SELECT a.conv_id,
         sum(cast(sign(b2.xa - a.xa) AS bigint)
             * cast(sign(b2.xb - a.xb) AS bigint)) AS s_stat,
         sum(CASE WHEN b2.xa - a.xa = 0 THEN 1 ELSE 0 END) AS tx,
         sum(CASE WHEN b2.xb - a.xb = 0 THEN 1 ELSE 0 END) AS ty
  FROM kept a JOIN kept b2
    ON a.conv_id = b2.conv_id AND b2.k > a.k
  GROUP BY 1
),
j AS (
  SELECT c.conv_id, c.n, c.n_used, s.s_stat, s.tx, s.ty,
         cast(c.n_used * (c.n_used - 1) AS double) / 2 AS p
  FROM counts c LEFT JOIN pr s ON c.conv_id = s.conv_id
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(n_used AS bigint) AS n_used,
       n > 64 AS capped,
       cast(coalesce(s_stat, 0) AS bigint) AS s_stat,
       cast(coalesce(tx, 0) AS bigint) AS tx,
       cast(coalesce(ty, 0) AS bigint) AS ty,
       round(CASE WHEN n_used >= 2 AND s_stat IS NOT NULL
                   AND p - cast(tx AS double) > 0
                   AND p - cast(ty AS double) > 0 THEN
             cast(s_stat AS double)
             / sqrt((p - cast(tx AS double))
                    * (p - cast(ty AS double))) END, 9)
         + 0.0 AS tau_b
FROM j
""")


def q_ts_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of adjacent-turn roles per conversation: the
    chance-corrected stickiness next to transition_entropy's
    information profile - raw consecutive-same-role agreement is
    inflated whenever one role dominates, and kappa subtracts exactly
    the marginal-product baseline. Exact int64 numerator/denominator
    (n*A - E over n^2 - E), ONE division; single-role conversations
    NULL (p_e = 1 makes kappa undefined, not 1)."""
    from cesium_spark.operators.sequences import cohen_kappa_adjacent
    out = cohen_kappa_adjacent(events_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "n_pairs", "n_agree", "e_sum",
        _r(F.col("kappa"), 9).alias("kappa"))


SQL_TS_KAPPA = oracle(q_ts_kappa, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT conv_id, role AS r1,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS r2
  FROM s
),
pairs AS (
  SELECT conv_id, r1, r2 FROM p
  WHERE r1 IS NOT NULL AND r2 IS NOT NULL
),
tot AS (
  SELECT conv_id, count(*) AS n_pairs,
         sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS n_agree
  FROM pairs GROUP BY 1
),
r AS (SELECT conv_id, r1 AS role, count(*) AS rk
      FROM pairs GROUP BY 1, 2),
c AS (SELECT conv_id, r2 AS role, count(*) AS ck
      FROM pairs GROUP BY 1, 2),
e AS (
  SELECT coalesce(r.conv_id, c.conv_id) AS conv_id,
         sum(coalesce(rk, 0) * coalesce(ck, 0)) AS e_sum
  FROM r FULL OUTER JOIN c
    ON r.conv_id = c.conv_id AND r.role = c.role
  GROUP BY 1
)
SELECT t.conv_id,
       cast(n_pairs AS bigint) AS n_pairs,
       cast(n_agree AS bigint) AS n_agree,
       cast(e_sum AS bigint) AS e_sum,
       round(CASE WHEN n_pairs > 0
                   AND n_pairs * n_pairs - e_sum != 0 THEN
             cast(n_pairs * n_agree - e_sum AS double)
             / cast(n_pairs * n_pairs - e_sum AS double) END, 9)
         + 0.0 AS kappa
FROM tot t JOIN e ON t.conv_id = e.conv_id
""")


def q_ts_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at the deciles over tokens-per-turn: the SHAPE
    behind ts_gini's single number - 'one whale turn carries half the
    tokens' reads directly as l90 ~ 0.5. No float until the terminal
    divisions: integer cumulative sums probed at k_d = (n*d) DIV 10,
    each share one division of exact int64, emitted UNROUNDED
    (bit-identical by construction, the ts_allan rule)."""
    from cesium_spark.operators.seriesstats import lorenz_deciles
    series = _tok_series(spark, sf_dir)
    return lorenz_deciles(series)


SQL_TS_LORENZ = oracle(q_ts_lorenz, _tok_series_sql() + """,
o AS (
  SELECT conv_id,
         row_number() OVER wo AS rn,
         sum(y) OVER (PARTITION BY conv_id ORDER BY y, turn_idx
                      ROWS UNBOUNDED PRECEDING) AS cum,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
  WINDOW wo AS (PARTITION BY conv_id ORDER BY y, turn_idx)
),
g AS (
  SELECT conv_id, max(n) AS n, max(cum) AS tot,
         max(CASE WHEN rn = (n * 1) // 10 THEN cum END) AS s1,
         max(CASE WHEN rn = (n * 2) // 10 THEN cum END) AS s2,
         max(CASE WHEN rn = (n * 3) // 10 THEN cum END) AS s3,
         max(CASE WHEN rn = (n * 4) // 10 THEN cum END) AS s4,
         max(CASE WHEN rn = (n * 5) // 10 THEN cum END) AS s5,
         max(CASE WHEN rn = (n * 6) // 10 THEN cum END) AS s6,
         max(CASE WHEN rn = (n * 7) // 10 THEN cum END) AS s7,
         max(CASE WHEN rn = (n * 8) // 10 THEN cum END) AS s8,
         max(CASE WHEN rn = (n * 9) // 10 THEN cum END) AS s9
  FROM o GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n, cast(tot AS bigint) AS total,
       CASE WHEN tot > 0 THEN cast(coalesce(s1, 0) AS double)
            / cast(tot AS double) END AS l10,
       CASE WHEN tot > 0 THEN cast(coalesce(s2, 0) AS double)
            / cast(tot AS double) END AS l20,
       CASE WHEN tot > 0 THEN cast(coalesce(s3, 0) AS double)
            / cast(tot AS double) END AS l30,
       CASE WHEN tot > 0 THEN cast(coalesce(s4, 0) AS double)
            / cast(tot AS double) END AS l40,
       CASE WHEN tot > 0 THEN cast(coalesce(s5, 0) AS double)
            / cast(tot AS double) END AS l50,
       CASE WHEN tot > 0 THEN cast(coalesce(s6, 0) AS double)
            / cast(tot AS double) END AS l60,
       CASE WHEN tot > 0 THEN cast(coalesce(s7, 0) AS double)
            / cast(tot AS double) END AS l70,
       CASE WHEN tot > 0 THEN cast(coalesce(s8, 0) AS double)
            / cast(tot AS double) END AS l80,
       CASE WHEN tot > 0 THEN cast(coalesce(s9, 0) AS double)
            / cast(tot AS double) END AS l90
FROM g
""")


def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend + seasonal strength (Hyndman FPP) over the period-7
    classical decomposition of the value series: F_T and F_S in
    [0,1], the two numbers a monitoring dashboard keys on. Variances
    fold Sv/Sv^2 in strict (t, turn_idx) order with max_by terminal
    picks; fixed q/n - (s/n)^2 trees clamped against cancellation;
    flat-reference and short-series degenerates NULL."""
    from cesium_spark.operators.seriesstats import decomposition_strength
    out = decomposition_strength(_value_series(spark, sf_dir), _DECOMP_P)
    return out.select(
        "conv_id", "n_used",
        _r(F.col("trend_strength"), 6).alias("trend_strength"),
        _r(F.col("seasonal_strength"), 6).alias("seasonal_strength"))


SQL_TS_STRENGTH = oracle(q_ts_strength, f"""{_VALUE_SERIES_SQL}
, o AS (
  SELECT conv_id, turn_idx, t, y,
         row_number() OVER w - 1 AS rn,
         count(*) OVER (PARTITION BY conv_id) AS n,
         avg(y) OVER (PARTITION BY conv_id ORDER BY t, turn_idx
                      ROWS BETWEEN {_DECOMP_HALF} PRECEDING
                            AND {_DECOMP_HALF} FOLLOWING) AS ma
  FROM series WHERE y IS NOT NULL AND t IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY t, turn_idx)
), d AS (
  SELECT *, rn % {_DECOMP_P} AS slot,
         CASE WHEN rn >= {_DECOMP_HALF} AND rn < n - {_DECOMP_HALF}
              THEN ma END AS trend
  FROM o
), sm AS (
  SELECT *,
         avg(y - trend) OVER (PARTITION BY conv_id, slot) AS slot_mean,
         row_number() OVER (PARTITION BY conv_id, slot
                            ORDER BY t, turn_idx) AS srn
  FROM d
), c AS (
  SELECT *, avg(CASE WHEN srn = 1 THEN slot_mean END)
              OVER (PARTITION BY conv_id) AS ctr
  FROM sm
), comp AS (
  SELECT conv_id, t, turn_idx,
         (y - trend - (slot_mean - ctr)) AS r,
         trend + (y - trend - (slot_mean - ctr)) AS tr,
         (slot_mean - ctr) + (y - trend - (slot_mean - ctr)) AS sr
  FROM c
  WHERE (y - trend - (slot_mean - ctr)) IS NOT NULL
), fold AS (
  SELECT conv_id,
         row_number() OVER wo AS rn2,
         count(*) OVER (PARTITION BY conv_id) AS nu,
         sum(r) OVER wc AS s_r, sum(r * r) OVER wc AS q_r,
         sum(tr) OVER wc AS s_tr, sum(tr * tr) OVER wc AS q_tr,
         sum(sr) OVER wc AS s_sr, sum(sr * sr) OVER wc AS q_sr
  FROM comp
  WINDOW wo AS (PARTITION BY conv_id ORDER BY t, turn_idx),
         wc AS (PARTITION BY conv_id ORDER BY t, turn_idx
                ROWS UNBOUNDED PRECEDING)
), g AS (
  SELECT conv_id, max(nu) AS n_used,
         arg_max(s_r, rn2) AS s_r, arg_max(q_r, rn2) AS q_r,
         arg_max(s_tr, rn2) AS s_tr, arg_max(q_tr, rn2) AS q_tr,
         arg_max(s_sr, rn2) AS s_sr, arg_max(q_sr, rn2) AS q_sr
  FROM fold GROUP BY 1
), v AS (
  SELECT conv_id, n_used,
         greatest(q_r / n_used - (s_r / n_used) * (s_r / n_used),
                  0.0) AS vr,
         greatest(q_tr / n_used - (s_tr / n_used) * (s_tr / n_used),
                  0.0) AS vtr,
         greatest(q_sr / n_used - (s_sr / n_used) * (s_sr / n_used),
                  0.0) AS vsr
  FROM g
)
SELECT conv_id, cast(n_used AS bigint) AS n_used,
       round(CASE WHEN n_used >= {_DECOMP_P} AND vtr > 0 THEN
             greatest(1.0 - vr / vtr, 0.0) END, 6) + 0.0
         AS trend_strength,
       round(CASE WHEN n_used >= {_DECOMP_P} AND vsr > 0 THEN
             greatest(1.0 - vr / vsr, 0.0) END, 6) + 0.0
         AS seasonal_strength
FROM v
""")


def q_ts_sampen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (m=2, r=2 tokens) of tokens-per-turn: the
    amplitude-regularity member of the complexity family next to
    permutation entropy's ordinal one. Integer template matches
    (exact comparisons, no grid), exact int64 A/B pair counts over
    the Richman-Moorman shared template set, one -ln(A/B) tree;
    prefix cap (not thinning - templates are consecutive points)."""
    from cesium_spark.operators.seriesstats import sample_entropy
    series = _tok_series(spark, sf_dir)
    out = sample_entropy(series, r=2, max_n=128)
    return out.select(
        "conv_id", "n", "n_used", "capped", "b_count", "a_count",
        _r(F.col("sampen"), 9).alias("sampen"))


SQL_TS_SAMPEN = oracle(q_ts_sampen, _tok_series_sql() + """,
b AS (
  SELECT conv_id, y,
         lead(y, 1) OVER wo AS y1,
         lead(y, 2) OVER wo AS y2,
         row_number() OVER wo AS k,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
  WINDOW wo AS (PARTITION BY conv_id ORDER BY turn_idx)
),
kept AS (SELECT * FROM b WHERE k <= 128),
counts AS (
  SELECT conv_id, max(n) AS n, count(*) AS n_used
  FROM kept GROUP BY 1
),
tmpl AS (SELECT * FROM kept WHERE y2 IS NOT NULL),
pr AS (
  SELECT a.conv_id,
         sum(CASE WHEN abs(a.y - t2.y) <= 2
                   AND abs(a.y1 - t2.y1) <= 2
                  THEN 1 ELSE 0 END) AS b_count,
         sum(CASE WHEN abs(a.y - t2.y) <= 2
                   AND abs(a.y1 - t2.y1) <= 2
                   AND abs(a.y2 - t2.y2) <= 2
                  THEN 1 ELSE 0 END) AS a_count
  FROM tmpl a JOIN tmpl t2
    ON a.conv_id = t2.conv_id AND t2.k > a.k
  GROUP BY 1
)
SELECT c.conv_id, cast(c.n AS bigint) AS n,
       cast(c.n_used AS bigint) AS n_used,
       c.n > 128 AS capped,
       cast(coalesce(p.b_count, 0) AS bigint) AS b_count,
       cast(coalesce(p.a_count, 0) AS bigint) AS a_count,
       round(CASE WHEN p.a_count > 0 AND p.b_count > 0 THEN
             -ln(cast(p.a_count AS double)
                 / cast(p.b_count AS double)) END, 9) + 0.0 AS sampen
FROM counts c LEFT JOIN pr p ON c.conv_id = p.conv_id
""")


def q_doc_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (4 rounds) over the directed
    token-bigram graph: which tokens POINT AT the load-bearing
    vocabulary (hubs) vs which ARE it (authorities) - the
    query-dependent complement of doc_textrank's PageRank. Linear
    iteration normalized ONCE terminally (per-round L1 scaling only
    changes a scalar; k global reductions removed), sorted
    sequential folds per vertex per round, terminal vocab-bounded
    L1 folds - the pagerank bit-exactness contract verbatim."""
    from cesium_spark.operators.graphrank import hits, token_edges
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = hits(token_edges(docs), iterations=4)
    return out.select(
        F.col("v").alias("token"),
        _r(F.col("authority"), 9).alias("authority"),
        _r(F.col("hub"), 9).alias("hub"))


def _hits_oracle_sql(k: int = 4) -> str:
    """Unrolled k-round HITS CTE chain, generated from the same
    parameters the Spark query uses so the two cannot drift."""
    stages = []
    for i in range(1, k + 1):
        stages.append(f"""a{i} AS (
  SELECT v.v, coalesce(s.s, 0.0) AS a
  FROM verts v LEFT JOIN (
    SELECT e.dst AS v,
           list_sum(list(CAST(e.w AS DOUBLE) * p.h
                         ORDER BY e.src)) AS s
    FROM edges e JOIN h{i - 1} p ON e.src = p.v
    GROUP BY e.dst) s ON v.v = s.v
),
h{i} AS (
  SELECT v.v, coalesce(s.s, 0.0) AS h
  FROM verts v LEFT JOIN (
    SELECT e.src AS v,
           list_sum(list(CAST(e.w AS DOUBLE) * p.a
                         ORDER BY e.dst)) AS s
    FROM edges e JOIN a{i} p ON e.dst = p.v
    GROUP BY e.src) s ON v.v = s.v
)""")
    return f"""
WITH tok AS (
  SELECT doc_id, u.t AS tok, u.pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS tt
        FROM documents) dd,
  LATERAL (SELECT unnest(tt) AS t,
                  generate_subscripts(tt, 1) AS pos) u
),
edges AS (
  SELECT a.tok AS src, b.tok AS dst, count(*) AS w
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
verts AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT v, 1.0 AS h FROM verts),
{",".join(stages)},
tot AS (
  SELECT (SELECT list_sum(list(a ORDER BY v)) FROM a{k}) AS ta,
         (SELECT list_sum(list(h ORDER BY v)) FROM h{k}) AS th
)
SELECT a{k}.v AS token,
       round(CASE WHEN ta > 0 THEN a{k}.a / ta ELSE 0.0 END, 9)
         + 0.0 AS authority,
       round(CASE WHEN th > 0 THEN h{k}.h / th ELSE 0.0 END, 9)
         + 0.0 AS hub
FROM a{k} JOIN h{k} ON a{k}.v = h{k}.v CROSS JOIN tot
"""


SQL_DOC_HITS = oracle(q_doc_hits, _hits_oracle_sql(4))


_BLOOM_WORDS, _BLOOM_K = 16, 4


def q_ts_bloom_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter mergeable membership tier: build per-(role, 1h)
    filters from the turn payloads (16 words x 63 usable bits - bit
    63 unused because DuckDB's CHECKED shift raises on 1<<63; an
    engine-portable replay beats 1.6% capacity), fold 1h->1d by
    bitwise OR. The oracle rebuilds the DAILY words directly from raw
    with the same md5 positions, so the comparison certifies build
    AND fold==direct word-for-word (OR of sub-window filters IS the
    union-window filter). Membership semantics (no false negatives)
    are pinned in pytest."""
    from cesium_spark.operators.sketches import bloom_build, bloom_fold
    _prep(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("role"), "ts",
        F.col("props").alias("item"))
    fold = bloom_fold(bloom_build(ev, "1h", ["role"], "item",
                                  words=_BLOOM_WORDS, k=_BLOOM_K),
                      "1d", ["role"])
    return fold.select(
        "role",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        "tier",
        F.col("word_idx").cast("long").alias("word_idx"),
        F.col("bits").cast("long").alias("bits"))


SQL_TS_BLOOM_FOLD = oracle(q_ts_bloom_fold, f"""
WITH pos AS (
  SELECT event_type AS role,
         date_trunc('day', ts) AS w,
         (('0x' || substr(md5('b' || cast(js.j AS varchar)
                               || ':' || props), 1, 8))::BIGINT
          % {63 * _BLOOM_WORDS}) AS p
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j) js
  WHERE props IS NOT NULL
)
SELECT role, strftime(w, '{DUCK_TS_FMT}') AS window_start,
       '1d' AS tier,
       cast(p // 63 AS bigint) AS word_idx,
       cast(bit_or(1::BIGINT << cast(p % 63 AS int)) AS bigint) AS bits
FROM pos GROUP BY role, w, p // 63
""")


def q_ts_dfa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (boxes 4/8/16, prefix 256) of
    tokens-per-turn: the nonstationarity-robust twin of ts_hurst -
    the profile is integrated then linearly detrended per box, so a
    drifting baseline does not masquerade as long memory. Exact int64
    profile and box statistics (U, W, V - V's overflow bound
    documented), one fixed RSS tree per box, nondecreasing ordered
    RSS folds, fixed-literal-weight log-log slope; constant prefix ->
    F = 0 -> NULL alpha."""
    from cesium_spark.operators.seriesstats import dfa
    series = _tok_series(spark, sf_dir)
    out = dfa(series, boxes=(4, 8, 16), max_n=256)
    return out.select(
        "conv_id", "n_used", "capped",
        _r(F.col("f_4"), 9).alias("f_4"),
        _r(F.col("f_8"), 9).alias("f_8"),
        _r(F.col("f_16"), 9).alias("f_16"),
        _r(F.col("alpha"), 9).alias("alpha"))


def _dfa_oracle_sql(bs=(4, 8, 16), max_n=256) -> str:
    import math
    lb = [math.log(b) for b in bs]
    mlb = sum(lb) / len(lb)
    dev = [x - mlb for x in lb]
    den = sum(d * d for d in dev)
    coef = [d / den for d in dev]
    pivots = ",\n         ".join(
        f"max(CASE WHEN s = {b} THEN f END) AS f_{b}" for b in bs)
    ok = " AND ".join(f"f_{b} IS NOT NULL AND f_{b} > 0" for b in bs)
    slope = " + ".join(f"{c!r} * ln(f_{b})" for c, b in zip(coef, bs))
    outf = ",\n       ".join(
        f"round(f_{b}, 9) + 0.0 AS f_{b}" for b in bs)
    grid = ", ".join(f"({b})" for b in bs)
    return f"""{_tok_series_sql()},
pre AS (
  SELECT conv_id, y,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS k,
         count(*) OVER (PARTITION BY conv_id) AS n_total
  FROM s
),
kept AS (SELECT * FROM pre WHERE k <= {max_n}),
tot AS (SELECT conv_id, max(n_total) AS n_total FROM pre GROUP BY 1),
prof AS (
  SELECT conv_id, k - 1 AS rank,
         count(*) OVER (PARTITION BY conv_id) AS nu,
         count(*) OVER (PARTITION BY conv_id)
           * sum(y) OVER (PARTITION BY conv_id ORDER BY k
                          ROWS UNBOUNDED PRECEDING)
           - k * sum(y) OVER (PARTITION BY conv_id) AS p
  FROM kept
),
ex AS (
  SELECT conv_id, rank, nu, p, s,
         rank // s AS block, rank % s + 1 AS x
  FROM prof, (VALUES {grid}) t(s)
  WHERE rank // s < nu // s
),
st AS (
  SELECT conv_id, s, block, max(nu) AS nu,
         sum(p) AS u, sum(x * p) AS w, sum(p * p) AS v
  FROM ex GROUP BY 1, 2, 3
),
rs AS (
  SELECT conv_id, s, block, nu,
         greatest(
           (cast(v AS double)
            - cast(u AS double) * cast(u AS double) / cast(s AS double))
           - (cast(w AS double)
              - cast(s * (s + 1) AS double) / 2.0
                * cast(u AS double) / cast(s AS double))
             * (cast(w AS double)
                - cast(s * (s + 1) AS double) / 2.0
                  * cast(u AS double) / cast(s AS double))
             / (cast(s * (s + 1) * (2 * s + 1) AS double) / 6.0
                - cast(s * (s + 1) AS double) / 2.0
                  * (cast(s * (s + 1) AS double) / 2.0)
                  / cast(s AS double)),
           0.0) AS rss
  FROM st
),
fold AS (
  SELECT conv_id, s, max(nu) AS nu,
         max(cum_rss) AS tot_rss, count(*) AS k_blocks
  FROM (SELECT conv_id, s, nu, block,
               sum(rss) OVER (PARTITION BY conv_id, s ORDER BY block
                              ROWS UNBOUNDED PRECEDING) AS cum_rss
        FROM rs) z
  GROUP BY 1, 2
),
per_s AS (
  SELECT conv_id, nu, s,
         sqrt(tot_rss / cast(k_blocks * s AS double))
           / cast(nu AS double) AS f
  FROM fold
),
wide AS (
  SELECT conv_id, max(nu) AS n_used,
         {pivots}
  FROM per_s GROUP BY 1
)
SELECT conv_id, cast(n_used AS bigint) AS n_used,
       n_total > {max_n} AS capped,
       {outf},
       round(CASE WHEN {ok} THEN {slope} END, 9) + 0.0 AS alpha
FROM wide JOIN tot USING (conv_id)
"""


SQL_TS_DFA = oracle(q_ts_dfa, _dfa_oracle_sql())


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document: the
    classic dictionary-free readability pair next to quality_score's
    heuristics. Exact integer word/sentence/syllable counts (per-WORD
    vowel-group floor - a whole-text count would undercount exactly
    the all-consonant ids a quality gate needs to see), two fixed
    double trees, zero exchanges."""
    from cesium_spark.operators.textstats import readability
    _prep(spark)
    docs = _read(spark, sf_dir, "documents")
    out = readability(docs)
    return out.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        _r(F.col("flesch_ease"), 6).alias("flesch_ease"),
        _r(F.col("fk_grade"), 6).alias("fk_grade"))


SQL_DOC_READABILITY = oracle(q_doc_readability, """
WITH c AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         list_sum(list_transform(
           string_split_regex(trim(text), '\\s+'),
           t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)))
           AS y
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       cast(w AS bigint) AS n_words,
       CASE WHEN w > 0 THEN cast(s AS bigint) END AS n_sentences,
       CASE WHEN w > 0 THEN cast(y AS bigint) END AS n_syllables,
       round(CASE WHEN w > 0 THEN
             206.835 - 1.015 * (cast(w AS double) / cast(s AS double))
             - 84.6 * (cast(y AS double) / cast(w AS double)) END, 6)
         + 0.0 AS flesch_ease,
       round(CASE WHEN w > 0 THEN
             0.39 * (cast(w AS double) / cast(s AS double))
             + 11.8 * (cast(y AS double) / cast(w AS double))
             - 15.59 END, 6) + 0.0 AS fk_grade
FROM c
""")


def q_emb_ncm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean evaluation over the embeddings table: hold
    out every 5th vector by id, average the rest per label on the
    integer grid, assign each held-out vector to the nearest class
    mean (deterministic lowest-label tiebreak), report the per-class
    confusion-free accuracy - the 'does this space separate labels
    at all' probe in front of any learned head. Accuracy emitted
    UNROUNDED (one division of exact integers - the ts_allan rule)."""
    from cesium_spark.operators.similarity import ncm_classify
    _prep(spark)
    embs = _read(spark, sf_dir, "embeddings")
    out = ncm_classify(embs)
    return out.orderBy("label").select(
        F.col("label").cast("int").alias("label"),
        "n_test", "n_correct", "accuracy")


SQL_EMB_NCM = oracle(q_emb_ncm, """
WITH b AS (
  SELECT vec_id, label, embedding
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
),
train AS (
  SELECT label AS l, u.pos,
         cast(round(cast(u.g AS double) * 1e7) AS bigint) AS g
  FROM b,
  LATERAL (SELECT unnest(embedding) AS g,
                  generate_subscripts(embedding, 1) AS pos) u
  WHERE vec_id % 5 != 0
),
cent AS (
  SELECT l, pos, sum(g) AS s, count(*) AS n
  FROM train GROUP BY 1, 2
),
test AS (
  SELECT vec_id AS id, label AS tru, u.pos,
         cast(round(cast(u.g AS double) * 1e7) AS bigint) AS gx
  FROM b,
  LATERAL (SELECT unnest(embedding) AS g,
                  generate_subscripts(embedding, 1) AS pos) u
  WHERE vec_id % 5 = 0
),
folded AS (
  SELECT t.id, t.tru, c.l,
         sum((cast(t.gx AS double)
              - cast(c.s AS double) / cast(c.n AS double))
             * (cast(t.gx AS double)
                - cast(c.s AS double) / cast(c.n AS double)))
           OVER (PARTITION BY t.id, c.l ORDER BY t.pos
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM test t JOIN cent c ON t.pos = c.pos
),
d2 AS (
  SELECT id, tru, l, max(cum) AS d2
  FROM folded GROUP BY 1, 2, 3
),
pred AS (
  -- arg_min has no composite-key overload; the deterministic
  -- (d2, l) pick is a row_number window instead
  SELECT id, tru, l AS pred FROM (
    SELECT id, tru, l,
           row_number() OVER (PARTITION BY id ORDER BY d2, l) AS rn
    FROM d2) z
  WHERE rn = 1
)
SELECT cast(tru AS int) AS label,
       cast(count(*) AS bigint) AS n_test,
       cast(sum(CASE WHEN pred = tru THEN 1 ELSE 0 END) AS bigint)
         AS n_correct,
       cast(sum(CASE WHEN pred = tru THEN 1 ELSE 0 END) AS double)
         / cast(count(*) AS double) AS accuracy
FROM pred GROUP BY tru ORDER BY tru
""")


def q_multimodal_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-energy sharpness over the REAL raster decode: the
    no-reference blur/flatness detector next to image_phash's
    identity - exact int64 |first difference| sums over the parsed
    PGM raster (videos: first Y4M frame, the resize convention;
    audio filtered). sharpness is one unrounded division of exact
    integers; the oracle replays every pixel from the padded-text
    byte formula with inline shifted-index lookups (no join)."""
    _prep(spark)
    media = multimodal.attach_media(_read(spark, sf_dir, "documents"))
    out = multimodal.gradient_energy(
        media.where(F.col("media_type") != "audio"))
    return out.select("doc_id", "h", "w", "e_h", "e_v", "n_pairs",
                      "sharpness")


SQL_MULTIMODAL_SHARPNESS = oracle(q_multimodal_sharpness, """
WITH meta AS (
  SELECT doc_id, text, length(text) AS n,
         16 + (length(text) % 48) AS w,
         16 + ((length(text) * 7) % 48) AS h
  FROM documents
  WHERE (doc_id % 3) != 1  -- audio rows have no raster
),
g AS (
  SELECT doc_id, w, h, i,
         CASE WHEN (i - 1) % w > 0 THEN abs(
           (CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)])
                 ELSE 32 END)
           - (CASE WHEN i - 1 <= n
                   THEN ord(text[CAST(i - 1 AS INTEGER)])
                   ELSE 32 END)) ELSE 0 END AS dh,
         CASE WHEN i > w THEN abs(
           (CASE WHEN i <= n THEN ord(text[CAST(i AS INTEGER)])
                 ELSE 32 END)
           - (CASE WHEN i - w <= n
                   THEN ord(text[CAST(i - w AS INTEGER)])
                   ELSE 32 END)) ELSE 0 END AS dv
  FROM meta, LATERAL unnest(range(1, w * h + 1)) AS u(i)
)
SELECT doc_id,
       cast(max(h) AS int) AS h, cast(max(w) AS int) AS w,
       cast(sum(dh) AS bigint) AS e_h,
       cast(sum(dv) AS bigint) AS e_v,
       cast(max(h) * (max(w) - 1) + (max(h) - 1) * max(w) AS bigint)
         AS n_pairs,
       cast(sum(dh) + sum(dv) AS double)
         / cast(max(h) * (max(w) - 1) + (max(h) - 1) * max(w)
                AS double) AS sharpness
FROM g GROUP BY 1
""")


_MI_EA = (30.0, 60.0, 120.0, 300.0)      # latency seconds edges
_MI_EB = (3.0, 5.0, 7.0, 9.0)            # tokens-per-turn edges


def q_ts_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned mutual information latency vs tokens per conversation:
    the INFORMATION member closing the association quartet (Pearson
    linear, Spearman monotone, Kendall concordance, MI any
    dependence). Fixed literal bin edges (the drift_psi contract),
    exact int64 cell/marginal counts, signed MI terms folded in
    ordered cell sequence with max_by terminal picks, H terms
    likewise; NMI NULL when a marginal is constant."""
    from cesium_spark.operators.seriesstats import mi_channels
    out = mi_channels(
        derive_series(events_transcripts(spark, sf_dir)), *_CORR_CH,
        list(_MI_EA), list(_MI_EB))
    return out.select(
        "conv_id", "n_pairs",
        _r(F.col("mi"), 9).alias("mi"),
        _r(F.col("h_a"), 9).alias("h_a"),
        _r(F.col("h_b"), 9).alias("h_b"),
        _r(F.col("nmi"), 9).alias("nmi"))


def _mi_bin_sql(col: str, edges: tuple) -> str:
    return " + ".join(
        f"(CASE WHEN {col} >= {e!r} THEN 1 ELSE 0 END)" for e in edges)


SQL_TS_MI = oracle(q_ts_mi, _SERIES_SQL + f"""
, aligned AS (
  SELECT conv_id, turn_idx,
         max(CASE WHEN channel = '{_CORR_CH[0]}' THEN y END) AS ya,
         max(CASE WHEN channel = '{_CORR_CH[1]}' THEN y END) AS yb
  FROM series WHERE y IS NOT NULL
  GROUP BY 1, 2
),
pc AS (
  SELECT conv_id,
         {_mi_bin_sql('ya', _MI_EA)} AS bx,
         {_mi_bin_sql('yb', _MI_EB)} AS by
  FROM aligned WHERE ya IS NOT NULL AND yb IS NOT NULL
),
cells AS (
  SELECT conv_id, bx, by, count(*) AS nxy
  FROM pc GROUP BY 1, 2, 3
),
enr AS (
  SELECT conv_id, nxy, bx * {len(_MI_EB) + 1} + by AS key_,
         sum(nxy) OVER (PARTITION BY conv_id) AS n,
         sum(nxy) OVER (PARTITION BY conv_id, bx) AS nx,
         sum(nxy) OVER (PARTITION BY conv_id, by) AS ny,
         row_number() OVER (PARTITION BY conv_id, bx ORDER BY by) = 1
           AS fx,
         row_number() OVER (PARTITION BY conv_id, by ORDER BY bx) = 1
           AS fy
  FROM cells
),
folded AS (
  SELECT conv_id, key_, n,
         sum(cast(nxy AS double) / cast(n AS double)
             * ln(cast(n AS double) * cast(nxy AS double)
                  / (cast(nx AS double) * cast(ny AS double))))
           OVER wo AS mi,
         sum(CASE WHEN fx THEN
             -(cast(nx AS double) / cast(n AS double))
             * ln(cast(nx AS double) / cast(n AS double))
             ELSE 0.0 END) OVER wo AS hx,
         sum(CASE WHEN fy THEN
             -(cast(ny AS double) / cast(n AS double))
             * ln(cast(ny AS double) / cast(n AS double))
             ELSE 0.0 END) OVER wo AS hy
  FROM enr
  WINDOW wo AS (PARTITION BY conv_id ORDER BY key_
                ROWS UNBOUNDED PRECEDING)
),
g AS (
  SELECT conv_id, max(n) AS n_pairs,
         arg_max(mi, key_) AS mi,
         arg_max(hx, key_) AS hx,
         arg_max(hy, key_) AS hy
  FROM folded GROUP BY 1
)
SELECT conv_id, cast(n_pairs AS bigint) AS n_pairs,
       round(CASE WHEN n_pairs >= 8 THEN
             greatest(mi, 0.0) END, 9) + 0.0 AS mi,
       round(CASE WHEN n_pairs >= 8 THEN hx END, 9) + 0.0 AS h_a,
       round(CASE WHEN n_pairs >= 8 THEN hy END, 9) + 0.0 AS h_b,
       round(CASE WHEN n_pairs >= 8 AND hx > 0 AND hy > 0 THEN
             greatest(mi, 0.0) / sqrt(hx * hy) END, 9) + 0.0 AS nmi
FROM g
""")


def q_rel_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): top 100 orders whose total
    line quantity exceeds 250 units, with their customer. The HAVING
    subquery is a self-aggregation of the fact table (group lineitem
    once, filter, then semi-shape join back); quantities are
    integer-valued doubles cast to long so the threshold compare and
    sum are EXACT; the ranking key is (fixed-point total price DESC,
    orderdate, orderkey) - float ordering across engines is replaced
    by the exact 1e-2 integer grid, the Q5/Q6 revenue contract."""
    _prep(spark)
    cu = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    od = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("lq"))
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("lq").alias("sum_qty"))
           .where(F.col("sum_qty") > 250))
    price_i = F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
    out = (od.join(big, od["o_orderkey"] == big["l_orderkey"])
           .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
           .select("c_name", "c_custkey", "o_orderkey",
                   F.date_format("o_orderdate", TS_FMT)
                   .alias("o_orderdate"),
                   price_i.alias("__pi"), "sum_qty")
           .orderBy(F.desc("__pi"), F.asc("o_orderdate"),
                    F.asc("o_orderkey"))
           .limit(100))
    return out.select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate",
        _r0(F.round(F.col("__pi").cast("double") / 100.0, 2))
        .alias("total_price"),
        F.col("sum_qty").cast("long").alias("sum_qty"))


SQL_REL_TPCH_Q18 = oracle(q_rel_tpch_q18, f"""
WITH big AS (
  SELECT l_orderkey, sum(cast(l_quantity AS bigint)) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(cast(l_quantity AS bigint)) > 250
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '{DUCK_TS_FMT}') AS o_orderdate,
       round(cast(cast(round(o_totalprice * 100.0) AS bigint)
                  AS double) / 100.0, 2) + 0.0 AS total_price,
       cast(sum_qty AS bigint) AS sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY cast(round(o_totalprice * 100.0) AS bigint) DESC,
         o_orderdate, o_orderkey
LIMIT 100
""")


def q_ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of tokens-per-turn (Bartlett-windowed
    Wiener-Khinchin over the exact ACF integers, no FFT): ~1 flat
    white spectrum, ->0 concentrated periodicity, with the argmax
    frequency bin (lowest on ties). Every cosine/Bartlett factor is
    one Python literal injected into BOTH engines from
    spectral_coeffs - the textrank cannot-drift rule."""
    from cesium_spark.operators.seriesstats import spectral_entropy
    series = _tok_series(spark, sf_dir)
    out = spectral_entropy(series)
    return out.select(
        "conv_id", "n",
        _r(F.col("spec_entropy"), 9).alias("spec_entropy"),
        "peak_bin")


def _spectral_oracle_sql(n_lags: int = 6, n_freqs: int = 8) -> str:
    import math
    from cesium_spark.operators.seriesstats import spectral_coeffs
    coeffs = spectral_coeffs(n_lags, n_freqs)
    specs = ",\n".join(
        "  greatest(cast(n0 AS double)"
        + "".join(f" + {coeffs[m][k - 1]!r} * cast(n{k} AS double)"
                  for k in range(1, n_lags + 1))
        + f", 0.0) AS s{m + 1}"
        for m in range(n_freqs))
    tot = " + ".join(f"s{m}" for m in range(1, n_freqs + 1))
    h = " + ".join(
        f"(CASE WHEN s{m} > 0 THEN -(s{m} / tot * ln(s{m} / tot)) "
        f"ELSE 0.0 END)"
        for m in range(1, n_freqs + 1))
    gl = ", ".join(f"s{m}" for m in range(1, n_freqs + 1))
    peak = "".join(
        f"            WHEN s{m} = greatest({gl}) THEN {m}\n"
        for m in range(1, n_freqs + 1))
    return f"""{_tok_series_sql()}{_acf_sums_sql(range(1, n_lags + 1))},
sp AS (
  SELECT conv_id, n, n0,
{specs}
  FROM g
),
tt AS (SELECT *, {tot} AS tot FROM sp)
SELECT conv_id, cast(n AS bigint) AS n,
       round(CASE WHEN n0 > 0 AND n > {n_lags} AND tot > 0 THEN
             ({h}) / {math.log(float(n_freqs))!r} END, 9)
         + 0.0 AS spec_entropy,
       cast(CASE WHEN n0 > 0 AND n > {n_lags} AND tot > 0 THEN
            CASE
{peak}            END END AS int) AS peak_bin
FROM tt
"""


SQL_TS_SPECTRAL = oracle(q_ts_spectral_entropy, _spectral_oracle_sql())


def q_ts_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion of per-hour turn counts per conversation
    (Poisson => 1, clumped >> 1, rate-limited < 1): the count-domain
    twin of ts_burstiness's gap fingerprint, over the FULL hour span
    including empty hours - counting only occupied buckets deletes
    exactly the silence that makes traffic bursty. Exact int64
    S/Q/B; ID and D = (B-1)ID are unrounded divisions of exact
    integers (the ts_allan rule)."""
    from cesium_spark.operators.seriesstats import dispersion_index
    out = dispersion_index(events_transcripts(spark, sf_dir))
    return out.select("conv_id", "n_buckets", "n_turns",
                      "dispersion", "d_stat")


SQL_TS_DISPERSION = oracle(q_ts_dispersion, """
WITH c AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS b, count(*) AS c
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT conv_id, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
),
grid AS (
  SELECT conv_id, unnest(generate_series(lo, hi,
                                         INTERVAL 1 HOUR)) AS b
  FROM span
),
f AS (
  SELECT g.conv_id, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN c ON g.conv_id = c.conv_id AND g.b = c.b
),
a AS (
  SELECT conv_id, count(*) AS nb, sum(c) AS s, sum(c * c) AS q
  FROM f GROUP BY 1
)
SELECT conv_id,
       cast(nb AS bigint) AS n_buckets,
       cast(s AS bigint) AS n_turns,
       CASE WHEN nb >= 2 THEN
            cast(nb * q - s * s AS double)
            / cast(nb * s AS double) END AS dispersion,
       CASE WHEN nb >= 2 THEN
            cast(nb - 1 AS double)
            * (cast(nb * q - s * s AS double)
               / cast(nb * s AS double)) END AS d_stat
FROM a
""")


def q_ts_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test: do conversations that OPEN with a
    click survive differently from ones that open with an error? The
    comparison completing the survival family next to ts_survival's
    KM curves, censoring handled identically. Exact int64 risk sets
    and death counts; E and V fold as nonneg ordered cumsums; V = 0
    -> NULL ('no information' is not 'no difference')."""
    from cesium_spark.operators.survival import (
        conversation_spans,
        logrank_test,
    )
    spans = conversation_spans(events_transcripts(spark, sf_dir),
                               censor_horizon_s=_KM_HORIZON)
    out = logrank_test(spans, "first_role", "click", "error")
    return out.select(
        "o1", _r(F.col("e1"), 9).alias("e1"),
        _r(F.col("v"), 9).alias("v"),
        _r(F.col("chi2"), 9).alias("chi2"))


SQL_TS_LOGRANK = oracle(q_ts_logrank, f"""
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         event_type AS role, epoch(ts) AS sec
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
per AS (
  SELECT conv_id, max(sec) - min(sec) AS duration,
         max(sec) AS last_s, arg_min(role, turn_idx) AS first_role
  FROM t GROUP BY 1
),
mx AS (SELECT max(epoch(ts)) AS m FROM events),
spans AS (
  SELECT first_role, duration,
         last_s <= m - {_KM_HORIZON} AS event
  FROM per, mx
  WHERE first_role IN ('click', 'error')
),
grain AS (
  SELECT duration AS tt,
         sum(CASE WHEN event AND first_role = 'click'
                  THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN event AND first_role = 'error'
                  THEN 1 ELSE 0 END) AS d2,
         sum(CASE WHEN NOT event AND first_role = 'click'
                  THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT event AND first_role = 'error'
                  THEN 1 ELSE 0 END) AS c2
  FROM spans GROUP BY 1
),
risk AS (
  SELECT tt, d1, d2,
         sum(d1 + c1) OVER () - sum(d1 + c1) OVER wc + d1 + c1 AS n1,
         sum(d2 + c2) OVER () - sum(d2 + c2) OVER wc + d2 + c2 AS n2
  FROM grain
  WINDOW wc AS (ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)
),
folded AS (
  SELECT sum(d1) OVER wc AS o1,
         sum(CASE WHEN d1 + d2 >= 1 THEN
             cast(d1 + d2 AS double)
             * (cast(n1 AS double) / cast(n1 + n2 AS double))
             ELSE 0.0 END) OVER wc AS e1,
         sum(CASE WHEN d1 + d2 >= 1 AND n1 + n2 > 1 THEN
             cast(d1 + d2 AS double)
             * (cast(n1 AS double) / cast(n1 + n2 AS double))
             * (1.0 - cast(n1 AS double) / cast(n1 + n2 AS double))
             * (cast(n1 + n2 AS double) - cast(d1 + d2 AS double))
             / (cast(n1 + n2 AS double) - 1.0)
             ELSE 0.0 END) OVER wc AS v
  FROM risk
  WINDOW wc AS (ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)
),
g AS (SELECT max(o1) AS o1, max(e1) AS e1, max(v) AS v FROM folded)
SELECT cast(o1 AS bigint) AS o1,
       round(e1, 9) + 0.0 AS e1,
       round(v, 9) + 0.0 AS v,
       round(CASE WHEN v > 0 THEN
             (cast(o1 AS double) - e1) * (cast(o1 AS double) - e1)
             / v END, 9) + 0.0 AS chi2
FROM g
""")


def q_rel_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend: does the purchase rate TREND across
    the conversation's position terciles (early/mid/late thirds) -
    the ordered-groups question prop_ztest's pairwise z cannot
    answer. Integer tercile scores floor(3*turn_idx/n), exact int64
    A/B statistics (the N-scaling clears every fraction), one fixed
    z tree; oracle replays verbatim."""
    from cesium_spark.operators.datastats import cochran_armitage
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    rows = ev.select(
        F.floor((F.row_number().over(w) - 1) * 3
                / F.count(F.lit(1)).over(wn)).cast("long").alias("x"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0).alias("succ"))
    out = cochran_armitage(rows, "x", "succ")
    return out.select("n", "s", "a_stat", "b_stat",
                      _r(F.col("z"), 9).alias("z"))


SQL_REL_TREND_TEST = oracle(q_rel_trend_test, """
WITH r AS (
  SELECT (row_number() OVER w - 1) * 3
           // (count(*) OVER (PARTITION BY user_id)) AS x,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
a AS (
  SELECT count(*) AS n, sum(succ) AS s, sum(x) AS xn,
         sum(x * succ) AS xs, sum(x * x) AS xxn
  FROM r
)
SELECT cast(n AS bigint) AS n, cast(s AS bigint) AS s,
       cast(n * xs - s * xn AS bigint) AS a_stat,
       cast(n * xxn - xn * xn AS bigint) AS b_stat,
       round(CASE WHEN s > 0 AND s < n AND n * xxn - xn * xn > 0 THEN
             cast(n * xs - s * xn AS double)
             / sqrt(cast(s AS double) * (cast(n AS double)
                    - cast(s AS double))
                    * cast(n * xxn - xn * xn AS double)
                    / cast(n AS double)) END, 9) + 0.0 AS z
FROM a
""")


def q_rel_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired change test: per conversation, did purchasing
    happen in the first half but not the second (or vice versa)?
    Only the discordant conversations carry information - treating
    the halves as independent cohorts (prop_ztest) would overstate
    n. Exact integer b/c; chi2 unrounded (the ts_allan rule)."""
    from cesium_spark.operators.datastats import mcnemar_test
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    half = ((F.row_number().over(w) - 1) * 2
            < F.count(F.lit(1)).over(wn))
    purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    # a 1-event conversation has an empty second half: max over no rows
    # is NULL, which would trip mcnemar_test's null guard — a missing
    # half means "no purchase observed in that half" (coalesce→false),
    # mirrored in the oracle
    flags = (ev.select(F.col("user_id"), half.alias("__h"),
                       purch.alias("__p"))
             .groupBy("user_id")
             .agg(F.coalesce(
                      F.max(F.when(F.col("__h"), F.col("__p"))) == 1,
                      F.lit(False)).alias("fa"),
                  F.coalesce(
                      F.max(F.when(~F.col("__h"), F.col("__p"))) == 1,
                      F.lit(False)).alias("fb")))
    out = mcnemar_test(flags, "fa", "fb")
    return out.select("n_pairs", "b_cnt", "c_cnt", "chi2")


SQL_REL_MCNEMAR = oracle(q_rel_mcnemar, """
WITH r AS (
  SELECT user_id,
         (row_number() OVER w - 1) * 2
           < count(*) OVER (PARTITION BY user_id) AS h,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
f AS (
  SELECT user_id,
         coalesce(max(CASE WHEN h THEN p END) = 1, false) AS fa,
         coalesce(max(CASE WHEN NOT h THEN p END) = 1, false) AS fb
  FROM r GROUP BY 1
),
a AS (
  SELECT count(*) AS n_pairs,
         sum(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS b_cnt,
         sum(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS c_cnt
  FROM f
)
SELECT cast(n_pairs AS bigint) AS n_pairs,
       cast(b_cnt AS bigint) AS b_cnt,
       cast(c_cnt AS bigint) AS c_cnt,
       CASE WHEN b_cnt + c_cnt > 0 THEN
            cast((b_cnt - c_cnt) * (b_cnt - c_cnt) AS double)
            / cast(b_cnt + c_cnt AS double) END AS chi2
FROM a
""")


def q_ts_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe spread-homogeneity per conversation: does the
    ROLE shift the tokens-per-turn SPREAD (not the level - anova's
    question, nor the distribution - kruskal's)? z = |2y - 2 med_g|
    is exact int64 (interpolated medians of integers land on halves,
    so the doubling clears them), then the whole anova_oneway exact
    machinery runs verbatim; F is doubling-invariant."""
    from cesium_spark.operators.seriesstats import brown_forsythe
    series = _tok_series(spark, sf_dir,
                         F.col("event_type").alias("channel"))
    out = brown_forsythe(series, group_col="channel")
    return out.select(
        "conv_id", "n", "k",
        _r(F.col("spread_eta2"), 9).alias("spread_eta2"),
        _r(F.col("bf_stat"), 6).alias("bf_stat"))


SQL_TS_BROWN_FORSYTHE = oracle(q_ts_brown_forsythe, _tok_series_sql(
    "event_type AS g") + """,
z AS (
  SELECT conv_id, g,
         abs(2 * y - cast(round(quantile_cont(y, 0.5)
               OVER (PARTITION BY conv_id, g) * 2.0) AS bigint)) AS y
  FROM s WHERE g IS NOT NULL AND y IS NOT NULL
),
cells AS (
  SELECT conv_id, g, count(*) AS ng, sum(y) AS sg, sum(y * y) AS qg
  FROM z GROUP BY 1, 2
),
e AS (
  SELECT conv_id,
         sum(ng) OVER wp AS n, sum(sg) OVER wp AS sv,
         sum(qg) OVER wp AS q, count(*) OVER wp AS k,
         sum(cast(sg AS double) * cast(sg AS double)
             / cast(ng AS double))
           OVER (PARTITION BY conv_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM cells
  WINDOW wp AS (PARTITION BY conv_id)
),
gg AS (
  SELECT conv_id, max(n) AS n, max(k) AS k, max(sv) AS sv,
         max(q) AS q, max(cum_b) AS b
  FROM e GROUP BY 1
),
m AS (
  SELECT conv_id, n, k,
         cast(q AS double)
           - cast(sv AS double) * cast(sv AS double)
             / cast(n AS double) AS sst,
         CASE WHEN b - cast(sv AS double) * cast(sv AS double)
                       / cast(n AS double) < 0 THEN 0.0
              ELSE b - cast(sv AS double) * cast(sv AS double)
                       / cast(n AS double) END AS ssb
  FROM gg
),
f AS (
  SELECT conv_id, n, k, sst, ssb,
         CASE WHEN sst - ssb < 0 THEN 0.0 ELSE sst - ssb END AS ssw
  FROM m
)
SELECT conv_id, cast(n AS bigint) AS n, cast(k AS int) AS k,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0
                  THEN ssb / sst END, 9) + 0.0 AS spread_eta2,
       round(CASE WHEN k >= 2 AND n > k AND sst > 0 AND ssw > 0 THEN
             (ssb / (cast(k AS double) - 1.0))
             / (ssw / (cast(n AS double) - cast(k AS double)))
             END, 6) + 0.0 AS bf_stat
FROM f
""")


def q_ts_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs max-studentized deviation of tokens-per-turn: WHICH
    turn is the conversation's single extreme and how far out. The
    argmax compares exact int64 scaled deviations |n*y - S| (no
    float can reorder the pick, earliest turn on ties); G is one
    fixed tree; constant or n<3 NULL."""
    from cesium_spark.operators.seriesstats import grubbs_stat
    series = _tok_series(spark, sf_dir)
    out = grubbs_stat(series)
    return out.select("conv_id", "n", "peak_turn",
                      _r(F.col("g_stat"), 9).alias("g_stat"))


SQL_TS_GRUBBS = oracle(q_ts_grubbs, _tok_series_sql() + """,
e AS (
  SELECT conv_id, turn_idx, y,
         sum(y) OVER wp AS sv, sum(y * y) OVER wp AS q,
         count(*) OVER wp AS n
  FROM s WINDOW wp AS (PARTITION BY conv_id)
),
d AS (
  SELECT conv_id, turn_idx, n, sv, q,
         abs(n * y - sv) AS dev
  FROM e
),
g AS (
  SELECT conv_id, max(n) AS n, max(sv) AS sv, max(q) AS q,
         max(dev) AS dmax,
         max(CASE WHEN rn = 1 THEN turn_idx END) AS peak_turn
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                     ORDER BY dev DESC, turn_idx) AS rn
        FROM d) z
  GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       CASE WHEN n >= 3 AND n * q - sv * sv > 0
            THEN cast(peak_turn AS bigint) END AS peak_turn,
       round(CASE WHEN n >= 3 AND n * q - sv * sv > 0 THEN
             cast(dmax AS double)
             / sqrt(cast(n * q - sv * sv AS double)) END, 9)
         + 0.0 AS g_stat
FROM g
""")


def q_ts_cusumsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-of-squares variance changepoint (Brown-Durbin-Evans):
    did the VOLATILITY change and where - pettitt hears level by
    rank, cusum alarms on mean drift, CUSUMSQ trips on jitter
    doubling at a steady mean. Argmax over exact int64
    |n*C_k - k*C_n|, one terminal division; earliest k on ties."""
    from cesium_spark.operators.seriesstats import cusumsq
    series = _tok_series(spark, sf_dir)
    out = cusumsq(series)
    return out.select("conv_id", "n", "changepoint",
                      _r(F.col("d_stat"), 9).alias("d_stat"))


SQL_TS_CUSUMSQ = oracle(q_ts_cusumsq, _tok_series_sql(
    "row_number() OVER w AS k") + """,
c AS (
  SELECT conv_id, k,
         sum(y * y) OVER (PARTITION BY conv_id ORDER BY k
                          ROWS UNBOUNDED PRECEDING) AS ck,
         sum(y * y) OVER (PARTITION BY conv_id) AS cn,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM s
),
d AS (
  SELECT conv_id, k, n, cn,
         abs(n * ck - k * cn) AS num
  FROM c
),
g AS (
  SELECT conv_id, max(n) AS n, max(cn) AS cn, max(num) AS nmax,
         max(CASE WHEN rn = 1 THEN k END) AS changepoint
  FROM (SELECT *, row_number() OVER (PARTITION BY conv_id
                                     ORDER BY num DESC, k) AS rn
        FROM d) z
  GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       CASE WHEN n >= 2 AND cn > 0
            THEN cast(changepoint AS bigint) END AS changepoint,
       round(CASE WHEN n >= 2 AND cn > 0 THEN
             cast(nmax AS double)
             / cast(n * cn AS double) END, 9) + 0.0 AS d_stat
FROM g
""")


def q_ts_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation latency vs tokens CONTROLLING for tool
    activity - the confound question the association quartet cannot
    ask. Latency enters as floored integer seconds (the ts_allan
    rule; squares stay int64-safe where micros would wrap), tokens
    and the 0/1 tool flag are native integers; ten exact int64 sums
    from one aggregate, three fixed pairwise-r trees, one partial
    tree; |r_xc| = 1 exactly -> NULL."""
    from cesium_spark.operators.seriesstats import partial_corr
    out = partial_corr(_triple_series(spark, sf_dir),
                       "latency", "tokens", "tool")
    return out.select(
        "conv_id", "n_pairs",
        _r(F.col("r_ab"), 9).alias("r_ab"),
        _r(F.col("r_ac"), 9).alias("r_ac"),
        _r(F.col("r_bc"), 9).alias("r_bc"),
        _r(F.col("r_ab_c"), 9).alias("r_ab_c"))


SQL_TS_PARTIAL_CORR = oracle(q_ts_partial_corr, _triple_series_sql() + """,
al AS (
  SELECT conv_id, a, b, c FROM t
  WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
),
g AS (
  SELECT conv_id, count(*) AS n,
         sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
         sum(a * a) AS saa, sum(b * b) AS sbb, sum(c * c) AS scc,
         sum(a * b) AS sab, sum(a * c) AS sac, sum(b * c) AS sbc
  FROM al GROUP BY 1
),
rr AS (
  SELECT conv_id, n,
         cast(n AS double) * saa - cast(sa AS double) * sa AS va,
         cast(n AS double) * sbb - cast(sb AS double) * sb AS vb,
         cast(n AS double) * scc - cast(sc AS double) * sc AS vc,
         (cast(n AS double) * sab - cast(sa AS double) * sb)
           / sqrt((cast(n AS double) * saa - cast(sa AS double) * sa)
                  * (cast(n AS double) * sbb
                     - cast(sb AS double) * sb)) AS rab,
         (cast(n AS double) * sac - cast(sa AS double) * sc)
           / sqrt((cast(n AS double) * saa - cast(sa AS double) * sa)
                  * (cast(n AS double) * scc
                     - cast(sc AS double) * sc)) AS rac,
         (cast(n AS double) * sbc - cast(sb AS double) * sc)
           / sqrt((cast(n AS double) * sbb - cast(sb AS double) * sb)
                  * (cast(n AS double) * scc
                     - cast(sc AS double) * sc)) AS rbc
  FROM g
)
SELECT conv_id, cast(n AS bigint) AS n_pairs,
       round(CASE WHEN n >= 3 AND va > 0 AND vb > 0 AND vc > 0
                  THEN rab END, 9) + 0.0 AS r_ab,
       round(CASE WHEN n >= 3 AND va > 0 AND vb > 0 AND vc > 0
                  THEN rac END, 9) + 0.0 AS r_ac,
       round(CASE WHEN n >= 3 AND va > 0 AND vb > 0 AND vc > 0
                  THEN rbc END, 9) + 0.0 AS r_bc,
       round(CASE WHEN n >= 3 AND va > 0 AND vb > 0 AND vc > 0
                   AND (1.0 - rac * rac) * (1.0 - rbc * rbc) > 0 THEN
             (rab - rac * rbc)
             / sqrt((1.0 - rac * rac) * (1.0 - rbc * rbc)) END, 9)
         + 0.0 AS r_ab_c
FROM rr
""")


_SMK_P = 7


def q_ts_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (period 7, turn positions) over the
    value series: within-slot MK integers summed across slots - the
    trend screen a strong periodic component would otherwise drown.
    Exact integers from the shared mergesort kernel; one fixed z
    tree; all-tied var*=0 -> NULL."""
    from cesium_spark.operators.seriesstats import seasonal_mann_kendall
    out = seasonal_mann_kendall(_value_series(spark, sf_dir), _SMK_P)
    return out.select("conv_id", "n", "n_slots", "s_stat", "var18",
                      _r(F.col("z"), 6).alias("z"))


SQL_TS_SEASONAL_MK = oracle(q_ts_seasonal_mk, f"""{_VALUE_SERIES_SQL}
, sl AS (
  SELECT conv_id, turn_idx, y,
         (row_number() OVER (PARTITION BY conv_id
                             ORDER BY t, turn_idx) - 1)
           % {_SMK_P} AS slot
  FROM series WHERE y IS NOT NULL AND t IS NOT NULL
),
pairs AS (
  SELECT a.conv_id,
         sum(CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS s_stat
  FROM sl a
  JOIN sl b ON a.conv_id = b.conv_id AND a.slot = b.slot
           AND b.turn_idx > a.turn_idx
  GROUP BY 1
),
ties AS (
  SELECT conv_id,
         sum(n_g * (n_g - 1) * (2 * n_g + 5)) AS slot_nvar,
         0 AS dummy
  FROM (SELECT conv_id, slot, count(*) AS n_g
        FROM sl GROUP BY 1, 2) z
  GROUP BY 1
),
tiev AS (
  SELECT conv_id, sum(c * (c - 1) * (2 * c + 5)) AS tie_term
  FROM (SELECT conv_id, slot, y, count(*) AS c
        FROM sl GROUP BY 1, 2, 3) z
  GROUP BY 1
),
base AS (
  SELECT conv_id, count(*) AS n, count(DISTINCT slot) AS n_slots
  FROM sl GROUP BY 1
),
mk AS (
  SELECT b.conv_id, b.n, b.n_slots,
         cast(coalesce(p.s_stat, 0) AS bigint) AS s_stat,
         cast(t.slot_nvar - v.tie_term AS bigint) AS var18
  FROM base b
  LEFT JOIN pairs p ON b.conv_id = p.conv_id
  JOIN ties t ON b.conv_id = t.conv_id
  JOIN tiev v ON b.conv_id = v.conv_id
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(n_slots AS int) AS n_slots, s_stat, var18,
       round(CASE WHEN var18 = 0 THEN NULL
                  WHEN s_stat > 0 THEN (cast(s_stat AS double) - 1)
                       / sqrt(cast(var18 AS double) / 18.0)
                  WHEN s_stat < 0 THEN (cast(s_stat AS double) + 1)
                       / sqrt(cast(var18 AS double) / 18.0)
                  ELSE 0.0 END, 6) + 0.0 AS z
FROM mk
""")


_GUMBEL_T = 1800


def q_ts_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel block-maxima fit over each conversation's daily worst
    inter-turn gap: method-of-moments location/scale plus the
    'how often does the daily worst gap breach 30 minutes' EVT
    exceedance - the block-maxima route next to hill_tail's
    peaks-over-threshold. Exact integer maxima and moment sums; mu,
    beta, P are fixed trees with gamma and sqrt(6)/pi as literals."""
    from cesium_spark.operators.seriesstats import gumbel_maxima
    out = gumbel_maxima(events_transcripts(spark, sf_dir), _GUMBEL_T)
    return out.select(
        "conv_id", "n_blocks",
        _r(F.col("mu"), 6).alias("mu"),
        _r(F.col("beta"), 6).alias("beta"),
        _r(F.col("p_exceed"), 9).alias("p_exceed"))


SQL_TS_GUMBEL = oracle(q_ts_gumbel, f"""
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx, ts,
         cast(floor(epoch(ts)) AS bigint) AS es
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gp AS (
  SELECT conv_id, ts,
         es - lag(es) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS g
  FROM s
),
b AS (
  SELECT conv_id, date_trunc('day', ts) AS bkt, max(g) AS m
  FROM gp WHERE g IS NOT NULL GROUP BY 1, 2
),
a AS (
  SELECT conv_id, count(*) AS nb, sum(m) AS sm, sum(m * m) AS qm
  FROM b GROUP BY 1
),
t AS (
  SELECT conv_id, nb,
         nb >= 2 AND nb * qm - sm * sm > 0 AS ok,
         sqrt(cast(nb * qm - sm * sm AS double)) / cast(nb AS double)
           AS sd,
         cast(sm AS double) / cast(nb AS double) AS mean
  FROM a
),
f AS (
  SELECT conv_id, nb, ok,
         {__import__("math").sqrt(6.0) / __import__("math").pi!r} * sd
           AS beta,
         mean - 0.5772156649015329
           * ({__import__("math").sqrt(6.0) / __import__("math").pi!r}
              * sd) AS mu
  FROM t
)
SELECT conv_id, cast(nb AS bigint) AS n_blocks,
       round(CASE WHEN ok THEN mu END, 6) + 0.0 AS mu,
       round(CASE WHEN ok THEN beta END, 6) + 0.0 AS beta,
       round(CASE WHEN ok THEN
             1.0 - exp(-exp(-((1800.0 - mu) / beta))) END, 9)
         + 0.0 AS p_exceed
FROM f
""")


def q_ts_lz76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ76 sequence complexity of each conversation's role string:
    long-range scripted repetition collapses the phrase count where
    per-step entropies stay blind (a^n -> 2, (ab)^n -> 3, iid ->
    n/log n). Sequential parsing in a per-conversation kernel; the
    oracle replays the SAME novel-length rule as a DuckDB recursive
    CTE - sequential state is recursion, not a window."""
    from cesium_spark.operators.sequences import lz76_complexity
    out = lz76_complexity(events_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "n", "c_phrases",
        _r(F.col("c_norm"), 9).alias("c_norm"))


SQL_TS_LZ76 = oracle(q_ts_lz76, """
WITH RECURSIVE t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         substr(event_type, 1, 1) AS ch
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
strs AS (
  SELECT conv_id, string_agg(ch, '' ORDER BY turn_idx) AS s
  FROM t GROUP BY 1
),
p AS (
  SELECT conv_id, s, 1 AS pos, 0 AS c FROM strs
  UNION ALL
  SELECT conv_id, s,
         pos + coalesce(list_min(list_filter(
                 range(1, len(s) - pos + 2),
                 L -> strpos(substr(s, 1, pos + L - 2),
                             substr(s, pos, L)) = 0)),
               len(s) - pos + 1),
         c + 1
  FROM p WHERE pos <= len(s)
),
g AS (
  SELECT conv_id, max(len(s)) AS n, max(c) AS c FROM p GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n,
       cast(c AS bigint) AS c_phrases,
       round(CASE WHEN n >= 2 THEN
             cast(c AS double) * ln(cast(n AS double))
             / cast(n AS double) END, 9) + 0.0 AS c_norm
FROM g
""")


def q_doc_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate + Good's coverage over the
    document corpus: is more crawling still buying vocabulary - the
    question zipf's slope does not answer. Exact int64
    frequency-of-frequencies; both outputs unrounded divisions of
    exact integers (the ts_allan rule); the f2+1 bias-corrected form
    stays finite exactly when the corpus is most undersampled."""
    from cesium_spark.operators.textstats import vocab_richness
    _prep(spark)
    return vocab_richness(_read(spark, sf_dir, "documents"))


SQL_DOC_VOCAB_RICHNESS = oracle(q_doc_vocab_richness, """
WITH f AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents
    WHERE text IS NOT NULL AND trim(text) != '') z
  GROUP BY 1
),
g AS (
  SELECT count(*) AS v_obs, sum(c) AS n_tokens,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
         sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
  FROM f
)
SELECT cast(v_obs AS bigint) AS v_obs,
       cast(n_tokens AS bigint) AS n_tokens,
       cast(f1 AS bigint) AS f1, cast(f2 AS bigint) AS f2,
       cast(v_obs AS double)
         + cast(f1 * (f1 - 1) AS double)
           / cast(2 * (f2 + 1) AS double) AS chao1,
       1.0 - cast(f1 AS double) / cast(n_tokens AS double) AS coverage
FROM g
""")


def q_doc_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing weights (alpha=0.5) across the corpus's 20
    sources: the GPT-3/PaLM multinomial sampling table - raw token
    shares flattened so low-resource sources upsample; boost =
    mix/raw is each source's effective epoch multiplier. Exact int64
    counts, source-ordered normalizer fold, fixed trees."""
    from cesium_spark.operators.sampling import mix_weights
    _prep(spark)
    out = mix_weights(_read(spark, sf_dir, "documents"), alpha=0.5)
    return out.orderBy("source").select(
        "source", "n_docs", "n_tokens",
        _r(F.col("raw_share"), 9).alias("raw_share"),
        _r(F.col("mix_share"), 9).alias("mix_share"),
        _r(F.col("boost"), 9).alias("boost"))


SQL_DOC_MIX_WEIGHTS = oracle(q_doc_mix_weights, """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(cast(len(string_split_regex(trim(text), '\\s+'))
                  AS bigint)) AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY 1
),
p1 AS (
  SELECT source, n_docs, n_tokens,
         cast(n_tokens AS double)
           / cast(sum(n_tokens) OVER () AS double) AS raw_share,
         pow(cast(n_tokens AS double)
             / cast(sum(n_tokens) OVER () AS double), 0.5) AS pw
  FROM per
),
f AS (
  SELECT *,
         sum(pw) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM p1
),
z AS (SELECT max(cum) AS zz FROM f)
SELECT source,
       cast(n_docs AS bigint) AS n_docs,
       cast(n_tokens AS bigint) AS n_tokens,
       round(raw_share, 9) + 0.0 AS raw_share,
       round(pw / zz, 9) + 0.0 AS mix_share,
       round(pw / zz / raw_share, 9) + 0.0 AS boost
FROM f, z
ORDER BY source
""")


def q_doc_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth V(n) ~ K n^beta over the corpus
    at four doc-order quartile checkpoints: the GROWTH companion to
    zipf (frequency) and chao1 (asymptote). Exact integer n_i/V_i
    (ordered-cumsum probes + first-containing-doc min-aggregates),
    closed-form 4-point log-log OLS as one fixed tree in literal
    checkpoint order."""
    from cesium_spark.operators.textstats import heaps_fit
    _prep(spark)
    out = heaps_fit(_read(spark, sf_dir, "documents"))
    return out.select(
        "n_docs", "n1", "n2", "n3", "n4", "v1", "v2", "v3", "v4",
        _r(F.col("beta"), 9).alias("beta"),
        _r(F.col("k_coef"), 6).alias("k_coef"))


SQL_DOC_HEAPS = oracle(q_doc_heaps, """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS r,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
),
wc AS (
  SELECT r, toks,
         sum(len(toks)) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
         count(*) OVER () AS d
  FROM ranked
),
cps AS (
  SELECT max(d) AS d,
         max(CASE WHEN r = (d * 1) // 4 THEN cum END) AS n1,
         max(CASE WHEN r = (d * 2) // 4 THEN cum END) AS n2,
         max(CASE WHEN r = (d * 3) // 4 THEN cum END) AS n3,
         max(CASE WHEN r = (d * 4) // 4 THEN cum END) AS n4,
         max((d * 1) // 4) AS k1, max((d * 2) // 4) AS k2,
         max((d * 3) // 4) AS k3, max((d * 4) // 4) AS k4
  FROM wc
),
fst AS (
  SELECT t, min(r) AS f FROM (
    SELECT r, unnest(toks) AS t FROM wc) z
  GROUP BY 1
),
vc AS (
  SELECT sum(CASE WHEN f <= k1 THEN 1 ELSE 0 END) AS v1,
         sum(CASE WHEN f <= k2 THEN 1 ELSE 0 END) AS v2,
         sum(CASE WHEN f <= k3 THEN 1 ELSE 0 END) AS v3,
         sum(CASE WHEN f <= k4 THEN 1 ELSE 0 END) AS v4
  FROM fst, cps
),
j AS (
  SELECT d, n1, n2, n3, n4, v1, v2, v3, v4,
         ln(cast(n1 AS double)) + ln(cast(n2 AS double))
           + ln(cast(n3 AS double)) + ln(cast(n4 AS double)) AS sx,
         ln(cast(v1 AS double)) + ln(cast(v2 AS double))
           + ln(cast(v3 AS double)) + ln(cast(v4 AS double)) AS sy,
         ln(cast(n1 AS double)) * ln(cast(n1 AS double))
           + ln(cast(n2 AS double)) * ln(cast(n2 AS double))
           + ln(cast(n3 AS double)) * ln(cast(n3 AS double))
           + ln(cast(n4 AS double)) * ln(cast(n4 AS double)) AS sxx,
         ln(cast(n1 AS double)) * ln(cast(v1 AS double))
           + ln(cast(n2 AS double)) * ln(cast(v2 AS double))
           + ln(cast(n3 AS double)) * ln(cast(v3 AS double))
           + ln(cast(n4 AS double)) * ln(cast(v4 AS double)) AS sxy
  FROM cps, vc
),
b AS (
  SELECT *, 4.0 * sxx - sx * sx AS den,
         (4.0 * sxy - sx * sy) / (4.0 * sxx - sx * sx) AS beta
  FROM j
)
SELECT cast(d AS bigint) AS n_docs,
       cast(n1 AS bigint) AS n1, cast(n2 AS bigint) AS n2,
       cast(n3 AS bigint) AS n3, cast(n4 AS bigint) AS n4,
       cast(v1 AS bigint) AS v1, cast(v2 AS bigint) AS v2,
       cast(v3 AS bigint) AS v3, cast(v4 AS bigint) AS v4,
       round(CASE WHEN d >= 4 AND den > 0 THEN beta END, 9)
         + 0.0 AS beta,
       round(CASE WHEN d >= 4 AND den > 0 THEN
             exp((sy - beta * sx) / 4.0) END, 6) + 0.0 AS k_coef
FROM b
""")


def q_rel_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the schema has
    no phone column, so the country code is c_nationkey % 5, and
    every customer has SOME order, so the lapse predicate is 'no
    order since 2000-06-01' (255 lapsed customers at sf0.01 - the
    spec's never-ordered form returns zero rows here and would make
    the anti-join vacuous). The structure is intact - a scalar
    global-average subquery, an ANTI-join against recent orders, and
    per-code count/sum. The
    above-average predicate runs ENTIRELY in integers: with acctbal
    on the 1e-2 grid, bal > avg = S/N is the exact integer compare
    bal_i * N > S - no float average ever materializes (division by
    a count is the one thing the fixed-point contract cannot absorb,
    so the compare is cross-multiplied instead). Customer is small
    but orders is the big side: the anti-join keys on the FACT's
    key, and sums ride the exact grid with one terminal division."""
    _prep(spark)
    cu = _read(spark, sf_dir, "customer")
    od = (_read(spark, sf_dir, "orders")
          .where(F.col("o_orderdate")
                 >= F.lit("2000-06-01").cast("timestamp"))
          .select("o_custkey"))
    bal_i = F.round(F.col("c_acctbal") * 100.0, 0).cast("long")
    base = cu.select("c_custkey",
                     (F.col("c_nationkey") % 5).cast("int")
                     .alias("cntrycode"),
                     bal_i.alias("__bi"))
    pos = base.where(F.col("__bi") > 0)
    avg1 = pos.agg(F.sum("__bi").alias("__s"),
                   F.count(F.lit(1)).alias("__n"))
    rich = (pos.crossJoin(F.broadcast(avg1))
            .where(F.col("__bi") * F.col("__n") > F.col("__s")))
    noord = rich.join(od, rich["c_custkey"] == od["o_custkey"],
                      "left_anti")
    out = (noord.groupBy("cntrycode")
           .agg(F.count(F.lit(1)).alias("numcust"),
                F.sum("__bi").alias("__tb"))
           .orderBy("cntrycode"))
    return out.select(
        "cntrycode", "numcust",
        _r0(F.round(F.col("__tb").cast("double") / 100.0, 2))
        .alias("totacctbal"))


SQL_REL_TPCH_Q22 = oracle(q_rel_tpch_q22, """
WITH base AS (
  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
         cast(round(c_acctbal * 100.0) AS bigint) AS bi
  FROM customer
),
pos AS (SELECT * FROM base WHERE bi > 0),
a AS (SELECT sum(bi) AS s, count(*) AS n FROM pos),
rich AS (
  SELECT p.* FROM pos p, a WHERE p.bi * a.n > a.s
),
noord AS (
  SELECT * FROM rich
  WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= timestamp '2000-06-01 00:00:00')
)
SELECT cast(cntrycode AS int) AS cntrycode,
       cast(count(*) AS bigint) AS numcust,
       round(cast(sum(bi) AS double) / 100.0, 2) + 0.0 AS totacctbal
FROM noord GROUP BY 1 ORDER BY 1
""")


def q_ts_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha of the (latency, tokens, tool) channel
    triple per conversation: do the three move together enough to be
    read as one 'intensity' scale - the question to ask BEFORE
    averaging them into a single health score. Exact int64 channel
    and sum-score moments (the sum is formed in integers before
    squaring), one fixed tree; constant composite NULL."""
    from cesium_spark.operators.seriesstats import cronbach_alpha
    out = cronbach_alpha(_triple_series(spark, sf_dir))
    # variance columns UNROUNDED: fixed trees over exact ints are
    # bit-identical, while round-6 at 1e9 magnitude is where engine
    # round() implementations diverge by ulps (the ts_allan rule)
    return out.select(
        "conv_id", "n_turns", "var_total", "var_items",
        _r(F.col("alpha"), 9).alias("alpha"))


SQL_TS_CRONBACH = oracle(q_ts_cronbach, _triple_series_sql() + """,
al AS (
  SELECT conv_id, a, b, c, a + b + c AS tt FROM t
  WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
),
g AS (
  SELECT conv_id, count(*) AS n,
         sum(a) AS s0, sum(a * a) AS q0,
         sum(b) AS s1, sum(b * b) AS q1,
         sum(c) AS s2, sum(c * c) AS q2,
         sum(tt) AS st, sum(tt * tt) AS qt
  FROM al GROUP BY 1
),
v AS (
  SELECT conv_id, n,
         cast(q0 AS double) / cast(n AS double)
           - (cast(s0 AS double) / cast(n AS double))
             * (cast(s0 AS double) / cast(n AS double))
         + (cast(q1 AS double) / cast(n AS double)
            - (cast(s1 AS double) / cast(n AS double))
              * (cast(s1 AS double) / cast(n AS double)))
         + (cast(q2 AS double) / cast(n AS double)
            - (cast(s2 AS double) / cast(n AS double))
              * (cast(s2 AS double) / cast(n AS double))) AS vi,
         cast(qt AS double) / cast(n AS double)
           - (cast(st AS double) / cast(n AS double))
             * (cast(st AS double) / cast(n AS double)) AS vt
  FROM g
)
SELECT conv_id, cast(n AS bigint) AS n_turns,
       CASE WHEN n >= 3 AND vt > 0 THEN vt END AS var_total,
       CASE WHEN n >= 3 AND vt > 0 THEN vi END AS var_items,
       round(CASE WHEN n >= 3 AND vt > 0 THEN
             3.0 / 2.0 * (1.0 - vi / vt) END, 9) + 0.0 AS alpha
FROM v
""")


def q_ts_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom membership tier under the driver gate: events
    replayed through readStream, hourly filter words finalized by the
    watermark - bounded-state continuous membership (bit_or folds
    under append mode exactly like the DDSketch counters), emitting
    the SAME integer words as the batch build so fold/contains run
    verbatim on batch+stream unions. Oracle rebuilds the words
    directly with the identical 7000 s cutoff; integer-exact."""
    import os
    import tempfile

    from cesium_spark.sources.table_io import TableIO
    from cesium_spark.streaming.window_delta import (
        stream_bloom_cells,
        stream_to_table,
    )

    _prep(spark)
    base = tempfile.mkdtemp(prefix="cesium_spark_streambloom_")
    os.makedirs(f"{base}/src")
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("role"), "ts",
        F.col("props").alias("item"))
    ev.coalesce(1).write.mode("append").parquet(f"{base}/src")
    schema = "role string, ts timestamp, item string"
    stream = spark.readStream.schema(schema).parquet(f"{base}/src")
    io = TableIO(spark, f"{base}/tables")
    q = stream_to_table(
        stream_bloom_cells(stream, "1h", "7000 seconds",
                           words=_BLOOM_WORDS, k=_BLOOM_K),
        io, "stream_bloom", f"{base}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "ts_stream_bloom: availableNow stream did not finish "
            "within 300s")
    out = io.read("stream_bloom")
    return out.select(
        "role",
        F.date_format("window_start", TS_FMT).alias("window_start"),
        F.col("word_idx").cast("long").alias("word_idx"),
        F.col("bits").cast("long").alias("bits"))


SQL_TS_STREAM_BLOOM = oracle(q_ts_stream_bloom, f"""
WITH mx AS (SELECT max(ts) AS m FROM events),
pos AS (
  SELECT event_type AS role,
         date_trunc('hour', ts) AS ws, ts,
         (('0x' || substr(md5('b' || cast(js.j AS varchar)
                               || ':' || props), 1, 8))::BIGINT
          % {63 * _BLOOM_WORDS}) AS p
  FROM events
  CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j) js
  WHERE props IS NOT NULL
)
SELECT role, strftime(ws, '{DUCK_TS_FMT}') AS window_start,
       cast(p // 63 AS bigint) AS word_idx,
       cast(bit_or(1::BIGINT << cast(p % 63 AS int)) AS bigint) AS bits
FROM pos, mx
GROUP BY role, ws, p // 63, mx.m
HAVING ws + INTERVAL 1 HOUR <= mx.m - INTERVAL 7000 SECONDS
""")


def q_ts_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn post-hoc pairwise z between ROLES on tokens-per-turn
    midranks: ts_kruskal's omnibus says the role matters - this says
    between WHICH roles, on the same exact 2-avg-rank integers (one
    ranking discipline, two consumers). Consumers chain rel_bh_fdr
    for multiplicity; canonical (a < b) pair order."""
    from cesium_spark.operators.seriesstats import dunn_posthoc
    series = _tok_series(spark, sf_dir,
                         F.col("event_type").alias("channel"))
    out = dunn_posthoc(series, group_col="channel")
    return out.select(
        "conv_id", "group_a", "group_b", "n_a", "n_b",
        _r(F.col("mean_rank_a"), 6).alias("mean_rank_a"),
        _r(F.col("mean_rank_b"), 6).alias("mean_rank_b"),
        _r(F.col("z"), 9).alias("z"))


SQL_TS_DUNN = oracle(q_ts_dunn, _tok_series_sql("event_type AS g") + f""",
r AS (
  SELECT conv_id, g,
         {_midrank2_sql("y")} AS r2,
         {_ties_sql("y")} AS t
  FROM s WHERE g IS NOT NULL AND y IS NOT NULL
),
cells AS (
  SELECT conv_id, g, count(*) AS ng, sum(r2) AS r2g,
         sum(t * t - 1) AS tg
  FROM r GROUP BY 1, 2
),
e AS (
  SELECT conv_id, g, ng, r2g,
         sum(ng) OVER (PARTITION BY conv_id) AS n,
         sum(tg) OVER (PARTITION BY conv_id) AS tm
  FROM cells
),
p AS (
  SELECT a.conv_id, a.g AS group_a, b.g AS group_b,
         a.ng AS na, b.ng AS nb, a.r2g AS ra, b.r2g AS rb,
         a.n, a.tm
  FROM e a JOIN e b ON a.conv_id = b.conv_id AND a.g < b.g
),
q AS (
  SELECT *,
         cast(ra AS double) / (2.0 * cast(na AS double)) AS ma,
         cast(rb AS double) / (2.0 * cast(nb AS double)) AS mb,
         cast(n AS double) * (cast(n AS double) + 1.0) / 12.0
           - cast(tm AS double)
             / (12.0 * (cast(n AS double) - 1.0)) AS pooled
  FROM p
)
SELECT conv_id, group_a, group_b,
       cast(na AS bigint) AS n_a, cast(nb AS bigint) AS n_b,
       round(CASE WHEN n >= 3 AND pooled > 0 THEN ma END, 6)
         + 0.0 AS mean_rank_a,
       round(CASE WHEN n >= 3 AND pooled > 0 THEN mb END, 6)
         + 0.0 AS mean_rank_b,
       round(CASE WHEN n >= 3 AND pooled > 0 THEN
             (ma - mb) / sqrt(pooled
                              * (1.0 / cast(na AS double)
                                 + 1.0 / cast(nb AS double))) END, 9)
         + 0.0 AS z
FROM q
""")


def q_ts_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank on positionally-paired first-half vs
    second-half VALUES (1e-2 grid - the welch_ttest integer
    contract; tokens-per-turn is constant per user in the synthetic
    data, so every paired diff would be the dropped zero - found by
    a vacuous 0-row first run): did the level move within the same
    conversation, judged on ranks of paired differences (the paired
    twin of the independent-groups rank tests; McNemar answers the
    paired-binary form). Zero diffs dropped, |d| midranked with the
    exact 2-avg-rank integers, tie-corrected variance; one fixed z
    tree."""
    from cesium_spark.operators.seriesstats import wilcoxon_signed_rank
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("y"))
    out = wilcoxon_signed_rank(series)
    return out.select(
        "conv_id", "n_pairs", "tplus2", "tie_mass",
        _r(F.col("z"), 9).alias("z"))


SQL_TS_WILCOXON = oracle(q_ts_wilcoxon, f"""
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w AS j,
         count(*) OVER (PARTITION BY user_id) AS n,
         cast(round(value * 100.0) AS bigint) AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
pairs AS (
  SELECT a.conv_id, b.y - a.y AS d
  FROM s a JOIN s b
    ON a.conv_id = b.conv_id AND b.j = a.j + a.n // 2
  WHERE a.j <= a.n // 2 AND b.y - a.y != 0
),
r AS (
  SELECT conv_id, d,
         {_midrank2_sql("abs(d)")} AS r2,
         {_ties_sql("abs(d)")} AS t
  FROM pairs
),
g AS (
  SELECT conv_id, count(*) AS m,
         sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS tplus2,
         sum(t * t - 1) AS tie_mass
  FROM r GROUP BY 1
),
q AS (
  SELECT conv_id, m, tplus2, tie_mass,
         cast(tplus2 AS double) / 2.0 AS tp,
         cast(m AS double) * (cast(m AS double) + 1.0) / 4.0 AS mu,
         cast(m AS double) * (cast(m AS double) + 1.0)
           * (2.0 * cast(m AS double) + 1.0) / 24.0
           - cast(tie_mass AS double) / 48.0 AS v
  FROM g
)
SELECT conv_id, cast(m AS bigint) AS n_pairs,
       cast(tplus2 AS bigint) AS tplus2,
       cast(tie_mass AS bigint) AS tie_mass,
       round(CASE WHEN m >= 2 AND v > 0 THEN
             (tp - mu) / sqrt(v) END, 9) + 0.0 AS z
FROM q
""")


def q_ts_mood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test per conversation across roles on the
    1e-2-gridded value: do the roles sit on the same side of the
    POOLED median in the right proportions - the bluntest,
    most outlier-proof member of the center/spread quartet (anova
    means, kruskal distributions, brown_forsythe spreads). Exact
    integer 2-median dichotomy, ordered chi2 cell fold."""
    from cesium_spark.operators.seriesstats import mood_median
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("channel"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("y"))
    out = mood_median(series, group_col="channel")
    return out.select(
        "conv_id", "n", "k", "n_above",
        _r(F.col("chi2"), 9).alias("chi2"))


SQL_TS_MOOD = oracle(q_ts_mood, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         event_type AS g,
         cast(round(value * 100.0) AS bigint) AS y
  FROM events
),
m AS (
  SELECT conv_id, g, y,
         cast(round(quantile_cont(y, 0.5)
               OVER (PARTITION BY conv_id) * 2.0) AS bigint) AS m2
  FROM s WHERE g IS NOT NULL AND y IS NOT NULL
),
cells AS (
  SELECT conv_id, g, count(*) AS ng,
         sum(CASE WHEN 2 * y > m2 THEN 1 ELSE 0 END) AS ag
  FROM m GROUP BY 1, 2
),
e AS (
  SELECT conv_id, g, ng, ag,
         sum(ng) OVER (PARTITION BY conv_id) AS n,
         sum(ag) OVER (PARTITION BY conv_id) AS a,
         count(*) OVER (PARTITION BY conv_id) AS k
  FROM cells
),
f AS (
  SELECT conv_id, n, a, k,
         sum(CASE WHEN a > 0 AND a < n THEN
             (cast(ag AS double)
              - cast(ng AS double) * cast(a AS double)
                / cast(n AS double))
             * (cast(ag AS double)
                - cast(ng AS double) * cast(a AS double)
                  / cast(n AS double))
             / (cast(ng AS double) * cast(a AS double)
                / cast(n AS double))
             + ((cast(ng AS double) - cast(ag AS double))
                - cast(ng AS double)
                  * (cast(n AS double) - cast(a AS double))
                  / cast(n AS double))
             * ((cast(ng AS double) - cast(ag AS double))
                - cast(ng AS double)
                  * (cast(n AS double) - cast(a AS double))
                  / cast(n AS double))
             / (cast(ng AS double)
                * (cast(n AS double) - cast(a AS double))
                / cast(n AS double))
             ELSE 0.0 END)
           OVER (PARTITION BY conv_id ORDER BY g
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM e
),
g2 AS (
  SELECT conv_id, max(n) AS n, max(k) AS k, max(a) AS a,
         max(cum) AS chi2
  FROM f GROUP BY 1
)
SELECT conv_id, cast(n AS bigint) AS n, cast(k AS int) AS k,
       cast(a AS bigint) AS n_above,
       round(CASE WHEN k >= 2 AND a > 0 AND a < n
                  THEN chi2 END, 9) + 0.0 AS chi2
FROM g2
""")


def q_ts_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size from the truncated integrated
    autocorrelation time over the 1e-2-gridded value series: how
    many INDEPENDENT turns is this conversation worth - the same
    correlation penalty hac_mean_se puts into the error bar,
    restated as the number a sample-size gate consumes. The shared
    exact ACF-integer aggregate (fifth consumer); negative tau is a
    truncation artifact -> NULL ESS with tau still reported."""
    from cesium_spark.operators.seriesstats import ess_acf
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        (F.row_number().over(w) - 1).cast("double").alias("t"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("y"))
    out = ess_acf(series)
    return out.select(
        "conv_id", "n",
        _r(F.col("tau_int"), 9).alias("tau_int"),
        _r(F.col("ess"), 6).alias("ess"))


SQL_TS_ESS = oracle(q_ts_ess, """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         row_number() OVER w - 1 AS turn_idx,
         cast(row_number() OVER w - 1 AS double) AS t,
         cast(round(value * 100.0) AS bigint) AS y
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)""" + _acf_sums_sql((1, 2, 3)) + """,
m AS (
  SELECT conv_id, n, n > 3 AND n0 > 0 AS ok,
         1.0 + 2.0 * (cast(n1 AS double) / cast(n0 AS double)
                      + cast(n2 AS double) / cast(n0 AS double)
                      + cast(n3 AS double) / cast(n0 AS double)) AS tau
  FROM g
)
SELECT conv_id, cast(n AS bigint) AS n,
       round(CASE WHEN ok THEN tau END, 9) + 0.0 AS tau_int,
       round(CASE WHEN ok AND tau > 0 THEN
             cast(n AS double) / tau END, 6) + 0.0 AS ess
FROM m
""")


QUERIES = {name: fn for name, (fn, _) in _REGISTRY.items()}
ORACLE_SQL = {name: sql for name, (_, sql) in _REGISTRY.items()}
