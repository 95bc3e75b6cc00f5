"""The exact-integer statistics kit (SURVEY.md §4.3: bit-for-bit
results on every engine).  The statistics operators keep one rule:
integer ``y`` in, exact int64 sums, one division at the end.  This
module holds the three pieces of that rule that several operators
share, so each is written once:

- ``require_int`` — the input contract: integer columns or a
  ``ValueError`` naming the operator, the column and its type;
- ``acf_sums`` — the exact autocorrelation numerators
  N_k = Σ (n·y_t − S)(n·y_{t−k} − S) per conversation;
- ``midrank2`` — twice the average (mid) rank, an exact integer, and
  ``ties`` — the tie-block size it and the tie-mass sums share.

``acf_sums``, ``midrank2`` and ``ties`` each have an oracle twin in
``driver_queries`` (``_acf_sums_sql``, ``_midrank2_sql``,
``_ties_sql``) that restates it in DuckDB SQL.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def require_int(df: DataFrame, op: str, *cols: str) -> None:
    """Raise ``ValueError`` unless every column in ``cols`` has an
    integer type — floats (and missing columns) never enter the exact
    sums; pre-grid them to integers explicitly."""
    types = dict(df.dtypes)
    for c in cols:
        t = types.get(c)
        if t not in ("int", "bigint", "smallint", "tinyint"):
            raise ValueError(
                f"{op}: column {c!r} has type {t}; the exact-"
                "sufficient-statistics contract needs integer inputs "
                "(pre-grid floats to integers explicitly)")


def acf_sums(series: DataFrame, lags: Iterable[int]) -> DataFrame:
    """Exact ACF numerators per ``conv_id``: columns ``n`` (count),
    ``s`` (Σy), ``n0`` = Σ(n·y − S)² and, for each k in ``lags``,
    ``n{k}`` = Σ_{t>k} (n·y_t − S)(n·y_{t−k} − S) — all int64, so
    r_k = N_k/N₀ is the one division a caller makes.  With S = Σy,
    (y_t − S/n)(y_{t−k} − S/n)·n² is the product summed here.

    Rows with NULL ``y`` or ``t`` are dropped first; lags run in
    (t, turn_idx) order; a lag with no pairs (series too short) gives
    NULL ``n{k}``.  ANSI overflow raises rather than wraps.

    Plan: lag windows + two unordered windows + one aggregate, all
    keyed by conv_id — one hash exchange, no UDF, no join.
    """
    lags = list(lags)
    w_ord = Window.partitionBy("conv_id").orderBy("t", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    y = F.col("y").cast("long")
    s = (series
         .where(F.col("y").isNotNull() & F.col("t").isNotNull())
         .select("conv_id", y.alias("__y"),
                 *[F.lag(y, k).over(w_ord).alias(f"__l{k}") for k in lags],
                 F.sum(y).over(w_all).alias("__s"),
                 F.count(F.lit(1)).over(w_all).alias("__n")))
    n, sy = F.col("__n"), F.col("__s")
    dev = n * F.col("__y") - sy

    def _num(k):
        lag = F.col(f"__l{k}")
        lagdev = n * lag - sy
        return F.sum(F.when(lag.isNotNull(), dev * lagdev))

    return s.groupBy("conv_id").agg(
        F.max("__n").alias("n"), F.max("__s").alias("s"),
        F.sum(dev * dev).alias("n0"),
        *[_num(k).alias(f"n{k}") for k in lags])


def ties(value: Column | str) -> Column:
    """Size of ``value``'s tie block within its conversation: a RANGE
    (current row) frame on the conv_id window ordered by ``value``,
    so ``midrank2`` and the tie-mass sums share one window and no
    (conv_id, value) exchange is planned."""
    w = Window.partitionBy("conv_id").orderBy(value)
    return F.count(F.lit(1)).over(w.rangeBetween(0, 0))


def midrank2(value: Column | str) -> Column:
    """2 × the average rank of ``value`` within its conversation: a
    tie block at positions a..a+t−1 has 2·avg = 2a + t − 1 =
    2·rank() + ties − 1, an exact integer, so rank sums stay int64."""
    w = Window.partitionBy("conv_id").orderBy(value)
    return F.lit(2) * F.rank().over(w) + ties(value) - F.lit(1)
