"""WindowDelta — the Structured Streaming seam for continuous
aggregates (SURVEY.md §2.10).

The engine's continuous aggregates are batch-incremental by design:
exactly-mergeable window moments (operators/fold.py) written by
per-partition overwrite (TableIO.merge_overwrite_partitions). This
module reifies the documented seam where a ``readStream`` slots into
the SAME moment schema:

- :func:`stream_rollup_moments` is the streaming twin of
  ``rollup_moments`` — identical columns (asserted by tests), computed
  as a watermarked windowed aggregation, so everything downstream
  (``fold_moments``, ``moments_derived``, tier tables) is agnostic to
  whether moments arrived from a batch scan or a stream.
- :func:`stream_to_table` materializes FINALIZED windows (append output
  mode: each window is emitted exactly once, when the event-time
  watermark passes its end) into a TableIO table partitioned by
  ``window_date``. Exactly-once per window + the streaming checkpoint
  directory give the same resume semantics the batch ledger provides.

Scale/late-data contract: the stream handles in-watermark lateness.
Rows later than the watermark go to the batch side. There,
``fold.merge_moments`` merges the moments of a late batch into an
existing moments table without rescanning raw turns, and
``run_pipeline`` re-merges the affected windows: a batch carrying a
late turn re-derives that whole conversation (its input fingerprint
changed), rewrites only the ``series`` dates it covers, old and new,
and marks those (tier, date) ledger units stale, so their features are
recomputed over every conversation on the date. The shuffle is the
same single hash exchange on (conv_id, channel, window) as the batch
path, with partial aggregation state in the state store instead of
map-side combiners. Streaming windows are fixed-span: the calendar
tiers (1w/1mo) raise ValueError.

The exact kernel path (numpy features) deliberately has NO streaming
twin: bit-for-bit feature values require whole-window recomputation
(SURVEY.md §4.3), which only a batch rollup of the window provides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import (
    MOMENTS_SCHEMA_COLS,
    moments_build_aggs,
    tier_span_s,
)
from cesium_spark.sources.table_io import TableIO


def _window(tier: str):
    """Tumbling event-time window of a fixed-span ladder tier. The
    calendar tiers raise: ``F.window`` has no months, and its weeks
    start on the epoch's Thursday, not date_trunc's ISO Monday."""
    return F.window("ts", f"{tier_span_s(tier):.0f} seconds")


def stream_rollup_moments(series_stream: DataFrame, tier: str = "1m",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``rollup_moments``: same mergeable moment
    columns over a ``readStream`` series (conv_id, channel, ts, y, t).
    Windows finalize once the event-time watermark passes their end."""
    win = _window(tier)
    return (
        series_stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.col("channel"), win)
        .agg(*moments_build_aggs())
        .select("conv_id", "channel",
                F.col("window.start").alias("window_start"),
                *MOMENTS_SCHEMA_COLS)
        .withColumn("tier", F.lit(tier))
    )


def stream_ddsketch_cells(series_stream: DataFrame, tier: str = "1h",
                          watermark: str = "2 hours", alpha: float = 0.02,
                          value_col: str = "y") -> DataFrame:
    """Streaming twin of ``ddsketch.ddsketch_build``: watermarked
    per-window DDSketch cells over a readStream series — CONTINUOUS
    quantile tiers with BOUNDED state. This is the capability gap the
    sketch exists for in streaming: an exact quantile needs all raw
    values per window held in state, and percentile_approx cannot emit
    under append mode at all; a DDSketch window's state is one integer
    counter per occupied log-bucket (≤ a few hundred per key at
    α = 0.02 across the double range), finalized and appended once the
    watermark passes — and the emitted cells are the SAME cells the
    batch build produces (integer-exact, the fold contract), so
    downstream fold/quantile code is shared verbatim. The per-row
    bucket assignment (including the ln boundary-margin guard) is the
    batch expression, a pure projection before the windowed count."""
    from cesium_spark.operators.ddsketch import _checked_bucket
    win = _window(tier)
    store, bkt = _checked_bucket(value_col, alpha, 1e-9)
    return (
        series_stream.where(F.col(value_col).isNotNull())
        .select("conv_id", "ts", store.alias("store"), bkt.alias("bkt"))
        .withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), win, F.col("store"), F.col("bkt"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("conv_id", F.col("window.start").alias("window_start"),
                "store", "bkt", "cnt")
        .withColumn("tier", F.lit(tier))
    )


def stream_to_table(moments_stream: DataFrame, io: TableIO, name: str,
                    checkpoint: str, trigger_available_now: bool = True):
    """Materialize finalized windows into a ``window_date``-partitioned
    TableIO table. Append output mode ⇒ one emission per window ⇒ plain
    appends are idempotent at window granularity; the checkpoint dir
    carries resume. Returns the started StreamingQuery."""
    out = moments_stream.withColumn(
        "window_date", F.col("window_start").cast("date"))
    writer = (out.writeStream
              .outputMode("append")
              .option("checkpointLocation", checkpoint)
              .partitionBy("window_date")
              .format("parquet")
              .option("path", io.path(name)))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(series_stream: DataFrame,
                      gap: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via ``F.session_window`` — the
    streaming twin of the batch lag-gap sessionizer (driver query
    ts_sessionize). Sessions are per (conv_id): events within ``gap``
    of the previous event merge into one session — Δ == gap still
    MERGES (measured: Spark extends the session for an event at
    exactly last+gap; only Δ > gap splits, matching the batch
    sessionizer's `> 1800` rule); a session
    finalizes (append mode: emitted exactly once) when the event-time
    watermark passes its end = last_ts + gap.

    State is O(open sessions) — the state store holds only sessions the
    watermark hasn't closed, so unbounded key spaces are safe; this is
    the native-operator complement to streaming/stateful.py's
    applyInPandasWithState eviction. One hash exchange on conv_id,
    same as the batch path."""
    return (
        series_stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "first_ts", "last_ts",
        )
    )


def stream_dedup(stream: DataFrame, keys, watermark_col: str = "ts",
                 delay: str = "2 hours") -> DataFrame:
    """Exactly-once row dedup over an unbounded re-delivery stream
    with BOUNDED state: ``dropDuplicatesWithinWatermark`` keys the
    state store on ``keys`` and EVICTS an entry once the event-time
    watermark passes its timestamp + delay.

    This is the streaming twin of the batch upsert compaction
    (operators/compaction.py): at-least-once transports re-deliver
    turns, and the batch MERGE path absorbs late re-deliveries beyond
    the watermark. Plain ``dropDuplicates`` on a stream keeps state
    for EVERY key ever seen — O(10^12) entries on the target table,
    an inevitable OOM — while this operator's state is O(keys inside
    the watermark horizon), the same bounded-lateness contract every
    other streaming op in this module honors. First arrival wins;
    re-deliveries carry identical payloads, so the output set is
    deterministic and equal to the batch DISTINCT of the input.
    """
    ks = list(keys)
    if not ks:
        raise ValueError("keys must be non-empty")
    return (stream.withWatermark(watermark_col, delay)
            .dropDuplicatesWithinWatermark(ks))


def stream_interval_join(turns: DataFrame, alerts: DataFrame,
                         key: str = "conv_id",
                         turn_ts: str = "ts",
                         alert_ts: str = "alert_ts",
                         span: str = "6 hours",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream–stream event-time interval join: pair every turn with
    each alert of the SAME key it follows within ``span`` —
    ``turn_ts ∈ (alert_ts, alert_ts + span]`` — with both sides
    watermarked. The "what happened in the conversation right after
    the tool call / incident?" correlation, computed online.

    This is the canonical Structured Streaming stream–stream inner
    join: the equi-key puts both streams through ONE co-partitioned
    exchange pair, and the JOINT watermark + time-range condition is
    what lets Spark compute a state-eviction bound for BOTH sides
    (turn state held ≤ watermark; alert state ≤ watermark + span).
    Without the range condition the state store grows with every key
    ever seen — the unbounded-state OOM at 10^12 turns; with it,
    state is O(in-flight window), which is the whole point of the
    operator. Strict ``>`` on the lower edge keeps an alert's own
    turn out of its follow-up set.

    Works identically on batch DataFrames (the watermarks are no-ops
    there), which is what the driver oracle compares against.
    """
    if key == turn_ts or key == alert_ts or turn_ts == alert_ts:
        raise ValueError("key / turn_ts / alert_ts must be distinct")
    t = turns.withWatermark(turn_ts, watermark)
    a = (alerts.withColumnRenamed(key, "__akey")
         .withWatermark(alert_ts, watermark))
    cond = (
        (F.col(key) == F.col("__akey"))
        & (F.col(turn_ts) > F.col(alert_ts))
        & (F.col(turn_ts)
           <= F.col(alert_ts) + F.expr(f"INTERVAL {span}")))
    return t.join(a, cond, "inner").drop("__akey")

def stream_sliding_moments(series_stream: DataFrame,
                           window: str = "1 hour",
                           slide: str = "15 minutes",
                           watermark: str = "2 hours") -> DataFrame:
    """Sliding (hopping) windowed streaming aggregation — the
    continuously-refreshed trailing view a tumbling tier cannot give
    (a 1h tumbling window answers "how was 14:00–15:00" only at
    15:00; a 1h/15m hop answers "how was the last hour" every 15
    minutes). Same mergeable moment columns and append/watermark
    finalization contract as ``stream_rollup_moments``.

    State/size contract, stated because it is the 100 TB trade-off:
    each event belongs to window÷slide overlapping windows, so state
    store rows and output cardinality multiply by that factor (4× at
    1h/15m) versus tumbling — choose the hop as coarse as the
    freshness requirement allows. The exchange is still the one hash
    partition on (conv_id, window)."""
    win = F.window("ts", window, slide)
    return (
        series_stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), win)
        .agg(F.count("y").alias("n"),
             F.min("y").alias("y_min"),
             F.max("y").alias("y_max"),
             F.sum("y").alias("y_sum"))
        .select("conv_id",
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "n", "y_min", "y_max", "y_sum")
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame,
                         on: list[str] | str,
                         broadcast: bool = True) -> DataFrame:
    """Stream-static equi-join: enrich every streaming event with its
    static dimension row — the third join shape next to stream-stream
    (:func:`stream_interval_join`) and batch broadcast joins. The join
    is STATELESS: Spark re-plans the static side per micro-batch, no
    state store, no watermark needed for the join itself (only a
    downstream windowed agg needs one), and late data cannot change a
    dimension match. ``broadcast=True`` (the default, and the right
    call for any dimension that fits in executor memory) hash-joins
    map-side in every micro-batch — zero shuffle added to the stream;
    at 100 TB/day the alternative (shuffling the stream on the join
    key per micro-batch) is strictly worse for any dim under ~1 GB.

    Inner join: events with no dimension row are DROPPED — use an
    explicit outer join upstream if unmatched events must survive
    (dropping silently inside an enrichment operator would be a data
    loss foot-gun, so the semantics are stated here).
    """
    keys = [on] if isinstance(on, str) else list(on)
    d = F.broadcast(dim) if broadcast else dim
    return stream.join(d, on=keys, how="inner")


def stream_enriched_counts(stream: DataFrame, dim: DataFrame,
                           on: str, attr: str,
                           tier: str = "1h",
                           watermark: str = "2 hours") -> DataFrame:
    """Windowed per-dimension-attribute rollup of an enriched stream:
    broadcast-enrich, then count/sum per (attr, window) under the
    usual append-mode watermark finalization. The aggregation keys
    shrink the stream to |attr| × windows rows — the state store
    holds attribute-level, not conversation-level, state."""
    win = _window(tier)
    enriched = stream_static_enrich(stream, dim, on)
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.col(attr), win)
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("y").alias("y_sum"),
             F.min("y").alias("y_min"),
             F.max("y").alias("y_max"))
        .select(F.col(attr),
                F.col("window.start").alias("window_start"),
                "n", "y_sum", "y_min", "y_max"))


def disorder_stats(series: DataFrame, arrival_col: str,
                   event_time_col: str = "t",
                   key_col: str = "conv_id") -> DataFrame:
    """Watermark advisor: measure the out-of-orderness a stream
    actually has, per key — the number every ``withWatermark`` call
    in this module should be derived FROM, not guessed. An event's
    lateness is (max event time already ARRIVED) − (its own event
    time): order rows by ``arrival_col`` (ingest order), take the
    running max of event time, subtract. A watermark shorter than the
    observed p-max lateness silently DROPS those rows from every
    windowed aggregate; one longer than needed holds state and delays
    finalization — this operator turns that trade-off into measured
    quantiles instead of folklore.

    Returns per key: n, n_late (arrived after a later-timestamped
    event), late_frac, max_late_s (the zero-loss watermark),
    p95_late_s (the bounded-loss candidate). Lateness values are
    exact double subtractions; the quantile is the shared
    interpolation (ts_quantiles_1d precedent). Keys in perfect order
    report all-zero — an honest measurement, not a degenerate drop.

    Scale shape: one ordered window (running max) + one aggregate on
    the same key → ONE hash exchange, no join, no UDF.
    """
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(arrival_col), F.col(event_time_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    late = (F.max(event_time_col).over(w) - F.col(event_time_col))
    s = series.where(F.col(event_time_col).isNotNull()
                     & F.col(arrival_col).isNotNull())
    return (s.select(key_col, late.alias("__late"))
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.when(F.col("__late") > 0, 1).otherwise(0))
                 .cast("long").alias("n_late"),
                 F.max("__late").alias("max_late_s"),
                 F.percentile("__late", F.lit(0.95))
                 .alias("p95_late_s"))
            .withColumn("late_frac",
                        F.col("n_late").cast("double")
                        / F.col("n").cast("double")))


def stream_bloom_cells(events_stream: DataFrame, tier: str = "1h",
                       watermark: str = "2 hours",
                       key_col: str = "role", item_col: str = "item",
                       words: int = 16, k: int = 4) -> DataFrame:
    """Streaming twin of ``sketches.bloom_build``: watermarked
    per-window Bloom-filter words over a readStream — CONTINUOUS
    membership tiers with BOUNDED state.  The capability gap it
    closes: answering "was this item seen in this window" on a live
    stream would otherwise need the distinct item set per window in
    state; a Bloom window's state is ≤ ``words`` int64 counters per
    key (bit_or is commutative and associative, so it folds under
    append mode exactly like the DDSketch counters), finalized once
    the watermark passes — and the emitted words are the SAME
    integers the batch build produces (the md5 positions and the
    63-bits-per-word layout are the batch expressions, a pure
    projection before the windowed fold), so ``bloom_fold`` /
    ``bloom_contains`` run verbatim on the union of batch history
    and streamed present."""
    from cesium_spark.operators.sketches import _bloom_check, _bloom_pos
    win = _window(tier)
    _bloom_check(words, k)
    m_bits = 63 * words
    pos = F.array(*[_bloom_pos(F.col(item_col), j, m_bits)
                    for j in range(k)])
    return (
        events_stream.where(F.col(item_col).isNotNull())
        .select(key_col, "ts", F.explode(pos).alias("__p"))
        .withWatermark("ts", watermark)
        .groupBy(F.col(key_col), win,
                 F.floor(F.col("__p") / F.lit(63)).cast("long")
                 .alias("word_idx"))
        .agg(F.bit_or(F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(__p % 63 AS INT))"))
            .alias("bits"))
        .select(key_col, F.col("window.start").alias("window_start"),
                "word_idx", "bits")
        .withColumn("tier", F.lit(tier))
    )
