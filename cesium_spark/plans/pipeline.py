"""End-to-end pipeline: scan → derive → rollup tiers → compress →
materialize (+ ledger/lineage) → retention expiry (SURVEY.md §3.4).

This is the engine's equivalent of the reference's front door
``cesium/featurize.py::featurize_time_series`` † plus the engine-side
systems the north_rule mandates: continuous aggregates as idempotent
per-partition MERGE, checkpoint-resume via the ledger, retention tiers.

Input contract: every conversation present in ``transcripts`` is given
in full. A pass may carry the whole source table or only some
conversations (an append batch, a late turn inside an old
conversation). Conversations absent from a pass stay as they are, and
nothing is deleted. The unit of change is the conversation, because
``derive_series`` computes ``t`` and the latencies over a whole
conversation.

Fingerprint: per ``conv_id``, the wrapping int64 sum of ``xxhash64``
over the columns derive reads (``turn_idx``, ``ts`` cast to timestamp,
``text``, ``tool``, and their null flags) plus the turn count. The
``_inputs`` table keeps it with the conversation's first and last
``window_date``, so a changed conversation's old dates are known
without scanning ``series``. One aggregate job compares a pass's input
with ``_inputs``: it computes the next ``_inputs`` rows, each with a
``touched`` flag and, when touched, the conversation's old-and-new date
range, into a cached frame, and observes only the input's turn count,
every series date and the touched dates. Touched conversations are the
new ones and those whose fingerprint changed. With none touched, derive
writes nothing. Otherwise it re-derives the touched conversations only
(a semi-join on the cached frame) and rewrites only the dates they
cover, old and new, keeping the untouched conversations' rows on those
dates.

A root without ``_inputs`` (a new one, or one whose first pass died
before writing it) takes a shorter path: every conversation in the pass
is new, every series date already on disk is rewritten, and the
fingerprint job writes ``_inputs`` after ``series``. Until ``_inputs``
exists every pass takes this path, so it needs no pending rows, and a
new build pays one small extra write.

Write order (crash safety): (1) a ``stale`` ledger row for every done
``rollup_{tier}`` unit on a rewritten date and for the done compress
unit; (2) ``_inputs`` with every touched conversation pending — its
fingerprint NULL and its dates widened to old ∪ new; (3) ``series``;
(4) ``_inputs`` with the new fingerprints. A pass killed before (4)
leaves those conversations pending, so the next pass that carries them
re-derives them over every date either version covered, whatever their
input is by then.

Retention: ``expire_raw`` records its watermark in the ledger, and
every date before it is frozen. A pass neither writes ``series`` there
nor recomputes a rollup there, and a conversation whose dates all lie
before it is not touched. Compress, which re-encodes ``chunks`` from
``series`` when its ledger unit is not done, keeps every chunk that
holds a point before the watermark as it is.

Scale shape (10^12 turns): every per-tier pass is
  one scan (partition-pruned to pending window_dates)
  → one hash exchange on (conv_id, channel, date block)
  → kernels → dynamic-partition-overwrite of exactly the touched
    (tier, window_date) partitions.
Incremental runs therefore cost O(new windows), not O(table) — the
batch-incremental formulation of continuous aggregates (SURVEY.md §2.10).
Two tables are still rewritten whole by a pass that touches anything:
``_inputs`` (one row per conversation) and ``chunks`` (re-encoded in
full).

Tiers run as SEPARATE stages: the ledger's resume grain is (tier,
window_date), and an incremental pass touches a small pending slice.
For BULK builds use ``rollup.rollup_wide`` (all windowed tiers from ONE
shuffle of the turn stream, wide; ``rollup_features_multi`` is its long
form). Each stage's ``rollup_features`` is the same kernel with one
tier, melted to the long feature table by a ``stack`` (no exchange).
A tier's pending dates are the series dates, this pass's rewritten
dates and its units the ledger holds stale, minus its done units, so a
finished tier starts no job.

Per pass, the Spark jobs are the data writes plus little bookkeeping:
the fingerprint job, one scan of the ledger, a checksum read-back and
ledger append per pending tier, and one ``_metrics`` append in a
``finally`` (see plans.ledger for what a kill loses).
"""

from __future__ import annotations

import time
from collections.abc import Iterable
from datetime import date
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import compression_metrics, encode_chunks
from cesium_spark.functions.registry import DEFAULT_FEATS
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.rollup import rollup_features
from cesium_spark.plans.ledger import (UNIT_SCHEMA, Ledger, StageTimer,
                                       content_checksum, new_run_id)
from cesium_spark.sources.table_io import TableIO

FEATURE_TABLE = "features_{tier}"
CHUNKS_TABLE = "chunks"
SERIES_TABLE = "series"
INPUTS_TABLE = "_inputs"
# an _inputs row besides conv_id: the fingerprint, the turn count and the
# conversation's first and last window_date
INPUT_TYPES = {"fp": "long", "n": "long", "first_date": "date",
               "last_date": "date"}
INPUT_COLS = list(INPUT_TYPES)

# the compress stage's one ledger unit (stage, tier, window_date)
COMPRESS_UNIT = ("compress", None, None)
# retention's ledger stage: its units' window_date is the watermark
EXPIRE_STAGE = "expire_raw"

# conv-tier (whole-conversation) Lomb–Scargle runs where the north_star
# wants it: over the full latency series, not minute slices
LS_TIER_FEATS = ["freq1_freq", "freq1_amplitude1", "freq1_signif",
                 "period_fast", "freq_varrat", "linear_trend"]


def _dates(first: Column, last: Column, wm: date | None) -> Column:
    """The dates first..last from the watermark on, as an array; NULL
    when there are none."""
    lo = first if wm is None else F.greatest(first, F.lit(wm))
    return F.when(last >= lo, F.sequence(lo, last))


def _summary(wm: date | None) -> list[Column]:
    """What a pass reads back of its next ``_inputs`` rows: the input's
    turn count, every series date and the touched dates."""
    return [F.coalesce(F.sum("turns"), F.lit(0)).alias("turns"),
            F.collect_set(_dates(F.col("first_date"), F.col("last_date"), wm))
            .alias("dates"),
            F.collect_set(_dates(F.col("lo"), F.col("hi"), wm)).alias("touched")]


def _stage_inputs(io: TableIO, transcripts: DataFrame,
                  wm: date | None) -> DataFrame:
    """The next ``_inputs`` rows, lazily: (conv_id, fp, n, first_date,
    last_date, touched, lo, hi, turns). A touched conversation (new or
    changed, with dates from the watermark on) gets its new fingerprint
    and dates, and lo..hi covers its old and new dates; every other row
    stays as it was (all NULL for a new conversation wholly before the
    watermark). ``turns`` is the conversation's turn count in this pass."""
    ts = F.col("ts").cast("timestamp")
    cols = [F.col("turn_idx"), ts, F.col("text"), F.col("tool")]
    # turn rows and _inputs rows meet in ONE groupBy (no join): a
    # conversation absent from the pass has no turn rows (n = 0)
    rows = transcripts.select(
        "conv_id",
        F.xxhash64(*cols, *[c.isNull() for c in cols])
        .cast("decimal(20,0)").alias("h"),
        ts.cast("date").alias("day"))
    old = [F.col(c).alias(f"old_{c}") for c in INPUT_COLS]
    if io.exists(INPUTS_TABLE):
        rows = rows.unionByName(io.read(INPUTS_TABLE).select("conv_id", *old),
                                allowMissingColumns=True)
    else:
        rows = rows.select("*", *[F.lit(None).cast(t).alias(f"old_{c}")
                                  for c, t in INPUT_TYPES.items()])
    # the int64 sum wrapped mod 2^64 (a decimal sum cannot overflow)
    total = F.pmod(F.sum("h"), F.lit(Decimal(2 ** 64)))
    both = rows.groupBy("conv_id").agg(
        F.when(total >= Decimal(2 ** 63), total - Decimal(2 ** 64))
        .otherwise(total).cast("long").alias("fp"),
        F.count("h").alias("n"),
        F.min("day").alias("first_date"), F.max("day").alias("last_date"),
        *[F.max(f"old_{c}").alias(f"old_{c}") for c in INPUT_COLS])
    # a pending row (old_fp NULL) never matches, so it is touched again
    same = (F.col("fp").eqNullSafe(F.col("old_fp"))
            & F.col("n").eqNullSafe(F.col("old_n")))
    lo = F.least("first_date", "old_first_date")
    hi = F.greatest("last_date", "old_last_date")
    touched = (F.col("n") > 0) & ~same
    if wm is not None:
        touched &= hi >= F.lit(wm)
    return both.select(
        "conv_id",
        *[F.when(touched, F.col(c)).otherwise(F.col(f"old_{c}")).alias(c)
          for c in INPUT_COLS],
        touched.alias("touched"),
        F.when(touched, lo).alias("lo"), F.when(touched, hi).alias("hi"),
        F.col("n").alias("turns"))


def _overwrite_dates(io: TableIO, df: DataFrame, table: str,
                     dates: Iterable[date]) -> set[date]:
    """Replaces the ``window_date`` partitions ``dates`` of ``table``
    with ``df``'s rows (``df`` may read them): a date ``df`` has no row
    for is dropped instead of left as it was. Returns those dates."""
    seen = Observation(f"{table}_dates")
    io.merge_overwrite_partitions(
        df.observe(seen, F.collect_set("window_date").alias("d")), table,
        partition_by=["window_date"])
    empty = set(dates) - set(seen.get["d"])
    io.drop_partitions(table, "window_date", empty)
    return empty


def _mark_stale(ledger: Ledger, run_id: str, done: set[tuple],
                dates: set[date]) -> None:
    """Write order (1): a ``stale`` row for every done rollup unit on
    ``dates`` and for the done compress unit; drops them from ``done``."""
    stale = [u for u in done if u == COMPRESS_UNIT
             or (u[0].startswith("rollup_") and u[2] in dates)]
    ledger.record_stale(run_id, stale)
    done.difference_update(stale)


def _derive_changed(io: TableIO, ledger: Ledger, run_id: str,
                    transcripts: DataFrame, done: set[tuple],
                    wm: date | None, seen: Observation) -> set[date]:
    """Derive on a root with ``_inputs``: re-derives the touched
    conversations and rewrites the series dates they cover, keeping the
    other conversations' rows there, in write order (1)-(4) of the
    module docstring. Returns the rewritten dates."""
    staged = _stage_inputs(io, transcripts, wm).observe(seen, *_summary(wm))
    staged = staged.cache()
    try:
        # the fingerprint job: it fills the cache and the observation
        # (the noop sink writes nothing)
        staged.write.format("noop").mode("overwrite").save()
        dates = {d for span in seen.get["touched"] for d in span}
        if not dates:
            return dates
        _mark_stale(ledger, run_id, done, dates)
        touched = F.col("touched")
        rows = staged.where(F.col("first_date").isNotNull())
        io.replace(rows.select(
            "conv_id", *[F.when(~touched, F.col(c)).alias(c) for c in ("fp", "n")],
            F.when(touched, F.col("lo")).otherwise(F.col("first_date"))
            .alias("first_date"),
            F.when(touched, F.col("hi")).otherwise(F.col("last_date"))
            .alias("last_date")), INPUTS_TABLE)

        ids = staged.where(touched).select("conv_id")
        series = _derived(transcripts.join(ids, "conv_id", "left_semi"), wm)
        kept = (io.read(SERIES_TABLE)
                .where(F.col("window_date").isin(sorted(dates)))
                .join(ids, "conv_id", "left_anti"))
        _overwrite_dates(io, kept.unionByName(series), SERIES_TABLE, dates)
        io.replace(rows.select("conv_id", *INPUT_COLS), INPUTS_TABLE)
        return dates
    finally:
        staged.unpersist()


def _derive_new(io: TableIO, ledger: Ledger, run_id: str,
                transcripts: DataFrame, done: set[tuple], wm: date | None,
                seen: Observation) -> set[date]:
    """Derive on a root without ``_inputs``: a new one, one written
    before ``_inputs`` existed, or one whose pass died before it wrote
    ``_inputs`` the first time. Every conversation in the pass is new,
    and every series date already on disk is rewritten, keeping the
    rows of conversations absent from the pass; then ``_inputs`` is
    written from the fingerprint job. Until it exists every pass takes
    this path, so it needs no pending rows. Returns the dates it found
    on disk."""
    dates = {d for d in map(date.fromisoformat,
                            io.partition_values(SERIES_TABLE, "window_date"))
             if wm is None or d >= wm}
    _mark_stale(ledger, run_id, done, dates)
    series = _derived(transcripts, wm)
    if dates:
        kept = (io.read(SERIES_TABLE)
                .where(F.col("window_date").isin(sorted(dates)))
                .join(transcripts.select("conv_id"), "conv_id", "left_anti"))
        series = kept.unionByName(series)
    _overwrite_dates(io, series, SERIES_TABLE, dates)
    io.write(_stage_inputs(io, transcripts, wm).observe(seen, *_summary(wm))
             .where(F.col("first_date").isNotNull())
             .select("conv_id", *INPUT_COLS), INPUTS_TABLE)
    return dates


def _derived(transcripts: DataFrame, wm: date | None) -> DataFrame:
    """``derive_series`` rows with their ``window_date``, from the
    watermark on."""
    series = (derive_series(transcripts)
              .withColumn("window_date", F.col("ts").cast("date")))
    if wm is not None:
        series = series.where(F.col("window_date") >= F.lit(wm))
    return series


def _compress(io: TableIO, ledger: Ledger, st: StageTimer,
              wm: date | None) -> dict:
    """Re-encodes ``chunks`` from ``series``, records the compress unit
    done and returns bytes/point per blob kind. After retention expiry,
    a chunk holding a point before the watermark is kept as it is: its
    raw rows are gone. The measured ratio goes to ``_metrics``:
    retention sizing runs on it, and it guards the codec's Gorilla
    window-reuse divergence (see codecs.chunks.compression_metrics)."""
    seen_in = Observation("points")
    chunks = encode_chunks(
        io.read(SERIES_TABLE).observe(seen_in, F.count("*").alias("n")))
    if wm is not None and io.exists(CHUNKS_TABLE):
        keys = ["conv_id", "channel", "chunk_idx"]
        frozen = io.read(CHUNKS_TABLE).where(
            F.col("ts_min") < F.lit(wm).cast("timestamp"))
        chunks = frozen.unionByName(
            chunks.join(frozen.select(keys), keys, "left_anti"))
    io.replace(chunks, CHUNKS_TABLE)
    written = io.read(CHUNKS_TABLE)
    out = {}
    for r in compression_metrics(written).collect():
        ledger.record_metric(st.run_id, st.stage, f"bytes_per_point_{r['kind']}",
                             r["bytes_per_point"])
        out[r["kind"]] = {"bytes_per_point": r["bytes_per_point"],
                          "ratio_vs_raw": r["ratio_vs_raw"]}
    ledger.record_done(st.run_id, st.stage, written.agg(
        F.lit(None).cast("string").alias("tier"),
        F.lit(None).cast("date").alias("window_date"),
        F.lit(seen_in.get["n"]).alias("in_count"),
        F.count("*").alias("out_count"), F.sum("crc").alias("checksum")),
        st.wall_ms)
    return out


def run_pipeline(
    io: TableIO,
    transcripts: DataFrame,
    tiers: Iterable[str] = ("1m", "1h", "1d"),
    features: Iterable[str] | None = None,
    run_id: str | None = None,
    compress: bool = True,
    fail_after_stage: str | None = None,  # test hook: simulate a crash
) -> dict:
    """Returns run report {run_id, stages: {...}, turns, turns_per_sec}."""
    run_id = run_id or new_run_id()
    ledger = Ledger(io)
    feats = list(features) if features is not None else DEFAULT_FEATS
    report: dict = {"run_id": run_id, "stages": {}}
    t_start = time.monotonic()
    try:
        with StageTimer(ledger, run_id, "derive") as st:
            states = ledger.unit_states()
            done = {u for u, state in states.items() if state == "done"}
            wm = max((u[2] for u in done if u[0] == EXPIRE_STAGE), default=None)
            seen = Observation("inputs")
            derive = _derive_changed if io.exists(INPUTS_TABLE) else _derive_new
            rewritten = (derive(io, ledger, run_id, transcripts, done, wm, seen)
                         | {d for span in seen.get["touched"] for d in span})
        report["stages"]["derive"] = st.wall_ms
        report["turns"] = turns = seen.get["turns"]
        if fail_after_stage == "derive":
            raise RuntimeError("injected failure after derive")

        # a date a pass rewrote, or whose unit the ledger holds stale, is
        # recomputed even when no series row is left on it
        known = {d for span in seen.get["dates"] for d in span} | rewritten
        pending = {}
        for tier in tiers:
            stage = f"rollup_{tier}"
            dates = known | {u[2] for u, state in states.items()
                             if u[0] == stage and state == "stale"}
            pending[tier] = sorted(d for d in dates
                                   if (stage, tier, d) not in done
                                   and (wm is None or d >= wm))
        if any(pending.values()):
            series = io.read(SERIES_TABLE)
        for tier in tiers:
            stage = f"rollup_{tier}"
            with StageTimer(ledger, run_id, stage) as st:
                dates = pending[tier]
                if not dates:
                    report["stages"][stage] = {"skipped": True}
                    continue
                seen_in = Observation(stage)
                slice_df = (series.where(F.col("window_date").isin(dates))
                            .observe(seen_in, F.count("*").alias("n")))
                feats_long = rollup_features(slice_df, tier, feats)
                out = feats_long.withColumn(
                    "window_date", F.col("window_start").cast("date"))
                table = FEATURE_TABLE.format(tier=tier)
                empty = _overwrite_dates(io, out, table, dates)

                written = io.read(table).where(F.col("window_date").isin(dates))
                per_unit = (
                    content_checksum(
                        written,
                        ["conv_id", "channel", "window_start", "feature", "value"])
                    .groupBy("window_date")
                    .agg(F.count("*").alias("out_count"),
                         F.sum("row_crc").alias("checksum")))
                if empty:
                    # a date with no windows (a gap inside a conversation's
                    # date range) is a finished unit with 0 rows
                    per_unit = per_unit.unionByName(io.spark.createDataFrame(
                        [(d, 0, 0) for d in sorted(empty)],
                        "window_date date, out_count long, checksum long"))
                per_unit = (
                    per_unit
                    .withColumn("tier", F.lit(tier))
                    .withColumn("in_count", F.lit(seen_in.get["n"]))
                    .select("tier", "window_date", "in_count", "out_count",
                            "checksum"))
                ledger.record_done(run_id, stage, per_unit, st.wall_ms)
            report["stages"][stage] = st.wall_ms
            if fail_after_stage == stage:
                raise RuntimeError(f"injected failure after {stage}")

        if compress:
            stage = "compress"
            with StageTimer(ledger, run_id, stage) as st:
                if COMPRESS_UNIT not in done:
                    report["compression"] = _compress(io, ledger, st, wm)
            report["stages"][stage] = st.wall_ms

        wall = time.monotonic() - t_start
        report["wall_sec"] = wall
        report["turns_per_sec"] = turns / wall if wall > 0 else float("nan")
        ledger.record_metric(run_id, "pipeline", "turns", turns)
        ledger.record_metric(run_id, "pipeline", "turns_per_sec",
                             report["turns_per_sec"])
    finally:
        ledger.flush_metrics()
    return report


def expire_raw(io: TableIO, watermark_date: str) -> int:
    """Retention: drop raw series partitions older than the watermark
    once their rollups exist (SURVEY.md §2.9). The watermark goes to the
    ledger first, as a done ``(expire_raw, NULL, watermark)`` unit:
    later passes leave every date before it as it is. Parquet backend
    rewrites; Iceberg would DELETE FROM … WHERE / drop partitions."""
    Ledger(io).record_done(new_run_id(), EXPIRE_STAGE, io.spark.createDataFrame(
        [(None, date.fromisoformat(watermark_date), None, None, None)],
        UNIT_SCHEMA), 0)
    return io.delete_where(SERIES_TABLE, f"window_date < date'{watermark_date}'",
                           partition_by=["window_date"])
