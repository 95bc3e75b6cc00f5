"""End-to-end pipeline: scan → derive → rollup tiers → compress →
materialize (+ ledger/lineage) → retention expiry (SURVEY.md §3.4).

This is the engine's equivalent of the reference's front door
``cesium/featurize.py::featurize_time_series`` † plus the engine-side
systems the north_rule mandates: continuous aggregates as idempotent
per-partition MERGE, checkpoint-resume via the ledger, retention tiers.

Scale shape (10^12 turns): every per-tier pass is
  one scan (partition-pruned to pending window_dates)
  → one hash exchange on (conv_id, channel, window)
  → kernels → dynamic-partition-overwrite of exactly the touched
    (tier, window_date) partitions.
Incremental runs therefore cost O(new windows), not O(table) — the
batch-incremental formulation of continuous aggregates (SURVEY.md §2.10).

Tiers run as SEPARATE stages: the ledger's resume grain is (tier,
window_date), and an incremental pass touches a small pending slice.
For BULK builds use ``rollup.rollup_features_multi`` (all windowed tiers
from ONE shuffle of the turn stream).

Per pass, the Spark jobs are the data writes plus little bookkeeping:
one scan of the ledger's done units, a checksum read-back and ledger
append per pending tier, and one ``_metrics`` append in a ``finally``.
Turn and input-row counts and the series' window dates are observed on
the derive and rollup writes (``DataFrame.observe``, no extra job); a
tier's pending dates are those dates minus its done units, so a
finished tier starts no job (see plans.ledger for what a kill loses).
"""

from __future__ import annotations

import time
from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import compression_metrics, encode_chunks
from cesium_spark.functions.registry import DEFAULT_FEATS
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.rollup import rollup_features
from cesium_spark.plans.ledger import Ledger, StageTimer, content_checksum, new_run_id
from cesium_spark.sources.table_io import TableIO

FEATURE_TABLE = "features_{tier}"
CHUNKS_TABLE = "chunks"
SERIES_TABLE = "series"

# conv-tier (whole-conversation) Lomb–Scargle runs where the north_star
# wants it: over the full latency series, not minute slices
LS_TIER_FEATS = ["freq1_freq", "freq1_amplitude1", "freq1_signif",
                 "period_fast", "freq_varrat", "linear_trend"]


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
            seen_turns, seen_dates = Observation("turns"), Observation("dates")
            series = derive_series(
                transcripts.observe(seen_turns, F.count("*").alias("n")))
            io.write(series.withColumn("window_date", F.col("ts").cast("date"))
                     .observe(seen_dates, F.collect_set("window_date").alias("d")),
                     SERIES_TABLE, mode="overwrite", partition_by=["window_date"])
            series = io.read(SERIES_TABLE)
        report["stages"]["derive"] = st.wall_ms
        report["turns"] = turns = seen_turns.get["n"]
        if fail_after_stage == "derive":
            raise RuntimeError("injected failure after derive")

        series_dates = sorted(seen_dates.get["d"])
        done = ledger.done_units()
        for tier in tiers:
            stage = f"rollup_{tier}"
            with StageTimer(ledger, run_id, stage) as st:
                dates = [d for d in series_dates if (stage, tier, d) not in done]
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
                io.merge_overwrite_partitions(out, table,
                                              partition_by=["window_date"])

                written = io.read(table).where(F.col("window_date").isin(dates))
                per_unit = (
                    content_checksum(
                        written,
                        ["conv_id", "channel", "window_start", "feature", "value"])
                    .groupBy("window_date")
                    .agg(F.count("*").alias("out_count"),
                         F.sum("row_crc").alias("checksum"))
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
                chunks = encode_chunks(series)
                io.write(chunks, CHUNKS_TABLE, mode="overwrite")
                # measured bytes/point per blob kind → _metrics: retention
                # sizing runs on the measured ratio, and the number guards
                # the codec's Gorilla window-reuse divergence (see
                # codecs.chunks.compression_metrics)
                comp = compression_metrics(io.read(CHUNKS_TABLE)).collect()
                report["compression"] = {}
                for r in comp:
                    ledger.record_metric(run_id, stage,
                                         f"bytes_per_point_{r['kind']}",
                                         r["bytes_per_point"])
                    report["compression"][r["kind"]] = {
                        "bytes_per_point": r["bytes_per_point"],
                        "ratio_vs_raw": r["ratio_vs_raw"]}
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
    once their rollups exist (SURVEY.md §2.9). Parquet backend rewrites;
    Iceberg would DELETE FROM … WHERE / drop partitions."""
    return io.delete_where(SERIES_TABLE, f"window_date < date'{watermark_date}'")
