"""Resume/lineage tests (SURVEY.md §5.2 layer 5): kill after partial
materialization → rerun → identical final tables; ledger shows completed
partitions skipped."""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.plans.ledger import Ledger, content_checksum
from cesium_spark.plans.pipeline import expire_raw, run_pipeline
from cesium_spark.sources.table_io import TableIO

FEATS = ["mean", "std", "n_epochs", "amplitude"]


def _table_checksum(io, name):
    df = io.read(name)
    return (content_checksum(
        df, ["conv_id", "channel", "window_start", "feature", "value"])
        .agg(F.sum("row_crc")).collect()[0][0], df.count())


def test_crash_resume_identical_output(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t1"))

    # full uninterrupted run → golden checksums
    io_ref = TableIO(spark, str(tmp_path / "ref"))
    run_pipeline(io_ref, tiny_transcripts, tiers=("1h", "1d"),
                 features=FEATS, compress=False)
    golden = {t: _table_checksum(io_ref, f"features_{t}") for t in ("1h", "1d")}

    # crashed run: dies after the 1h tier
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS,
                     compress=False, fail_after_stage="rollup_1h")
    assert io.exists("features_1h")
    assert not io.exists("features_1d")

    # resumed run: must skip 1h (ledger) and produce identical tables
    report = run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"),
                          features=FEATS, compress=False)
    assert report["stages"]["rollup_1h"] == {"skipped": True}
    for t in ("1h", "1d"):
        assert _table_checksum(io, f"features_{t}") == golden[t]


def test_ledger_lineage_per_partition(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t2"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    ledger = Ledger(io)
    entries = ledger.entries().where("stage = 'rollup_1d'").toPandas()
    # one lineage row per (tier, window_date) work unit, with counts
    assert len(entries) > 1
    assert (entries["state"] == "done").all()
    assert (entries["out_count"] > 0).all()
    assert entries["checksum"].notna().all()
    # metrics recorded
    m = ledger.metrics().toPandas()
    assert {"turns", "turns_per_sec"} <= set(m["metric"])


def test_rerun_is_noop_and_idempotent(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t3"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    before = _table_checksum(io, "features_1d")
    report = run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                          compress=False)
    assert report["stages"]["rollup_1d"] == {"skipped": True}
    assert _table_checksum(io, "features_1d") == before


def test_retention_expiry(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t4"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    total = io.read("series").count()
    cutoff = (io.read("series").agg(F.max("window_date")).collect()[0][0])
    deleted = expire_raw(io, str(cutoff))
    assert 0 < deleted < total
    assert io.read("series").count() == total - deleted
    # rollups survive expiry
    assert io.read("features_1d").count() > 0


def test_pipeline_records_compression_metrics(spark, tiny_transcripts,
                                              tmp_path):
    """The compress stage writes measured bytes/point per blob kind
    into _metrics (retention sizing reads the ratio, not a guess)."""
    io = TableIO(spark, str(tmp_path / "cm"))
    report = run_pipeline(io, tiny_transcripts, tiers=("1d",),
                          features=["mean"], compress=True)
    assert set(report["compression"]) == {"ts", "idx", "y"}
    assert all(v["bytes_per_point"] > 0
               for v in report["compression"].values())
    ledger = Ledger(io)
    rows = (ledger.metrics()
            .where(F.col("metric").startswith("bytes_per_point_"))
            .toPandas())
    assert set(rows["metric"]) == {"bytes_per_point_ts",
                                   "bytes_per_point_idx",
                                   "bytes_per_point_y"}
    got = dict(zip(rows["metric"], rows["value"]))
    for kind, rep in report["compression"].items():
        assert got[f"bytes_per_point_{kind}"] == rep["bytes_per_point"]


# Spark jobs one resumed pass may start (rollup_1h done, rollup_1d and
# compress pending): the fingerprint job, one ledger scan, the data
# writes, the 1d checksum read-back and ledger appends, and one
# _metrics append (22 today; 41 when every metric was its own append
# and every count its own job). A CI guard so bookkeeping jobs cannot
# creep back.
RESUME_JOB_BUDGET = 24

# Spark jobs a pass over an unchanged, complete root may start: the
# fingerprint job, one ledger scan and the _metrics append (7 today,
# counting the schema reads of _inputs and _ledger and one job per
# shuffle stage of the fingerprint aggregate).
RERUN_JOB_BUDGET = 8


@pytest.fixture(scope="module")
def crashed_root(spark, tiny_transcripts, tmp_path_factory):
    """A table root left by a pass that died after rollup_1h."""
    io = TableIO(spark, str(tmp_path_factory.mktemp("crashed") / "root"))
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS,
                     fail_after_stage="rollup_1h")
    return io.root


def _restore(snapshot, root):
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(snapshot, root)


def test_crashed_pass_flushes_metrics(spark, crashed_root):
    """_metrics is written once per pass, from a finally: a pass that
    raises still records the wall time of every stage it ran."""
    m = Ledger(TableIO(spark, crashed_root)).metrics().toPandas()
    walls = set(m.loc[m["metric"] == "wall_ms", "stage"])
    assert {"derive", "rollup_1h"} <= walls
    assert "rollup_1d" not in walls


def test_resumed_pass_job_budget(spark, tiny_transcripts, crashed_root,
                                 tmp_path):
    root = str(tmp_path / "root")
    _restore(crashed_root, root)
    sc = spark.sparkContext
    group = f"resume-budget-{tmp_path.name}"
    sc.setJobGroup(group, "resumed run_pipeline pass")
    try:
        report = run_pipeline(TableIO(spark, root), tiny_transcripts,
                              tiers=("1h", "1d"), features=FEATS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert report["stages"]["rollup_1h"] == {"skipped": True}
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= RESUME_JOB_BUDGET


def test_second_pass_over_replaced_root(spark, tiny_transcripts,
                                        crashed_root, tmp_path):
    """Two resumed passes in one session, the crashed root copied back
    over the table root between them, no clearCache: the second pass
    must plan from the files now on disk, not from a frame cached by
    the first pass (that read fails with FILE_NOT_EXIST)."""
    root = str(tmp_path / "root")
    sums = []
    for _ in range(2):
        _restore(crashed_root, root)
        io = TableIO(spark, root)
        report = run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"),
                              features=FEATS, compress=False)
        assert report["stages"]["rollup_1h"] == {"skipped": True}
        sums.append(_table_checksum(io, "features_1d"))
    assert sums[0] == sums[1]


@pytest.fixture(scope="module")
def complete_root(spark, tiny_transcripts, tmp_path_factory):
    """A table root left by one uninterrupted pass."""
    io = TableIO(spark, str(tmp_path_factory.mktemp("complete") / "root"))
    run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS)
    return io.root


def _files(root, tables):
    return {(p.relative_to(root).as_posix(), p.stat().st_mtime_ns)
            for t in tables for p in (Path(root) / t).rglob("*") if p.is_file()}


def test_unchanged_input_rewrites_nothing(spark, tiny_transcripts,
                                          complete_root, tmp_path):
    """A second pass over the same input: no file under series, chunks
    or _inputs is created or rewritten, every rollup and the compress
    unit are skipped, and the pass appends nothing to the ledger."""
    root = str(tmp_path / "root")
    _restore(complete_root, root)
    tables = ("series", "chunks", "_inputs")
    before = _files(root, tables)
    sc = spark.sparkContext
    group = f"rerun-budget-{tmp_path.name}"
    sc.setJobGroup(group, "unchanged run_pipeline pass")
    try:
        report = run_pipeline(TableIO(spark, root), tiny_transcripts,
                              tiers=("1h", "1d"), features=FEATS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert _files(root, tables) == before
    assert report["stages"]["rollup_1h"] == {"skipped": True}
    assert report["stages"]["rollup_1d"] == {"skipped": True}
    assert "compression" not in report          # compress unit skipped
    assert isinstance(report["stages"]["compress"], int)
    assert isinstance(report["stages"]["derive"], int)
    assert report["turns"] == tiny_transcripts.count()
    entries = Ledger(TableIO(spark, root)).entries()
    assert entries.where(F.col("run_id") == report["run_id"]).count() == 0
    assert 0 < jobs <= RERUN_JOB_BUDGET


def test_rerun_after_expiry_keeps_dates_expired(spark, tiny_transcripts,
                                                complete_root, tmp_path):
    root = str(tmp_path / "root")
    _restore(complete_root, root)
    io = TableIO(spark, root)
    cutoff = io.read("series").agg(F.max("window_date")).collect()[0][0]
    expire_raw(io, str(cutoff))
    left = io.read("series").count()
    # expiry keeps series partitioned by date, so later passes can
    # rewrite single dates of it
    top = [p.name for p in Path(root, "series").iterdir()
           if not p.name.startswith((".", "_"))]
    assert top and all(n.startswith("window_date=") for n in top)
    run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS)
    series = io.read("series")
    assert series.count() == left
    assert series.agg(F.min("window_date")).collect()[0][0] == cutoff


def _sum(df, cols):
    return tuple(content_checksum(df, cols)
                 .agg(F.sum("row_crc"), F.count("*")).collect()[0])


FEATURE_COLS = ["conv_id", "channel", "window_start", "feature", "value"]
SERIES_COLS = ["conv_id", "channel", "turn_idx", "ts", "y"]
CHUNK_COLS = ["conv_id", "channel", "chunk_idx", "n", "ts_min", "ts_max", "crc"]


def test_edit_after_expiry_keeps_expired_dates(spark, tiny_transcripts_pdf,
                                               tmp_path):
    """After expire_raw, a pass in which a conversation spanning the
    watermark changed rewrites only dates from the watermark on: every
    feature before it, the other conversations' series rows and every
    chunk holding a point before it stay as they were; from the
    watermark on, series and features equal a one-shot build of the
    edited input."""
    pdf = tiny_transcripts_pdf
    dates = sorted(pdf["ts"].dt.date.unique())
    cutoff = dates[len(dates) // 2]
    # conv gets a late turn two days after the cutoff, so it spans it
    conv = pdf.loc[pdf["ts"].dt.date < cutoff, "conv_id"].iloc[0]
    late = pdf[pdf["conv_id"] == conv].tail(1).copy()
    late["turn_idx"] += 1
    late["ts"] = pd.Timestamp(cutoff) + pd.Timedelta(days=2, hours=3)
    base = pd.concat([pdf, late], ignore_index=True)
    edited = base.copy()
    row = edited.index[edited["conv_id"] == conv][0]
    edited.loc[row, "text"] = edited.loc[row, "text"] + " edited"

    io = TableIO(spark, str(tmp_path / "root"))
    run_pipeline(io, spark.createDataFrame(base), tiers=("1h", "1d"),
                 features=FEATS)
    before_wm = F.col("window_date") < F.lit(cutoff)
    others = F.col("conv_id") != conv

    def frozen():
        return ({t: _sum(io.read(f"features_{t}").where(before_wm), FEATURE_COLS)
                 for t in ("1h", "1d")},
                _sum(io.read("series").where(others), SERIES_COLS),
                _sum(io.read("chunks").where(others), CHUNK_COLS),
                # conv's one chunk per channel starts before the watermark
                _sum(io.read("chunks").where(~others), CHUNK_COLS))

    expire_raw(io, str(cutoff))
    before = frozen()
    report = run_pipeline(io, spark.createDataFrame(edited),
                          tiers=("1h", "1d"), features=FEATS)
    assert "compression" in report      # compress ran, and kept the chunks
    assert frozen() == before
    assert io.read("series").agg(F.min("window_date")).collect()[0][0] == cutoff
    stale = (Ledger(io).entries()
             .where((F.col("run_id") == report["run_id"])
                    & (F.col("state") == "stale")
                    & F.col("window_date").isNotNull()))
    assert stale.count() > 0
    assert stale.where(before_wm).count() == 0

    ref = TableIO(spark, str(tmp_path / "ref"))
    run_pipeline(ref, spark.createDataFrame(edited), tiers=("1h", "1d"),
                 features=FEATS, compress=False)
    after_wm = F.col("window_date") >= F.lit(cutoff)
    for name, cols in [("series", SERIES_COLS), ("features_1h", FEATURE_COLS),
                       ("features_1d", FEATURE_COLS)]:
        assert (_sum(io.read(name).where(after_wm), cols)
                == _sum(ref.read(name).where(after_wm), cols)), name
