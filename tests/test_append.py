"""Append and late data through ``run_pipeline``: two
conversation-complete batches that share dates, the second also
carrying one first-batch conversation in full with a late turn added,
must leave the same ``series``, ``features_{tier}`` and ``chunks`` as a
one-shot build of the final conversations — also when the second batch
dies after derive and is resumed."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.plans import pipeline
from cesium_spark.plans.ledger import Ledger, content_checksum
from cesium_spark.plans.pipeline import SERIES_TABLE, run_pipeline
from cesium_spark.sources.table_io import TableIO

TIERS = ("1h", "1d")
FEATS = ["mean", "std", "n_epochs", "amplitude"]
LATE = "conv00000000"   # batch 1; its late turn lands a day later


def _checksums(io: TableIO) -> dict:
    cols = {
        "series": ["conv_id", "channel", "turn_idx", "ts", "t", "y", "e",
                   "window_date"],
        "chunks": ["conv_id", "channel", "chunk_idx", "n", "ts_min", "ts_max",
                   "crc"],
        **{f"features_{t}": ["conv_id", "channel", "window_start", "feature",
                             "value", "window_date"] for t in TIERS},
    }
    return {name: tuple(content_checksum(io.read(name), c)
                        .agg(F.sum("row_crc"), F.count("*")).collect()[0])
            for name, c in cols.items()}


@pytest.fixture(scope="module")
def batches(tiny_transcripts_pdf):
    pdf = tiny_transcripts_pdf
    idx = pdf["conv_id"].str[-8:].astype(int)
    b1 = pdf[idx % 2 == 0]
    late = pdf[pdf["conv_id"] == LATE].tail(1).copy()
    late["turn_idx"] += 1
    late["ts"] += pd.Timedelta(days=1)
    conv = pd.concat([pdf[pdf["conv_id"] == LATE], late])
    b2 = pd.concat([pdf[idx % 2 == 1], conv], ignore_index=True)
    final = pd.concat([b1[b1["conv_id"] != LATE], b2], ignore_index=True)
    # the batches share dates, and the late turn moves LATE to one of them
    d1, d2 = set(b1["ts"].dt.date), set(b2["ts"].dt.date)
    assert d1 & d2 and late["ts"].dt.date.iloc[0] in d1
    return b1, b2, final


@pytest.fixture(scope="module")
def one_shot(spark, batches, tmp_path_factory):
    io = TableIO(spark, str(tmp_path_factory.mktemp("oneshot") / "root"))
    run_pipeline(io, spark.createDataFrame(batches[2]), tiers=TIERS,
                 features=FEATS)
    return _checksums(io)


def test_two_batches_equal_one_shot(spark, batches, one_shot, tmp_path):
    io = TableIO(spark, str(tmp_path / "root"))
    for b in batches[:2]:
        run_pipeline(io, spark.createDataFrame(b), tiers=TIERS, features=FEATS)
    assert _checksums(io) == one_shot


def test_second_batch_crash_after_derive_resumes(spark, batches, one_shot,
                                                 tmp_path):
    io = TableIO(spark, str(tmp_path / "root"))
    b1, b2 = (spark.createDataFrame(b) for b in batches[:2])
    run_pipeline(io, b1, tiers=TIERS, features=FEATS)
    with pytest.raises(RuntimeError, match="injected failure after derive"):
        run_pipeline(io, b2, tiers=TIERS, features=FEATS,
                     fail_after_stage="derive")
    report = run_pipeline(io, b2, tiers=TIERS, features=FEATS)
    assert _checksums(io) == one_shot
    # the crashed pass already derived batch 2: the resumed pass marks
    # nothing stale, and _inputs holds every final conversation once
    mine = Ledger(io).entries().where(F.col("run_id") == report["run_id"])
    assert mine.where(F.col("state") == "stale").count() == 0
    assert io.read("_inputs").count() == batches[2]["conv_id"].nunique()


@pytest.mark.parametrize("first", [False, True], ids=["later", "first"])
def test_kill_between_series_and_inputs(spark, tiny_transcripts_pdf,
                                        tmp_path, monkeypatch, first):
    """A pass dies after it rewrote ``series`` but before it recorded
    the new fingerprints, and the conversation changes again before the
    next pass: that pass must also clear the dates only the killed pass
    wrote, and end equal to a one-shot build. The killed pass is a
    root's first (no ``_inputs`` yet) or a later one."""
    pdf = tiny_transcripts_pdf
    conv = "conv00000003"
    moved = pdf.copy()
    mine = moved["conv_id"] == conv
    moved.loc[mine, "ts"] += pd.Timedelta(days=40)
    assert set(moved.loc[mine, "ts"].dt.date).isdisjoint(pdf["ts"].dt.date)
    edited = pdf.copy()
    row = edited.index[edited["conv_id"] == conv][2]
    edited.loc[row, "text"] = edited.loc[row, "text"] + " again"

    ref = TableIO(spark, str(tmp_path / "ref"))
    run_pipeline(ref, spark.createDataFrame(edited), tiers=TIERS,
                 features=FEATS)
    io = TableIO(spark, str(tmp_path / "root"))
    if not first:
        run_pipeline(io, spark.createDataFrame(pdf), tiers=TIERS,
                     features=FEATS)

    overwrite = pipeline._overwrite_dates

    def killed(io_, df, table, dates):
        out = overwrite(io_, df, table, dates)
        if table == SERIES_TABLE:
            raise RuntimeError("killed after series")
        return out

    monkeypatch.setattr(pipeline, "_overwrite_dates", killed)
    with pytest.raises(RuntimeError, match="killed after series"):
        run_pipeline(io, spark.createDataFrame(moved), tiers=TIERS,
                     features=FEATS)
    monkeypatch.undo()
    run_pipeline(io, spark.createDataFrame(edited), tiers=TIERS,
                 features=FEATS)
    assert _checksums(io) == _checksums(ref)
