"""Streaming seam (SURVEY.md §2.10): the readStream moments twin must
match the batch rollup_moments on finalized windows, incrementally,
across two availableNow passes sharing one checkpoint."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cesium_spark.operators.rollup import rollup_moments
from cesium_spark.sources.table_io import TableIO
from cesium_spark.streaming.window_delta import (
    stream_rollup_moments,
    stream_to_table,
)

SERIES_SCHEMA = ("conv_id string, channel string, turn_idx int, "
                 "ts timestamp, t double, y double, e double")


def _series_pdf(day: int, n: int = 200) -> pd.DataFrame:
    ts = (pd.Timestamp("2024-01-01", tz=None)
          + pd.to_timedelta(day, "D")
          + pd.to_timedelta(np.arange(n) * 97, "s"))
    return pd.DataFrame({
        "conv_id": ["conv%02d" % (i % 5) for i in range(n)],
        "channel": "value",
        "turn_idx": np.arange(n, dtype=np.int32),
        "ts": ts,
        "t": np.arange(n, dtype=np.float64),
        "y": np.sin(np.arange(n) * 0.7 + day),
        "e": 1e-4,
    })


def test_stream_moments_schema_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(_series_pdf(0))
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    sm = stream_rollup_moments(stream, "1h")
    bm = rollup_moments(spark.read.parquet(src), "1h")
    assert sm.schema == bm.schema  # downstream fold/derive agnostic


def test_stream_finalized_windows_equal_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "tables")
    io = TableIO(spark, root)
    day0 = spark.createDataFrame(_series_pdf(0))
    day1 = spark.createDataFrame(_series_pdf(1))

    # pass 1: day-0 data (no window can finalize yet)
    day0.write.mode("append").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = stream_to_table(stream_rollup_moments(stream, "1h", "2 hours"),
                        io, "stream_moments", ckpt)
    q.awaitTermination(120)

    # pass 2: day-1 data advances the watermark past every day-0 window
    day1.write.mode("append").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = stream_to_table(stream_rollup_moments(stream, "1h", "2 hours"),
                        io, "stream_moments", ckpt)
    q.awaitTermination(120)

    got = (io.read("stream_moments")
           .where(F.col("window_start") < "2024-01-02")
           .select("conv_id", "channel", "window_start", "n", "y_min",
                   "y_max", "y_sum", "t_min", "t_max")
           .toPandas()
           .sort_values(["conv_id", "channel", "window_start"])
           .reset_index(drop=True))
    exp = (rollup_moments(day0, "1h")
           .select("conv_id", "channel", "window_start", "n", "y_min",
                   "y_max", "y_sum", "t_min", "t_max")
           .toPandas()
           .sort_values(["conv_id", "channel", "window_start"])
           .reset_index(drop=True))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got[["conv_id", "channel", "n"]], exp[["conv_id", "channel", "n"]],
        check_dtype=False)
    for c in ("y_min", "y_max", "t_min", "t_max"):
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())
    np.testing.assert_allclose(got["y_sum"], exp["y_sum"], rtol=1e-12)


def test_stream_rejects_conv_tier(spark, tmp_path):
    src = str(tmp_path / "s2")
    spark.createDataFrame(_series_pdf(0)).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    with pytest.raises(ValueError):
        stream_rollup_moments(stream, "conv")


def test_stream_late_data_within_watermark(spark, tmp_path):
    """Late (out-of-order) rows that arrive while their window is still
    open — inside the watermark — must land in the finalized windows:
    day-0 windows must equal the batch oracle over the FULL day-0 data
    even though ~a third of the last 90 minutes arrived one pass late."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "tables")
    io = TableIO(spark, root)
    day0 = _series_pdf(0)
    day1 = _series_pdf(1)

    cutoff = day0["ts"].max() - pd.Timedelta("90 minutes")
    is_late = (day0["ts"] >= cutoff) & (np.arange(len(day0)) % 3 == 0)
    assert is_late.sum() > 10
    on_time = spark.createDataFrame(day0[~is_late])
    late = spark.createDataFrame(day0[is_late])

    # pass 1: on-time rows; watermark = max(ts) - 2h < cutoff, so the
    # late rows' windows are all still open
    on_time.write.mode("append").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = stream_to_table(stream_rollup_moments(stream, "1h", "2 hours"),
                        io, "stream_moments", ckpt)
    assert q.awaitTermination(120)

    # pass 2: the late batch + day-1 rows that push the watermark past
    # every day-0 window, forcing finalization WITH the late rows
    late.write.mode("append").parquet(src)
    spark.createDataFrame(day1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = stream_to_table(stream_rollup_moments(stream, "1h", "2 hours"),
                        io, "stream_moments", ckpt)
    assert q.awaitTermination(120)

    got = (io.read("stream_moments")
           .where(F.col("window_start") < "2024-01-02")
           .select("conv_id", "channel", "window_start", "n", "y_min",
                   "y_max", "y_sum")
           .toPandas()
           .sort_values(["conv_id", "channel", "window_start"])
           .reset_index(drop=True))
    exp = (rollup_moments(spark.createDataFrame(day0), "1h")
           .select("conv_id", "channel", "window_start", "n", "y_min",
                   "y_max", "y_sum")
           .toPandas()
           .sort_values(["conv_id", "channel", "window_start"])
           .reset_index(drop=True))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(
        got[["conv_id", "channel", "n"]], exp[["conv_id", "channel", "n"]],
        check_dtype=False)
    for c in ("y_min", "y_max"):
        np.testing.assert_array_equal(got[c].to_numpy(), exp[c].to_numpy())
    np.testing.assert_allclose(got["y_sum"], exp["y_sum"], rtol=1e-12)


def test_stateful_totals_cross_batch_state(spark, tmp_path):
    """applyInPandasWithState: two single-file micro-batches; the
    second batch's snapshot for a key seen in both must be CUMULATIVE
    (state crossed the batch boundary), and the max-n snapshot per key
    must equal a one-pass batch aggregate exactly."""
    from cesium_spark.streaming import stateful

    src = str(tmp_path / "src")
    pdf = _series_pdf(0)
    half = len(pdf) // 2
    s1 = spark.createDataFrame(pdf.iloc[:half])
    s2 = spark.createDataFrame(pdf.iloc[half:])
    s1.coalesce(1).write.mode("append").parquet(src)
    s2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(SERIES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stateful.totals_to_table(
        stateful.stateful_running_totals(stream),
        str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert q.awaitTermination(240)

    out = spark.read.parquet(str(tmp_path / "out")).toPandas()
    # every conv appears in both halves → exactly 2 snapshots per key
    assert (out.groupby(["conv_id", "channel"]).size() == 2).all()
    final = (out.sort_values("n").groupby(["conv_id", "channel"])
             .tail(1).set_index("conv_id"))
    exp = pdf.groupby("conv_id")["y"].agg(["count", "min", "max"])
    for cid, row in exp.iterrows():
        got = final.loc[cid]
        assert got["n"] == row["count"]
        assert got["y_min"] == row["min"]   # min/max exact (order-free)
        assert got["y_max"] == row["max"]
        assert got["y_sum"] == pytest.approx(
            pdf[pdf.conv_id == cid]["y"].sum(), rel=1e-12)


def test_stateful_event_timeout_evicts_idle_keys(spark, tmp_path):
    """EventTimeTimeout eviction (deterministic — driven by the data's
    own clock): a key idle for idle_ms of EVENT time once the watermark
    passes is emitted with is_final=true carrying its closed totals and
    REMOVED; its next appearance restarts from zero. Keys with recent
    activity are never finalized. This is the unbounded-key-space knob:
    state is O(active keys), not O(all keys ever)."""
    from cesium_spark.streaming import stateful

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    from datetime import datetime

    schema = "conv_id string, channel string, ts timestamp, y double"

    def T(s):
        return datetime.fromisoformat(s)

    def run_pass(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = stateful.totals_to_table(
            stateful.stateful_running_totals(
                stream, timeout="event", idle_ms=3_600_000,
                watermark_delay="30 minutes"),
            out, ckpt)
        assert q.awaitTermination(240)

    # pass 1: A and B active around 10:00 → timers ≈ 11:10 / 11:15
    run_pass([("A", "v", T("2024-01-01 10:00"), 1.0),
              ("A", "v", T("2024-01-01 10:10"), 3.0),
              ("B", "v", T("2024-01-01 10:15"), 10.0)])
    # pass 2: only B, at 13:00 → watermark 12:30 > A's timer → A evicted
    run_pass([("B", "v", T("2024-01-01 13:00"), 20.0)])
    # pass 3: A reappears at 16:00 → restarts from zero; watermark
    # 15:30 > B's 14:00 timer → B evicted with its closed total
    run_pass([("A", "v", T("2024-01-01 16:00"), 100.0)])

    res = spark.read.parquet(out).toPandas()
    a_final = res[(res.conv_id == "A") & res.is_final]
    assert len(a_final) == 1
    f = a_final.iloc[0]
    assert (f["n"], f["y_sum"], f["y_min"], f["y_max"]) == (2, 4.0, 1.0, 3.0)
    # epoch 2 restarted from zero: the reappearance snapshot sees only
    # the new row (epoch-1's n=2 snapshot also remains in the append
    # sink — readers separate epochs by the is_final markers)
    a_live = res[(res.conv_id == "A") & ~res.is_final]
    assert (1, 100.0) in set(zip(a_live["n"], a_live["y_sum"]))
    assert (3, 104.0) not in set(zip(a_live["n"], a_live["y_sum"]))
    # B was live across both its batches (cumulative), then closed at 30
    b = res[res.conv_id == "B"].sort_values(["is_final", "n"])
    assert list(b[~b.is_final]["n"]) == [1, 2]
    b_final = b[b.is_final]
    assert len(b_final) == 1
    assert (b_final.iloc[0]["n"], b_final.iloc[0]["y_sum"]) == (2, 30.0)


def test_stateful_processing_timeout_continuous_trigger(spark, tmp_path):
    """ProcessingTimeTimeout under a CONTINUOUS trigger (its supported
    mode — availableNow never terminates with processing-time timers,
    see module docstring): a key idle past idle_ms of wall time is
    evicted with its closed totals while the query keeps running."""
    import time

    from cesium_spark.streaming import stateful

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "conv_id string, channel string, y double"
    spark.createDataFrame([("A", "v", 1.0), ("A", "v", 3.0)],
                          schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stateful.stateful_running_totals(
            stream, timeout="processing", idle_ms=500)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(processingTime="250 milliseconds").start())
    try:
        # B arrives later; A then idles past 500 ms and must be evicted
        time.sleep(2)
        spark.createDataFrame([("B", "v", 10.0)], schema).coalesce(1) \
            .write.mode("append").parquet(src)
        deadline = time.time() + 90
        a_final = None
        while time.time() < deadline:
            try:
                res = spark.read.parquet(out).toPandas()
                fin = res[(res.conv_id == "A") & res.is_final]
                if len(fin):
                    a_final = fin.iloc[0]
                    break
            except Exception:
                pass  # sink dir not created yet
            time.sleep(1)
    finally:
        q.stop()
    assert a_final is not None, "idle key A was never evicted"
    assert (a_final["n"], a_final["y_sum"]) == (2, 4.0)


def test_stateful_timeout_bad_param(spark, tmp_path):
    from cesium_spark.streaming import stateful

    src = str(tmp_path / "src")
    spark.createDataFrame([("A", "v", 1.0)],
                          "conv_id string, channel string, y double") \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "conv_id string, channel string, y double").parquet(src)
    with pytest.raises(ValueError, match="'none'"):
        stateful.stateful_running_totals(stream, timeout="nope")


def test_stateful_totals_resume_from_checkpoint(spark, tmp_path):
    """State store + checkpoint: a second availableNow pass over a
    grown source resumes from committed offsets and keeps accumulating
    (the new file's snapshot builds on restored state)."""
    from cesium_spark.streaming import stateful

    src = str(tmp_path / "src")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    pdf = _series_pdf(0)
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = stateful.totals_to_table(
        stateful.stateful_running_totals(stream), out, ckpt)
    assert q.awaitTermination(240)

    pdf2 = _series_pdf(1)
    spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q2 = stateful.totals_to_table(
        stateful.stateful_running_totals(stream2), out, ckpt)
    assert q2.awaitTermination(240)

    res = spark.read.parquet(out).toPandas()
    both = pd.concat([pdf, pdf2])
    final = (res.sort_values("n").groupby(["conv_id", "channel"])
             .tail(1).set_index("conv_id"))
    exp = both.groupby("conv_id")["y"].agg(["count", "min", "max"])
    for cid, row in exp.iterrows():
        assert final.loc[cid, "n"] == row["count"]
        assert final.loc[cid, "y_min"] == row["min"]
        assert final.loc[cid, "y_max"] == row["max"]


# ---------------------------------------------------------------------------
# session windows (round-4 session 2)
# ---------------------------------------------------------------------------

def _run_sessions(spark, pdf, out_dir, gap="30 minutes",
                  watermark="1 second"):
    from cesium_spark.streaming.window_delta import stream_sessionize
    src, out, ckpt = (f"{out_dir}/src", f"{out_dir}/out", f"{out_dir}/ckpt")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    q = (stream_sessionize(stream, gap=gap, watermark=watermark)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("parquet").option("path", out)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_sessionize_boundaries(spark, tmp_path):
    """Session merge rule (measured): Δ <= gap merges — INCLUDING
    Δ == gap exactly — and only Δ > gap splits; session_end =
    last_ts + gap; append emits only watermark-closed sessions (the
    trailing session is withheld)."""
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    gap_s = 1800
    ts = [t0,
          t0 + pd.Timedelta(seconds=gap_s),          # Δ == gap: MERGES
          t0 + pd.Timedelta(seconds=2 * gap_s - 1),  # merges again
          # one second past the gap: NEW session
          t0 + pd.Timedelta(seconds=3 * gap_s),
          # far later: a third session that stays OPEN at the cutoff
          t0 + pd.Timedelta(days=2)]
    pdf = pd.DataFrame({
        "conv_id": "c1", "channel": "value",
        "turn_idx": np.arange(len(ts), dtype=np.int32),
        "ts": ts, "t": np.arange(len(ts), dtype=np.float64),
        "y": 1.0, "e": 1e-4,
    })
    rows = {tuple(r) for r in _run_sessions(
        spark, pdf, str(tmp_path)).select(
            "session_start", "session_end", "n_events").collect()}
    exp = {
        (t0.to_pydatetime(),
         (ts[2] + pd.Timedelta(seconds=gap_s)).to_pydatetime(), 3),
        (ts[3].to_pydatetime(),
         (ts[3] + pd.Timedelta(seconds=gap_s)).to_pydatetime(), 1),
    }
    # the day-2 session's end is NOT past the watermark cutoff
    # (max ts - 1 s), so append withholds it
    assert rows == exp


def test_stream_sessionize_matches_batch_lag_gap(spark, tmp_path):
    """Streaming session count per conv == batch lag-gap sessionizer
    (> gap ⇒ new session) on a multi-conv corpus, for every session
    closed by the watermark."""
    rng = np.random.default_rng(5)
    n = 400
    ts0 = pd.Timestamp("2024-01-01").value
    gaps = rng.choice([60, 300, 2400, 7200], size=n)
    pdf = pd.DataFrame({
        "conv_id": [f"c{i % 7}" for i in range(n)],
        "channel": "value",
        "turn_idx": np.arange(n, dtype=np.int32),
        "ts": pd.to_datetime(ts0 + np.cumsum(gaps) * 10 ** 9),
        "t": np.arange(n, dtype=np.float64),
        "y": 1.0, "e": 1e-4,
    })
    got = _run_sessions(spark, pdf, str(tmp_path), watermark="1 second")
    cutoff = pdf.groupby("conv_id")["ts"].max().max() - pd.Timedelta(seconds=1)

    sdf = pdf.sort_values(["conv_id", "ts"])
    exp_rows = []
    for cid, g in sdf.groupby("conv_id"):
        t = g["ts"].to_numpy()
        new = np.ones(len(t), dtype=bool)
        new[1:] = (t[1:] - t[:-1]) > np.timedelta64(1800, "s")
        sess_id = np.cumsum(new)
        for s in np.unique(sess_id):
            m = t[sess_id == s]
            end = pd.Timestamp(m.max()) + pd.Timedelta(seconds=1800)
            if end <= cutoff:
                exp_rows.append((cid, pd.Timestamp(m.min()), end, int(len(m))))
    got_rows = {(r["conv_id"], pd.Timestamp(r["session_start"]),
                 pd.Timestamp(r["session_end"]), r["n_events"])
                for r in got.collect()}
    assert got_rows == set(exp_rows)


# ---------------------------------------------------------------------------
# stream–stream interval join
# ---------------------------------------------------------------------------


def _run_sjoin(spark, tmp_path, turns_rows, alert_rows, span="1 hour"):
    import os

    from cesium_spark.streaming.window_delta import stream_interval_join
    base = str(tmp_path / "sjoin")
    os.makedirs(f"{base}/t")
    os.makedirs(f"{base}/a")
    t_schema = "conv_id string, turn_idx int, ts timestamp"
    a_schema = "conv_id string, alert_id int, alert_ts timestamp"
    spark.createDataFrame(turns_rows, t_schema) \
        .coalesce(1).write.mode("append").parquet(f"{base}/t")
    spark.createDataFrame(alert_rows, a_schema) \
        .coalesce(1).write.mode("append").parquet(f"{base}/a")
    out = stream_interval_join(
        spark.readStream.schema(t_schema).parquet(f"{base}/t"),
        spark.readStream.schema(a_schema).parquet(f"{base}/a"),
        span=span)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/ckpt")
         .format("parquet").option("path", f"{base}/out")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return spark.read.parquet(f"{base}/out").toPandas()


def test_stream_join_pairs_and_strict_lower_edge(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    turns = [("a", 0, m(0)), ("a", 1, m(10)), ("a", 2, m(59)),
             ("a", 3, m(61)),            # outside 1h span
             ("b", 0, m(5))]             # other conv: must not match
    alerts = [("a", 100, m(0))]
    got = _run_sjoin(spark, tmp_path, turns, alerts)
    # strict >: the turn AT alert_ts (turn 0) is excluded; ≤ keeps m(59)
    assert sorted(got["turn_idx"].tolist()) == [1, 2]
    assert set(got["conv_id"]) == {"a"}


def test_stream_join_equals_batch_join(spark, tmp_path):
    rng = np.random.default_rng(13)
    t0 = dt.datetime(2024, 1, 1)
    turns = [(f"c{int(i % 5)}", int(i),
              t0 + dt.timedelta(minutes=int(rng.integers(0, 600))))
             for i in range(200)]
    alerts = [(f"c{int(i % 5)}", int(i),
               t0 + dt.timedelta(minutes=int(rng.integers(0, 600))))
              for i in range(20)]
    got = _run_sjoin(spark, tmp_path, turns, alerts, span="30 minutes")
    tdf = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, ts timestamp")
    adf = spark.createDataFrame(
        alerts, "conv_id string, alert_id int, alert_ts timestamp")
    exp = tdf.join(
        adf, (tdf.conv_id == adf.conv_id)
        & (tdf.ts > adf.alert_ts)
        & (tdf.ts <= adf.alert_ts + F.expr("INTERVAL 30 minutes")),
        "inner").select(tdf.conv_id, "turn_idx", "alert_id").toPandas()
    key = ["conv_id", "turn_idx", "alert_id"]
    got_s = got[key].sort_values(key).reset_index(drop=True)
    exp_s = exp[key].sort_values(key).reset_index(drop=True)
    assert got_s.equals(exp_s)
    assert len(got_s)  # non-trivial


def test_stream_join_validation(spark, tmp_path):
    from cesium_spark.streaming.window_delta import stream_interval_join
    df = spark.createDataFrame([("a", dt.datetime(2024, 1, 1))],
                               "conv_id string, ts timestamp")
    with pytest.raises(ValueError, match="distinct"):
        stream_interval_join(df, df, turn_ts="ts", alert_ts="ts")


def test_stream_static_enrich_equals_batch_and_broadcasts(spark, tmp_path):
    """Enriched windowed counts from the stream equal the batch
    groupBy over join; the static side is a BroadcastExchange (no
    stream-side shuffle added by the join); unmatched events drop."""
    from cesium_spark.streaming.window_delta import (
        stream_enriched_counts,
        stream_static_enrich,
    )

    pdf = _series_pdf(0, 300)
    pdf["user_id"] = (np.arange(300) % 7).astype(np.int64)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    dim = spark.createDataFrame(pd.DataFrame({
        "user_id": np.arange(5, dtype=np.int64),   # ids 5,6 unmatched
        "segment": ["s%d" % (i % 2) for i in range(5)]}))

    stream = spark.readStream.schema(
        SERIES_SCHEMA + ", user_id bigint").parquet(src)
    q = (stream_enriched_counts(stream, dim, on="user_id",
                                attr="segment", tier="1h",
                                watermark="1 hour")
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .format("parquet").option("path", str(tmp_path / "out"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = (spark.read.parquet(str(tmp_path / "out"))
           .orderBy("segment", "window_start").toPandas())

    batch = spark.createDataFrame(pdf)
    cutoff = pdf.ts.max() - pd.Timedelta(hours=1)
    exp = (batch.join(dim, "user_id")
           .groupBy("segment", F.window("ts", "1 hour"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("y_sum"),
                F.min("y").alias("y_min"), F.max("y").alias("y_max"))
           .select("segment", F.col("window.start").alias("window_start"),
                   "n", "y_sum", "y_min", "y_max")
           .where(F.col("window_start") + F.expr("INTERVAL 1 HOUR")
                  <= F.lit(cutoff))
           .orderBy("segment", "window_start").toPandas())
    assert len(got) == len(exp) > 0
    assert (got.n.to_numpy() == exp.n.to_numpy()).all()
    assert np.allclose(got.y_sum.to_numpy(), exp.y_sum.to_numpy(),
                       atol=1e-12)
    # unmatched user_ids (5, 6) contributed nothing: the enrich drops
    # them (inner-join semantics, stated in the docstring)
    enriched = stream_static_enrich(batch, dim, "user_id")
    assert enriched.count() == int((pdf.user_id < 5).sum())

    # plan shape: the static side broadcasts
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_disorder_stats_measures_planted_lateness(spark):
    """A hand-built arrival permutation yields exactly computable
    lateness; in-order keys report all-zero."""
    import re

    from cesium_spark.streaming.window_delta import disorder_stats

    rows = []
    # key 'o': event times 0,10,20,30 arrive in order -> zero late
    for i, t in enumerate([0.0, 10.0, 20.0, 30.0]):
        rows.append(("o", t, float(i)))
    # key 'd': event time 10 arrives LAST (after 20 and 30):
    # lateness of that row = 30 - 10 = 20; others 0
    arrivals = {0.0: 0, 20.0: 1, 30.0: 2, 10.0: 3}
    for t, a in arrivals.items():
        rows.append(("d", t, float(a)))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["conv_id", "t", "arrival"]))
    out = {r.conv_id: r for r in
           disorder_stats(df, arrival_col="arrival").collect()}
    o = out["o"]
    assert (o.n, o.n_late, o.max_late_s, o.late_frac) == (4, 0, 0.0, 0.0)
    d = out["d"]
    assert (d.n, d.n_late, d.max_late_s) == (4, 1, 20.0)
    assert d.late_frac == 0.25
    # the measured max IS the zero-loss watermark: a stream with this
    # delay and watermark >= 20s drops nothing
    plan = disorder_stats(df, "arrival")._jdf.queryExecution()\
        .executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_stateful_counter_rate_crosses_batches(spark, tmp_path):
    """r5 streaming PromQL rate(): 3 turn-RANGE micro-batches; the
    boundary pair's increment must flow through the one-int64 carry,
    and the per-bucket partial SUMS must equal the batch
    counter_rate(grid=100) exactly (mergeable-fold contract). A
    planted reset inside batch 2 must be counted."""
    from cesium_spark.operators.rates import counter_rate
    from cesium_spark.streaming import stateful

    n = 90
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.arange(n) * 600, "s")
    y = np.cumsum(np.tile([0.25, 0.5, 1.0], n // 3))
    y[60:] = np.round(y[60:] - y[59] + 0.25, 2)    # reset at row 60
    pdf = pd.DataFrame({
        "conv_id": "c", "channel": "v",
        "turn_idx": np.arange(n, dtype=np.int32), "ts": ts,
        "t": np.arange(n, dtype=np.float64),
        "y": np.round(y, 2), "e": 1e-4})
    src = str(tmp_path / "src")
    for lo, hi in ((0, 30), (30, 66), (66, n)):
        (spark.createDataFrame(pdf.iloc[lo:hi]).coalesce(1)
         .write.mode("append").parquet(src))
    stream = (spark.readStream.schema(SERIES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful.stateful_counter_rate(stream, tier="1h", grid=100)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .format("parquet").option("path", str(tmp_path / "out"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(240)

    res = spark.read.parquet(str(tmp_path / "out")).toPandas()
    got = (res.groupby(["conv_id", "channel", "bucket"], as_index=False)
           .agg(inc_units=("inc_units", "sum"),
                n_resets=("n_resets", "sum"), n=("n", "sum")))
    batch = counter_rate(spark.createDataFrame(pdf), "1h",
                         grid=100).toPandas()
    assert len(got) == len(batch)
    m = got.merge(batch, left_on="bucket", right_on="bucket")
    assert len(m) == len(batch)
    assert (m["inc_units"] / 100.0 == m["increase"]).all()
    assert (m["n_resets_x"] == m["n_resets_y"]).all()
    assert (m["n_x"] == m["n_y"]).all()
    assert int(got["n_resets"].sum()) == 1          # the planted reset


def test_stateful_counter_rate_half_lattice_rounds_like_batch(spark, tmp_path):
    """y=0.625 at grid=100 is 62.5 lattice units: the batch F.round
    snaps it half away from zero to 63, and the streaming carry must
    too (half to even would give 62 and an increase of 0.62)."""
    from cesium_spark.operators.rates import counter_rate
    from cesium_spark.streaming import stateful

    pdf = pd.DataFrame({
        "conv_id": "c", "channel": "v",
        "turn_idx": np.arange(2, dtype=np.int32),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta([0, 60], "s"),
        "t": [0.0, 60.0], "y": [0.0, 0.625], "e": 1e-4})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SERIES_SCHEMA).parquet(src)
    out = stateful.stateful_counter_rate(stream, tier="1h", grid=100)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .format("parquet").option("path", str(tmp_path / "out"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(240)

    [got] = spark.read.parquet(str(tmp_path / "out")).collect()
    [batch] = counter_rate(spark.createDataFrame(pdf), "1h", grid=100).collect()
    assert batch["increase"] == 0.63
    assert got["inc_units"] / 100.0 == batch["increase"]
