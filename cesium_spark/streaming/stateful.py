"""Custom stateful streaming operator — ``applyInPandasWithState``
(SURVEY.md §2.10; the brief's "custom stateful operators" checkbox).

``stateful_running_totals`` keeps per-(conv_id, channel) mergeable
totals (n, y_sum, y_min, y_max) in the Structured Streaming state
store across micro-batches and emits the UPDATED totals for every key
seen in each batch. Only mergeable-moment algebra lives in state — the
same order-independence the batch tier fold relies on — so the final
totals are deterministic regardless of how the file source splits the
input into micro-batches (asserted by the two-trigger pytest and the
driver oracle, which replays the whole input as one batch aggregate).

Downstream consumers take the row with the largest ``n`` per key as
the final total (``n`` is strictly increasing across a key's
emissions, so that row is unique). With an append sink this gives an
incremental-materialization pattern: each micro-batch appends a
snapshot, readers window-prune to the latest.

Scale notes: state is O(distinct keys) × four scalars — the smallest
possible state for running totals; the per-batch shuffle is the same
single hash exchange on the group key as the batch path. Rows inside a
batch are reduced vectorized (numpy) before touching state, so state
updates are O(keys-in-batch), not O(rows).

Unbounded key spaces (the 100 TB norm — conversation ids never stop):
``timeout='event'`` switches to EventTimeTimeout eviction. Keys whose
idle window (no rows for ``idle`` of EVENT time, judged against the
stream's watermark) expires are emitted one last time with
``is_final = true`` and REMOVED from the state store, so state stays
O(active keys) instead of O(all keys ever). Event-time eviction is
deterministic (a function of the data, not the wall clock) and works
under every trigger including availableNow. A key that reappears after
eviction restarts from zero — by design: its closed total was already
published, and the totals algebra is mergeable, so the two epochs
MERGE the same way tier folds do.

``timeout='processing'`` is the wall-clock twin (ProcessingTimeTimeout)
for CONTINUOUS triggers: the same evict-and-emit contract keyed on
processing-time idleness. CAUTION: do not run it under
``trigger(availableNow=True)`` — Spark schedules another micro-batch
whenever any processing-time timer is pending (shouldRunAnotherBatch is
unconditionally true for this conf), so an availableNow run never
terminates. The pytest drives it with a processingTime trigger.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cesium_spark.operators.rollup import tier_span_s

OUT_SCHEMA = ("conv_id string, channel string, n long, "
              "y_sum double, y_min double, y_max double")
EVICT_SCHEMA = OUT_SCHEMA + ", is_final boolean"
STATE_SCHEMA = "n long, y_sum double, y_min double, y_max double"


def _accumulate(key: tuple, pdfs: Iterable[pd.DataFrame],
                state: GroupState, track_ts: bool = False):
    """Fold the batch's rows into the state tuple (vectorized per
    Arrow frame); returns (totals row dict, max event-time ms or None).
    """
    n, s, mn, mx = state.get if state.exists else (0, 0.0, None, None)
    max_ts = None
    for pdf in pdfs:
        y = pdf["y"].to_numpy(dtype=float)
        if track_ts and len(pdf):
            t = pdf["ts"].max()
            max_ts = t if max_ts is None else max(max_ts, t)
        if y.size == 0:
            continue
        n += int(y.size)
        s += float(y.sum())
        bmn, bmx = float(y.min()), float(y.max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
    state.update((n, s, mn, mx))
    row = {"conv_id": [key[0]], "channel": [key[1]],
           "n": [n], "y_sum": [s], "y_min": [mn], "y_max": [mx]}
    ts_ms = (None if max_ts is None
             else int(pd.Timestamp(max_ts).value // 1_000_000))
    return row, ts_ms


def _update_totals(key: tuple, pdfs: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    row, _ = _accumulate(key, pdfs, state)
    yield pd.DataFrame(row)


def _make_evicting_update(mode: str, idle_ms: int):
    def update(key: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle eviction: publish the closed total, drop the key —
            # state stays O(active keys) on unbounded key spaces
            n, s, mn, mx = state.get
            state.remove()
            yield pd.DataFrame({"conv_id": [key[0]], "channel": [key[1]],
                                "n": [n], "y_sum": [s], "y_min": [mn],
                                "y_max": [mx], "is_final": [True]})
            return
        row, ts_ms = _accumulate(key, pdfs, state, track_ts=(mode == "event"))
        if mode == "event":
            # re-arm: evict once the watermark passes last-activity +
            # idle. The timestamp must sit above the current watermark
            # (Spark rejects past timers); a key whose rows are already
            # older than watermark − idle is due at the next tick.
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max((ts_ms or 0) + idle_ms, wm + 1))
        else:
            state.setTimeoutDuration(idle_ms)
        yield pd.DataFrame({**row, "is_final": [False]})

    return update


def stateful_running_totals(series_stream: DataFrame,
                            timeout: str = "none",
                            idle_ms: int = 3_600_000,
                            watermark_delay: str = "30 minutes") -> DataFrame:
    """Per-(conv_id, channel) running totals over a streaming series
    (conv_id, channel, ..., y). Emits one row per key per micro-batch
    containing that key; values are cumulative over all batches.

    ``timeout='none'``: keys live forever (bounded key spaces).
    ``timeout='event'``: EventTimeTimeout — the stream is watermarked
    on ``ts`` with ``watermark_delay``; a key with no rows for
    ``idle_ms`` of event time (relative to its last activity, judged
    by the watermark) is emitted once more with ``is_final = true``
    (the closed total) and evicted. Deterministic and availableNow-
    compatible. ``timeout='processing'``: wall-clock idleness instead;
    CONTINUOUS triggers only (see module docstring — availableNow
    never terminates under processing-time timers). Both eviction
    modes add the ``is_final`` column."""
    if timeout == "none":
        return (series_stream.groupBy("conv_id", "channel")
                .applyInPandasWithState(
                    _update_totals, OUT_SCHEMA, STATE_SCHEMA,
                    "append", GroupStateTimeout.NoTimeout))
    if timeout == "event":
        return (series_stream.withWatermark("ts", watermark_delay)
                .groupBy("conv_id", "channel")
                .applyInPandasWithState(
                    _make_evicting_update("event", idle_ms),
                    EVICT_SCHEMA, STATE_SCHEMA,
                    "append", GroupStateTimeout.EventTimeTimeout))
    if timeout == "processing":
        return (series_stream.groupBy("conv_id", "channel")
                .applyInPandasWithState(
                    _make_evicting_update("processing", idle_ms),
                    EVICT_SCHEMA, STATE_SCHEMA,
                    "append", GroupStateTimeout.ProcessingTimeTimeout))
    raise ValueError(
        f"timeout must be 'none'|'event'|'processing', got {timeout!r}")


def totals_to_table(totals_stream: DataFrame, path: str, checkpoint: str):
    """Append each batch's snapshots; the max-n row per key is final.
    Returns the started StreamingQuery (availableNow)."""
    return (totals_stream.writeStream
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .format("parquet")
            .option("path", path)
            .trigger(availableNow=True)
            .start())


RATE_SCHEMA = ("conv_id string, channel string, bucket timestamp, "
               "inc_units long, n_resets long, n long")
RATE_STATE_SCHEMA = "last_yc long"


def stateful_counter_rate(series_stream: DataFrame, tier: str = "1h",
                          grid: int = 100) -> DataFrame:
    """Streaming twin of ``rates.counter_rate`` (PromQL ``rate()``):
    reset-aware counter increments over an UNBOUNDED stream with TWO
    INT64 SCALARS of state per key — the carry of the last value, on
    the exact 1/``grid`` lattice (the batch op's ``grid`` contract).

    Emission model (the continuous-aggregate fold contract): each
    micro-batch emits PER-BUCKET PARTIAL sufficient statistics
    (inc_units = Σ lattice increments, n_resets, n) for the buckets it
    touched; the final per-bucket totals are the plain SUM of a
    bucket's partials — mergeable exactly like the batch tier fold,
    so ``increase = sum(inc_units)/grid`` downstream reproduces the
    batch ``counter_rate(grid=...)`` bit-for-bit. Increments are
    pairwise, so ANY split of the stream into micro-batches yields
    the same partial sums (each consecutive pair contributes exactly
    once, through the carry at batch boundaries).

    In-order contract: rows must arrive in per-key (t, turn_idx)
    order ACROSS micro-batches (within a batch they are sorted by the
    kernel) — the append-only-log ingest shape. A late row older than
    the carry would be treated as a reset; bound disorder upstream
    with a watermark + sort, or accept PromQL's own behavior (a
    counter sample going backwards IS a reset to Prometheus too).

    State: one int64 per key, no timestamps, no per-bucket state —
    O(active keys), the minimum any reset-aware rate can hold.
    """
    freq = f"{tier_span_s(tier):.0f}s"  # ValueError for calendar tiers
    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")
    g = float(grid)

    def update(key: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np
        (carry,) = state.get if state.exists else (None,)
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) \
                .sort_values(["t", "turn_idx"], kind="stable")
        pdf = pdf[pdf["y"].notna()]
        if not len(pdf):
            return
        # half away from zero, as the batch F.round and DuckDB's round
        # snap (np.rint rounds half to even: 62.5 -> 62, batch 63)
        v = pdf["y"].to_numpy(dtype=float) * g
        a = np.floor(np.abs(v))
        yc = np.copysign(a + (np.abs(v) - a >= 0.5), v).astype(np.int64)
        if carry is None:
            prev = np.concatenate(([yc[0]], yc[:-1]))
            valid = np.ones(len(yc), dtype=bool)
            valid[0] = False              # series head: no predecessor
        else:
            prev = np.concatenate(([carry], yc[:-1]))
            valid = np.ones(len(yc), dtype=bool)
        reset = valid & (yc < prev)
        inc = np.where(yc >= prev, yc - prev, yc)
        state.update((int(yc[-1]),))
        if not valid.any():
            return
        bucket = pdf["ts"].dt.floor(freq).to_numpy()
        out = (pd.DataFrame({
                   "bucket": bucket[valid],
                   "inc_units": inc[valid].astype("int64"),
                   "reset": reset[valid].astype("int64")})
               .groupby("bucket", as_index=False)
               .agg(inc_units=("inc_units", "sum"),
                    n_resets=("reset", "sum"),
                    n=("inc_units", "size")))
        out.insert(0, "channel", key[1])
        out.insert(0, "conv_id", key[0])
        yield out

    return (series_stream.groupBy("conv_id", "channel")
            .applyInPandasWithState(
                update, RATE_SCHEMA, RATE_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))
