"""Chunked compression operators: series ↔ Gorilla/DoD chunk table
(SURVEY.md §2.9, §3.4 stage COMPRESS).

Chunk key = (conv_id, channel, chunk_idx = turn_idx // chunk_size).
``chunk_idx`` in the group key IS the salt: a Zipf-tailed conversation
with 20 000 turns becomes ⌈20000/4096⌉ independent groups hashed to
different partitions, so no single task owns a whole jumbo conversation
(the skew mitigation of SURVEY.md §4.4). Groups are bounded ≤
chunk_size, so kernel memory is O(chunk) and Arrow batches stay small.

Each chunk row carries a header (n, ts_min, ts_max, crc32) for
partition pruning and integrity, plus three bit-packed blobs:
timestamps (DoD), turn indices (DoD — mostly Δ=1 → ~1 bit/turn), and
values (Gorilla XOR). Each blob starts with a layout tag byte and a
LEB128 point count; the DoD blobs then hold t0 (8 B), d0 (zigzag
LEB128) and the blob's own 3-byte bucket ladder, the value blob v0
(8 B), then the token stream (layout in codecs/gorilla.py). A table
written by an earlier blob layout fails ``decode_chunks`` with a
ValueError rather than decoding to wrong rows. ``decode_chunks`` restores the exact rows —
bitwise for y, exact int64 µs for ts — which together with the raw
table's text column satisfies the per-turn invariant
(tests/test_passthrough.py).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.arrow_stream import stream_groups

from cesium_spark.codecs.gorilla import (
    decode_timestamps_many,
    decode_values_many,
    encode_timestamps,
    encode_values,
)

DEFAULT_CHUNK_SIZE = 4096

CHUNKS_SCHEMA = (
    "conv_id string, channel string, chunk_idx long, n long, "
    "ts_min timestamp, ts_max timestamp, crc long, "
    "ts_blob binary, idx_blob binary, y_blob binary"
)

DECODED_SCHEMA = (
    "conv_id string, channel string, turn_idx int, ts timestamp, y double"
)


def encode_chunks(series: DataFrame,
                  chunk_size: int = DEFAULT_CHUNK_SIZE) -> DataFrame:
    """series(conv_id, channel, turn_idx, ts, y, …) → chunk table.

    Streaming kernel (same pattern as operators/rollup.py): explicit
    CPU-proportional repartition on the chunk keys (AQE's byte-based
    coalescing would collapse the few-MB shuffle that carries all the
    encode CPU into 1-2 tasks), per-partition sort, then mapInPandas
    with a carry buffer — one Arrow batch amortizes the Arrow/pandas
    fixed cost over hundreds of chunks, where the old per-group
    applyInPandas paid it (plus a 1-row DataFrame build) per chunk
    (measured ~10s → ~1s on the sf0.1 roundtrip encode stage)."""

    def encode_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy()
        chan = pdf["channel"].to_numpy()
        cidx = pdf["chunk_idx"].to_numpy(np.int64)
        change = np.ones(len(pdf), dtype=bool)
        change[1:] = ((conv[1:] != conv[:-1]) | (chan[1:] != chan[:-1])
                      | (cidx[1:] != cidx[:-1]))
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        ts64 = pdf["ts"].to_numpy("datetime64[us]")
        ts_us = ts64.view(np.int64)
        idx = pdf["turn_idx"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.float64)
        ts_blobs, idx_blobs, y_blobs, crcs = [], [], [], []
        for s, e in zip(starts, ends):
            tb = encode_timestamps(ts_us[s:e])
            ib = encode_timestamps(idx[s:e])
            yb = encode_values(y[s:e])
            crc = zlib.crc32(tb)
            crc = zlib.crc32(ib, crc)
            crcs.append(zlib.crc32(yb, crc))
            ts_blobs.append(tb)
            idx_blobs.append(ib)
            y_blobs.append(yb)
        return pd.DataFrame({
            "conv_id": conv[starts],
            "channel": chan[starts],
            "chunk_idx": cidx[starts],
            "n": ends - starts,
            "ts_min": ts64[starts],
            "ts_max": ts64[ends - 1],
            "crc": crcs,
            "ts_blob": ts_blobs,
            "idx_blob": idx_blobs,
            "y_blob": y_blobs,
        })

    def kernel_stream(batches):
        # O(B)-carry group streaming (arrow_stream.stream_groups)
        yield from stream_groups(
            batches, ("conv_id", "channel", "chunk_idx"), encode_rows)

    # 1x parallelism (not rollup's 4x): encode groups are bounded at
    # chunk_size rows by construction, so per-task skew is structurally
    # impossible and extra partitions only multiply Arrow/task fixed
    # cost (measured 2.3s -> 1.1s on the sf0.1 encode at 128 -> 32)
    spark = series.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    return (
        series
        .withColumn("chunk_idx", (F.col("turn_idx") / chunk_size).cast("long"))
        # pre-UDF projection (Catalyst can't prune through the kernel)
        .select("conv_id", "channel", "chunk_idx", "turn_idx", "ts", "y")
        .repartition(n_parts, "conv_id", "channel", "chunk_idx")
        .sortWithinPartitions("conv_id", "channel", "chunk_idx", "turn_idx")
        .mapInPandas(kernel_stream, schema=CHUNKS_SCHEMA)
    )


# raw column widths the codec replaces: ts int64 µs, turn_idx int32,
# y float64 — the denominator for the compression ratio
RAW_BYTES_PER_POINT = {"ts": 8, "idx": 4, "y": 8}


def compression_metrics(chunks: DataFrame) -> DataFrame:
    """(kind, blob_bytes, points, bytes_per_point, ratio_vs_raw) per
    blob kind over a chunk table — one native aggregate (no decode).

    Retention-tier sizing at 10^12 turns needs the MEASURED ratio, not
    the design estimate, and the number guards the codec's documented
    Gorilla window-reuse divergence: a regression that widens XOR
    windows shows up here as bytes/point drift long before anyone reads
    a chunk back (pytest pins per-kind bounds on the deterministic
    synth corpus). ``ratio_vs_raw`` compares against the unencoded
    column widths (ts 8 B µs, idx 4 B int32, y 8 B float64)."""
    agg = chunks.agg(
        F.sum(F.octet_length("ts_blob")).alias("ts"),
        F.sum(F.octet_length("idx_blob")).alias("idx"),
        F.sum(F.octet_length("y_blob")).alias("y"),
        F.sum("n").alias("points"))
    kinds = F.array(*[
        F.struct(F.lit(k).alias("kind"), F.col(k).alias("blob_bytes"),
                 F.lit(raw).alias("raw_bytes"))
        for k, raw in RAW_BYTES_PER_POINT.items()])
    return (agg.select(F.explode(kinds).alias("b"), "points")
            .select(F.col("b.kind").alias("kind"),
                    F.col("b.blob_bytes").alias("blob_bytes"),
                    F.col("points"),
                    (F.col("b.blob_bytes") / F.col("points"))
                    .alias("bytes_per_point"),
                    (F.col("b.raw_bytes") * F.col("points")
                     / F.col("b.blob_bytes")).alias("ratio_vs_raw")))


def decode_chunks(chunks: DataFrame, verify_crc: bool = True) -> DataFrame:
    """Chunk table → exact series rows (bitwise y, exact µs ts)."""

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if verify_crc:
                # zlib.crc32 is C-speed; per-row cost is negligible
                for row in pdf.itertuples(index=False):
                    crc = zlib.crc32(row.ts_blob)
                    crc = zlib.crc32(row.idx_blob, crc)
                    crc = zlib.crc32(row.y_blob, crc)
                    if crc != row.crc:
                        raise ValueError(
                            f"crc mismatch in chunk ({row.conv_id}, "
                            f"{row.channel}, {row.chunk_idx})")
            # whole-batch vectorized decode (gorilla.decode_*_many):
            # all chunks of the Arrow batch share one lockstep pass
            ts_flat, n = decode_timestamps_many(list(pdf["ts_blob"]))
            idx_flat, _ = decode_timestamps_many(list(pdf["idx_blob"]))
            y_flat, _ = decode_values_many(list(pdf["y_blob"]))
            yield pd.DataFrame({
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), n),
                "channel": np.repeat(pdf["channel"].to_numpy(), n),
                "turn_idx": idx_flat.astype(np.int32),
                "ts": ts_flat.view("datetime64[us]"),
                "y": y_flat,
            })

    return chunks.mapInPandas(kernel, schema=DECODED_SCHEMA)
