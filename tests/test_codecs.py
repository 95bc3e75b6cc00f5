"""Codec roundtrip tests (SURVEY.md §5.2 layer 3): bitwise exactness
over adversarial IEEE-754 payloads and timestamp jumps, incl.
property-based coverage via hypothesis (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cesium_spark.codecs.gorilla import (
    decode_timestamps,
    decode_timestamps_many,
    decode_timestamps_scalar,
    decode_values,
    decode_values_many,
    decode_values_scalar,
    encode_timestamps,
    encode_values,
)


def roundtrip_ts(ts):
    ts = np.asarray(ts, dtype=np.int64)
    out = decode_timestamps(encode_timestamps(ts))
    np.testing.assert_array_equal(out, ts)


def roundtrip_vals(v):
    v = np.asarray(v, dtype=np.float64)
    out = decode_values(encode_values(v))
    # bit equality — NaN payloads and signed zeros must survive
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


class TestTimestamps:
    def test_empty_single_pair(self):
        for n in (0, 1, 2):
            roundtrip_ts(np.arange(n) * 1_000_000 + 1_700_000_000_000_000)

    def test_regular_cadence_compresses(self):
        ts = np.arange(10_000, dtype=np.int64) * 60_000_000
        enc = encode_timestamps(ts)
        assert len(enc) < ts.nbytes / 20  # dod==0 → ~1 bit/point
        roundtrip_ts(ts)

    def test_conversation_like(self):
        rng = np.random.default_rng(5)
        gaps = (20_000_000 + 5_000_000 *
                np.sin(np.arange(5000) / 12) + rng.normal(0, 500_000, 5000))
        ts = np.cumsum(np.abs(gaps)).astype(np.int64)
        roundtrip_ts(ts)

    def test_huge_jumps_and_negatives(self):
        roundtrip_ts([0, 10**18, 10**18 + 1, 5, -10**17, 0, 0, 0])

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=-2**62, max_value=2**62),
                    max_size=200))
    def test_property(self, xs):
        roundtrip_ts(xs)


class TestValues:
    def test_empty_single(self):
        for n in (0, 1):
            roundtrip_vals(np.arange(n, dtype=np.float64))

    def test_adversarial_floats(self):
        roundtrip_vals([
            0.0, -0.0, np.nan, np.inf, -np.inf,
            5e-324, -5e-324,                       # subnormals
            np.float64.fromhex("0x1.fffffffffffffp+1023"),
            np.frombuffer(np.uint64(0x7FF8DEADBEEF0001).tobytes(),
                          dtype=np.float64)[0],    # NaN payload
            1.0, 1.0, 1.0, -1.0, 2.0**-1022,
        ])

    def test_constant_series_compresses(self):
        v = np.full(10_000, 7.25)
        enc = encode_values(v)
        assert len(enc) < v.nbytes / 20
        roundtrip_vals(v)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.floats(allow_nan=True, allow_infinity=True,
                              allow_subnormal=True), max_size=200))
    def test_property(self, xs):
        roundtrip_vals(xs)

    def test_nan_payload_property(self):
        rng = np.random.default_rng(9)
        bits = rng.integers(0, 2**63, 500, dtype=np.int64).astype(np.uint64)
        roundtrip_vals(bits.view(np.float64))


class TestBatchDecode:
    """The vectorized batch decoder (round 3) must be bit-identical to
    the per-token scalar reference on every input, including mixed
    batches with empty/1/2-point blobs and sub-batch splits."""

    def _mixed_ts(self, rng, count, max_n=80):
        arrs = []
        for _ in range(count):
            n = int(rng.integers(0, max_n))
            arrs.append(np.cumsum(
                rng.integers(-10**12, 10**12, n)).astype(np.int64))
        # force the header-only edge cases into every batch
        arrs += [np.empty(0, np.int64), np.array([7], np.int64),
                 np.array([-5, 10**18], np.int64)]
        return arrs

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=0, max_value=2**32 - 1))
    def test_timestamps_batch_equals_scalar(self, seed):
        rng = np.random.default_rng(seed)
        arrs = self._mixed_ts(rng, 20)
        bufs = [encode_timestamps(a) for a in arrs]
        flat, n = decode_timestamps_many(bufs)
        parts = np.split(flat, np.cumsum(n)[:-1])
        for buf, a, p in zip(bufs, arrs, parts):
            np.testing.assert_array_equal(p, a)
            np.testing.assert_array_equal(p, decode_timestamps_scalar(buf))

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=0, max_value=2**32 - 1))
    def test_values_batch_equals_scalar(self, seed):
        rng = np.random.default_rng(seed)
        arrs = []
        for _ in range(20):
            n = int(rng.integers(0, 80))
            bits = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
            v = np.where(rng.random(n) < 0.5,
                         np.round(rng.normal(size=n), 2), bits.view(np.float64))
            arrs.append(v)
        arrs += [np.empty(0, np.float64), np.array([-0.0]),
                 np.array([np.nan, 5e-324])]
        bufs = [encode_values(a) for a in arrs]
        flat, n = decode_values_many(bufs)
        parts = np.split(flat, np.cumsum(n)[:-1])
        for buf, a, p in zip(bufs, arrs, parts):
            np.testing.assert_array_equal(p.view(np.uint64), a.view(np.uint64))
            np.testing.assert_array_equal(
                p.view(np.uint64), decode_values_scalar(buf).view(np.uint64))

    def test_subbatch_split_boundary(self, monkeypatch):
        """Force _MAX_STREAM_BYTES tiny so the batch splits mid-list."""
        import cesium_spark.codecs.gorilla as g
        monkeypatch.setattr(g, "_MAX_STREAM_BYTES", 64)
        rng = np.random.default_rng(3)
        arrs = [np.cumsum(rng.integers(-10**6, 10**6, 50)).astype(np.int64)
                for _ in range(10)]
        bufs = [encode_timestamps(a) for a in arrs]
        flat, n = decode_timestamps_many(bufs)
        for a, p in zip(arrs, np.split(flat, np.cumsum(n)[:-1])):
            np.testing.assert_array_equal(p, a)

    def test_subbatch_token_cap_split(self, monkeypatch):
        """Dense Δ=1 streams pack ~8 tokens/byte, so the TOKEN cap (not
        the byte cap) must bound decoder scratch: force it tiny and
        check the split path decodes exactly."""
        import cesium_spark.codecs.gorilla as g
        monkeypatch.setattr(g, "_MAX_STREAM_TOKENS", 40)
        arrs = [np.arange(j, j + 100, dtype=np.int64) for j in range(8)]
        bufs = [encode_timestamps(a) for a in arrs]
        flat, n = decode_timestamps_many(bufs)
        for a, p in zip(arrs, np.split(flat, np.cumsum(n)[:-1])):
            np.testing.assert_array_equal(p, a)

    def test_subbatch_chain_cells_bounded_under_skew(self):
        """The lockstep chain's real cost is max(counts)*len(group)
        cells; a skewed batch (many 1-token tail blobs + whale chunks)
        must stay O(tokens): every yielded group's cell count is
        bounded by _CHAIN_WASTE x its useful tokens (single-blob groups
        are trivially tight)."""
        import cesium_spark.codecs.gorilla as g
        counts = np.array([1] * 500 + [5000] + [1] * 500 + [3000],
                          dtype=np.int64)
        nbytes = np.full(counts.size, 10)  # sizes irrelevant here
        total_cells = 0
        for sel in g._byte_subbatches(nbytes, counts):
            grp = counts[sel]
            cells = int(grp.max()) * grp.size
            if grp.size > 1:
                assert cells <= g._CHAIN_WASTE * int(grp.sum())
            assert cells <= g._MAX_CHAIN_CELLS
            total_cells += cells
        assert total_cells <= g._CHAIN_WASTE * int(counts.sum())

    def test_concurrent_decode_threads(self):
        """Arena scratch is thread-local: concurrent driver-side
        decode_*_many callers must not corrupt each other's windows."""
        from concurrent.futures import ThreadPoolExecutor
        rng = np.random.default_rng(7)
        jobs = []
        for _ in range(4):
            arrs = [np.cumsum(rng.integers(-10**5, 10**5, 400))
                    .astype(np.int64) for _ in range(30)]
            jobs.append((arrs, [encode_timestamps(a) for a in arrs]))
        def run(job):
            arrs, bufs = job
            for _ in range(5):
                flat, n = decode_timestamps_many(bufs)
                for a, p in zip(arrs, np.split(flat, np.cumsum(n)[:-1])):
                    np.testing.assert_array_equal(p, a)
        with ThreadPoolExecutor(4) as ex:
            list(ex.map(run, jobs))  # raises on any mismatch

    def test_skewed_blob_mix_roundtrip(self):
        """Correctness under the skew-split path: interleaved 1-point
        tails and full-size chunks decode exactly."""
        rng = np.random.default_rng(11)
        arrs = []
        for j in range(40):
            n = 3 if j % 2 else 600
            arrs.append(np.cumsum(
                rng.integers(-10**6, 10**6, n)).astype(np.int64))
        bufs = [encode_timestamps(a) for a in arrs]
        flat, n = decode_timestamps_many(bufs)
        for a, p in zip(arrs, np.split(flat, np.cumsum(n)[:-1])):
            np.testing.assert_array_equal(p, a)


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _planted_ladder_ts():
    """Timestamps whose dods sit on both edges of every bucket width
    the encoder picks, (5, 12, 23, 63): per width, the most negative
    and most positive in-bucket dod (zigzag 2**w - 1 and 2**w - 2),
    random fill of the same bit length, and the two dods just outside
    (bit length w + 1). Plus 0, ±1, escapes (2**62, int64 min/max) and
    a start at int64 min, so d and ts wrap. The group sizes put the
    quartiles mid-group; the last width is the 63-bit cap."""
    rng = np.random.default_rng(2)
    dods = [0, 1, -1]
    for w, size in ((5, 60), (12, 60), (23, 60), (63, 40)):
        z = [2**w - 1, 2**w - 2] + [int(x) for x in rng.integers(
            2**(w - 1), 2**w - 2, size - 2, dtype=np.uint64)]
        dods += [_unzigzag(x) for x in z]
        if w < 63:
            dods += [2**(w - 1), -2**(w - 1) - 1]
    dods += [2**62, -2**63, 2**63 - 1]
    dod = np.array(dods, dtype=np.int64)[rng.permutation(len(dods))]
    d = np.cumsum(np.r_[np.int64(12345), dod])
    return np.cumsum(np.r_[np.int64(-2**63 + 7), d])


def _ladder_of(buf: bytes):
    from cesium_spark.codecs.gorilla import _dod_header
    return _dod_header(buf)[3]


class TestLadder:
    """The per-blob bucket ladder: each timestamp blob carries its own
    four payload widths, so the batch decoder reads token widths from a
    per-row table."""

    def test_planted_bucket_edges(self):
        ts = _planted_ladder_ts()
        buf = encode_timestamps(ts)
        assert _ladder_of(buf) == (5, 12, 23, 63)
        np.testing.assert_array_equal(decode_timestamps_scalar(buf), ts)
        np.testing.assert_array_equal(decode_timestamps(buf), ts)

    def test_mixed_ladders_batch_equals_scalar(self):
        rng = np.random.default_rng(4)
        gaps = (20_000_000 + 5_000_000 * np.sin(np.arange(300) / 12)
                + rng.normal(0, 500_000, 300))
        arrs = [
            np.arange(500, dtype=np.int64) * 30_000_000,       # regular
            np.cumsum(np.abs(gaps)).astype(np.int64),          # conversation
            np.array([0, 10**18, 10**18 + 1, 5, -10**17, 0, 0, 0],
                     dtype=np.int64),                          # huge jumps
            _planted_ladder_ts(),
            np.empty(0, np.int64), np.array([7], np.int64),
            np.array([-5, 10**18], np.int64),
            np.array([1, 2, 40], np.int64),
            np.cumsum(rng.integers(0, 3, 50)).astype(np.int64),
            np.array([-2**63, 2**63 - 1, -2**63, 0, 2**63 - 1],
                     dtype=np.int64),
        ]
        bufs = [encode_timestamps(a) for a in arrs]
        ladders = {_ladder_of(b) for b, a in zip(bufs, arrs) if a.size >= 3}
        assert len(ladders) >= 5
        flat, n = decode_timestamps_many(bufs)
        for buf, a, p in zip(bufs, arrs,
                             np.split(flat, np.cumsum(n)[:-1])):
            np.testing.assert_array_equal(p, a)
            np.testing.assert_array_equal(decode_timestamps_scalar(buf), a)

    def test_headers_are_compact(self):
        # tag + varint n + t0 + zigzag-varint d0 + 3-byte ladder
        assert len(encode_timestamps(np.empty(0, np.int64))) == 2
        assert len(encode_timestamps(np.array([5], np.int64))) == 10
        assert len(encode_timestamps(np.array([5, 6], np.int64))) == 11
        assert len(encode_timestamps(np.array([5, 6, 7], np.int64))) == 15
        assert len(encode_values(np.array([1.5]))) == 10


def _parent_layout_ts(ts) -> bytes:
    """A blob in the earlier layout: [n uint32][t0 int64][d0 int64] +
    dod stream. Only all-zero dods are built here ('0' per token)."""
    ts = np.asarray(ts, dtype=np.int64)
    d = np.diff(ts)
    assert (np.diff(d) == 0).all()
    return (np.uint32(ts.size).tobytes() + ts[:1].tobytes()
            + d[:1].tobytes() + b"\0" * ((ts.size - 2 + 7) // 8))


def _parent_layout_values(n: int, v: float) -> bytes:
    """Earlier value layout: [n uint32][v0] + '0' per repeated value."""
    return (np.uint32(n).tobytes() + np.float64(v).tobytes()
            + b"\0" * ((n - 1 + 7) // 8))


class TestEarlierLayoutRejected:
    """A chunk table written by the earlier blob layout must fail
    loudly, not decode to wrong values."""

    def test_parent_layout_raises(self):
        from cesium_spark.codecs.gorilla import _DOD_TAG, _XOR_TAG
        # n = 5 (tag mismatch), and n equal to the tag byte, whose first
        # byte collides with the tag and which the length check catches
        for n in (5, _DOD_TAG, 256 + _DOD_TAG):
            buf = _parent_layout_ts(
                1_700_000_000_000_000 + np.arange(n) * 1_000_000)
            with pytest.raises(ValueError):
                decode_timestamps_many([buf])
            with pytest.raises(ValueError):
                decode_timestamps_scalar(buf)
        for n in (5, _XOR_TAG, 256 + _XOR_TAG):
            buf = _parent_layout_values(n, 2.5)
            with pytest.raises(ValueError):
                decode_values_many([buf])
            with pytest.raises(ValueError):
                decode_values_scalar(buf)

    def test_truncated_and_padded_blobs_raise(self):
        ts = np.cumsum(np.random.default_rng(1).integers(1, 10**7, 40))
        buf = encode_timestamps(ts)
        vbuf = encode_values(np.linspace(0, 1, 40))
        for bad in (buf[:-1], buf + b"\0", buf[:5]):
            with pytest.raises(ValueError):
                decode_timestamps_many([encode_timestamps(ts[:9]), bad])
            with pytest.raises(ValueError):
                decode_timestamps_scalar(bad)
        for bad in (vbuf[:-1], vbuf + b"\0", vbuf[:5]):
            with pytest.raises(ValueError):
                decode_values_many([bad])
            with pytest.raises(ValueError):
                decode_values_scalar(bad)

    def test_decode_chunks_rejects_parent_layout(self, spark):
        import zlib

        from cesium_spark.codecs.chunks import CHUNKS_SCHEMA, decode_chunks
        import pandas as pd
        tb = _parent_layout_ts(1_700_000_000_000_000
                               + np.arange(5) * 1_000_000)
        ib = _parent_layout_ts(np.arange(5))
        yb = _parent_layout_values(5, 2.5)
        crc = zlib.crc32(yb, zlib.crc32(ib, zlib.crc32(tb)))
        ts0 = pd.Timestamp(1_700_000_000_000_000, unit="us")
        row = pd.DataFrame({
            "conv_id": ["c"], "channel": ["value"], "chunk_idx": [0],
            "n": [5], "ts_min": [ts0],
            "ts_max": [ts0 + pd.Timedelta(seconds=4)], "crc": [crc],
            "ts_blob": [tb], "idx_blob": [ib], "y_blob": [yb]})
        chunks = spark.createDataFrame(row, schema=CHUNKS_SCHEMA)
        with pytest.raises(Exception, match="codec layout"):
            decode_chunks(chunks).count()


class TestCrc:
    def test_decode_detects_corruption(self, spark, tiny_transcripts):
        from cesium_spark.codecs.chunks import decode_chunks, encode_chunks
        from cesium_spark.operators.derive import derive_series
        import pyspark.sql.functions as F

        chunks = encode_chunks(derive_series(tiny_transcripts), chunk_size=64)
        corrupted = chunks.withColumn("crc", F.col("crc") + 1)
        with pytest.raises(Exception, match="crc mismatch"):
            decode_chunks(corrupted).count()


class TestCompressionMetrics:
    """codecs.chunks.compression_metrics: the measured bytes/point per
    blob kind — retention sizing input and the regression guard on the
    codec's Gorilla window-reuse divergence (a widened-XOR-window bug
    moves y bytes/point long before a roundtrip test notices)."""

    def test_exact_math_vs_manual_sums(self, spark):
        import pandas as pd

        from cesium_spark.codecs.chunks import (
            compression_metrics,
            encode_chunks,
        )
        pdf = pd.DataFrame({
            "conv_id": ["a"] * 6 + ["b"] * 4,
            "channel": "value",
            "turn_idx": np.r_[np.arange(6), np.arange(4)].astype(np.int32),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.r_[np.arange(6), np.arange(4)] * 31, "s"),
            "y": np.arange(10) * 0.25,
        })
        chunks = encode_chunks(spark.createDataFrame(pdf)).cache()
        got = (compression_metrics(chunks).toPandas()
               .set_index("kind"))
        raw = chunks.toPandas()
        exp = {"ts": sum(len(b) for b in raw["ts_blob"]),
               "idx": sum(len(b) for b in raw["idx_blob"]),
               "y": sum(len(b) for b in raw["y_blob"])}
        n = raw["n"].sum()
        raw_w = {"ts": 8, "idx": 4, "y": 8}
        for kind, total in exp.items():
            assert got.loc[kind, "blob_bytes"] == total
            assert got.loc[kind, "points"] == n
            assert got.loc[kind, "bytes_per_point"] == total / n
            assert got.loc[kind, "ratio_vs_raw"] == raw_w[kind] * n / total

    def test_synth_corpus_bounds(self, spark, tiny_transcripts):
        """Measured bounds on the deterministic synth corpus (idx 0.42,
        y 2.49, ts 3.30 B/point). Synth turn gaps are uniform-random at
        µs resolution, so delta-of-deltas carry ~20-25 bits; each
        blob's bucket ladder fits its own dod bit lengths, so ts takes
        ~3.3 B against 8 B raw. Regular cadence compresses far further,
        see test below. Drift outside these windows means the codec's
        bit layout changed."""
        from cesium_spark.codecs.chunks import (
            compression_metrics,
            encode_chunks,
        )
        from cesium_spark.operators.derive import derive_series

        m = (compression_metrics(
                encode_chunks(derive_series(tiny_transcripts)))
             .toPandas().set_index("kind")["bytes_per_point"])
        assert 0.3 < m["idx"] < 0.55, m["idx"]  # Δ=1 → ~1-3 bits/pt
        assert 2.0 < m["y"] < 3.0, m["y"]       # Gorilla on 2-dec data
        assert 2.5 < m["ts"] < 4.0, m["ts"]     # irregular µs cadence

    def test_regular_cadence_ts_compresses_55x(self, spark):
        """Fixed 30 s cadence → DoD(ts) is zero after the first pair:
        ~1 bit/point + headers. This is the workload the codec's
        timestamp path is designed for (regular rollup tiers)."""
        import pandas as pd

        from cesium_spark.codecs.chunks import (
            compression_metrics,
            encode_chunks,
        )
        n = 8000
        pdf = pd.DataFrame({
            "conv_id": ["c%02d" % (i % 8) for i in range(n)],
            "channel": "value",
            "turn_idx": (np.arange(n, dtype=np.int32) // 8),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta((np.arange(n) // 8) * 30, "s"),
            "y": np.round(np.cumsum(
                np.random.default_rng(0).normal(0, 0.01, n)), 2),
        })
        m = (compression_metrics(encode_chunks(spark.createDataFrame(pdf)))
             .toPandas().set_index("kind"))
        assert m.loc["ts", "bytes_per_point"] < 0.3
        assert m.loc["ts", "ratio_vs_raw"] > 25
