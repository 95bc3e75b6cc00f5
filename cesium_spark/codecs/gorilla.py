"""Gorilla-style codecs (Pelkonen et al., VLDB 2015 §4.1/§4.2), numpy.

- Timestamps: delta-of-delta with Gorilla's token shape — '0' for
  dod == 0, unary-prefixed buckets '10' | '110' | '1110' | '11110' +
  w_k payload bits, and the escape '11111' + 64 bits, so any int64 dod
  round-trips. The payload is zigzag(dod). The bucket widths are not
  fixed: each blob picks its own ladder w_1..w_4 from its own dod bit
  lengths (their quartiles, the last one the maximum, capped at 63)
  and stores it in a 3-byte header. The paper's fixed 7/9/12/32-bit
  ladder fits second-resolution scrape intervals; conversation turn
  gaps jitter by 2^19-2^23 µs, so any fixed small ladder sends nearly
  every dod to the escape. Per-blob widths follow "Two-Level Data Compression using Machine
  Learning in Time Series Database" (ICDE 2020): choose the encoding
  per block from that block's own statistics.
- Values: XOR with the previous float; '0' for identical bits, else
  '1' + 5-bit leading-zero count + 6-bit meaningful-bit length +
  meaningful bits. This is the paper's scheme with the
  previous-window-reuse branch ('10') intentionally dropped: the
  window-reuse decision is a sequential dependency that defeats
  vectorization, and correctness (bitwise roundtrip — the per-row
  invariant, BASELINE.json input_hint) is unaffected; compression
  ratio gives up a few percent on slowly-varying series. Documented
  divergence from the paper, not from the reference (which has no
  codec at all).

ENCODE is fully vectorized (token arrays → one bit-expansion →
np.packbits). DECODE is vectorized too (round 3): variable-length
codes serialize only the *positions* of tokens, not their payloads, so
the decoder (a) follows the position chain for all chunks of a batch
in lockstep — one vectorized step per token *index* across chunks,
decoding each step's token width from a 2-3-byte gather + control-bit
LUT (for timestamps, a control code looked up in the blob's own row
of the token-width table) at the visited positions only (O(tokens)
total, independent of stream bit-length) — then (b) extracts all
payloads with 9-byte window gathers and (c) reconstructs series with
prefix scans (np.cumsum / np.bitwise_xor.accumulate with per-chunk
offset subtraction, exact because +/xor are associative mod 2^64). The
original per-token readers are kept as ``*_scalar`` references and the
test suite asserts batch ≡ scalar bit-for-bit.

Blob layouts (t0 and v0 little-endian, the ladder's widths packed
w_1 first; a field is present only when n reaches it):

- timestamps / turn indices: [tag 0xD2][n: LEB128][t0: 8 B int64]
  [d0: zigzag LEB128][ladder: 3 B, four 6-bit widths][dod tokens]
- values: [tag 0xC2][n: LEB128][v0: 8 B float64 bits][xor tokens]

Token streams are zero-padded to a whole byte. The decoders reject
(ValueError) a blob whose tag differs — including the earlier layout,
which began with a uint32 n — or whose header and tokens do not fill
it exactly.

Bitwise roundtrip is asserted for every IEEE-754 payload including
±0.0, subnormals and NaN payloads (tests/test_codecs.py, hypothesis).
"""

from __future__ import annotations

import threading

import numpy as np


def _pack_tokens(values: np.ndarray, widths: np.ndarray) -> bytes:
    """Concatenate big-endian bit tokens (values[i] in widths[i] bits)
    into bytes. Fully vectorized."""
    mask = widths > 0
    values = values[mask].astype(np.uint64)
    widths = widths[mask].astype(np.int64)
    total = int(widths.sum())
    if total == 0:
        return b""
    starts = np.cumsum(widths) - widths
    idx = np.repeat(np.arange(values.size), widths)
    j = np.arange(total) - np.repeat(starts, widths)
    shift = (widths[idx] - 1 - j).astype(np.uint64)
    bits = ((values[idx] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


_M64 = (1 << 64) - 1


class _BitReader:
    """Word-level bitstream reader: the buffer is viewed as big-endian
    uint64 words (matching np.packbits MSB-first order) and every token
    is cut out of a 64-bit peek window with Python int shifts — ~20×
    faster than per-bit reads, which made decode the codec hot spot."""

    __slots__ = ("words", "pos")

    def __init__(self, buf: bytes):
        pad = (-len(buf)) % 8 + 16  # +2 spare words so peek64 never overruns
        self.words = np.frombuffer(buf + b"\x00" * pad, dtype=">u8").tolist()
        self.pos = 0

    def peek64(self) -> int:
        p = self.pos
        i = p >> 6
        off = p & 63
        w = self.words
        if off:
            return ((w[i] << off) | (w[i + 1] >> (64 - off))) & _M64
        return w[i]

    def skip(self, n: int) -> None:
        self.pos += n

    def read(self, n: int) -> int:
        v = self.peek64() >> (64 - n)
        self.pos += n
        return v

    def read1(self) -> int:
        v = (self.words[self.pos >> 6] >> (63 - (self.pos & 63))) & 1
        self.pos += 1
        return v


# ---------------------------------------------------------------------------
# blob headers
# ---------------------------------------------------------------------------

# Layout tags: the first byte of every blob. The previous layout began
# with a little-endian uint32 n, whose first byte can be any value, so
# the decoders also require the header and the token stream to fill
# the blob exactly; an earlier-layout blob fails one of the two checks
# with a ValueError instead of decoding to wrong values.
_DOD_TAG = 0xD2
_XOR_TAG = 0xC2


def _varint(x: int) -> bytes:
    """Unsigned LEB128 of a non-negative int < 2**64."""
    out = bytearray()
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def _read_varint(b: bytes, i: int) -> tuple[int, int]:
    x = shift = 0
    while True:
        if i >= len(b) or shift > 63:
            raise ValueError(
                "malformed blob header: truncated or overlong varint")
        c = b[i]
        i += 1
        x |= (c & 0x7F) << shift
        if c < 0x80:
            if x >> 64:
                raise ValueError(
                    "malformed blob header: varint exceeds 64 bits")
            return x, i
        shift += 7


def _zigzag(v: int) -> int:
    """int64 → uint64 with small magnitudes near zero (Python ints)."""
    return ((v << 1) ^ (v >> 63)) & _M64


def _unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def _check_tag(b: bytes, tag: int, kind: str) -> None:
    if not b or b[0] != tag:
        raise ValueError(
            f"not a {kind} blob of this codec layout (first byte "
            f"{b[0] if b else None!r}, expected {tag}); blobs written by an "
            "earlier layout must be re-encoded")


def _check_stream(b: bytes, start: int, tokens: int, kind: str) -> None:
    """The header must end inside the blob, and the stream after it
    must hold at least one bit per token and be empty without tokens."""
    left = len(b) - start
    if left < 0 or (tokens == 0 and left) or tokens > 8 * left:
        raise ValueError(
            f"malformed {kind} blob: header and stream do not fill it "
            f"({len(b)} bytes, {tokens} tokens from byte {start})")


def _check_end(end_bits, stream_bytes, kind: str) -> None:
    """Token streams are zero-padded to a whole byte, so the bit just
    past the last token lands in the stream's last byte."""
    if np.any((np.asarray(end_bits) + 7) >> 3 != np.asarray(stream_bytes)):
        raise ValueError(
            f"malformed {kind} blob: its tokens do not end at the end of "
            "its stream (not this codec layout, or corrupt)")


def _dod_header(b: bytes):
    """(n, t0, d0, ladder widths, stream start byte) of a timestamp blob."""
    _check_tag(b, _DOD_TAG, "timestamp")
    n, i = _read_varint(b, 1)
    t0 = d0 = 0
    widths = (0, 0, 0, 0)
    if n >= 1:
        t0 = int.from_bytes(b[i:i + 8], "little", signed=True)
        i += 8
    if n >= 2:
        z, i = _read_varint(b, i)
        d0 = _unzigzag(z)
    if n >= 3:
        w = int.from_bytes(b[i:i + 3], "big")
        widths = (w >> 18, (w >> 12) & 63, (w >> 6) & 63, w & 63)
        i += 3
    _check_stream(b, i, max(n - 2, 0), "timestamp")
    return n, t0, d0, widths, i


def _xor_header(b: bytes):
    """(n, v0 bits, stream start byte) of a value blob."""
    _check_tag(b, _XOR_TAG, "value")
    n, i = _read_varint(b, 1)
    v0 = 0
    if n >= 1:
        v0 = int.from_bytes(b[i:i + 8], "little")
        i += 8
    _check_stream(b, i, max(n - 1, 0), "value")
    return n, v0, i


# ---------------------------------------------------------------------------
# delta-of-delta timestamps (µs int64)
# ---------------------------------------------------------------------------

# Token by control code: 0 is '0' (dod == 0), 1-4 are the ladder's
# buckets '10', '110', '1110', '11110' + w_k payload bits, 5 is the
# escape '11111' + 64 bits. Payloads are zigzag(dod), so a w-bit bucket
# holds every dod in [-2**(w-1), 2**(w-1) - 1].
_CTRL_VAL = np.array([0b0, 0b10, 0b110, 0b1110, 0b11110, 0b11111],
                     dtype=np.uint64)
_CTRL_BITS = np.array([1, 2, 3, 4, 5, 5], dtype=np.int64)


def _ladder(bitlen: np.ndarray) -> np.ndarray:
    """The blob's four bucket widths: the quartiles of its nonzero
    zigzag(dod) bit lengths, the last one their maximum, each capped
    at 63 (a 6-bit header field; a 64-bit dod takes the escape)."""
    nz = np.sort(bitlen[bitlen > 0])
    if nz.size == 0:
        return np.zeros(4, dtype=np.int64)
    return np.minimum(nz[(np.arange(1, 5) * nz.size + 3) // 4 - 1], 63)


def _payload_widths(ladder: np.ndarray) -> np.ndarray:
    """Payload bits by control code, from (..., 4) ladder widths."""
    out = np.zeros(ladder.shape[:-1] + (6,), dtype=np.int64)
    out[..., 1:5] = ladder
    out[..., 5] = 64
    return out


def encode_timestamps(ts_us: np.ndarray) -> bytes:
    """int64 µs array (non-decreasing not required) → bytes.
    Layout: [tag 0xD2][n: LEB128][t0: int64 LE][d0: zigzag LEB128]
    [ladder: 3 B, four 6-bit bucket widths][dod bitstream for points
    2..n-1]; each field is present only when n reaches it.
    """
    ts = np.ascontiguousarray(ts_us, dtype=np.int64)
    n = ts.size
    out = [bytes((_DOD_TAG,)), _varint(n)]
    if n >= 1:
        out.append(int(ts[0]).to_bytes(8, "little", signed=True))
    if n >= 2:
        d = np.diff(ts)
        out.append(_varint(_zigzag(int(d[0]))))
    if n >= 3:
        dod = np.diff(d)
        u = (dod.view(np.uint64) << np.uint64(1)) ^ (dod >> 63).view(np.uint64)
        bitlen = 64 - _clz64(u)
        w = _ladder(bitlen)
        out.append(int((w[0] << 18) | (w[1] << 12) | (w[2] << 6) | w[3])
                   .to_bytes(3, "big"))
        code = np.where(bitlen == 0, 0, np.searchsorted(w, bitlen) + 1)
        vals = np.empty(dod.size * 2, dtype=np.uint64)
        widths = np.empty(dod.size * 2, dtype=np.int64)
        vals[0::2], vals[1::2] = _CTRL_VAL[code], u
        widths[0::2] = _CTRL_BITS[code]
        widths[1::2] = _payload_widths(w)[code]
        out.append(_pack_tokens(vals, widths))
    return b"".join(out)


def decode_timestamps_scalar(buf: bytes) -> np.ndarray:
    """Reference per-token decoder (word-level peek reader). Kept as the
    differential-testing baseline for the vectorized batch decoder."""
    n, t0, d0, ladder, start = _dod_header(buf)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    ts = np.empty(n, dtype=np.int64)
    ts[0] = t0
    if n == 1:
        return ts
    # all arithmetic in Python ints with explicit two's-complement wrap:
    # np.int64 + 2**63 silently promotes to float64 under legacy numpy
    # promotion and corrupts the wraparound
    t = (t0 + d0 + 2**63) % 2**64 - 2**63
    ts[1] = t
    if n == 2:
        return ts
    nbits = 8 * (len(buf) - start)
    r = _BitReader(buf[start:])
    d = d0
    for i in range(2, n):
        # the control code is the run of leading ones, at most five
        w = r.peek64()
        ones = 0
        while ones < 5 and (w >> (63 - ones)) & 1:
            ones += 1
        if ones == 0:
            dod = 0
            r.skip(1)
        else:
            r.skip(ones + 1 if ones < 5 else 5)
            z = r.read(ladder[ones - 1] if ones < 5 else 64)
            dod = _unzigzag(z)
        if r.pos > nbits:  # ran past the stream: raises
            _check_end(r.pos, nbits // 8, "timestamp")
        # two's-complement wraparound, matching numpy int64 arithmetic
        # on the encode side (real µs timestamps never overflow; the
        # wrap only matters for adversarial property-test inputs)
        d = (d + dod + 2**63) % 2**64 - 2**63
        t = (t + d + 2**63) % 2**64 - 2**63
        ts[i] = t
    _check_end(r.pos, nbits // 8, "timestamp")
    return ts


# ---------------------------------------------------------------------------
# XOR float values
# ---------------------------------------------------------------------------

def _clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 (vectorized); 64 for x == 0."""
    out = np.full(x.shape, 64, dtype=np.int64)
    nz = x != 0
    # float64 mantissa can't represent all uint64 exactly → split hi/lo
    hi = (x[nz] >> np.uint64(32)).astype(np.uint32)
    lo = x[nz].astype(np.uint32)  # truncates to low 32
    hibits = np.zeros(hi.shape, dtype=np.int64)
    hi_nz = hi != 0
    hibits[hi_nz] = 31 - np.floor(np.log2(hi[hi_nz].astype(np.float64))).astype(np.int64)
    lobits = np.zeros(lo.shape, dtype=np.int64)
    lo_nz = lo != 0
    lobits[lo_nz] = 63 - np.floor(np.log2(lo[lo_nz].astype(np.float64))).astype(np.int64)
    out_nz = np.where(hi_nz, hibits, np.where(lo_nz, lobits, 64))
    out[nz] = out_nz
    return out


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Count trailing zeros of uint64 (vectorized); 64 for x == 0."""
    out = np.full(x.shape, 64, dtype=np.int64)
    nz = x != 0
    low = x[nz] & (~x[nz] + np.uint64(1))  # isolate lowest set bit
    out[nz] = _clz64(low)[...]
    out[nz] = 63 - out[nz]
    return out


def encode_values(y: np.ndarray) -> bytes:
    """float64 array → bytes.
    Layout: [tag 0xC2][n: LEB128][v0: 8 B LE][xor stream]."""
    v = np.ascontiguousarray(y, dtype=np.float64).view(np.uint64)
    n = v.size
    out = [bytes((_XOR_TAG,)), _varint(n)]
    if n >= 1:
        out.append(int(v[0]).to_bytes(8, "little"))
    if n <= 1:
        return b"".join(out)
    x = v[1:] ^ v[:-1]

    zero = x == 0
    lz = np.minimum(_clz64(x), 31)          # 5-bit field
    sig = 64 - lz - _ctz64(x)               # meaningful length
    sig = np.clip(sig, 1, 64)
    tz = 64 - lz - sig

    vals = np.empty(x.size * 2, dtype=np.uint64)
    widths = np.empty(x.size * 2, dtype=np.int64)
    # token A: control '0'  OR  '1' + 5b lz + 6b (sig mod 64)
    a = np.where(
        zero,
        np.uint64(0),
        (np.uint64(1) << np.uint64(11))
        | (lz.astype(np.uint64) << np.uint64(6))
        | (sig % 64).astype(np.uint64),
    )
    wa = np.where(zero, 1, 12)
    # token B: the meaningful bits
    b = np.where(zero, np.uint64(0), x >> tz.astype(np.uint64))
    wb = np.where(zero, 0, sig)
    vals[0::2], vals[1::2] = a, b
    widths[0::2], widths[1::2] = wa, wb
    out.append(_pack_tokens(vals, widths))
    return b"".join(out)


def decode_values_scalar(buf: bytes) -> np.ndarray:
    """Reference per-token decoder; see decode_timestamps_scalar."""
    n, v0, start = _xor_header(buf)
    v = np.empty(n, dtype=np.uint64)
    if n == 0:
        return v.view(np.float64)
    v[0] = v0
    nbits = 8 * (len(buf) - start)
    r = _BitReader(buf[start:])
    prev = v0
    for i in range(1, n):
        w = r.peek64()
        if w >> 63 == 0:
            r.skip(1)
        else:
            lz = (w >> 58) & 0x1F
            sig = (w >> 52) & 0x3F
            if sig == 0:
                sig = 64
            r.skip(12)
            x = r.read(sig) << (64 - lz - sig)
            prev = (prev ^ x) & _M64
        if r.pos > nbits:  # ran past the stream: raises
            _check_end(r.pos, nbits // 8, "value")
        v[i] = prev
    if n > 1:
        _check_end(r.pos, nbits // 8, "value")
    return v.view(np.float64)


# ---------------------------------------------------------------------------
# Vectorized batch decode (round 3)
#
# A variable-length code only serializes token POSITIONS; widths are a
# pure function of a few leading control bits. So decode splits into:
#   1. width-at-every-bit-position table (vectorized LUT gather),
#   2. position chain p_{k+1} = p_k + width[p_k] — followed in LOCKSTEP
#      across all chunks of the batch (one small gather per token
#      index, not one Python iteration per token per chunk),
#   3. payload extraction at the realized positions (one big gather +
#      shift arithmetic),
#   4. series reconstruction via prefix scans with per-chunk offset
#      subtraction (exact: + and xor are associative mod 2^64, the
#      same wraparound semantics as the scalar decoder).
# Working-set is bounded by _MAX_STREAM_BYTES sub-batches.
# ---------------------------------------------------------------------------

_MAX_STREAM_BYTES = 64 << 20  # per sub-batch; bounds the bytes-join
# Decoder scratch scales with TOKEN count, not bytes (a Δ=1 index
# stream packs ~8 one-bit tokens per byte), so sub-batches are bounded
# by BOTH: bytes for the concat/gather buffers, tokens for the
# O(tokens) position/window/payload scratch (~50 B/token peak → ≤1 GiB
# per sub-batch at this cap, executor-memory safe).
_MAX_STREAM_TOKENS = 16 << 20
# The lockstep chain runs max(counts) steps over len(group)-wide
# arrays, so its REAL cost is cells = max(counts) * len(group), which
# skewed groups (many tiny blobs + one whale) can blow up to >>
# sum(counts). Two more split rules keep it honest: cells may never
# exceed _CHAIN_WASTE x the group's useful tokens (bounds total chain
# work at _CHAIN_WASTE x O(tokens) whatever the skew), nor the
# absolute _MAX_CHAIN_CELLS (bounds the chain arena buffer, 128 MiB
# of int64 at this cap).
_MAX_CHAIN_CELLS = 16 << 20
_CHAIN_WASTE = 2


class _Arena:
    """Persistent per-process scratch buffers. This host (and any cold
    executor) pays heavy first-touch page-fault cost on fresh large
    allocations; reusing named buffers across decode calls pays it once
    per worker instead of once per Arrow batch. Buffers grow with 30%
    headroom and are keyed by name, so the working set is bounded by
    the sub-batch caps: a few × _MAX_STREAM_BYTES for byte-side
    buffers plus ~50 B × _MAX_STREAM_TOKENS for token-side scratch,
    per process. Buffers never shrink — a persistent high-water mark
    by design (first-touch cost paid once per worker)."""

    def __init__(self):
        self._local = threading.local()

    def __call__(self, key: str, n: int, dtype) -> np.ndarray:
        # buffers are per-THREAD (threading.local): the decode_*_many
        # API stays safe under concurrent driver-side callers (e.g. a
        # ThreadPoolExecutor submitting jobs) — sharing one buffer dict
        # across threads would silently corrupt in-flight windows.
        # PySpark workers are single-threaded, so the scale path pays
        # for exactly one buffer set per process either way.
        bufs = getattr(self._local, "bufs", None)
        if bufs is None:
            bufs = self._local.bufs = {}
        n = int(n)
        buf = bufs.get(key)
        if buf is None or buf.dtype != np.dtype(dtype) or buf.size < n:
            buf = np.empty(max(n, int(n * 1.3) + 64), dtype=dtype)
            bufs[key] = buf
        return buf[:n]


_arena = _Arena()

# DoD control code by the leading 5 bits: the run of leading ones
# ('0' → 0, '10' → 1, ..., '11110' → 4, '11111' → 5, the escape)
_DOD_CODE_LUT = np.empty(32, dtype=np.uint8)
for _c in range(32):
    _DOD_CODE_LUT[_c] = 5 - len(format(_c, "05b").lstrip("1"))

# token width by the leading 12 bits (XOR values): '0' → 1, else
# '1' + 5b lz + 6b sig-mod-64 → 12 + (sig or 64)
_VAL_WIDTH_LUT = np.empty(4096, dtype=np.uint8)
for _c in range(4096):
    if _c < 0x800:
        _VAL_WIDTH_LUT[_c] = 1
    else:
        _sig = _c & 0x3F
        _VAL_WIDTH_LUT[_c] = 12 + (_sig if _sig else 64)
del _c


def _concat_streams(streams: list[bytes]):
    """Concatenate per-chunk bit streams (byte-aligned, 16 pad bytes at
    the end so 9-byte window gathers never overrun) and return the
    padded byte array plus per-chunk start bit offsets. Windows near a
    chunk's end spill into the next chunk's bytes, but spilled bits are
    never part of any extracted payload (shift arithmetic discards
    them)."""
    offs = np.zeros(len(streams) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in streams], out=offs[1:])
    buf = b"".join(streams) + b"\x00" * 16
    return np.frombuffer(buf, dtype=np.uint8), offs[:-1] * 8


def _win64_at(u8: np.ndarray, pos: np.ndarray, key: str) -> np.ndarray:
    """64-bit big-endian window at arbitrary bit positions, built from
    nine byte-gathers — O(tokens), no whole-stream table (token widths
    here average tens of bits, so per-bit tables cost ~70x the token
    count). Arena-backed: result valid until next call with same key."""
    n = pos.size
    i = _arena(key + "_i", n, np.int64)
    t8 = _arena(key + "_t8", n, np.uint8)
    w = _arena(key, n, np.uint64)
    np.right_shift(pos, 3, out=i)
    np.take(u8, i, out=t8)
    np.copyto(w, t8)
    for _ in range(7):
        np.add(i, 1, out=i)
        np.take(u8, i, out=t8)
        np.left_shift(w, np.uint64(8), out=w)
        np.bitwise_or(w, t8, out=w)
    off = _arena(key + "_off", n, np.uint64)
    np.copyto(off, pos, casting="unsafe")  # pos >= 0 always
    np.bitwise_and(off, np.uint64(7), out=off)
    np.left_shift(w, off, out=w)
    np.add(i, 1, out=i)
    np.take(u8, i, out=t8)
    sp = _arena(key + "_sp", n, np.uint64)
    np.copyto(sp, t8)
    np.subtract(np.uint64(8), off, out=off)
    np.right_shift(sp, off, out=sp)
    np.bitwise_or(w, sp, out=w)
    return w


def _chain_positions(u8: np.ndarray, start_bits: np.ndarray,
                     counts: np.ndarray, dod_widths: np.ndarray | None = None):
    """Follow p += width(p) for every chunk in lockstep. Widths are
    decoded at VISITED positions only (a 2-3 byte gather + control-bit
    LUT per step, vectorized across chunks): total work is O(tokens),
    independent of stream bit-length. The only per-token Python
    iteration left in the codec — one iteration per token *index*, not
    per token per chunk.

    ``dod_widths`` is given for DoD streams: each chunk's token width by
    its leading 5 bits, one row per chunk, since each blob carries its
    own bucket ladder; without it the stream is XOR values (one shared
    12-bit LUT). Returns the chunk-major flat token bit positions and
    each chunk's end bit (just past its last token)."""
    maxn = int(counts.max())
    nch = counts.size
    last = (u8.size - 10) * 8  # keep all gathers in the padded buffer
    pos = start_bits.copy()
    out = _arena("chain", nch * (maxn + 1), np.int64).reshape(nch, maxn + 1)
    i = _arena("ch_i", nch, np.int64)
    sh = _arena("ch_sh", nch, np.int64)
    b8 = _arena("ch_b8", nch, np.uint8)
    wstep = _arena("ch_w", nch, np.uint8)
    if dod_widths is not None:
        t = _arena("ch_t16", nch, np.uint16)
        mask, nbytes, shbase = np.uint16(0x1F), 2, 11
        lut = np.ascontiguousarray(dod_widths, dtype=np.uint8).ravel()
        k = _arena("ch_k", nch, np.int64)
        rowbase = np.arange(nch, dtype=np.int64) * 32
    else:
        t = _arena("ch_t32", nch, np.uint32)
        mask, nbytes, shbase = np.uint32(0xFFF), 3, 12
        lut = _VAL_WIDTH_LUT
    sh_t = _arena("ch_sht", nch, t.dtype)
    for s in range(maxn):
        out[:, s] = pos
        np.right_shift(pos, 3, out=i)
        np.take(u8, i, out=b8)
        np.copyto(t, b8)
        for _ in range(nbytes - 1):
            np.left_shift(t, t.dtype.type(8), out=t)
            np.add(i, 1, out=i)
            np.take(u8, i, out=b8)
            np.bitwise_or(t, b8, out=t)
        # top control bits at bit offset (pos & 7) inside the window
        np.bitwise_and(pos, 7, out=sh)
        np.subtract(shbase, sh, out=sh)
        np.copyto(sh_t, sh, casting="unsafe")
        np.right_shift(t, sh_t, out=t)
        np.bitwise_and(t, mask, out=t)
        if dod_widths is None:
            np.take(lut, t, out=wstep)
        else:
            np.add(rowbase, t, out=k)
            np.take(lut, k, out=wstep)
        # exhausted chunks idle forward through pad/garbage, clamped
        pos += wstep
        np.minimum(pos, last, out=pos)
    out[:, maxn] = pos
    keep = np.arange(maxn)[None, :] < counts[:, None]
    return out[:, :maxn][keep], out[np.arange(nch), counts]


def _segment_starts(counts: np.ndarray) -> np.ndarray:
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return starts


def _segmented_cumsum(x: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment inclusive cumsum of concatenated int64 segments,
    identical (mod 2^64) to per-segment np.cumsum."""
    g = np.cumsum(x)
    starts = _segment_starts(counts)
    return g - np.repeat(g[starts] - x[starts], counts)


def _segmented_cumxor(x: np.ndarray, counts: np.ndarray) -> np.ndarray:
    g = np.bitwise_xor.accumulate(x)
    starts = _segment_starts(counts)
    return g ^ np.repeat(g[starts] ^ x[starts], counts)


def _scatter_series(n: np.ndarray, first: np.ndarray, second: np.ndarray,
                    body: np.ndarray, dtype) -> tuple[np.ndarray, np.ndarray]:
    """Assemble per-chunk output [first, second?, body...] into one flat
    chunk-major array. `second` may be None (values streams decode
    n-1 tokens, timestamps n-2)."""
    total = int(n.sum())
    out = np.empty(total, dtype=dtype)
    starts = _segment_starts(n)
    mask = np.ones(total, dtype=bool)
    has1 = n >= 1
    out[starts[has1]] = first[has1]
    mask[starts[has1]] = False
    if second is not None:
        has2 = n >= 2
        out[starts[has2] + 1] = second[has2]
        mask[starts[has2] + 1] = False
    out[mask] = body
    return out, starts


def decode_timestamps_many(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode of many timestamp blobs.

    Returns ``(flat, n)``: the concatenated int64 series in input order
    and per-blob lengths (``np.split(flat, np.cumsum(n)[:-1])`` gives
    the per-blob arrays). Sub-batches by stream bytes to bound memory.
    Raises ValueError on a blob that is not of this layout.
    """
    m = len(bufs)
    n = np.empty(m, dtype=np.int64)
    t0 = np.zeros(m, dtype=np.int64)
    d0 = np.zeros(m, dtype=np.int64)
    ladder = np.zeros((m, 4), dtype=np.int64)
    start = np.empty(m, dtype=np.int64)
    for j, b in enumerate(bufs):
        n[j], t0[j], d0[j], ladder[j], start[j] = _dod_header(b)
    t1 = t0 + d0  # array op: wraps mod 2^64 like the scalar decoder
    pw = _payload_widths(ladder)
    # token width by the leading 5 bits, per blob
    widths32 = (pw + _CTRL_BITS)[:, _DOD_CODE_LUT]

    counts = np.maximum(n - 2, 0)
    nbytes = np.array([len(b) for b in bufs], dtype=np.int64) - start
    body = np.empty(int(counts.sum()), dtype=np.int64)
    bpos = 0
    for sel in _byte_subbatches(nbytes, counts):
        u8, starts_bits = _concat_streams(
            [bufs[j][start[j]:] for j in sel])
        c = counts[sel]
        flat_pos, ends = _chain_positions(u8, starts_bits, c, widths32[sel])
        _check_end(ends - starts_bits, nbytes[sel], "timestamp")
        dod = _dod_payloads(u8, flat_pos, pw[sel], c)
        d = np.repeat(d0[sel], c) + _segmented_cumsum(dod, c)
        seg = np.repeat(t1[sel], c) + _segmented_cumsum(d, c)
        body[bpos:bpos + seg.size] = seg
        bpos += seg.size
    flat, _ = _scatter_series(n, t0, t1, body, np.int64)
    return flat, n


def _dod_payloads(u8, flat_pos, pw, counts) -> np.ndarray:
    """dod of every token: its control code is read at its position,
    its payload width from its blob's ladder row of ``pw`` at that
    code; the payload (zigzag) starts right after the control bits."""
    i = flat_pos >> 3
    top = ((u8[i].astype(np.uint16) << 8) | u8[i + 1]) >> (
        11 - (flat_pos & 7)).astype(np.uint16)
    codes = _DOD_CODE_LUT[top & 0x1F]
    w = pw[np.repeat(np.arange(counts.size), counts), codes]
    win = _win64_at(u8, flat_pos + _CTRL_BITS[codes], "win")
    # a 0-bit payload (code 0) cannot shift by 64: take 63, then clear
    z = win >> np.minimum(64 - w, 63).astype(np.uint64)
    z[w == 0] = 0
    return ((z >> np.uint64(1)).view(np.int64)
            ^ -(z & np.uint64(1)).view(np.int64))


def decode_values_many(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode of many value blobs → ``(flat float64, n)``.
    Raises ValueError on a blob that is not of this layout."""
    m = len(bufs)
    n = np.empty(m, dtype=np.int64)
    v0 = np.zeros(m, dtype=np.uint64)
    start = np.empty(m, dtype=np.int64)
    for j, b in enumerate(bufs):
        n[j], v0[j], start[j] = _xor_header(b)

    counts = np.maximum(n - 1, 0)
    nbytes = np.array([len(b) for b in bufs], dtype=np.int64) - start
    body = np.empty(int(counts.sum()), dtype=np.uint64)
    bpos = 0
    for sel in _byte_subbatches(nbytes, counts):
        u8, starts_bits = _concat_streams(
            [bufs[j][start[j]:] for j in sel])
        c = counts[sel]
        flat_pos, ends = _chain_positions(u8, starts_bits, c)
        _check_end(ends - starts_bits, nbytes[sel], "value")
        x = _xor_payloads(u8, flat_pos)
        seg = np.repeat(v0[sel], c) ^ _segmented_cumxor(x, c)
        body[bpos:bpos + seg.size] = seg
        bpos += seg.size
    flat, _ = _scatter_series(n, v0, None, body, np.uint64)
    return flat.view(np.float64), n


def _xor_payloads(u8, flat_pos) -> np.ndarray:
    win = _win64_at(u8, flat_pos, "win")
    x = np.zeros(flat_pos.size, dtype=np.uint64)
    nz = (win >> np.uint64(63)) == 1
    winz = win[nz]
    lz = (winz >> np.uint64(58)) & np.uint64(0x1F)
    sig = (winz >> np.uint64(52)) & np.uint64(0x3F)
    sig[sig == 0] = 64
    # payload bits start 12 in; encoder guarantees lz + sig <= 64
    w2 = _win64_at(u8, flat_pos[nz] + 12, "win2")
    x[nz] = (w2 >> (np.uint64(64) - sig)) << (np.uint64(64) - lz - sig)
    return x


def _byte_subbatches(nbytes, counts):
    """Yield index arrays grouping CONTIGUOUS runs of blobs into
    sub-batches (contiguity keeps the body-buffer layout sequential)
    bounded four ways: summed stream bytes (_MAX_STREAM_BYTES, from the
    per-blob stream sizes ``nbytes``), summed
    token counts (_MAX_STREAM_TOKENS), and the lockstep-chain cell
    count max(counts)*len(group) — both absolutely (_MAX_CHAIN_CELLS)
    and relative to useful tokens (_CHAIN_WASTE), so a token-count-
    skewed batch (many 1-token tail blobs + full 4096-token chunks)
    can't inflate chain work/scratch beyond O(tokens). At least one
    blob per group — a single over-cap blob still decodes, its scratch
    is inherently O(its own tokens). Skips blobs with no tokens."""
    group: list[int] = []
    size = 0
    toks = 0
    maxtok = 0
    for j in np.flatnonzero(counts > 0):
        b = int(nbytes[j])
        t = int(counts[j])
        cells = max(maxtok, t) * (len(group) + 1)
        if group and (size + b > _MAX_STREAM_BYTES
                      or toks + t > _MAX_STREAM_TOKENS
                      or cells > _MAX_CHAIN_CELLS
                      or cells > _CHAIN_WASTE * (toks + t)):
            yield np.array(group, dtype=np.int64)
            group, size, toks, maxtok = [], 0, 0, 0
        group.append(j)
        size += b
        toks += t
        maxtok = max(maxtok, t)
    if group:
        yield np.array(group, dtype=np.int64)


def decode_timestamps(buf: bytes) -> np.ndarray:
    """Single-blob decode via the vectorized batch path (so every
    roundtrip test exercises the production decoder)."""
    flat, _ = decode_timestamps_many([buf])
    return flat


def decode_values(buf: bytes) -> np.ndarray:
    flat, _ = decode_values_many([buf])
    return flat
