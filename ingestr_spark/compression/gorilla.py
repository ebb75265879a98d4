"""Delta-of-delta timestamp + Gorilla XOR value compression (rule-mandated).

Not present in the reference (it has no storage layer beyond CSV caches —
R/ingest_modis_bysite.R:98-103); mandated by BASELINE.json north_rule for
rolled-up points in continuous-aggregate tables. Formats follow the Gorilla
paper (Pelkonen et al., VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory
Time Series Database", §4.1):

* timestamps: header = t0 (64 bit) + first delta (64 bit); then per point a
  delta-of-delta in variable-length buckets
  '0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+64b (zigzag-coded),
* values: v0 raw 64 bit; then XOR with previous:
  '0' if identical; '10' + meaningful bits if they fit the previous
  leading/trailing-zero window; '11' + 6b leading + 6b length + bits.

NaN encodes fine (it's just a bit pattern; NaN XOR NaN == 0). Round-trip is
bit-exact on float64 — asserted by tests incl. a hypothesis property.

Scale design: the codecs run as grouped pandas UDFs over (key, chunk) —
one Arrow batch per chunk, bounded chunk length keeps executor memory flat
(SURVEY §7.3-5). Round 4 vectorized ENCODE: the value encoder walks window
RESTARTS and emits whole '10' runs with numpy, the timestamp encoder is
fully vectorized (no cross-point state), and both are assembled by a
word-level bit packer. DECODE is one fused scalar loop per stream: one
11-byte window read holds a complete field at any alignment, and a run of
'0' controls (value repeats, dod=0 timestamps) is filled vectorized from
one read. There is no speculative bulk decoder: on the benchmark's seed-1
series (in process, 4-core VM) the loop alone decodes build_wide's 196k
points in 261 ms against 333 ms with the uniform-'10', periodic-pattern
and same-bucket-dod bulk paths and their gating, and the 40k-point
maintain_query base store in 75 ms against 42 ms — and no timed
operation of either workload decodes a blob. 6-9 Mpt/s encode; decode
rates per shape in PERF.md — a native (Scala/C) kernel remains the
further upgrade path, interface unchanged. Scalar reference encoders are
retained and byte-equality is hypothesis-tested, so CODEC_VERSION stays 2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Chunk-format version byte, written first in every blob so stored-format
# changes fail loudly instead of decoding garbage. v2 = zigzag-symmetric dod
# bucket ranges (round-2 fix); round-1 blobs were unversioned — their first
# byte is the high byte of the 32-bit count, i.e. 0x00 for any chunk under
# 2^24 points, so they are reliably rejected as "unversioned legacy".
CODEC_VERSION = 2


def _check_version(r: "_BitReader", what: str) -> None:
    v = r.read(8)
    if v != CODEC_VERSION:
        hint = "unversioned round-1 blob (re-encode the tier)" if v == 0 else "unknown"
        raise ValueError(
            f"{what} chunk codec version {v} != {CODEC_VERSION} ({hint})"
        )


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_zeros(self, bits: int) -> None:
        """Append ``bits`` zero bits — byte-aligned bulk fill (one buffer
        extend) instead of per-bit big-int shifting."""
        head = (8 - self.nbits) % 8
        if head:
            head = min(head, bits)
            self.write(0, head)
            bits -= head
        nbytes, rem = divmod(bits, 8)
        if nbytes:
            self.buf.extend(b"\x00" * nbytes)
        if rem:
            self.write(0, rem)

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, bits: int) -> int:
        """Read ``bits`` as one big-endian slice (one int.from_bytes per
        call, not one loop iteration per bit — the per-bit version made
        DECODE 4x slower than encode)."""
        pos = self.pos
        end = pos + bits
        if end > 8 * len(self.data):
            raise ValueError(
                f"truncated blob: need bit {end}, have {8 * len(self.data)}"
            )
        last = (end + 7) >> 3
        chunk = int.from_bytes(self.data[pos >> 3:last], "big")
        self.pos = end
        return (chunk >> ((last << 3) - end)) & ((1 << bits) - 1)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---- timestamp codec: delta-of-delta ---------------------------------------

def _check_ts_deltas(ts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Bounded-delta precondition (ADVICE r4): the wire format stores the
    first delta and every delta-of-delta as int64, so inputs whose
    consecutive differences overflow int64 (e.g. values spanning ±2^62)
    would wrap in ``np.diff`` and encode a blob the decoder then rejects as
    corrupt. Detect the wrap at ENCODE time and raise here instead.

    Subtraction ``b - a`` overflows int64 iff the operands have opposite
    signs and the wrapped result has the sign of ``a`` (xor trick — exact,
    no widening needed). Returns ``(deltas, dods)`` so the caller reuses
    them instead of recomputing the diffs (review r5)."""
    if len(ts) < 2:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    d = ts[1:] - ts[:-1]  # may wrap
    if bool(np.any(((ts[1:] ^ ts[:-1]) < 0) & ((ts[1:] ^ d) < 0))):
        raise ValueError(
            "timestamp delta exceeds int64: consecutive inputs differ by "
            "more than 2^63-1; the delta-of-delta wire format cannot "
            "represent this (bounded-delta precondition)"
        )
    if len(d) < 2:
        return (d, np.empty(0, dtype=np.int64))
    dd = d[1:] - d[:-1]
    if bool(np.any(((d[1:] ^ d[:-1]) < 0) & ((d[1:] ^ dd) < 0))):
        raise ValueError(
            "timestamp delta-of-delta exceeds int64: consecutive deltas "
            "differ by more than 2^63-1; the delta-of-delta wire format "
            "cannot represent this (bounded-delta precondition)"
        )
    return (d, dd)


def encode_timestamps(ts: np.ndarray) -> bytes:
    """ts: int64 array (epoch seconds or any monotone int axis).

    Fully vectorized (r4): unlike the value codec, the dod bucket choice has
    NO cross-point state, so every field (bucket-fused control+payload, or
    a split control + 64-bit payload for the '1111' bucket, plus zero-run
    fillers) is computed with numpy and assembled by :func:`_bit_assemble`.
    Byte-identical to :func:`_encode_timestamps_scalar`
    (equivalence-tested). Raises ValueError on inputs whose deltas or
    delta-of-deltas overflow int64 (see :func:`_check_ts_deltas`)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n <= 2:
        return _encode_timestamps_scalar(ts)  # scalar runs the check
    deltas, dods = _check_ts_deltas(ts)  # == np.diff(ts), np.diff(deltas)
    u64 = (1 << 64) - 1
    field_vals: list[int] = [CODEC_VERSION, n, int(ts[0]) & u64,
                             int(deltas[0]) & u64]
    field_bits: list[int] = [8, 32, 64, 64]
    nz = np.flatnonzero(dods)
    if len(nz):
        d = dods[nz]
        z = (np.left_shift(d, 1) ^ np.right_shift(d, 63)).view(np.uint64)
        gaps = np.diff(nz, prepend=-1) - 1
        b0 = (d >= -64) & (d <= 63)
        b1 = ~b0 & (d >= -256) & (d <= 255)
        b2 = ~b0 & ~b1 & (d >= -2048) & (d <= 2047)
        big = ~(b0 | b1 | b2)
        # small buckets fuse control+payload into one <=16-bit field; the
        # '1111' bucket would need 68 bits, so it splits into a 4-bit
        # control and a 64-bit payload (same bitstream)
        zs = np.where(big, np.uint64(0), z)
        fused = np.where(
            b0, np.uint64(2 << 7) | zs,
            np.where(b1, np.uint64(6 << 9) | zs,
                     np.where(b2, np.uint64(14 << 12) | zs, np.uint64(0b1111))),
        )
        fused_bits = np.where(b0, 9, np.where(b1, 12, np.where(b2, 16, 4)))
        pay = np.where(big, z, np.uint64(0))
        pay_bits = np.where(big, 64, 0)
        field_vals += np.column_stack(
            (np.zeros(len(nz), dtype=np.uint64), fused, pay)
        ).ravel().tolist()
        field_bits += np.column_stack(
            (gaps, fused_bits, pay_bits)
        ).ravel().tolist()
        tail = len(dods) - (int(nz[-1]) + 1)
    else:
        tail = len(dods)
    if tail:
        field_vals.append(0)
        field_bits.append(tail)
    return _bit_assemble(field_vals, field_bits)


def _encode_timestamps_scalar(ts: np.ndarray) -> bytes:
    """Scalar reference encoder (pre-round-4), kept as the bit-equality
    oracle for the vectorized path. Enforces the same bounded-delta
    precondition as the vectorized encoder so the two stay
    exception-equivalent too."""
    ts = np.asarray(ts, dtype=np.int64)
    _check_ts_deltas(ts)
    n = len(ts)
    w = _BitWriter()
    w.write(CODEC_VERSION, 8)
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    deltas = np.diff(ts)
    w.write(int(deltas[0]) & ((1 << 64) - 1), 64)
    dods = np.diff(deltas)
    # Regular cadence dominates real series: every dod==0 is a single '0'
    # bit, so a run of z zeros is ONE write(0, z) call — identical
    # bitstream, O(nonzero dods) Python work instead of O(points).
    nz = np.flatnonzero(dods)
    prev_end = 0
    for i in nz.tolist():
        if i > prev_end:
            w.write_zeros(i - prev_end)
        prev_end = i + 1
        dod = int(dods[i])
        # zigzag-symmetric ranges: zigzag(dod) must fit the field width
        # (zigzag(63)=126, zigzag(-64)=127 fit 7 bits; zigzag(64)=128 does
        # not — the paper's asymmetric ranges assume offset, not zigzag).
        # Control prefix and payload are fused into ONE write call each
        # (identical bitstream, half the Python call count).
        if -64 <= dod <= 63:
            w.write((0b10 << 7) | _zigzag(dod), 9)
        elif -256 <= dod <= 255:
            w.write((0b110 << 9) | _zigzag(dod), 12)
        elif -2048 <= dod <= 2047:
            w.write((0b1110 << 12) | _zigzag(dod), 16)
        else:
            w.write((0b1111 << 64) | _zigzag(dod), 68)
    if len(dods) > prev_end:
        w.write_zeros(len(dods) - prev_end)
    return w.getvalue()


def decode_timestamps(blob: bytes) -> np.ndarray:
    r = _BitReader(blob)
    _check_version(r, "timestamp")
    n = r.read(32)
    # plausibility guard BEFORE allocating: every point costs >= 1 bit, so
    # a corrupt count larger than the blob's bit length would otherwise
    # demand an absurd allocation (2^32 points = 32 GB) before the bounds
    # checks could fire
    if n > 8 * len(blob):
        raise ValueError(
            f"truncated blob: header count {n} exceeds {8 * len(blob)} bits"
        )
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    t0 = r.read(64)
    out[0] = t0 - (1 << 64) if t0 >= (1 << 63) else t0
    if n == 1:
        return out
    d = r.read(64)
    delta = d - (1 << 64) if d >= (1 << 63) else d
    try:
        # exact python-int sum: numpy scalar addition would WRAP silently
        # for an adversarial header (t0 near the int64 edge), decoding
        # wrong values instead of raising (review r5)
        out[1] = int(out[0]) + delta
    except OverflowError as e:
        raise ValueError("corrupt blob: value out of int64 range") from e
    # Inlined bit reader (r4, same rework as decode_values): one ≤4-bit
    # control peek picks the dod bucket (prefix '0'/'10'/'110'/'1110'/
    # '1111'), then one payload read — was up to 5 read() calls per point.
    data, pos = r.data, r.pos
    blen = 8 * len(data)
    prev = int(out[1])
    i = 2
    try:
        return _decode_ts_loop(data, pos, blen, n, delta, prev, out, i)
    except OverflowError as e:
        # only corrupt payloads can push the accumulators outside int64
        # (valid encodes of int64 inputs round-trip in range)
        raise ValueError("corrupt blob: value out of int64 range") from e


def _decode_ts_loop(data, pos, blen, n, delta, prev, out, i):
    """Fused-window loop (r5, same rework as decode_values): ONE 11-byte
    read holds a complete field at any alignment (7 alignment + 4 control
    + 64 payload = 75 <= 88 bits). A run of '0' controls is a dod=0
    ARITHMETIC run — filled vectorized as prev + delta*arange, up to ~86
    points per window read (the old fast path needed byte alignment and
    took 8 at a time). The endpoint is range-checked with exact python
    ints; intermediates are bounded by the monotonic endpoints, so int64
    wrap arithmetic inside numpy stays exact. Every nonzero dod is one
    scalar step on exact python ints; a running value outside int64 fails
    the ``out[i]`` store with OverflowError."""
    from_bytes = int.from_bytes
    _PAYLOAD = (0, 7, 9, 12, 64)
    INT64_MAX = 0x7FFFFFFFFFFFFFFF
    datap = data + b"\x00" * 16  # fixed-width window reads never run short
    while i < n:
        if pos >= blen:
            raise ValueError(f"truncated blob: need bit {pos + 1}, have {blen}")
        b0 = pos >> 3
        w = from_bytes(datap[b0:b0 + 11], "big")
        wend = (b0 << 3) + 88
        avail = wend - pos  # 81..88 window bits from pos (padded past blen)
        if not (w >> (avail - 1)) & 1:  # '0' control(s): dod=0 run
            v = w & ((1 << avail) - 1)
            k = min(avail - v.bit_length(), blen - pos, n - i)
            endv = prev + delta * k  # exact python int
            if endv > INT64_MAX or endv < -INT64_MAX - 1:
                raise OverflowError  # caller maps to corrupt-blob ValueError
            if k == 1:
                prev = endv
                out[i] = prev
            else:
                out[i:i + k] = prev + delta * np.arange(1, k + 1, dtype=np.int64)
                prev = endv
            pos += k
            i += k
            continue
        c = (w >> (avail - 4)) & 15  # top bit is 1, so ones >= 1
        if c < 12:
            ones = 1
        elif c < 14:
            ones = 2
        elif c < 15:
            ones = 3
        else:
            ones = 4
        ctl_bits = ones + 1 if ones < 4 else 4
        if pos + ctl_bits > blen:
            raise ValueError(f"truncated blob: need bit {pos + ctl_bits}, have {blen}")
        nbits = _PAYLOAD[ones]
        fend = pos + ctl_bits + nbits
        if fend > blen:
            raise ValueError(f"truncated blob: need bit {fend}, have {blen}")
        u = (w >> (wend - fend)) & ((1 << nbits) - 1)
        pos = fend
        dod = (u >> 1) ^ -(u & 1)
        delta += dod
        prev += delta
        out[i] = prev
        i += 1
    return out


# ---- value codec: Gorilla XOR ----------------------------------------------

def _bit_lengths_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for a uint64 array (x > 0). Exponent read off
    the float64 conversion, with an off-by-one fixup for values the
    conversion rounds UP to the next power of two (e.g. 2^60 - 1 → 2.0^60):
    candidate bl is correct or one too high, and (x >> (bl-1)) == 0 detects
    the latter exactly."""
    f = x.astype(np.float64)
    bl = ((f.view(np.uint64) >> np.uint64(52)) & np.uint64(0x7FF)).astype(
        np.int64
    ) - 1022
    bl = np.minimum(bl, 64)
    over = (x >> np.minimum(bl - 1, 63).astype(np.uint64)) == 0
    return bl - over


def _bit_assemble(field_vals, field_bits) -> bytes:
    """Pack (value, nbits) fields MSB-first into bytes — the vectorized
    replacement for per-point _BitWriter.write calls (measured ~8M bytearray
    appends per 1M points). WORD-level: each ≤64-bit field lands in at most
    two 64-bit big-endian words, scattered with bitwise_or.at (fields are
    disjoint bit ranges, so OR composes them exactly). Zero-VALUED fields
    may carry any length — all their contributions are 0 under any clipped
    shift — which is how inter-point zero runs ride the same path. Trailing
    padding is zero bits, identical to _BitWriter.getvalue()."""
    if len(field_vals) < 256:
        # few fields (short/constant series): a python int accumulator beats
        # the fixed numpy setup cost
        acc, nb = 0, 0
        for v, b in zip(
            (field_vals.tolist() if isinstance(field_vals, np.ndarray)
             else field_vals),
            (field_bits.tolist() if isinstance(field_bits, np.ndarray)
             else field_bits),
        ):
            v = int(v)
            b = int(b)
            acc = (acc << b) | (v & ((1 << b) - 1))
            nb += b
        pad = (-nb) % 8
        return (acc << pad).to_bytes((nb + pad) // 8, "big")
    fv = np.asarray(field_vals, dtype=np.uint64)
    fb = np.asarray(field_bits, dtype=np.int64)
    end = np.cumsum(fb)
    total = int(end[-1])
    start = end - fb
    nwords = (total + 63) >> 6
    # +2, not +1: a zero-width field whose start lands exactly on `total`
    # with total % 64 == 0 has widx == nwords, so the lo-lane scatter
    # targets nwords + 1 (confirmed crash on a 90-point timestamp series
    # whose final small-bucket field is zero-width) — both spill slots are
    # all-zero and dropped by the [:nwords] slice
    words = np.zeros(nwords + 2, dtype=np.uint64)
    widx = start >> 6
    off = start & 63
    spill = off + fb - 64  # bits of the field overflowing into word+1
    ls = np.clip(-spill, 0, 63).astype(np.uint64)
    rs = np.clip(spill, 0, 63).astype(np.uint64)
    hi = np.where(spill <= 0, fv << ls, fv >> rs)
    lo = np.where(
        spill > 0, fv << np.clip(64 - spill, 0, 63).astype(np.uint64),
        np.uint64(0),
    )
    np.bitwise_or.at(words, widx, hi)
    np.bitwise_or.at(words, widx + 1, lo)
    return words[:nwords].byteswap().tobytes()[: (total + 7) >> 3]


def encode_values(vals: np.ndarray) -> bytes:
    """vals: float64 array; bit-exact round trip (NaN included).

    Fully run-vectorized encoder (round-4, VERDICT #7). The only sequential
    structure in the Gorilla value format is the WINDOW chain: a '11'
    control establishes (lead, mlen) and every subsequent point reuses it
    with a 2-bit '10' control until the first point whose XOR does not fit.
    On REAL series restarts are rare (measured 27 per 196k nonzero points
    on tier-like data), so the encoder walks RESTARTS, not points: for each
    '11' restart it finds the next violating point with a
    geometrically-growing chunked numpy scan, emits the whole '10' run's
    fields with vectorized column_stack arithmetic, and one word-level
    :func:`_bit_assemble` pass packs everything.

    CORRECTION (r5): a restart RESETS the window to the new xor's tight
    (lead, mlen) — it does NOT monotonically widen, so the earlier "≤95
    restarts on any input" bound was wrong: adversarial series alternating
    xors between disjoint bit ranges restart at EVERY point, where the
    per-restart numpy overhead is ~7x slower than the scalar encoder. The
    walk therefore self-monitors restart density and bails to the
    byte-identical :func:`_encode_values_scalar` (≈1 Mpt/s floor) when
    runs are short. Byte-identical output either way
    (hypothesis-equivalence-tested), so CODEC_VERSION stays 2."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    if n == 0:
        return _encode_values_scalar(vals)
    xors = np.bitwise_xor(bits[1:], bits[:-1]) if n > 1 else np.empty(0, np.uint64)
    nz = np.flatnonzero(xors)
    # header + first raw value share the field pipeline
    seg_vals: list[np.ndarray] = [
        np.array([CODEC_VERSION, n, int(bits[0])], dtype=np.uint64)
    ]
    seg_bits: list[np.ndarray] = [np.array([8, 32, 64], dtype=np.int64)]
    J = len(nz)
    if J:
        x_nz = xors[nz]
        leads = np.minimum(64 - _bit_lengths_u64(x_nz), 31)
        low = np.bitwise_and(x_nz, np.negative(x_nz))
        trails = _bit_lengths_u64(low) - 1
        # zero-run length BEFORE each nonzero point (vectorized gap calc)
        gaps = np.diff(nz, prepend=-1) - 1
        j = 0
        restarts = 0
        j_mark = 0
        while j < J:
            # Adaptive bail (r5): the walk is O(restarts), and a restart
            # RESETS the window to the new xor's tight (lead, mlen) — it
            # does NOT monotonically widen — so adversarial series that
            # alternate xors between disjoint bit ranges restart at EVERY
            # point and the per-restart numpy overhead (~10 small array
            # ops) makes the walk ~7x slower than the scalar encoder
            # (measured 0.16 vs 1.08 Mpt/s on the corpus 'flap' shape).
            # Every 32 restarts, if the window since the last check covered
            # fewer than 16 points per restart, redo the WHOLE blob with the
            # byte-identical scalar encoder — catching dense-from-the-start
            # and sparse-then-dense shapes alike; the wasted partial walk is
            # bounded by one 32-restart window.
            restarts += 1
            if restarts & 31 == 0:
                if j - j_mark < 16 * 32:
                    return _encode_values_scalar(vals)
                j_mark = j
            # restart at j: '11' control+meta (13 bits) + mlen payload
            L = int(leads[j])
            T = int(trails[j])
            mlen = 64 - L - T
            seg_vals.append(np.array(
                [0, (((0b11 << 5) | L) << 6) | (mlen & 0x3F),
                 int(x_nz[j]) >> T],
                dtype=np.uint64,
            ))
            seg_bits.append(np.array([int(gaps[j]), 13, mlen], dtype=np.int64))
            # find the next violation with geometrically growing chunks:
            # O(run) when restarts are rare, O(small chunk) when dense
            nxt = J
            s = j + 1
            chunk = 64
            while s < J:
                e = min(s + chunk, J)
                v = (leads[s:e] < L) | (trails[s:e] < T)
                hit = int(np.argmax(v))
                if v[hit]:
                    nxt = s + hit
                    break
                s = e
                chunk = min(chunk * 8, 1 << 20)
            if nxt > j + 1:
                # bulk-emit the '10' run: per point [gap, '10' ctrl, payload]
                sl = slice(j + 1, nxt)
                m = nxt - (j + 1)
                pay = np.right_shift(x_nz[sl], np.uint64(T))
                seg_vals.append(np.column_stack((
                    np.zeros(m, dtype=np.uint64),
                    np.full(m, 2, dtype=np.uint64),
                    pay,
                )).ravel())
                seg_bits.append(np.column_stack((
                    gaps[sl],
                    np.full(m, 2, dtype=np.int64),
                    np.full(m, mlen, dtype=np.int64),
                )).ravel())
            j = nxt
    tail_start = int(nz[-1]) + 1 if J else 0
    if len(xors) > tail_start:
        seg_vals.append(np.array([0], dtype=np.uint64))
        seg_bits.append(np.array([len(xors) - tail_start], dtype=np.int64))
    return _bit_assemble(np.concatenate(seg_vals), np.concatenate(seg_bits))


def _encode_values_scalar(vals: np.ndarray) -> bytes:
    """Scalar reference encoder (pre-round-4 implementation, kept as the
    bit-equality oracle for the vectorized path)."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits)
    w = _BitWriter()
    w.write(CODEC_VERSION, 8)
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_len = 65, 0  # 65 = "no previous window"
    xors = np.bitwise_xor(bits[1:], bits[:-1]) if n > 1 else np.empty(0, np.uint64)
    # constant stretches (XOR == 0) are single '0' bits: emit runs in bulk
    nz = np.flatnonzero(xors)
    prev_end = 0
    for i in nz.tolist():
        if i > prev_end:
            w.write_zeros(i - prev_end)
        prev_end = i + 1
        x = int(xors[i])
        lead = 64 - x.bit_length()
        trail = (x & -x).bit_length() - 1
        if lead > 31:  # 5-bit leading field cap (paper format)
            lead = 31
        # control + fields + payload fused into one write per point
        # (identical bitstream, ~3x fewer Python calls)
        if prev_lead <= 64 and lead >= prev_lead and trail >= (64 - prev_lead - prev_len):
            w.write((0b10 << prev_len) | (x >> (64 - prev_lead - prev_len)),
                    2 + prev_len)
        else:
            mlen = 64 - lead - trail
            # 64 encodes as 0 in the 6-bit length field (paper trick)
            w.write(
                (((((0b11 << 5) | lead) << 6) | (mlen & 0x3F)) << mlen)
                | (x >> trail),
                13 + mlen,
            )
            prev_lead, prev_len = lead, mlen
    if len(xors) > prev_end:
        w.write_zeros(len(xors) - prev_end)
    return w.getvalue()


def decode_values(blob: bytes) -> np.ndarray:
    r = _BitReader(blob)
    _check_version(r, "value")
    n = r.read(32)
    if n > 8 * len(blob):  # see decode_timestamps: pre-allocation guard
        raise ValueError(
            f"truncated blob: header count {n} exceeds {8 * len(blob)} bits"
        )
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    cur = r.read(64)
    out[0] = cur
    # Inlined bit reader (r4): the loop below reads via LOCAL pos/data and
    # combines the control reads — '0' costs one 2-bit peek, '10' one peek +
    # one payload read, '11' one peek + one fused 11-bit lead/mlen read +
    # one payload read (was up to 5 method calls per point; ~2.5x decode).
    data, pos = r.data, r.pos
    blen = 8 * len(data)
    datap = data + b"\x00" * 16  # fixed-width window reads never run short
    from_bytes = int.from_bytes
    lead, mlen, trail = 0, 0, 0
    i = 1
    while i < n:
        if pos >= blen:
            raise ValueError(f"truncated blob: need bit {pos + 1}, have {blen}")
        # Fused single-window parse (r5): ONE 11-byte read holds a COMPLETE
        # field at any alignment — 7 alignment + 2 control + 11 meta + 64
        # payload = 84 <= 88 bits — so control, '11' lead/mlen meta, and
        # payload all come out of the same integer (was up to 3 from_bytes
        # per point; ~2x on control-flapping series).
        b0 = pos >> 3
        w = from_bytes(datap[b0:b0 + 11], "big")
        wend = (b0 << 3) + 88
        avail = wend - pos  # 81..88 window bits from pos (padded past blen)
        if not (w >> (avail - 1)) & 1:  # '0' control(s): repeat run
            v = w & ((1 << avail) - 1)
            # every leading zero bit is one repeat — consume the whole run
            # visible in this window in ONE step (any alignment; replaces
            # the old byte-aligned-only x8 path), capped at the real bit
            # length so padding zeros are never consumed
            k = min(avail - v.bit_length(), blen - pos, n - i)
            if k == 1:
                out[i] = cur
            else:
                out[i:i + k] = cur
            pos += k
            i += k
            continue
        if pos + 2 > blen:
            raise ValueError(f"truncated blob: need bit {pos + 2}, have {blen}")
        if (w >> (wend - pos - 2)) & 1:  # '11': new window, fused meta
            fend = pos + 13
            if fend > blen:
                raise ValueError(f"truncated blob: need bit {fend}, have {blen}")
            meta = (w >> (wend - fend)) & 0x7FF
            lead = meta >> 6
            mlen = (meta & 0x3F) or 64
            trail = 64 - lead - mlen
            fend += mlen
        else:  # '10': reuse the current window
            fend = pos + 2 + mlen
        if fend > blen:
            raise ValueError(f"truncated blob: need bit {fend}, have {blen}")
        x = (w >> (wend - fend)) & ((1 << mlen) - 1)
        pos = fend
        # mask to 64 bits: a no-op for valid blobs (trail+mlen <= 64), and
        # keeps a corrupt '11' meta from overflowing the uint64 assignment
        cur = (cur ^ (x << trail)) & 0xFFFFFFFFFFFFFFFF
        out[i] = cur
        i += 1
    return out.view(np.float64)


# ---- DataFrame-level API -----------------------------------------------------

COMPRESSED_SCHEMA_SUFFIX = [
    T.StructField("n_points", T.IntegerType()),
    T.StructField("ts_dod", T.BinaryType()),
    T.StructField("vals_gorilla", T.BinaryType()),
]


def compress_tier(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    bucket_col: str = "bucket",
    chunk_expr: str = "year(bucket)",
) -> DataFrame:
    """Pack each (key, chunk) series into one row of binary columns.

    ``chunk_expr`` bounds series length per pandas-UDF group (a year of
    hourly points = 8784 — far under Arrow batch limits even for the hot
    source). Output: key_cols + chunk + n_points + ts_dod + vals_gorilla.
    """
    key_cols = key_cols or ["source"]
    work = df.select(
        *key_cols,
        F.expr(chunk_expr).alias("chunk"),
        F.col(bucket_col).cast("timestamp").cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    out_schema = T.StructType(
        [work.schema[c] for c in key_cols]
        + [work.schema["chunk"], *COMPRESSED_SCHEMA_SUFFIX]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_t")
        ts = pdf["_t"].to_numpy(dtype="int64")
        vs = pdf["_v"].to_numpy(dtype="float64")
        head = {c: [pdf[c].iloc[0]] for c in key_cols}
        head["chunk"] = [pdf["chunk"].iloc[0]]
        head["n_points"] = [len(ts)]
        head["ts_dod"] = [encode_timestamps(ts)]
        head["vals_gorilla"] = [encode_values(vs)]
        return pd.DataFrame(head)

    return (
        work.repartition(*key_cols, "chunk")
        .groupBy(*key_cols, "chunk")
        .applyInPandas(pack, out_schema)
    )


def decompress_tier(
    df: DataFrame,
    value_col: str = "value",
    key_cols: list[str] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Inverse of :func:`compress_tier`: explode binary chunks back to
    (key, bucket, value) rows."""
    key_cols = key_cols or ["source"]
    out_schema = T.StructType(
        [df.schema[c] for c in key_cols]
        + [
            T.StructField(bucket_col, T.TimestampType()),
            T.StructField(value_col, T.DoubleType()),
        ]
    )

    def unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for _, row in pdf.iterrows():
            ts = decode_timestamps(bytes(row["ts_dod"]))
            vs = decode_values(bytes(row["vals_gorilla"]))
            fr = pd.DataFrame({
                bucket_col: pd.to_datetime(ts, unit="s"),
                value_col: vs,
            })
            for c in key_cols:
                fr[c] = row[c]
            frames.append(fr[[*key_cols, bucket_col, value_col]])
        if not frames:
            return pd.DataFrame(columns=[*key_cols, bucket_col, value_col])
        return pd.concat(frames, ignore_index=True)

    return df.groupBy(*key_cols).applyInPandas(unpack, out_schema)
