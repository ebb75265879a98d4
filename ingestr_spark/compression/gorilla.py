"""Delta-of-delta timestamp + Gorilla XOR value compression (rule-mandated).

Not present in the reference (it has no storage layer beyond CSV caches —
R/ingest_modis_bysite.R:98-103); mandated by BASELINE.json north_rule for
rolled-up points in continuous-aggregate tables. Formats follow the Gorilla
paper (Pelkonen et al., VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory
Time Series Database", §4.1):

* timestamps (v3): header = t0 (64 bit), then for n >= 2 the series'
  STEP g (64 bit) and the first delta in steps (64 bit); then per point a
  delta-of-delta in steps in variable-length buckets
  '0' | '10'+7b | '110'+9b | '1110'+12b | '1111'+64b (zigzag-coded).
  g is the gcd of the consecutive deltas (1 when every delta is 0), so
  every delta and dod divides exactly: an hourly tier series with gaps
  stores its gaps as small multiples of 1 instead of multiples of 3600,
  which moves them out of the 68-bit '1111' bucket. v2 blobs (no g field,
  deltas in plain units) still decode, as g = 1.
* values: v0 raw 64 bit; then XOR with previous:
  '0' if identical; '10' + meaningful bits if they fit the previous
  leading/trailing-zero window; '11' + 6b leading + 6b length + bits.
  Unchanged since v2; v2 and v3 value blobs decode alike.

NaN encodes fine (it's just a bit pattern; NaN XOR NaN == 0). Round-trip is
bit-exact on float64 — asserted by tests incl. a hypothesis property.

Scale design: the codecs run as grouped pandas UDFs over (key, chunk) —
one Arrow batch per chunk, bounded chunk length keeps executor memory flat
(SURVEY §7.3-5). Each stream has ONE encoder and ONE decoder, all scalar
loops. ENCODE writes a run of '0' controls (value repeats, dod=0
timestamps) as one zero fill and each other point as one fused
control+payload write. DECODE reads one 11-byte window that holds a
complete field at any alignment, and fills a run of '0' controls
vectorized from one read. There is no vectorized encoder and no
speculative bulk decoder, because no timed operation of either workload
encodes or decodes a blob and the traced ``compress_tier`` spends its
time at the pandas-UDF boundary (PERF.md "One encoder per stream"). The
encoders' output is pinned by golden v3 bytes in tests/test_codec.py.
Rates per shape in PERF.md — a native (Scala/C) kernel remains the
further upgrade path, interface unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Chunk-format version byte, written first in every blob so stored-format
# changes fail loudly instead of decoding garbage. v2 = zigzag-symmetric dod
# bucket ranges (round-2 fix); v3 = timestamps in units of the series' step
# (the g header field). Both still decode. Round-1 blobs were unversioned —
# their first byte is the high byte of the 32-bit count, i.e. 0x00 for any
# chunk under 2^24 points, so they are reliably rejected as "unversioned
# legacy".
CODEC_VERSION = 3
_DECODABLE_VERSIONS = (2, CODEC_VERSION)
_INT64_MAX = (1 << 63) - 1


def _check_version(r: "_BitReader", what: str) -> int:
    v = r.read(8)
    if v not in _DECODABLE_VERSIONS:
        hint = "unversioned round-1 blob (re-encode the tier)" if v == 0 else "unknown"
        raise ValueError(
            f"{what} chunk codec version {v} not in {_DECODABLE_VERSIONS} ({hint})"
        )
    return v


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


def _ts_step(deltas: np.ndarray) -> int:
    """The series' step g: the gcd of its consecutive deltas, so every
    delta and delta-of-delta is an exact multiple of g. 1 when there is no
    delta or every delta is 0 — and when the gcd is 2^63 (every nonzero
    delta is int64 min), which int64 division cannot take."""
    g = int(np.gcd.reduce(np.abs(deltas).view(np.uint64))) if len(deltas) else 0
    return g if 0 < g <= _INT64_MAX else 1


def encode_timestamps(ts: np.ndarray) -> bytes:
    """ts: int64 array (epoch seconds or any monotone int axis).

    Deltas and dods are written in units of the series' step
    (:func:`_ts_step`), which the header carries. Raises ValueError on
    inputs whose deltas or delta-of-deltas overflow int64 (see
    :func:`_check_ts_deltas`)."""
    ts = np.asarray(ts, dtype=np.int64)
    deltas, dods = _check_ts_deltas(ts)
    n = len(ts)
    w = _BitWriter()
    w.write(CODEC_VERSION, 8)
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    g = _ts_step(deltas)
    w.write(g, 64)
    w.write((int(deltas[0]) // g) & ((1 << 64) - 1), 64)
    dods = dods // g  # exact: every dod is a multiple of g
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
    """Inverse of :func:`encode_timestamps`; also reads v2 blobs (no step
    field, g = 1). Every delta is multiplied back to plain units as an
    exact python int, so a corrupt step or payload raises ValueError
    instead of wrapping."""
    r = _BitReader(blob)
    version = _check_version(r, "timestamp")
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
    g = r.read(64) if version >= 3 else 1
    if not 1 <= g <= _INT64_MAX:
        raise ValueError(f"corrupt blob: timestamp step {g} outside 1..2^63-1")
    d = r.read(64)
    delta = (d - (1 << 64) if d >= (1 << 63) else d) * g
    try:
        # exact python-int sum: numpy scalar addition would WRAP silently
        # for an adversarial header (t0 near the int64 edge), decoding
        # wrong values instead of raising (review r5); a v3 step can also
        # scale the first delta itself beyond int64
        if not -_INT64_MAX - 1 <= delta <= _INT64_MAX:
            raise OverflowError
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
        return _decode_ts_loop(data, pos, blen, n, g, delta, prev, out, i)
    except OverflowError as e:
        # only corrupt payloads can push the accumulators outside int64
        # (valid encodes of int64 inputs round-trip in range)
        raise ValueError("corrupt blob: value out of int64 range") from e


def _decode_ts_loop(data, pos, blen, n, g, delta, prev, out, i):
    """Fused-window loop (r5, same rework as decode_values): ONE 11-byte
    read holds a complete field at any alignment (7 alignment + 4 control
    + 64 payload = 75 <= 88 bits). A run of '0' controls is a dod=0
    ARITHMETIC run — filled vectorized as prev + delta*arange, up to ~86
    points per window read (the old fast path needed byte alignment and
    took 8 at a time). The endpoint is range-checked with exact python
    ints; intermediates are bounded by the monotonic endpoints, so int64
    wrap arithmetic inside numpy stays exact. Every nonzero dod is one
    scalar step on exact python ints (the dod in steps times ``g``); a
    running value outside int64 fails the ``out[i]`` store with
    OverflowError."""
    from_bytes = int.from_bytes
    _PAYLOAD = (0, 7, 9, 12, 64)
    INT64_MAX = _INT64_MAX
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
        delta += ((u >> 1) ^ -(u & 1)) * g
        prev += delta
        out[i] = prev
        i += 1
    return out


# ---- value codec: Gorilla XOR ----------------------------------------------

def encode_values(vals: np.ndarray) -> bytes:
    """vals: float64 array; bit-exact round trip (NaN included)."""
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
    (key, bucket, value) rows. Each packed row decodes where it is read,
    one Arrow batch at a time — no shuffle."""
    key_cols = key_cols or ["source"]
    out_schema = T.StructType(
        [df.schema[c] for c in key_cols]
        + [
            T.StructField(bucket_col, T.TimestampType()),
            T.StructField(value_col, T.DoubleType()),
        ]
    )

    def unpack(batches):
        for pdf in batches:
            ts = [decode_timestamps(bytes(b)) for b in pdf["ts_dod"]]
            vs = [decode_values(bytes(b)) for b in pdf["vals_gorilla"]]
            n = [len(t) for t in ts]
            out = {c: np.repeat(pdf[c].to_numpy(), n) for c in key_cols}
            out[bucket_col] = pd.to_datetime(
                np.concatenate([np.empty(0, np.int64), *ts]), unit="s"
            )
            out[value_col] = np.concatenate([np.empty(0, np.float64), *vs])
            yield pd.DataFrame(out)

    return df.select(*key_cols, "ts_dod", "vals_gorilla").mapInPandas(
        unpack, out_schema
    )
