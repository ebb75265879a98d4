"""Gorilla / delta-of-delta codec: bit-exact round trips (SURVEY §7.1-7)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ingestr_spark.compression.gorilla import (
    compress_tier,
    decode_timestamps,
    decode_values,
    decompress_tier,
    encode_timestamps,
    encode_values,
)


def test_ts_roundtrip_regular():
    ts = np.arange(0, 86400 * 30, 3600, dtype=np.int64) + 1_640_995_200
    assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_roundtrip_irregular_and_negative_deltas():
    ts = np.array([100, 200, 250, 5000, 5001, 4000_000, 4000_060], dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_empty_and_singleton():
    for arr in ([], [42]):
        ts = np.array(arr, dtype=np.int64)
        assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_compression_ratio_regular():
    ts = np.arange(0, 3600 * 10000, 3600, dtype=np.int64)
    blob = encode_timestamps(ts)
    # regular cadence -> ~1 bit/point after the header vs 8 bytes raw
    assert len(blob) < len(ts)  # < 1 byte per point


def test_vals_roundtrip_mixed():
    vs = np.array([1.5, 1.5, 2.25, -3.75, 0.0, 1e300, -1e-300, math.pi], dtype=np.float64)
    assert np.array_equal(decode_values(encode_values(vs)).view(np.uint64), vs.view(np.uint64))


def test_vals_roundtrip_nan_inf():
    vs = np.array([1.0, np.nan, np.nan, np.inf, -np.inf, 1.0], dtype=np.float64)
    out = decode_values(encode_values(vs))
    assert np.array_equal(out.view(np.uint64), vs.view(np.uint64))


def test_vals_constant_series_compresses():
    vs = np.full(10000, 123.456)
    blob = encode_values(vs)
    assert len(blob) < 1500  # 1 bit per repeated point + header


@pytest.mark.parametrize(
    "dod",
    [63, 64, 65, 127, 128, 255, 256, 257, 2047, 2048, 2049,
     -63, -64, -65, -255, -256, -257, -2047, -2048, -2049],
)
def test_ts_roundtrip_dod_bucket_boundaries(dod):
    """Zigzag bucket edges: dod=64/256/2048 zigzag to 128/512/4096 and must
    escalate to the next bucket, not be masked to 0 (silent corruption bug
    fixed in round 2)."""
    ts = np.array([0, 100, 200 + dod], dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40), min_size=0, max_size=120))
def test_ts_roundtrip_property(xs):
    ts = np.array(sorted(xs), dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    min_size=0, max_size=120,
))
def test_vals_roundtrip_property(xs):
    vs = np.array(xs, dtype=np.float64)
    out = decode_values(encode_values(vs))
    assert np.array_equal(out.view(np.uint64), vs.view(np.uint64))


@pytest.mark.usefixtures("spark")
def test_tier_compress_decompress_roundtrip(spark, tok):
    from pyspark.sql import functions as F

    from ingestr_spark.operators.rollup import rollup_from_raw

    tier = rollup_from_raw(tok, "1d")
    packed = compress_tier(tier, value_col="avg_n_tok")
    unpacked = decompress_tier(packed, value_col="avg_n_tok")
    orig = {
        (r["source"], r["bucket"]): r["avg_n_tok"]
        for r in tier.select("source", "bucket", "avg_n_tok").collect()
    }
    got = {
        (r["source"], r["bucket"]): r["avg_n_tok"]
        for r in unpacked.collect()
    }
    assert orig == got  # bit-exact float64 equality, full key coverage
    # compression actually compresses vs 16 bytes/point raw
    stats = packed.select(
        F.sum("n_points").alias("pts"),
        F.sum(F.length("ts_dod") + F.length("vals_gorilla")).alias("bytes"),
    ).collect()[0]
    assert stats["bytes"] < stats["pts"] * 16


def test_unversioned_legacy_blob_rejected():
    """Round-1 blobs had no version byte; their first byte is the high byte
    of the 32-bit count (0x00 for any real chunk) — the decoder must fail
    loudly instead of decoding garbage."""
    import numpy as np
    import pytest

    from ingestr_spark.compression.gorilla import (
        decode_timestamps,
        decode_values,
        encode_timestamps,
    )

    blob = encode_timestamps(np.array([0, 60, 120], dtype=np.int64))
    legacy = blob[1:]  # strip the version byte = a round-1-format blob
    with pytest.raises(ValueError, match="version"):
        decode_timestamps(legacy)
    with pytest.raises(ValueError, match="version"):
        decode_values(legacy)


def test_truncated_blob_rejected():
    """A blob cut short must raise ValueError('truncated blob'), not decode
    garbage from a misaligned bit slice (round-3 multi-bit reader hazard)."""
    import numpy as np
    import pytest

    from ingestr_spark.compression.gorilla import (
        decode_timestamps,
        decode_values,
        encode_timestamps,
        encode_values,
    )

    ts_blob = encode_timestamps(np.array([0, 60, 120, 181, 240], dtype=np.int64))
    v_blob = encode_values(np.array([1.5, 1.5, 2.25, -3.0, 7.125]))
    for blob, dec in ((ts_blob, decode_timestamps), (v_blob, decode_values)):
        for cut in (1, 2, len(blob) // 2, len(blob) - 1):
            with pytest.raises(ValueError, match="truncated"):
                dec(blob[:cut])


def test_vectorized_encoder_bitequal_property():
    """The value encoder round-trips arbitrary float64 series (incl.
    NaN/inf/−0.0) bit-exactly; its bytes are pinned by
    :func:`test_v3_golden_bytes`."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from ingestr_spark.compression.gorilla import decode_values, encode_values

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.floats(allow_nan=True, allow_infinity=True,
                              width=64), max_size=300))
    def check(xs):
        vals = np.array(xs, dtype=np.float64)
        blob = encode_values(vals)
        assert np.array_equal(
            decode_values(blob).view(np.uint64), vals.view(np.uint64)
        )

    check()


def test_vectorized_ts_encoder_bitequal_property():
    """The timestamp encoder round-trips arbitrary, unsorted int64 series
    (every dod bucket + zero runs) exactly; its bytes are pinned by
    :func:`test_v3_golden_bytes`."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from ingestr_spark.compression.gorilla import (
        decode_timestamps,
        encode_timestamps,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(-2**40, 2**40), max_size=300))
    def check(xs):
        ts = np.array(xs, dtype=np.int64)
        blob = encode_timestamps(ts)
        assert np.array_equal(decode_timestamps(blob), ts)

    check()


def test_gorilla_decoders_fuzz_clean_errors():
    """Random and mutated blobs: ValueError or a successful parse — never a
    crash, hang, or giant allocation from a corrupt header count."""
    import numpy as np
    import pytest

    from ingestr_spark.compression.gorilla import (
        decode_timestamps,
        decode_values,
        encode_timestamps,
        encode_values,
    )

    rng = np.random.default_rng(31)
    ts_blob = encode_timestamps(np.arange(0, 6000, 60, dtype=np.int64))
    v_blob = encode_values(np.round(rng.normal(0, 1, 100), 2))
    # v3 blobs with a step > 1: hourly points with gaps, and one with
    # mixed-sign deltas in steps of 7 s (own generator: the random and
    # mutated corpus above and below stays what it was)
    rng3 = np.random.default_rng(32)
    gap_blob = encode_timestamps(
        1_704_067_200 + 3600 * np.cumsum(rng3.integers(1, 40, 100))
    )
    mixed_blob = encode_timestamps(7 * np.cumsum(rng3.integers(-900, 900, 100)))
    for _ in range(300):
        blob = bytes(rng.integers(0, 256, int(rng.integers(0, 80)),
                                  dtype=np.uint8))
        for dec in (decode_timestamps, decode_values):
            try:
                dec(blob)
            except ValueError:
                pass
        try:  # random payloads behind a v3 version byte
            decode_timestamps(bytes([3]) + blob)
        except ValueError:
            pass
    for blob, dec in ((ts_blob, decode_timestamps), (v_blob, decode_values),
                      (gap_blob, decode_timestamps),
                      (mixed_blob, decode_timestamps)):
        for _ in range(300):
            b = bytearray(blob)
            b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            try:
                dec(bytes(b))
            except ValueError:
                pass
    # explicit giant-count header: version 2 + count 2^32-1 + nothing
    evil = bytes([2]) + b"\xff\xff\xff\xff" + b"\x00" * 8
    for dec in (decode_timestamps, decode_values):
        with pytest.raises(ValueError, match="header count"):
            dec(evil)


def test_ts_encode_delta_overflow_raises():
    """ADVICE r4: inputs whose consecutive deltas (or delta-of-deltas)
    overflow int64 must be rejected at ENCODE time with a clear message —
    previously they encoded a blob the decoder then reported as corrupt."""
    delta_ovf = np.array([-(2**62), 2**62], dtype=np.int64)  # delta = 2^63
    dod_ovf = np.array([0, 2**62, -2], dtype=np.int64)  # dod = -2^63 - 2
    for bad in (delta_ovf, dod_ovf):
        with pytest.raises(ValueError, match="exceeds int64"):
            encode_timestamps(bad)
    # large-but-valid deltas still round-trip: deltas of exactly 2^62, dod 0
    ok = np.array([-(2**62), 0, 2**62], dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(ok)), ok)
    # dod of exactly int64 min is representable and must still work
    edge = np.array([0, 2**62 - 1, -2], dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(edge)), edge)


def _adversarial_value_corpus() -> dict[str, np.ndarray]:
    """Standing worst-case corpus for the value decoder (VERDICT r4 #2):
    deterministic series that mix the control kinds in adversarial ways.

    * ``flap``       — a window change ('11' control) at EVERY step.
    * ``under6``     — in-window runs of exactly 5 then a repeat ('0').
    * ``gate_flap``  — runs of exactly 6 then a window change.
    * ``mixed``      — seeded random interleaving of all control kinds.
    * ``flap50k``    — 50k-point window flapping from 21.5: every field is
                       a '11' restart, in one long blob.
    * ``flap_tail``  — the first half of ``flap50k`` followed by an
                       aperiodic random tail (a periodic head that stops
                       repeating mid-stream).
    """
    def bits(u):
        return np.asarray(u, dtype=np.uint64).view(np.float64)

    ONE = 0x3FF0000000000000  # 1.0
    n = 4096

    flap = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        # alternate xors in disjoint bit ranges: exponent-high vs mantissa-low
        x ^= (1 << 62) if i % 2 else (0xF << 4)
        flap[i] = x

    under6 = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        if i % 6 == 5:
            pass  # repeat → '0' control after 5 in-window changes
        else:
            x ^= ((i % 15) + 1) << 8  # same 4-bit window → '10' controls
        under6[i] = x

    gate_flap = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        if i % 7 == 6:
            x ^= 1 << 61  # window change right after 6 in-window changes
        else:
            x ^= ((i % 15) + 1) << 8
        gate_flap[i] = x

    rng = np.random.default_rng(1729)
    mixed = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        k = int(rng.integers(0, 3))
        if k == 1:
            x ^= int(rng.integers(1, 16)) << int(rng.integers(0, 52))
        elif k == 2:
            x ^= 1 << int(rng.integers(52, 63))
        mixed[i] = x

    # periodic shapes:
    # toggle — the REALISTIC flap: a sensor bouncing between two readings
    # (thermostat/status series), xor alternates between one value and
    # itself → period-2 pattern.
    toggle = np.where(np.arange(n) % 2 == 0, 21.5, 21.25)
    # period-3 with a repeat slot: two in-window changes then a hold
    p3 = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        if i % 3 != 2:
            x ^= ((i % 3) + 1) << 8
        p3[i] = x
    # pattern break: strictly periodic, then the pattern DIVERGES mid-
    # stream into a new period-3 regime
    pbreak = np.empty(n, dtype=np.uint64)
    x = ONE
    for i in range(n):
        if i < n // 2:
            x ^= (1 << 62) if i % 2 else (0xF << 4)
        elif i % 3 == 0:
            x ^= 0x7 << 30
        pbreak[i] = x

    # long window-flapping series: xors alternate between disjoint bit
    # ranges, so EVERY field is a '11' restart
    n_long = 50_000
    flap50k = np.empty(n_long, dtype=np.uint64)
    x = int(np.array(21.5).view(np.uint64))
    for j in range(n_long):
        x ^= (1 << 62) if j % 2 else (0xF << 4)
        flap50k[j] = x
    # the same series with a periodic head and an aperiodic tail
    tail = np.round(np.random.default_rng(5).normal(0, 1, n_long // 2), 3)
    flap_tail = np.concatenate([bits(flap50k[: n_long // 2]), tail])

    out = {"flap": flap, "under6": under6, "gate_flap": gate_flap,
           "mixed": mixed, "p3": p3, "pbreak": pbreak, "flap50k": flap50k}
    return {**{k: bits(v) for k, v in out.items()},
            "toggle": toggle.astype(np.float64), "flap_tail": flap_tail}


def test_adversarial_decode_corpus_roundtrips():
    """Every corpus series must round-trip bit-exactly through the
    encoder and the decoder — these shapes exercise restart flapping, short in-window
    runs broken by repeats or restarts, and periodic heads that diverge."""
    for name, vs in _adversarial_value_corpus().items():
        out = decode_values(encode_values(vs))
        assert np.array_equal(out.view(np.uint64), vs.view(np.uint64)), name


def test_ts_bulk_path_shapes_roundtrip():
    """Long series of many shapes through the one encoder and decoder:
    long same-bucket dod runs, dense nonzero dods, jitter broken by dod=0,
    bucket changes mid-run and near-int64 magnitudes — all must
    round-trip exactly."""
    rng = np.random.default_rng(11)
    shapes = [
        # one long 12-bit-bucket run (alternating cadence, dod = ±1000)
        np.cumsum(np.where(np.arange(20_000) % 2 == 0, 3600, 4600)).astype(np.int64),
        # dense nonzero 7-bit dods (jitter pattern with no zeros)
        np.cumsum(3600 + np.tile(
            np.array([7, -3, 9, -11, 5, -7, 13, -9], dtype=np.int64), 2500
        )).astype(np.int64),
        # jittered with interspersed dod=0
        np.cumsum(3600 + rng.integers(-30, 31, 20_000)).astype(np.int64),
        # bucket CHANGES mid-run (7-bit → 12-bit)
        np.cumsum(np.concatenate([
            3600 + np.tile(np.array([7, -7], dtype=np.int64), 5000),
            3600 + np.tile(np.array([900, -900], dtype=np.int64), 5000),
        ])).astype(np.int64),
        # near-int64 magnitudes
        (2**62 + np.cumsum(np.tile(
            np.array([7, -3, 9, -11, 5, -7, 13, -9], dtype=np.int64), 1000
        ))).astype(np.int64),
        # long bucket runs BROKEN by short dod=0 stretches
        np.cumsum(np.tile(np.concatenate([
            3600 + np.tile(np.array([11, -11], dtype=np.int64), 100),
            np.full(5, 3589, dtype=np.int64),
        ]), 40)).astype(np.int64),
    ]
    for k, ts in enumerate(shapes):
        assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts), k


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=0, max_size=40))
def test_ts_encode_overflow_check_matches_exact_arithmetic(xs):
    """The xor-rule overflow detector must agree EXACTLY with unbounded
    python arithmetic: encode raises iff some true delta or delta-of-delta
    leaves int64 — and when it doesn't raise, the round trip is exact."""
    ts = np.array(xs, dtype=np.int64)
    deltas = [xs[i + 1] - xs[i] for i in range(len(xs) - 1)]
    dods = [deltas[i + 1] - deltas[i] for i in range(len(deltas) - 1)]
    bad = any(not (-2**63 <= v <= 2**63 - 1) for v in deltas + dods)
    if bad:
        with pytest.raises(ValueError, match="exceeds int64"):
            encode_timestamps(ts)
    else:
        assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_decode_checked_cumsum_accepts_valid_extreme_partials():
    """Review r5 regression: a VALID series whose intermediate
    (value - base) partials leave int64 — while every true delta and
    timestamp is in range — must round-trip, not be rejected as corrupt.
    Alternating dod=±1 with huge deltas, starting near int64 min."""
    deltas = np.empty(16, dtype=object)
    deltas[0::2] = 2**60 - 2**56
    deltas[1::2] = 2**60 - 2**56 + 1  # dod alternates +1/-1 (7-bit bucket)
    start = -(2**63) + 2
    vals = [start]
    for d in deltas:
        vals.append(vals[-1] + int(d))
    ts = np.array(vals, dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_decode_corrupt_header_near_int64_edge_raises():
    """Review r5: a crafted blob whose header t0 + first delta leaves
    int64 must raise, not silently wrap (numpy scalar addition wraps).
    The blob has the v2 layout (no step field), which still decodes."""
    t0 = 2**63 - 1
    blob = (
        bytes([2])
        + (2).to_bytes(4, "big")       # n = 2
        + t0.to_bytes(8, "big")        # first value at the int64 edge
        + (1).to_bytes(8, "big")       # first delta = 1 → t1 = 2^63 (!)
    )
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(blob)


def test_ts_decode_corrupt_payload_overflow_raises():
    """A valid header (t0 = 2^63 - 50, first delta 1) followed by '1111'
    64-bit dod fields of +30: the running timestamp leaves int64 inside
    the dod loop, which must raise instead of wrapping. The blob has the
    v2 layout (no step field), which still decodes."""
    from ingestr_spark.compression.gorilla import _BitWriter

    n = 8
    zz = 30 << 1  # zigzag(+30)
    w = _BitWriter()
    for v, b in ((2, 8), (n, 32), (2**63 - 50, 64), (1, 64)):
        w.write(v, b)
    for _ in range(n - 2):
        w.write(0b1111, 4)
        w.write(zz, 64)
    blob = w.getvalue()
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(blob)


def test_pattern_decoder_periodic_property():
    """Hypothesis sweep of periodic value series: random periodic
    xor-control structures (period 1-8, window restarts / in-window
    changes / repeats mixed), random payloads, optional mid-stream
    divergence and aperiodic tails — every series must round-trip
    bit-exactly through the encoder and the decoder."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import numpy as np

    from ingestr_spark.compression.gorilla import decode_values, encode_values

    @st.composite
    def periodic_series(draw):
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        p = draw(st.integers(1, 8))
        # one step template per phase: (kind, payload-range shift)
        kinds = [draw(st.sampled_from(["restart", "window", "repeat"]))
                 for _ in range(p)]
        shifts = [int(rng.integers(0, 50)) for _ in range(p)]
        n = draw(st.integers(80, 600))
        u = np.empty(n, dtype=np.uint64)
        x = 0x3FF0000000000000
        for i in range(n):
            k = kinds[i % p]
            if k == "restart":
                # force a window change: flip one high bit + low nibble
                x ^= (1 << (55 + i % p)) | (0xF << shifts[i % p])
            elif k == "window":
                x ^= int(rng.integers(1, 16)) << shifts[i % p]
            u[i] = x  # 'repeat' leaves x unchanged
        series = u.view(np.float64).copy()
        if draw(st.booleans()):  # diverge into an aperiodic tail
            cut = draw(st.integers(16, max(17, n - 1)))
            tail = rng.normal(0, 1, n - cut)
            series[cut:] = tail
        return series

    @settings(max_examples=150, deadline=None)
    @given(periodic_series())
    def check(vs):
        out = decode_values(encode_values(vs))
        assert np.array_equal(out.view(np.uint64), vs.view(np.uint64))

    check()


# ---- v3: timestamps in units of the series' step ---------------------------

#: blobs written by the v2 encoder (before the step header): hourly points
#: with gaps — every nonzero delta-of-delta in the 68-bit bucket — and a
#: short value series, with the arrays they encode
_V2_TS_HEX = (
    "020000000a00000000659200800000000000000e1078000000000001c2078000000000"
    "001c1ff80000000000143707800000000001436ff800000000003bc407800000000003"
    "bc3f80"
)
_V2_TS = 1_704_067_200 + 3600 * np.array(
    [0, 1, 2, 5, 6, 30, 31, 100, 101, 102], dtype=np.int64
)
_V2_VALS_HEX = "02000000063ff8000000000000613bffdc07400780fc00f850806b"
_V2_VALS = np.array([1.5, 1.5, 2.25, -3.75, 0.0, 21.5])


#: v3 bytes the encoders must reproduce. Timestamps: minutes whose
#: dods in steps of 60 s are 0 0 0 5 0 -64 0 200 -256 2047 0 -2048 2048
#: 5000 -5000 0 -1931 0, so every bucket '0' | '10' | '110' | '1110' |
#: '1111' and both edges of the inner ones are hit
_V3_TS = 1_704_067_200 + 60 * np.cumsum(
    [0, 1, 1, 1, 1, 6, 6, -58, -58, 142, -114, 1933, 1933, -115, 1933,
     6933, 1933, 1933, 2, 2]
).astype(np.int64)
_V3_TS_HEX = (
    "03000000140000000065920080000000000000003c000000000000000110a5fdb21bff"
    "dffceffff0000000000001000f0000000000002710f000000000000270f778a8"
)
#: ``_V2_TS`` in v3: step 3600, every dod in the '10' bucket
_V3_OF_V2_TS_HEX = (
    "030000000a00000000659200800000000000000e100000000000000001412072e96e446438"
)
#: values: repeats ('0'), in-window changes ('10'), new windows ('11'),
#: NaN, −0.0 and ULP steps whose xor has more than 31 leading zeros (the
#: 5-bit lead field caps at 31)
_V3_VALS = np.array([
    21.5, 21.5, 21.5, 21.75, 21.25, 21.375, np.nan, np.nan, -0.0, 0.0,
    1.0, np.nextafter(1.0, 2.0), np.nextafter(np.nextafter(1.0, 2.0), 2.0),
    1.0, 1e300, -1e-300, 3.0, 3.0,
])
_V3_VALS_HEX = (
    "030000001240358000000000003883e00f903c48ff9ad80dfffd0008ffdfe100000000"
    "c0000000380000000587d838fc8791000eb3e003fe4a288d2be21b16c1ad6e1fc2f8f3"
    "5900"
)


def test_v3_golden_bytes():
    """The encoders write exactly the pinned v3 bytes, and they decode back."""
    for ts, hx in ((_V3_TS, _V3_TS_HEX), (_V2_TS, _V3_OF_V2_TS_HEX)):
        assert encode_timestamps(ts).hex() == hx
        assert np.array_equal(decode_timestamps(bytes.fromhex(hx)), ts)
    assert encode_values(_V3_VALS).hex() == _V3_VALS_HEX
    assert np.array_equal(
        decode_values(bytes.fromhex(_V3_VALS_HEX)).view(np.uint64),
        _V3_VALS.view(np.uint64),
    )


def _ts_step_field(blob: bytes) -> int:
    """The v3 header's step g: after version (1 B), count (4 B), t0 (8 B)."""
    return int.from_bytes(blob[13:21], "big")


def test_v2_blobs_still_decode():
    assert np.array_equal(decode_timestamps(bytes.fromhex(_V2_TS_HEX)), _V2_TS)
    assert np.array_equal(
        decode_values(bytes.fromhex(_V2_VALS_HEX)).view(np.uint64),
        _V2_VALS.view(np.uint64),
    )
    # the same points in steps of 3600 s fit every dod in the 9-bit bucket
    v3 = encode_timestamps(_V2_TS)
    assert v3[0] == 3 and _ts_step_field(v3) == 3600
    assert len(v3) < len(bytes.fromhex(_V2_TS_HEX)) // 1.5


def _daily_across_month_ends() -> np.ndarray:
    days = np.arange(
        np.datetime64("2024-01-27"), np.datetime64("2024-05-03"),
        np.timedelta64(1, "D"),
    )
    days = days[np.arange(len(days)) % 9 != 4]  # gaps
    return days.astype("datetime64[s]").astype(np.int64)


_STEP_SHAPES = {
    # name: (timestamps, expected step; None = no step field)
    "empty": ([], None),
    "one": ([42], None),
    "two": ([100, 7300], 7200),
    "two_down": ([7300, 100], 7200),
    "all_equal": ([1_704_067_200] * 50, 1),
    "mixed_sign": (1_704_067_200 + 3600 * np.array([0, 2, 1, 5, 3, 3, 4, 9]), 3600),
    "gcd_1": ([0, 3600, 7201, 10801, 14401], 1),
    "hourly_gaps": (
        1_704_067_200 + 3600 * np.cumsum(
            np.random.default_rng(3).integers(1, 200, 2_000)
        ),
        3600,
    ),
    "daily_month_ends": (_daily_across_month_ends(), 86400),
    "near_plus_2_62": ([-(2**62), 0, 2**62, 2**62 + 2**61], 2**61),
    "near_minus_2_62": ([2**62, 0, -(2**62), -(2**62) - 2**61], 2**61),
    # the one delta is int64 min: its gcd 2^63 does not fit, so plain units
    "int64_min_delta": ([2**62, -(2**62)], 1),
}


@pytest.mark.parametrize("name", list(_STEP_SHAPES))
def test_ts_step_shapes_roundtrip_and_bitequal(name):
    """Step detection: every shape round-trips bit-exact and the header
    carries the expected step."""
    xs, step = _STEP_SHAPES[name]
    ts = np.asarray(xs, dtype=np.int64)
    blob = encode_timestamps(ts)
    assert blob[0] == 3
    assert np.array_equal(decode_timestamps(blob), ts)
    if step is None:
        assert len(blob) == 5 + 8 * len(ts)  # header + t0, no step field
    else:
        assert _ts_step_field(blob) == step


@settings(max_examples=100, deadline=None)
@given(
    st.sampled_from([1, 7, 60, 3600, 86400, 2**40]),
    st.integers(-2**40, 2**40),
    st.lists(st.integers(-50, 50), max_size=120),
)
def test_ts_step_units_bitequal_property(step, t0, ks):
    """Series on a step grid (any sign, repeats, gaps): the round trip is
    exact."""
    ts = t0 + step * np.cumsum([0, *ks]).astype(np.int64)
    blob = encode_timestamps(ts)
    assert np.array_equal(decode_timestamps(blob), ts)


def _v3_ts_blob(n, t0, g, delta_steps, dod_fields=(), tail_zeros=0):
    """Hand-built v3 timestamp blob: header, then (value, width) fields."""
    from ingestr_spark.compression.gorilla import _BitWriter

    w = _BitWriter()
    for v, b in ((3, 8), (n, 32), (t0, 64), (g, 64), (delta_steps, 64),
                 *dod_fields):
        w.write(v, b)  # masks to the width: negatives as two's complement
    w.write_zeros(tail_zeros)
    return w.getvalue()


def test_ts_decode_v3_corrupt_step_raises():
    """A v3 step of 0 or beyond int64 is corrupt; a valid-looking step
    that multiplies a delta out of int64 — in the header, in a dod field
    or in a run of dod = 0 — raises instead of wrapping."""
    for g in (0, 2**63, 2**64 - 1):
        with pytest.raises(ValueError, match="step"):
            decode_timestamps(_v3_ts_blob(3, 0, g, 1, tail_zeros=1))
    # header: t0 + 2 * 2^62 = 2^63
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(_v3_ts_blob(2, 0, 2**62, 2))
    # header: one step of -2^62 from t0 = -2^63 leaves int64 below
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(_v3_ts_blob(2, -(2**63), 2**62, -1))
    # header: 2 steps of 2^63 - 1 from t0 = -2^63 land in range (2^63 - 2),
    # but the delta itself (2^64 - 2) is not an int64 — no encoder output
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(_v3_ts_blob(2, -(2**63), 2**63 - 1, 2))
    # dod fields of +1 step ('10' + zigzag 2) with g = 2^60: the deltas
    # grow 2^60, 2^61, 3 * 2^60, ... and the running value leaves int64
    plus1 = ((0b10 << 7) | 2, 9)
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(_v3_ts_blob(8, 0, 2**60, 1, [plus1] * 6))
    # a run of dod = 0 with g = 2^61: 2^61, 2^62, 3 * 2^61, 2^63 (!)
    with pytest.raises(ValueError, match="out of int64 range"):
        decode_timestamps(_v3_ts_blob(8, 0, 2**61, 1, tail_zeros=6))
    # the same blobs one point shorter stay in range and decode
    assert decode_timestamps(_v3_ts_blob(3, 0, 2**61, 1, tail_zeros=1))[-1] == 2**62


@pytest.mark.usefixtures("spark")
def test_compress_tier_blobs_equal_in_process_encoders(spark, tok):
    """``compress_tier`` writes, per (source, year) series, exactly the
    bytes the in-process encoders give for that series in time order."""
    from pyspark.sql import functions as F

    from ingestr_spark.operators.rollup import rollup_from_raw

    tier = rollup_from_raw(tok, "1h")
    packed = compress_tier(tier, value_col="avg_n_tok").collect()
    pdf = tier.select(
        "source", F.expr("year(bucket)").alias("chunk"),
        F.col("bucket").cast("long").alias("t"), "avg_n_tok",
    ).toPandas().sort_values("t")
    series = {k: g for k, g in pdf.groupby(["source", "chunk"])}
    assert len(packed) == len(series)
    steps = set()
    for row in packed:
        g = series[(row["source"], row["chunk"])]
        ts = g["t"].to_numpy(dtype="int64")
        assert bytes(row["ts_dod"]) == encode_timestamps(ts)
        assert bytes(row["vals_gorilla"]) == encode_values(
            g["avg_n_tok"].to_numpy(dtype="float64")
        )
        if len(ts) > 1:
            steps.add(_ts_step_field(bytes(row["ts_dod"])))
    assert steps and all(s % 3600 == 0 for s in steps)
