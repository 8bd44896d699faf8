"""Compression codec invariants: exact round-trips (token-array equality,
BASELINE.json input_hint), batched==per-window identity, edge cases."""

import numpy as np

from tsfeatures_spark.compression import (
    dod_decode,
    dod_encode,
    xor_decode,
    xor_encode,
)
from tsfeatures_spark.compression.delta import dod_encode_windows

SERIES_LENGTHS = [0, 1, 2, 59, 60, 61, 3661]


def test_dod_roundtrip_sizes():
    rng = np.random.default_rng(42)
    for n in [0, 1, 2, 3, 59, 60, 61, 3600, 86400]:
        x = rng.integers(0, 50000, size=n).astype(np.int32)
        assert np.array_equal(dod_decode(dod_encode(x)), x.astype(np.int64))
        smooth = (1000 + np.cumsum(rng.integers(-3, 4, size=n))).astype(np.int32)
        assert np.array_equal(dod_decode(dod_encode(smooth)), smooth.astype(np.int64))


def test_dod_extreme_values():
    x = np.array([0, 2**31 - 1, -(2**31), 0, 1], dtype=np.int64)
    assert np.array_equal(dod_decode(dod_encode(x)), x)


def test_dod_windows_batched_equals_single():
    rng = np.random.default_rng(7)
    for n in [1, 2, 59, 60, 61, 121, 3600, 3661, 10000]:
        x = rng.integers(0, 60000, size=n).astype(np.int32)
        for W in (60, 3600):
            batched = dod_encode_windows(x, W)
            nw = (n + W - 1) // W
            assert len(batched) == nw
            for w in range(nw):
                assert batched[w] == dod_encode(x[w * W : (w + 1) * W])
                assert np.array_equal(dod_decode(batched[w]), x[w * W : (w + 1) * W].astype(np.int64))
    # several series laid end to end: windows restart at each series
    # boundary, and an empty series has no window
    series = [rng.integers(0, 60000, size=n).astype(np.int32) for n in SERIES_LENGTHS]
    for W in (60, 3600):
        batched = dod_encode_windows(np.concatenate(series), W, lengths=SERIES_LENGTHS)
        local = [x[w * W : (w + 1) * W] for x in series for w in range((len(x) + W - 1) // W)]
        assert len(batched) == len(local)
        for block, seg in zip(batched, local):
            assert block == dod_encode(seg)
            assert np.array_equal(dod_decode(block), seg.astype(np.int64))


def test_xor_windows_batched_equals_single():
    """xor_encode_windows (the round-4 batched higher-tier block path) must
    be byte-identical to per-window xor_encode — including zero values
    (zero-length XOR payload), repeated values (xor == 0), NaN/inf bit
    patterns, singleton and empty tails."""
    from tsfeatures_spark.compression.gorilla import xor_encode_windows

    rng = np.random.default_rng(11)
    cases = []
    for n in [0, 1, 2, 23, 24, 25, 60, 61, 1440, 1441]:
        cases.append(np.round(np.cumsum(rng.normal(size=n)), 2))
    cases.append(np.zeros(50))
    cases.append(np.full(50, 3.75))
    special = np.array([1.0, 1.0, np.nan, np.inf, -np.inf, 0.0, -0.0, 1e308, 5e-324])
    cases.append(np.tile(special, 7))
    for x in cases:
        for W in (24, 60):
            batched = xor_encode_windows(x, W)
            nw = (len(x) + W - 1) // W
            assert len(batched) == nw
            for w in range(nw):
                seg = x[w * W : (w + 1) * W]
                assert batched[w] == xor_encode(seg)
                np.testing.assert_array_equal(
                    xor_decode(batched[w]), seg.astype(np.float64))
    series = [np.round(np.cumsum(rng.normal(size=n)), 2) for n in SERIES_LENGTHS]
    series[3][5:9] = special[:4]
    for W in (24, 60):
        batched = xor_encode_windows(np.concatenate(series), W, lengths=SERIES_LENGTHS)
        local = [x[w * W : (w + 1) * W] for x in series for w in range((len(x) + W - 1) // W)]
        assert len(batched) == len(local)
        for block, seg in zip(batched, local):
            assert block == xor_encode(seg)
            np.testing.assert_array_equal(xor_decode(block).view(np.uint64), seg.view(np.uint64))


def test_xor_roundtrip_bitexact():
    rng = np.random.default_rng(1)
    for n in [0, 1, 2, 100, 3600]:
        f = rng.normal(size=n) * 1000
        assert np.array_equal(xor_decode(xor_encode(f)).view(np.uint64), f.view(np.uint64))
    specials = np.array([np.nan, np.inf, -np.inf, 0.0, -0.0, 1e-308, 1e308])
    assert np.array_equal(xor_decode(xor_encode(specials)).view(np.uint64), specials.view(np.uint64))


def test_compression_ratio_on_smooth_series():
    rng = np.random.default_rng(3)
    smooth = (1000 + np.cumsum(rng.integers(-2, 3, size=3600))).astype(np.int32)
    ratio = len(dod_encode(smooth)) / (4 * 3600)
    assert ratio < 0.4  # delta-of-delta should crush smooth token streams
    means = np.round(np.cumsum(rng.normal(size=600)), 1)
    assert len(xor_encode(means)) < 8 * 600


def test_block_corruption_typed_errors():
    from tsfeatures_spark.compression import BlockCorruption

    b = dod_encode(np.arange(100))
    with np.testing.assert_raises(BlockCorruption):
        dod_decode(b[:10])  # truncated header
    with np.testing.assert_raises(BlockCorruption):
        xor_decode(b)  # wrong codec magic
    with np.testing.assert_raises(BlockCorruption):
        dod_decode(b[:20])  # truncated varint stream
