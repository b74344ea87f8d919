"""Codec unit tests (SURVEY §5a: exact bit patterns + round-trips,
mirroring the reference's BitCodes test strategy)."""

import numpy as np

from recsplit_spark.codecs import (
    BitReader,
    PairWriter,
    pack_bits,
    unpack_bits,
)


def _pack_slow(values, widths) -> str:
    """Pure-python reference packer (differential oracle)."""
    return "".join(format(v, f"0{w}b") if w else "" for v, w in zip(values, widths))


def test_pack_bits_exact():
    vals = np.array([0b101, 0b1, 0b0, 0b11111111], dtype=np.uint64)
    widths = np.array([3, 1, 2, 8], dtype=np.int64)
    data, total = pack_bits(vals, widths)
    assert total == 14
    bits = unpack_bits(data)[:total]
    assert "".join(map(str, bits.tolist())) == _pack_slow(vals, widths)


def test_pack_bits_random_roundtrip():
    rng = np.random.default_rng(1)
    for _ in range(20):
        n = int(rng.integers(1, 200))
        widths = [int(w) for w in rng.integers(0, 64, size=n)]
        vals = np.array(
            [int(rng.integers(0, 1 << 32)) * int(rng.integers(0, 1 << 31)) % (1 << w) if w else 0 for w in widths],
            dtype=np.uint64,
        )
        widths = np.array(widths, dtype=np.int64)
        data, total = pack_bits(vals, widths)
        assert total == int(widths.sum())
        got = "".join(map(str, unpack_bits(data)[:total].tolist()))
        assert got == _pack_slow(vals, widths)


def test_rice_roundtrip():
    w = PairWriter()
    cases = [(0, 0), (1, 0), (5, 1), (15, 2), (2, 1), (100, 3), (7, 0), (1000, 4)]
    for v, k in cases:
        w.write_rice(v, k)
    data, total = w.finish()
    r = BitReader(unpack_bits(data))
    for v, k in cases:
        assert r.read_rice(k) == v
    assert r.pos == total


def test_rice_exact_pattern():
    # rice(2, k=1): q=1 -> "10", remainder "0" -> "100" (reference
    # BitCodes.testGolombRiceCoding pattern family, BitCodes.java:50-67)
    w = PairWriter()
    w.write_rice(2, 1)
    data, total = w.finish()
    assert total == 3
    assert unpack_bits(data)[:3].tolist() == [1, 0, 0]


def test_unary_reader():
    w = PairWriter()
    w.write(0b1110, 4)  # unary 3
    w.write(0b0, 1)  # unary 0
    data, _ = w.finish()
    r = BitReader(unpack_bits(data))
    assert r.read_unary() == 3
    assert r.read_unary() == 0


def test_rice_split_roundtrip():
    from recsplit_spark.codecs import rice_split_decode, rice_split_encode

    rng = np.random.default_rng(0)
    cases = [
        rng.poisson(17, 50_000).astype(np.uint64),
        np.zeros(7, np.uint64),
        np.array([0, 1, 2**40, 3], dtype=np.uint64),
        np.empty(0, np.uint64),
        rng.integers(0, 2**32, 1000).astype(np.uint64),
    ]
    for vals in cases:
        assert np.array_equal(rice_split_decode(rice_split_encode(vals)), vals)
    # near-entropy on Poisson folds (entropy ~5.5 bits at lambda 17)
    enc = rice_split_encode(cases[0])
    assert 8 * len(enc) / len(cases[0]) < 6.5


def test_zigzag_fold():
    from recsplit_spark.codecs import unzigzag, zigzag

    x = np.array([0, -1, 1, -2, 2, -(2**62), 2**62], dtype=np.int64)
    assert np.array_equal(zigzag(x)[:5], [0, 1, 2, 3, 4])
    assert np.array_equal(unzigzag(zigzag(x)), x)
    rng = np.random.default_rng(1)
    r = rng.integers(-(2**40), 2**40, 10_000)
    assert np.array_equal(unzigzag(zigzag(r)), r)


def test_descriptor_v3_metadata_roundtrip():
    """offsets/byte_starts survive the folded-Rice header exactly, and the
    alpha predictor replays bit-identically through serialization."""
    from recsplit_spark.hashing import mix64
    from recsplit_spark.mphf import MPHFDescriptor, build_descriptor_from_sigs

    sigs = np.unique(mix64(np.arange(200_000, dtype=np.uint64)).view(np.int64))
    d = build_descriptor_from_sigs(sigs, 8, 128)
    d2 = MPHFDescriptor.from_bytes(d.to_bytes())
    assert np.array_equal(d.offsets, d2.offsets)
    assert np.array_equal(d.byte_starts, d2.byte_starts)
    assert d.to_bytes() == d2.to_bytes()
    assert d.bits_per_key < 1.87  # v3 beats the round-1 1.876
