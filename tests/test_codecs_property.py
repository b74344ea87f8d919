"""Property-based codec tests (hypothesis): the bit-level formats are the
durability surface — random shapes must round-trip exactly, and the
word-scatter packer must match a straightforward per-bit reference."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from recsplit_spark.codecs import (
    pack_bits,
    rice_split_decode,
    rice_split_encode,
    unzigzag,
    zigzag,
)


def _pack_bits_per_bit(values: np.ndarray, widths: np.ndarray) -> tuple[bytes, int]:
    """Reference packer: emit one bit at a time (slow, obviously correct)."""
    bits: list[int] = []
    for v, w in zip(values.tolist(), widths.tolist()):
        for j in range(int(w) - 1, -1, -1):
            bits.append((int(v) >> j) & 1)
    total = len(bits)
    bits += [0] * ((-total) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for b in bits[i : i + 8]:
            byte = (byte << 1) | b
        out.append(byte)
    return bytes(out), total


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**64 - 1), st.integers(0, 64)),
        min_size=0,
        max_size=60,
    )
)
def test_pack_bits_matches_per_bit_reference(pairs):
    vals = np.array([p[0] for p in pairs], dtype=np.uint64)
    widths = np.array([p[1] for p in pairs], dtype=np.int64)
    assert pack_bits(vals, widths) == _pack_bits_per_bit(vals, widths)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 2**48 - 1), min_size=0, max_size=500))
def test_rice_split_roundtrip_any(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(rice_split_decode(rice_split_encode(arr)), arr)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62 - 1), min_size=0, max_size=500))
def test_zigzag_roundtrip_any(values):
    arr = np.array(values, dtype=np.int64)
    assert np.array_equal(unzigzag(zigzag(arr)), arr)
