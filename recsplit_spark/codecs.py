"""Bit-level codecs in numpy: bit packing, Golomb-Rice, split-Rice arrays.

Reference semantics (not byte-compatible — self-consistent formats):
  * bit order: MSB-first within the stream, like ``BitBuffer.java:122-131``;
  * Golomb-Rice: ``q`` one-bits, a zero, then ``k`` remainder bits
    (``BitBuffer.writeGolombRice``, ``BitBuffer.java:161-191``);
  * split-Rice arrays (``rice_split_*``) carry the descriptor's header
    metadata lists as zigzag-folded deltas; they replaced the Elias-Fano
    and multi-stage monotone lists (``monotoneList/``) in descriptor v3,
    which decodes each list once, so no random-access codec remains.

Everything is vectorized; per-value Python loops appear only in the tiny
header paths.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# vectorized variable-width bit packing
# ---------------------------------------------------------------------------

def pack_bits(values: np.ndarray, widths: np.ndarray) -> tuple[bytes, int]:
    """Pack ``values[i]`` into ``widths[i]`` bits, MSB-first, concatenated.

    Returns (bytes zero-padded to a byte boundary, total_bit_length).

    Word-scatter implementation: each value lands in at most two 64-bit
    big-endian words via ``bitwise_or.at`` — O(n values) work instead of the
    old per-output-bit repeat arrays (O(total bits) with ~5 big temporaries;
    ~15% of MPHF build time at 2M keys).
    """
    values = np.ascontiguousarray(np.asarray(values), dtype=np.uint64)
    widths = np.asarray(widths, dtype=np.int64)
    if len(values) == 0:
        return b"", 0
    total = int(widths.sum())
    # mask stray bits above each value's width (w=64 -> full mask)
    mask = np.where(
        widths >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
        (np.uint64(1) << widths.astype(np.uint64)) - np.uint64(1),
    )
    v = values & mask
    starts = np.cumsum(widths) - widths
    wi = starts >> 6
    sh = 64 - (starts & 63) - widths  # left-shift into the word; <0 => spills
    words = np.zeros((total >> 6) + 2, dtype=np.uint64)
    pos = sh >= 0
    hi = np.zeros_like(v)
    hi[pos] = v[pos] << sh[pos].astype(np.uint64)
    neg = ~pos
    hi[neg] = v[neg] >> (-sh[neg]).astype(np.uint64)
    np.bitwise_or.at(words, wi, hi)
    if neg.any():
        lo = v[neg] << (np.int64(64) + sh[neg]).astype(np.uint64)
        np.bitwise_or.at(words, wi[neg] + 1, lo)
    return words.byteswap().tobytes()[: (total + 7) >> 3], total


def unpack_bits(data: bytes | np.ndarray) -> np.ndarray:
    """Expand bytes to a uint8 0/1 array, MSB-first."""
    arr = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, memoryview, bytearray)) else data
    return np.unpackbits(arr)


# ---------------------------------------------------------------------------
# Golomb-Rice as (value, width) pair streams
# ---------------------------------------------------------------------------

class PairWriter:
    """Accumulates (value, width) pairs; ``finish()`` packs them.

    The bucket kernels emit Rice codes through this; a code whose unary
    quotient would overflow one 64-bit pair is split into several pairs.
    """

    __slots__ = ("_vals", "_widths")

    def __init__(self) -> None:
        self._vals: list[int] = []
        self._widths: list[int] = []

    def write(self, value: int, width: int) -> None:
        if width == 0:
            return
        self._vals.append(value)
        self._widths.append(width)

    def write_rice(self, value: int, k: int) -> None:
        """Rice code: q = value >> k ones, one zero, k low bits."""
        q = value >> k
        while q >= 48:  # keep each pair within a uint64
            self.write((1 << 48) - 1, 48)  # 48 one-bits
            q -= 48
        # q ones + terminating zero: integer (2^(q+1) - 2) over q+1 bits
        self.write((1 << (q + 1)) - 2, q + 1)
        if k:
            self.write(value & ((1 << k) - 1), k)

    @property
    def bit_length(self) -> int:
        return int(sum(self._widths))

    def finish(self) -> tuple[bytes, int]:
        return pack_bits(
            np.array(self._vals, dtype=np.uint64),
            np.array(self._widths, dtype=np.int64),
        )


class BitReader:
    """Scalar reader over an unpacked 0/1 uint8 array (evaluator side)."""

    __slots__ = ("bits", "pos")

    def __init__(self, bits: np.ndarray, pos: int = 0) -> None:
        self.bits = bits
        self.pos = pos

    def read(self, width: int) -> int:
        if width == 0:
            return 0
        b = self.bits[self.pos : self.pos + width]
        self.pos += width
        out = 0
        for bit in b.tolist():
            out = (out << 1) | bit
        return out

    def read_unary(self) -> int:
        """Number of one-bits before the next zero (consumes the zero)."""
        bits = self.bits
        pos = self.pos
        nz = np.flatnonzero(bits[pos:] == 0)
        if len(nz) == 0:
            raise ValueError("unary run past end of stream")
        q = int(nz[0])
        self.pos = pos + q + 1
        return q

    def read_rice(self, k: int) -> int:
        q = self.read_unary()
        return (q << k) | self.read(k)


# ---------------------------------------------------------------------------
# split-stream Golomb-Rice array + signed fold (header metadata lists)
# ---------------------------------------------------------------------------
#
# Reference analogue: the Elias-Delta + signed-fold header codes
# (``BitBuffer.java:245-276``) — same job (small signed deltas around a
# predictor), different code: quotients live in their own unary-terminator
# section (a 1-bit ends each run, so ones sit at cumsum(q+1)-1) and
# remainders in a fixed-width section, which makes DECODE one flatnonzero +
# one gather instead of a sequential cursor walk.

_RS_HDR = struct.Struct("<IBII")  # n, k, unary_bytes, rem_bytes


def zigzag(x: np.ndarray) -> np.ndarray:
    """Fold signed int64 onto uint64: 0,-1,1,-2,2 -> 0,1,2,3,4."""
    x = np.asarray(x, dtype=np.int64)
    return ((x << 1) ^ (x >> 63)).view(np.uint64)


def unzigzag(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.uint64).view(np.int64)
    return (u >> 1) & np.int64((1 << 63) - 1) ^ -(u & 1)


def rice_split_encode(values: np.ndarray) -> bytes:
    """Self-describing Rice-coded uint64 array; k minimizes total bits."""
    values = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(values)
    if n == 0:
        return _RS_HDR.pack(0, 0, 0, 0)
    best_k, best_cost = 0, None
    for k in range(41):
        cost = n * (k + 1) + int((values >> np.uint64(k)).sum())
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
    k = best_k
    q = (values >> np.uint64(k)).astype(np.int64)
    term = np.cumsum(q + 1) - 1  # position of each run's terminating 1
    un_bits = np.zeros(int(term[-1]) + 1, dtype=np.uint8)
    un_bits[term] = 1
    un_bytes = np.packbits(un_bits).tobytes()
    rem_bytes = b""
    if k:
        rem_bytes, _ = pack_bits(
            values & np.uint64((1 << k) - 1), np.full(n, k, dtype=np.int64)
        )
    return _RS_HDR.pack(n, k, len(un_bytes), len(rem_bytes)) + un_bytes + rem_bytes


def rice_split_decode(data: bytes | memoryview) -> np.ndarray:
    """Decode to uint64 (fully vectorized: one flatnonzero + one gather)."""
    n, k, un_len, rem_len = _RS_HDR.unpack_from(data, 0)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    off = _RS_HDR.size
    ones = np.flatnonzero(unpack_bits(bytes(data[off : off + un_len])))[:n]
    q = np.diff(np.concatenate([[-1], ones])).astype(np.uint64) - np.uint64(1)
    off += un_len
    if k:
        rem = _gather_fixed(unpack_bits(bytes(data[off : off + rem_len])), n, k)
        return (q << np.uint64(k)) | rem
    return q


def _gather_fixed(bits: np.ndarray, n: int, width: int) -> np.ndarray:
    """Read ``n`` fixed-``width`` MSB-first values from a 0/1 array."""
    idx = np.arange(n, dtype=np.int64)[:, None] * width + np.arange(width, dtype=np.int64)[None, :]
    chunk = bits[idx].astype(np.uint64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return (chunk << shifts).sum(axis=1, dtype=np.uint64)
