"""Hash primitives for the RecSplit-Spark engine.

Two hash levels, mirroring the reference design (universal + supplemental):

* **Universal level** (JVM-side, vectorized): Spark's built-in ``xxhash64``
  produces the 64-bit key *signature*. A build ``salt`` is mixed in as an
  extra hashed column, giving a seeded hash family without any Python UDF
  (reference contract: ``universal/UniversalHash.java:14-25``).
* **Supplemental level** (numpy, inside Arrow-vectorized kernels): one
  signature is stretched into billions of cheap derived hashes via an
  invertible xmxmx finalizer (reference: ``hash/Mix.java:3-40``,
  ``Settings.supplementalHash`` at ``generator/Settings.java:277-285``).
  We use the splitmix64 finalizer constants (public domain, Steele et al.).

Performance note: this numpy build's uint64 multiply lacks a SIMD path and
is ~50x slower than int64. Since two's-complement add/mul/xor wrap
identically, the hot kernels run entirely on **int64** (Spark's native hash
type) with logical right shifts emulated as ``(x >> k) & mask``; the results
are bit-identical to the uint64 formulation (covered by tests).
"""

from __future__ import annotations

import numpy as np


def _i64(c: int) -> np.int64:
    """Reinterpret an unsigned 64-bit constant as signed."""
    return np.int64(c - (1 << 64)) if c >= (1 << 63) else np.int64(c)


# splitmix64 finalizer constants (public domain)
_M1 = _i64(0xBF58476D1CE4E5B9)
_M2 = _i64(0x94D049BB133111EB)
# masks turning arithmetic >> into logical >> for shifts 30/27/32
_MASK30 = np.int64((1 << 34) - 1)
_MASK27 = np.int64((1 << 37) - 1)
_MASK32 = np.int64((1 << 32) - 1)
# 31 bits, not 33: part of the pinned hash family (mix64's third stage)
_MASK31 = np.int64((1 << 31) - 1)

#: 2^64 / golden ratio — Weyl sequence increment for index expansion
GOLDEN = _i64(0x9E3779B97F4A7C15)


def mix64_inplace(x: np.ndarray, scratch: np.ndarray | None = None) -> np.ndarray:
    """xmxmx finalizer on an int64 array, mutating in place.

    ``scratch``: optional same-shape int64 buffer; when given, the three
    shift-mask temporaries are written into it instead of fresh allocations
    (the hot kernels are memory-bound — see module docstring).
    """
    if scratch is None:
        x ^= (x >> 30) & _MASK30
        x *= _M1
        x ^= (x >> 27) & _MASK27
        x *= _M2
        x ^= (x >> 31) & _MASK31
        return x
    # logical shifts via a uint64 VIEW of the same memory: one op instead
    # of the arithmetic-shift+mask pair (bit-identical for the first two
    # stages, whose masks keep every logical-shift bit; shifts are SIMD
    # on uint64 — only multiplies need the int64 domain). Saves 2 of the
    # 11 passes in this memory-bound finalizer. The THIRD stage keeps its
    # _MASK31, which is narrower than the 33 logical-shift bits.
    t = scratch
    xu, tu = x.view(np.uint64), scratch.view(np.uint64)
    np.right_shift(xu, np.uint64(30), out=tu)
    x ^= t
    x *= _M1
    np.right_shift(xu, np.uint64(27), out=tu)
    x ^= t
    x *= _M2
    np.right_shift(xu, np.uint64(31), out=tu)
    t &= _MASK31
    x ^= t
    return x


def mix64(x: np.ndarray) -> np.ndarray:
    """xmxmx bit-mix finalizer (splitmix64). Bijective on 64-bit ints.

    Accepts int64 or uint64; returns the same dtype (uint64 input is viewed
    as int64 internally for speed, then viewed back).
    """
    x = np.asarray(x)
    if x.dtype == np.uint64:
        return mix64_inplace(x.view(np.int64).copy()).view(np.uint64)
    return mix64_inplace(x.astype(np.int64, copy=True))


def mix64_scalar(x: int) -> int:
    """Scalar uint64 mix (fixture/doc_id generation)."""
    return int(mix64(np.array([x & ((1 << 64) - 1)], dtype=np.uint64))[0])


def reduce_to(h: np.ndarray, n: int) -> np.ndarray:
    """Map 64-bit hash(es) uniformly onto [0, n) without modulo bias.

    Lemire multiply-shift on the high 32 bits (reference:
    ``Settings.reduce``, ``generator/Settings.java:291-293``).
    Exact for n < 2^31 (node sizes are always far below that).
    """
    h = np.asarray(h)
    if h.dtype == np.uint64:
        h = h.view(np.int64)
    return (((h >> 32) & _MASK32) * np.int64(n)) >> 32


def positions_inplace(buf: np.ndarray, n: int, scratch: np.ndarray | None = None) -> np.ndarray:
    """Turn a buffer of (signature + trial*GOLDEN) values into positions
    in [0, n). In-place; ``buf`` is destroyed. Returns ``buf``.

    This is THE canonical position function of the descriptor format — build
    and evaluate must agree bit-for-bit. Pipeline (memory-bound kernels, so
    pass count matters): ONE xorshift-multiply round (arithmetic-shift
    variant — xor with a sign-extended copy of higher bits is still
    invertible), then a Lemire multiply-shift reduce on bits 33..63.
    Signatures are already xxhash64 outputs, so a single extra mixing round
    suffices: measured mean first-success trial count for the leaf-8
    bijection search is 415 vs the theoretical 416 (identical to the
    2-round xmxmx variant), and tree bits/key are unchanged.
    """
    t = scratch
    if t is None:
        buf ^= buf >> 30
        buf *= _M1
    else:
        np.right_shift(buf, 30, out=t)
        buf ^= t
        buf *= _M1
    if n & (n - 1) == 0:
        # power-of-2 fast path, BIT-IDENTICAL to the general formula:
        # ((buf>>33 & M31) * 2^k) >> 31  ==  logical bits (64-k)..63 of buf.
        # The shift runs on a uint64 VIEW: logical, so no sign-clearing mask
        # pass is needed (measured ~2x on the finalize; leaf-8 nodes
        # dominate trials and this is the kernel's hottest line)
        k = n.bit_length() - 1
        if k:
            u = buf.view(np.uint64)
            u >>= np.uint64(64 - k)
        else:
            buf[...] = 0
        return buf
    buf >>= 33
    buf &= _MASK31
    buf *= np.int64(n)
    buf >>= 31
    return buf


def node_positions(h: np.ndarray, index: int, n: int) -> np.ndarray:
    """Positions of signatures ``h`` at trial ``index`` (evaluator side).

    Identical math to ``positions_inplace`` on a fresh copy.
    """
    # scalar multiply via a 1-element array: numpy warns on scalar overflow
    off = (np.array([index], dtype=np.int64) * GOLDEN)[0]
    x = np.asarray(h, dtype=np.int64) + off
    return positions_inplace(x, n)
