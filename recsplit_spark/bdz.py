"""BDZ minimal perfect hash (Botelho–Pagh–Ziviani 3-hypergraph peeling).

Reference analogue: ``bdz/BDZ.java:24-203`` (γ=1.23, 3 hashes, 2-bit
values), the guaranteed-O(n) fallback for RecSplit overflow buckets
(``Generator.java:282-341``). Exposed here both standalone and as an
``algo="bdz"`` option of the blocked builder.

Layout differences vs the reference (same algorithm, denser storage): we
store the 2-bit g-value for EVERY vertex with sentinel 3 = "unassigned"
(the reference rank-compresses to per-key values + a bitmap,
``BDZ.java:49-73``). Per-vertex storage is 2·γ ≈ 2.46 bits/key — smaller
than the reference's 3.66 — and the assigned-vertex bitmap needed for the
final rank is implied by ``g != 3``; the rank inventory is rebuilt at load
(one cumsum).

The scalar peel queue (``BDZ.java:110-140``) is re-architected as
**round-synchronous vectorized peeling**: each round strips every
degree-1 vertex at once (vertex→edge recovery via the xor-of-incident-
edge-ids trick), so Python dispatch is O(rounds) ≈ O(log n), all the work
in numpy. Assignment replays the rounds in reverse, also vectorized —
within a round free vertices are provably disjoint from every other
round-k edge, so the whole round assigns in one gather/scatter.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pandas as pd

from .hashing import GOLDEN, mix64_inplace, reduce_to

_GAMMA = 1.23
_MAGIC = b"BDZ1"
_HDR = struct.Struct("<4sBxxxQQqI")  # magic, key_mode, n, r, salt, seed


class PeelFailure(RuntimeError):
    """3-hypergraph not peelable under this seed (p ≈ 0 at γ=1.23; re-seed)."""


def _bdz_hashes(sigs: np.ndarray, seed: int, r: int) -> np.ndarray:
    """(n, 3) vertex matrix; h_j ∈ [j·r, (j+1)·r) — disjoint thirds, so an
    edge's three vertices are always distinct (BDZ.java getHash contract)."""
    n = len(sigs)
    H = np.empty((n, 3), dtype=np.int64)
    base = np.array([3 * seed, 3 * seed + 1, 3 * seed + 2], dtype=np.int64) * GOLDEN
    for j in range(3):
        x = sigs.astype(np.int64, copy=True)
        x += base[j]
        H[:, j] = j * r + reduce_to(mix64_inplace(x), r)
    return H


def _peel(H: np.ndarray, m: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """Round-synchronous peel; returns [(edge_ids, free_vertices)] per round."""
    n = len(H)
    flat = H.ravel()
    deg = np.bincount(flat, minlength=m)
    xs = np.zeros(m, dtype=np.int64)
    np.bitwise_xor.at(xs, flat, np.repeat(np.arange(n, dtype=np.int64), 3))
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    remaining = n
    while remaining:
        v1 = np.flatnonzero(deg == 1)
        if len(v1) == 0:
            raise PeelFailure(f"{remaining} edges left with no degree-1 vertex")
        e = xs[v1]
        e, first = np.unique(e, return_index=True)
        free_v = v1[first]
        rounds.append((e, free_v))
        verts = H[e].ravel()
        np.subtract.at(deg, verts, 1)
        np.bitwise_xor.at(xs, verts, np.repeat(e, 3))
        remaining -= len(e)
    return rounds


def _assign(H: np.ndarray, m: int, r: int, rounds) -> np.ndarray:
    g = np.full(m, 3, dtype=np.uint8)
    for e, free_v in reversed(rounds):
        col = free_v // r  # disjoint thirds => column of the free vertex
        total = (
            g[H[e, 0]].astype(np.int64)
            + g[H[e, 1]]
            + g[H[e, 2]]
            - g[free_v]  # exclude the (still-sentinel) free slot itself
        )
        g[free_v] = ((col - total) % 3).astype(np.uint8)
    return g


@dataclass
class BDZDescriptor:
    """Serialized BDZ MPHF + vectorized evaluator."""

    n: int
    r: int
    salt: int
    seed: int
    g: np.ndarray  # (3r,) uint8 values in {0,1,2,3}
    key_mode: int = 0  # see MPHFDescriptor.key_mode

    # -- serialization ------------------------------------------------------
    def to_bytes(self) -> bytes:
        packed = np.zeros((len(self.g) + 3) // 4, dtype=np.uint8)
        for j in range(4):
            part = self.g[j::4]
            packed[: len(part)] |= part << (2 * j)
        return (
            _HDR.pack(_MAGIC, self.key_mode, self.n, self.r, self.salt, self.seed)
            + packed.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "BDZDescriptor":
        magic, key_mode, n, r, salt, seed = _HDR.unpack_from(data, 0)
        if magic != _MAGIC:
            raise ValueError("bad BDZ header")
        packed = np.frombuffer(data, dtype=np.uint8, offset=_HDR.size)
        m = 3 * r
        g = np.empty(m, dtype=np.uint8)
        for j in range(4):
            part = (packed >> (2 * j)) & 3
            need = len(g[j::4])
            g[j::4] = part[:need]
        return cls(n, r, salt, seed, g, key_mode)

    @property
    def bits_per_key(self) -> float:
        return 8.0 * len(self.to_bytes()) / max(1, self.n)

    # -- evaluation -----------------------------------------------------------
    def evaluate_array(self, sigs: np.ndarray) -> np.ndarray:
        sigs = np.ascontiguousarray(sigs, dtype=np.int64)
        if self.n == 0 or len(sigs) == 0:
            return np.zeros(len(sigs), dtype=np.int64)
        used = getattr(self, "_used", None)
        if used is None:
            used = np.flatnonzero(self.g < 3)
            object.__setattr__(self, "_used", used)
        H = _bdz_hashes(sigs, self.seed, self.r)
        s = (
            self.g[H[:, 0]].astype(np.int64) + self.g[H[:, 1]] + self.g[H[:, 2]]
        ) % 3
        v = H[np.arange(len(sigs)), s]
        return np.searchsorted(used, v).astype(np.int64)

    def evaluate(self, df, key_col: str, out_col: str = "mphf_index"):
        """Append the BDZ index via broadcast descriptor + Arrow UDF
        (same shape as MPHFDescriptor.evaluate)."""
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import LongType

        from .mphf import key_sig_expr

        if getattr(self, "_used", None) is None:  # precompute the rank index
            object.__setattr__(self, "_used", np.flatnonzero(self.g < 3))
        # broadcast the descriptor object (with its driver-computed rank
        # index) — deserialized once per executor process; batches do no
        # re-parse / re-derivation. Arrow-native UDF (no pandas wrapping).
        bcast = df.sparkSession.sparkContext.broadcast(self)

        @arrow_udf(LongType())
        def _bdz_eval(sig: pa.Array) -> pa.Array:
            sigs = sig.to_numpy(zero_copy_only=False)
            return pa.array(bcast.value.evaluate_array(sigs), type=pa.int64())

        return df.withColumn(
            out_col, _bdz_eval(key_sig_expr(key_col, self.salt, self.key_mode))
        )


def build_bdz_from_sigs(
    sigs: np.ndarray, salt: int = 0, max_seed_retries: int = 16, key_mode: int = 0
) -> BDZDescriptor:
    """Build a BDZ MPHF over distinct int64 signatures (single-process;
    the per-block / per-bucket fallback kernel)."""
    sigs = np.ascontiguousarray(sigs, dtype=np.int64)
    n = len(sigs)
    if n == 0:
        return BDZDescriptor(0, 1, salt, 0, np.full(3, 3, dtype=np.uint8), key_mode)
    if len(np.unique(sigs)) != n:
        raise ValueError("duplicate 64-bit signature in BDZ input")
    r = int(np.ceil(_GAMMA * n / 3)) + 1
    m = 3 * r
    last: Exception | None = None
    for seed in range(max_seed_retries):
        H = _bdz_hashes(sigs, seed, r)
        try:
            rounds = _peel(H, m)
        except PeelFailure as e:  # p ≈ 0 at γ=1.23; try the next hash family
            last = e
            continue
        g = _assign(H, m, r, rounds)
        return BDZDescriptor(n, r, salt, seed, g, key_mode)
    raise RuntimeError(f"BDZ peeling failed after {max_seed_retries} seeds: {last}")


class BDZBuilder:
    """Spark-facing builder: broadcast-scale key sets (the fallback /
    comparison algorithm — RecSplit remains the primary path).

    The hypergraph is global, so construction gathers the (hashed, 8-byte)
    signatures of the key column — viable to ~10^8 keys on a driver; beyond
    that, use the blocked builder with ``algo="bdz"`` which peels each
    ~1M-key block independently on executors.
    """

    def __init__(self, salt: int = 0, max_salt_retries: int = 4) -> None:
        self.salt = salt
        self.max_salt_retries = max_salt_retries

    def build(self, df, key_col: str) -> BDZDescriptor:
        from .mphf import gather_sig_array, key_mode_for

        key_mode = key_mode_for(df, key_col)
        salt = self.salt
        last: Exception | None = None
        for _ in range(self.max_salt_retries):
            sigs = gather_sig_array(df, key_col, salt, key_mode)
            try:
                return build_bdz_from_sigs(sigs, salt, key_mode=key_mode)
            except ValueError as e:  # duplicate signature: re-salt
                last = e
                salt += 1
        raise RuntimeError(
            f"BDZ build failed after {self.max_salt_retries} salt re-rolls "
            f"(duplicate keys in input?): {last}"
        )
