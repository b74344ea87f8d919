"""Vectorized MPHF evaluation (the fast path behind MPHFDescriptor).

Two-stage design (reference evaluator: ``RecSplitEvaluator.evaluate`` +
``skip``, ``RecSplitEvaluator.java:68-176``). Neither stage dispatches per
bucket or node size: both run on small per-size scalar tables, and every
split rule the DP emits is "m-1 equal parts + a last part" (table
construction raises on any other shape), so one child formula serves all
sizes.

1. **Lockstep decode at construction.** A bucket's Rice-code layout (node
   sizes and Rice parameters in DFS order) is a pure function of its key
   count, and bucket streams are byte-aligned slices. Buckets are sorted by
   node count, descending, so the buckets still decoding at DFS step j are
   a prefix; step j of every bucket decodes at once from 64-bit windows of
   the packed stream, with each bucket's Rice parameter gathered from a
   (distinct bucket size x DFS step) table. Python dispatch is O(max nodes
   per tree). The decoded trial indices live in one flat table indexed by
   (bucket node offset + DFS position), built once per executor process.

2. **Ungrouped level-synchronous walk.** All keys of a batch descend
   together, one level per iteration: one gather of the node's trial
   index, the position function with a per-key node size, and the child
   from three per-size tables (first-part size d, part count - 1, and the
   DFS size of a d-key subtree): ``child = min(pos // d, m - 1)``. Python
   dispatch is O(tree depth) per block of ``WALK_BLOCK`` keys.

The size-grouped version this replaces dispatched once per distinct size
in both stages. Measured against it on one core of a 4-core host, 2^18
keys at leaf 8 (decode, then walk over 2^18 member probes): avg bucket 128
75 -> 3.5 ms and 419 -> 139 ns/key; avg bucket 512 at rule generation 2
487 -> 11 ms and 617 -> 188 ns/key; avg bucket 2048 1636 -> 30 ms and
839 -> 226 ns/key. Codes tables and indices are identical.
"""

from __future__ import annotations

import numpy as np

from .hashing import _M1, GOLDEN
from .settings import Settings

#: keys walked per block: the walk's ~8 int64 state and temporary arrays of
#: a 2^14-key block stay L2-resident. Measured at leaf 8 / avg bucket 128 on
#: one core of a 4-core host: 204-236 ns/key walking 2^17-2^18 keys as one
#: block, 141-164 ns/key in 2^14-key blocks (2^13 and 2^15 read the same).
WALK_BLOCK = 1 << 14


def _size_tables(settings: Settings, max_size: int):
    """Per-size split tables over sizes 0..max_size: (first-part size d,
    part count - 1, DFS size of a d-key subtree, DFS size of the tree).

    Raises ValueError on a split whose parts but the last are not all
    equal: the walk's ``min(pos // d, m - 1)`` would misroute its keys.
    """
    settings.ensure(max_size)
    parts = settings.parts[: max_size + 1]
    for s, p in enumerate(parts):
        if p and (sum(p) != s or len(set(p[:-1])) != 1):
            raise ValueError(f"split rule for size {s} is not m-1 equal parts + a last part: {p}")
    sub = np.array(settings.subtree_nodes[: max_size + 1], dtype=np.int64)
    first = np.array([p[0] if p else 1 for p in parts], dtype=np.int64)
    last_idx = np.array([len(p) - 1 if p else 0 for p in parts], dtype=np.int64)
    return first, last_idx, sub[first], sub


# ---------------------------------------------------------------------------
# evaluator
# ---------------------------------------------------------------------------

class VectorEvaluator:
    """Worker-side evaluator over a parsed descriptor (see MPHFDescriptor)."""

    def __init__(
        self,
        settings: Settings,
        bucket_log2: int,
        offsets: np.ndarray,
        byte_starts: np.ndarray,
        stream: bytes,
    ) -> None:
        self.leaf_size = settings.leaf_size
        self.bucket_log2 = bucket_log2
        self.offsets = offsets
        bc = len(offsets) - 1
        sizes = (offsets[1:] - offsets[:-1]).astype(np.int64)
        self.bucket_sizes = sizes
        first, last_idx, first_sub, sub = _size_tables(
            settings, int(sizes.max()) if bc else 1
        )
        self.first, self.last_idx, self.first_sub = first, last_idx, first_sub
        nodes_per_bucket = sub[sizes]
        self.node_off = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(nodes_per_bucket, out=self.node_off[1:])
        self.codes = np.empty(int(self.node_off[-1]), dtype=np.int64)
        self._decode_all(settings, sub, byte_starts, stream)
        # shrink the trial-index table to the smallest dtype that fits: it is
        # the dominant broadcast payload (≈13.4 b/key at int64) and the
        # walk's hottest gather target — uint16 typically fits (leaf-8 trial
        # indices run ~10^2-10^4) and cuts both 4x. Gathers upcast back to
        # int64 automatically in the walk arithmetic.
        cmax = int(self.codes.max()) if len(self.codes) else 0
        for dt in (np.uint16, np.uint32):
            if cmax < np.iinfo(dt).max:
                self.codes = self.codes.astype(dt)
                break

    def _dfs_rice_ks(
        self, settings: Settings, sub: np.ndarray, tree_sizes: np.ndarray
    ) -> np.ndarray:
        """(max nodes, len(tree_sizes)) uint64 table: the Rice parameter of
        DFS node j of the tree over ``tree_sizes[r]`` keys, at [j, r].

        Each (tree, j) pair descends from the root to its node in lockstep
        with every other pair: in a size-x split, DFS index i >= 1 lies in
        child c = min((i - 1) // subtree(d), m - 1)."""
        nodes = sub[tree_sizes]
        row = np.repeat(np.arange(len(tree_sizes)), nodes)
        j = np.arange(len(row)) - np.repeat(np.cumsum(nodes) - nodes, nodes)
        x = tree_sizes[row]
        i = j.copy()
        walking = np.flatnonzero(i)
        while len(walking):
            xs, rel = x[walking], i[walking] - 1
            d, m1 = self.first[xs], self.last_idx[xs]
            c = np.minimum(rel // self.first_sub[xs], m1)
            i[walking] = rel - c * self.first_sub[xs]
            x[walking] = np.where(c == m1, xs - m1 * d, d)
            walking = walking[i[walking] != 0]
        ks = np.zeros((int(nodes.max()), len(tree_sizes)), dtype=np.uint64)
        ks[j, row] = np.array(settings.rice_k, dtype=np.uint64)[x]
        return ks

    @staticmethod
    def _windows(words: np.ndarray, cursors: np.ndarray) -> np.ndarray:
        """64-bit MSB-aligned windows starting at bit positions ``cursors``."""
        wi = (cursors >> np.uint64(6)).astype(np.int64)
        sh = cursors & np.uint64(63)
        hi = words[wi] << sh
        # sh==0 would right-shift by 64 (UB): shift by (64-sh)&63 then mask
        lo = words[wi + 1] >> ((np.uint64(64) - sh) & np.uint64(63))
        return hi | np.where(sh == 0, np.uint64(0), lo)

    def _decode_all(
        self, settings: Settings, sub: np.ndarray, byte_starts: np.ndarray, stream: bytes
    ) -> None:
        """Lockstep decode of every bucket (see module docstring).

        Unary runs + remainders are read from 64-bit windows gathered out of
        the PACKED big-endian word array (stream/8 bytes — L2-resident per
        worker), with leading-ones counted by converting the inverted window
        to float64 (exact: quotients are capped at 47 bits by the builder,
        so the examined value fits 48 < 53 mantissa bits) and extracting the
        IEEE-754 exponent field directly — NOT via np.log2, whose libm
        implementation is only guaranteed 1-2 ulp on some platforms and
        could round 2^48-1 up to exponent 48, wrapping q. Earlier versions
        walked an expanded next-zero table / zero-position index — DRAM-
        latency-bound gathers that degraded ~8x under 32-way executor
        concurrency; window reads into a ~2 MB array do not."""
        if len(stream) == 0:
            return
        pad = (-len(stream)) % 8 + 16
        words = np.frombuffer(stream + b"\x00" * pad, dtype=">u8").astype(np.uint64)
        nodes = np.diff(self.node_off)
        order = np.argsort(-nodes, kind="stable")
        order = order[: np.count_nonzero(nodes)]
        tree_sizes, row = np.unique(self.bucket_sizes[order], return_inverse=True)
        ks = self._dfs_rice_ks(settings, sub, tree_sizes)
        # buckets still decoding at step j: those with more than j nodes
        active = np.searchsorted(-nodes[order], -np.arange(len(ks)), "left")
        cursors = (byte_starts[order] * 8).astype(np.uint64)
        base = self.node_off[order]
        codes = self.codes
        U0, U1, U16, U47 = np.uint64(0), np.uint64(1), np.uint64(16), np.uint64(47)
        U52, U63, U64, U1023 = np.uint64(52), np.uint64(63), np.uint64(64), np.uint64(1023)
        for j in range(len(ks)):
            c = active[j]
            cursors, base, row = cursors[:c], base[:c], row[:c]
            k = ks[j][row]
            x = self._windows(words, cursors)
            y = ((~x) >> U16) | U1  # top 48 bits, exponent(0) guard
            # floor(log2(y)) via the float64 exponent bits: the cast is
            # exact for y < 2^53, so the biased exponent IS floor(log2)
            e = (y.astype(np.float64).view(np.uint64) >> U52) - U1023
            q = U47 - e
            cursors = cursors + q + U1
            # a k == 0 code has no remainder (and >> 64 is undefined)
            rem = self._windows(words, cursors) >> ((U64 - k) & U63)
            rem = np.where(k == U0, U0, rem)
            cursors = cursors + k
            codes[base + j] = ((q << k) | rem).astype(np.int64)

    def evaluate(self, sigs: np.ndarray) -> np.ndarray:
        sigs = np.ascontiguousarray(sigs, dtype=np.int64)
        out = np.empty(len(sigs), dtype=np.int64)
        for lo in range(0, len(sigs), WALK_BLOCK):
            out[lo : lo + WALK_BLOCK] = self._walk(sigs[lo : lo + WALK_BLOCK])
        return out

    def _walk(self, sigs: np.ndarray) -> np.ndarray:
        if self.bucket_log2 == 0:
            buckets = np.zeros(len(sigs), dtype=np.int64)
        else:
            buckets = (sigs >> (64 - self.bucket_log2)) & np.int64(
                (1 << self.bucket_log2) - 1
            )
        # keys in empty buckets are non-members: result unspecified
        out = self.offsets[buckets]
        size = self.bucket_sizes[buckets]
        # walk state per key: output slot, node size, absolute node index,
        # key-range start
        slot = np.flatnonzero(size)
        sigs, size = sigs[slot], size[slot]
        dfs = self.node_off[buckets[slot]]
        add = out[slot]
        leaf = self.leaf_size
        codes, first, last_idx, first_sub = self.codes, self.first, self.last_idx, self.first_sub
        U33 = np.uint64(33)
        while len(size):
            # positions_inplace with a per-key size: its xorshift-multiply
            # round, then the general Lemire reduce (its power-of-two fast
            # path is bit-identical to this formula)
            pos = np.multiply(codes[dfs], GOLDEN, dtype=np.int64)
            pos += sigs
            pos ^= pos >> 30
            pos *= _M1
            upos = pos.view(np.uint64)
            upos >>= U33
            pos *= size
            pos >>= 31
            at_leaf = size <= leaf
            if at_leaf.any():
                fin = np.flatnonzero(at_leaf)
                out[slot[fin]] = add[fin] + pos[fin]
                keep = np.flatnonzero(~at_leaf)
                slot, sigs, size, dfs, add, pos = (
                    a[keep] for a in (slot, sigs, size, dfs, add, pos)
                )
            d = first[size]
            m1 = last_idx[size]
            child = np.minimum(pos // d, m1)
            dfs += child * first_sub[size]
            dfs += 1
            add += child * d
            size = np.where(child == m1, size - m1 * d, d)
        return out
