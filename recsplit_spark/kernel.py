"""Per-bucket RecSplit construction + evaluation kernels (pure numpy).

These run inside Arrow-vectorized pandas UDFs on executors; they contain no
Spark dependency so they are unit-testable in-process at t0/t1 sizes.

Build (reference trace: ``Generator.generate(T[],long[],long,BitBuffer)``,
``generator/Generator.java:44-97``): recursively split each bucket's key
signatures per the Settings rule; at each node search the smallest trial
index whose supplemental hash realizes the target split / bijection; emit
the index Golomb-Rice-coded in DFS pre-order.

The reference's scalar retry loop is re-architected as a **size-descending
wavefront** (SURVEY §7 "vectorizing the trial search"):

* The split tree's *structure* is a pure function of the set size (the
  Settings rule), so node identity reduces to (bucket, DFS position) and
  DFS positions are computable ahead of time from ``subtree_nodes``.
* All nodes of equal size — across every bucket in the Arrow batch — are
  solved in ONE vectorized search over an (nodes*size, trial-batch) int64
  matrix. Children are strictly smaller than parents, so processing sizes
  in descending order visits each size exactly once: total Python dispatch
  is O(distinct sizes), not O(nodes).
* Trial batches are sized from the DP's expected trial count and grown
  geometrically; work is chunked to a per-core-L2-resident reused
  workspace (``CHUNK_ELEMS``; the kernel is memory-bound; fresh-page
  allocation costs ~10x).
* Split nodes never compute positions: after the mixing round of
  ``positions_inplace`` each cumulative part bound is one unsigned
  compare against a per-size threshold (``_split_checks``). Leaves keep
  the full position function.
* Rice codes for the whole batch are emitted with one vectorized
  ``pack_bits`` call; bucket boundaries are byte-aligned by injected pad
  codes so per-bucket streams are plain byte slices (costs ~4 bits/bucket,
  ~0.03 bits/key at avg bucket 128 — replaces the reference's bit-level
  stream concatenation + overlap compression, ``Generator.java:289-319``).

Evaluate (reference: ``RecSplitEvaluator.evaluate`` + tree walk,
``RecSplitEvaluator.java:68-176``): re-walk the same DFS order, descending
each key into the child range its supplemental hash selects. All keys of one
bucket are evaluated together, so each tree node is decoded exactly once per
batch regardless of how many keys traverse it.

All signature math is int64 (see ``hashing`` module note).
"""

from __future__ import annotations

import numpy as np

from .codecs import BitReader, pack_bits
from .hashing import _M1, GOLDEN, node_positions, positions_inplace
from .settings import Settings

#: hard cap on trial-batch width
MAX_TRIAL_BATCH = 1 << 10
#: workspace cap: elements per solver round chunk (1 MiB of int64 x2
#: buffers — sized to stay PER-CORE-L2-resident: the trial matrices are
#: temporaries, and if a tile fits L2 the ~10 elementwise passes never
#: touch DRAM. Measured on 32 cores: 2^17 gives the best aggregate
#: throughput (2.07M keys/s) and 8->32-core efficiency 0.85; the old 2^20
#: (8 MiB x2 x 32 workers = 512 MiB working set) was DRAM-bound at 1.5M)
CHUNK_ELEMS = 1 << 17
#: give up after this many trials at one node (signals signature collision)
MAX_TRIALS = 1 << 24


class DuplicateSignatureError(ValueError):
    """Two keys share a 64-bit signature — caller must re-salt the build."""


class TrialLimitError(RuntimeError):
    """Trial search exhausted MAX_TRIALS — caller must re-salt the build."""


_WORKBUF: list[np.ndarray | None] = [None, None]


def _get_buf(n: int, which: int = 0) -> np.ndarray:
    buf = _WORKBUF[which]
    if buf is None or buf.size < n:
        buf = np.empty(n, dtype=np.int64)
        _WORKBUF[which] = buf
    return buf[:n]


def _first_batch(expected: float) -> int:
    """Batch ~expected/4 (pow2): minimizes computed-but-unneeded trials
    while keeping round count low; the solver doubles it every few rounds."""
    b = 16
    target = min(max(expected, 1.0) / 4.0, MAX_TRIAL_BATCH)
    while b < target:
        b <<= 1
    return b


def _trial_base(base: int, batch: int) -> np.ndarray:
    return np.arange(base, base + batch, dtype=np.int64) * GOLDEN


def _split_checks(s: int, parts: tuple[int, ...]) -> list[tuple[int, np.uint64]]:
    """(b, T) for every cumulative part bound b of a size-``s`` split but
    the last: a key lands below b exactly when ``u < T``, where ``u`` is the
    uint64 value after the xorshift-multiply round of ``positions_inplace``.

    The reduce there is pos = ((u >> 33) * s) >> 31, so
    pos < b  <=>  (u >> 33) * s < b * 2^31  <=>  u < ceil(b * 2^31 / s) << 33
    (the power-of-two path u >> (64 - k) is the same formula). A trial wins
    when exactly b keys fall below every T, so the smallest winning trial,
    and with it every descriptor byte, is unchanged.
    """
    out = []
    b = 0
    for a in parts[:-1]:
        b += a
        out.append((b, np.uint64((((b << 31) + s - 1) // s) << 33)))
    return out


# ---------------------------------------------------------------------------
# batched node solver: L same-size nodes at once
# ---------------------------------------------------------------------------

def _solve_nodes(
    sig_mat: np.ndarray, s: int, parts: tuple[int, ...], expected: float
) -> np.ndarray:
    """Find, for each of L size-``s`` nodes, the smallest trial index whose
    supplemental hash realizes the node's target (bijection for leaves,
    exact part counts for splits). ``sig_mat``: (L, s) int64.

    Returns (L,) int64 winning indices.
    """
    L = len(sig_mat)
    out = np.full(L, -1, dtype=np.int64)
    if L == 0:
        return out
    if s == 1:
        out[:] = 0  # single key: position 0 under any hash
        return out
    is_leaf = not parts
    if is_leaf:
        full = np.int64((1 << s) - 1)
        one = np.int64(1)
    else:
        checks = _split_checks(s, parts)
    active = np.arange(L, dtype=np.int64)
    sigs = sig_mat
    base = 0
    rounds = 0
    batch = _first_batch(expected)
    while len(active) and base < MAX_TRIALS:
        tb = _trial_base(base, batch)[None, :]
        max_rows = max(1, CHUNK_ELEMS // (s * batch))
        solved = np.zeros(len(active), dtype=bool)
        win = np.empty(len(active), dtype=np.int64)
        for lo in range(0, len(active), max_rows):
            hi = min(lo + max_rows, len(active))
            m = hi - lo
            buf = _get_buf(m * s * batch).reshape(m * s, batch)
            scratch = _get_buf(m * s * batch, 1).reshape(m * s, batch)
            np.add(sigs[lo:hi].reshape(-1, 1), tb, out=buf)
            if is_leaf:
                positions_inplace(buf, s, scratch)
                np.left_shift(one, buf, out=buf)
                occ = np.bitwise_or.reduce(buf.reshape(m, s, batch), axis=1)
                won = occ == full  # (m, batch)
            else:
                # the xorshift-multiply round of positions_inplace, then
                # one unsigned compare per cumulative bound (no reduce)
                np.right_shift(buf, 30, out=scratch)
                buf ^= scratch
                buf *= _M1
                u = buf.view(np.uint64).reshape(m, s, batch)
                hit = scratch.reshape(-1).view(np.bool_)[: m * s * batch]
                hit = hit.reshape(m, s, batch)
                won = np.ones((m, batch), dtype=bool)
                for b, t in checks:
                    np.less(u, t, out=hit)
                    won &= hit.sum(axis=1, dtype=np.int32) == b
            any_won = won.any(axis=1)
            solved[lo:hi] = any_won
            win[lo:hi][any_won] = base + np.argmax(won, axis=1)[any_won]
        if solved.any():
            out[active[solved]] = win[solved]
            keep = ~solved
            active = active[keep]
            sigs = sigs[keep]
        base += batch
        rounds += 1
        if rounds % 4 == 0:  # stragglers: widen to bound round count
            batch = min(batch * 2, MAX_TRIAL_BATCH)
    if len(active):
        kind = "leaf" if is_leaf else "split"
        raise TrialLimitError(f"{kind} search exceeded {MAX_TRIALS} trials (size={s})")
    return out


def _winning_positions(sig_mat: np.ndarray, idx: np.ndarray, s: int) -> np.ndarray:
    """Recompute positions (L, s) for each node under its winning index."""
    x = sig_mat + (idx * GOLDEN)[:, None]
    return positions_inplace(x, s)


# ---------------------------------------------------------------------------
# build: whole Arrow batch of buckets at once (wavefront)
# ---------------------------------------------------------------------------

def build_buckets(
    bucket_ids: np.ndarray, sigs: np.ndarray, settings: Settings
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, bytes]:
    """Build descriptors for every bucket in a (sorted-by-bucket) batch.

    ``bucket_ids``: int64, non-decreasing; ``sigs``: int64 signatures,
    aligned. Returns (unique_bucket_ids, n_keys, bit_lens, byte_lens,
    stream_blob) — per-bucket streams are byte-aligned consecutive slices
    of ``stream_blob`` (bucket b occupies bytes
    [cumsum(byte_lens)[b-1], cumsum(byte_lens)[b])).
    Raises DuplicateSignatureError / TrialLimitError (caller re-salts).
    """
    sigs = np.ascontiguousarray(sigs, dtype=np.int64)
    bucket_ids = np.asarray(bucket_ids, dtype=np.int64)
    uniq, starts = np.unique(bucket_ids, return_index=True)
    nb = len(uniq)
    ends = np.append(starts[1:], len(bucket_ids))
    n_keys = (ends - starts).astype(np.int64)
    if nb == 0:
        return uniq, n_keys, np.empty(0, np.int64), np.empty(0, np.int64), b""
    # duplicate-signature check: bucket is a function of the signature, so
    # equal signatures always collide within one bucket — a global check
    # suffices (reference analogue: FastGenerator.checkDuplicateKey,
    # hem/recsplit/FastGenerator.java:203-210)
    if len(np.unique(sigs)) != len(sigs):
        raise DuplicateSignatureError("duplicate 64-bit signature in batch")
    settings.ensure(int(n_keys.max()))

    # ---- wavefront solve: frontier[size] -> (node ids, sig matrices) -----
    # node identity: (bucket_no, dfs position); code order restored at emit
    frontier: dict[int, list[tuple[np.ndarray, np.ndarray, np.ndarray]]] = {}
    for size in np.unique(n_keys):
        size = int(size)
        if size == 0:
            continue
        sel = np.flatnonzero(n_keys == size)
        mat = np.empty((len(sel), size), dtype=np.int64)
        for r, b in enumerate(sel):
            mat[r] = sigs[starts[b] : ends[b]]
        frontier.setdefault(size, []).append(
            (sel.astype(np.int64), np.zeros(len(sel), dtype=np.int64), mat)
        )

    code_bucket: list[np.ndarray] = []
    code_dfs: list[np.ndarray] = []
    code_val: list[np.ndarray] = []
    code_k: list[np.ndarray] = []

    while frontier:
        s = max(frontier)
        groups = frontier.pop(s)
        bnos = np.concatenate([g[0] for g in groups])
        dfs = np.concatenate([g[1] for g in groups])
        mat = np.vstack([g[2] for g in groups])
        parts = settings.parts[s]
        idx = _solve_nodes(mat, s, parts, settings.exp_trials[s])
        code_bucket.append(bnos)
        code_dfs.append(dfs)
        code_val.append(idx)
        code_k.append(np.full(len(bnos), settings.rice_k[s], dtype=np.int64))
        if not parts:
            continue
        pos = _winning_positions(mat, idx, s)
        order = np.argsort(pos, axis=1, kind="stable")
        child_sigs = np.take_along_axis(mat, order, axis=1)
        off = 0
        child_dfs = dfs + 1
        for a in parts:
            frontier.setdefault(a, []).append(
                (bnos, child_dfs.copy(), child_sigs[:, off : off + a])
            )
            off += a
            child_dfs = child_dfs + settings.subtree_nodes[a]

    # ---- vectorized Rice emission, bucket-boundary byte alignment --------
    cb = np.concatenate(code_bucket)
    cd = np.concatenate(code_dfs)
    cv = np.concatenate(code_val)
    ck = np.concatenate(code_k)
    order = np.lexsort((cd, cb))
    cb, cv, ck = cb[order], cv[order], ck[order]
    q = cv >> ck
    if (q >= 48).any():  # pathological quotient: not representable in one
        raise TrialLimitError("rice quotient overflow (q >= 48)")  # pair
    # per code: (unary run of q ones + zero, q+1 bits) then (remainder, k)
    vals = np.empty(2 * len(cv), dtype=np.uint64)
    widths = np.empty(2 * len(cv), dtype=np.int64)
    vals[0::2] = ((np.uint64(1) << (q + 1).astype(np.uint64)) - np.uint64(2))
    widths[0::2] = q + 1
    vals[1::2] = (cv & ((np.int64(1) << ck) - 1)).astype(np.uint64)
    widths[1::2] = ck
    # bucket bit lengths (buckets with zero codes = empty buckets)
    codes_per_bucket = np.bincount(cb, minlength=nb)
    bit_lens = np.zeros(nb, dtype=np.int64)
    np.add.at(bit_lens, cb, widths[0::2] + widths[1::2])
    pad = (-bit_lens) % 8
    # inject pad codes (zeros) after each bucket's last code
    ins_at = 2 * np.cumsum(codes_per_bucket)
    vals = np.insert(vals, ins_at, np.zeros(nb, dtype=np.uint64))
    widths = np.insert(widths, ins_at, pad)
    blob, _total_bits = pack_bits(vals, widths)
    byte_lens = (bit_lens + pad) >> 3
    return uniq, n_keys, bit_lens, byte_lens, blob


def build_bucket(sigs: np.ndarray, settings: Settings) -> tuple[bytes, int]:
    """Single-bucket convenience wrapper (unit tests)."""
    if len(sigs) == 0:
        return b"", 0
    ids = np.zeros(len(sigs), dtype=np.int64)
    _, _, bls, byls, blob = build_buckets(ids, np.asarray(sigs), settings)
    return blob[: byls[0]], int(bls[0])


# ---------------------------------------------------------------------------
# evaluate
# ---------------------------------------------------------------------------

def eval_bucket(
    bits: np.ndarray,
    bucket_size: int,
    sigs: np.ndarray,
    base_offset: int,
    settings: Settings,
) -> np.ndarray:
    """Evaluate signatures against one bucket's decoded bit stream.

    ``bits``: uint8 0/1 array (the bucket's stream, already unpacked);
    ``bucket_size``: number of keys the bucket was built with (from the
    offset list); ``sigs``: query signatures landing in this bucket (any
    subset of the build keys); ``base_offset``: the bucket's global key
    offset. Returns int64 MPHF indices aligned with ``sigs``.
    """
    sigs = np.ascontiguousarray(sigs, dtype=np.int64)
    out = np.empty(len(sigs), dtype=np.int64)
    if bucket_size == 0:
        out[:] = base_offset  # non-member keys: result is unspecified
        return out
    settings.ensure(bucket_size)
    reader = BitReader(bits)
    slots = np.arange(len(sigs), dtype=np.int64)
    _eval_node(reader, bucket_size, sigs, slots, base_offset, settings, out)
    return out


def _eval_node(
    reader: BitReader,
    s: int,
    h: np.ndarray,
    slots: np.ndarray,
    add: int,
    settings: Settings,
    out: np.ndarray,
) -> None:
    parts = settings.parts[s]
    index = reader.read_rice(settings.rice_k[s])
    if not parts:
        if len(h):
            out[slots] = add + node_positions(h, index, s)
        return
    bounds = np.cumsum(np.array(parts, dtype=np.int64))
    if len(h):
        pos = node_positions(h, index, s)
        assign = np.searchsorted(bounds, pos, side="right").astype(np.int64)
    else:
        assign = np.empty(0, dtype=np.int64)
    child_add = add
    for j, p in enumerate(parts):
        mask = assign == j
        # subtrees with no query keys must still be decoded to advance the
        # cursor (reference 'skip', RecSplitEvaluator.java:98-122)
        _eval_node(reader, p, h[mask], slots[mask], child_add, settings, out)
        child_add += p
