"""Single-layer microbenches and the host-bandwidth probe.

Every bench runs in freshly spawned worker processes: once alone (one
core) and once as ``PAR`` concurrent copies started behind a barrier
(``_par<N>`` metrics), so a kernel that only wins while it has the memory
bus to itself shows up as a gap between the two.  Sizes: ``l2`` inputs
(2^17 elements) stay in one core's L2; ``big`` inputs (2^22 elements,
2^18 keys for the MPHF kernel) are far larger than L2.  The host reports a
300 MiB shared L3, so a truly DRAM-only input would not fit the memory a
shared machine allows; ``big`` is the out-of-L2 case.
"""

from __future__ import annotations

import multiprocessing as mp
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

L2_ELEMS = 1 << 17
BIG_ELEMS = 1 << 22
BIG_KEYS = 1 << 18
PROBE_ELEMS = 1 << 22  # 32 MiB per worker: past L2, small enough to share


#: concurrent copies for the ``_par4`` metrics: the benchmark runs Spark at
#: ``local[4]``, and four matches ``nproc`` on the reference host
PAR = 4


def _time_per_call(fn, min_s: float = 0.15, max_reps: int = 50) -> float:
    """Median seconds of ``fn()`` over repeats until ``min_s`` elapsed."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or (time.perf_counter() < t_end and len(times) < max_reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def _distinct_sigs(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    sigs = np.unique(rng.integers(-(1 << 63), (1 << 63) - 1, size=n + n // 64 + 16, dtype=np.int64))
    rng.shuffle(sigs)
    return np.ascontiguousarray(sigs[:n])


# -- the per-process suites ---------------------------------------------------

def _suite_mphf(seed: int, out: dict) -> None:
    """kernel / codecs / evaluate / hashing, at both sizes."""
    from recsplit_spark.evaluate import VectorEvaluator
    from recsplit_spark.hashing import mix64_inplace, positions_inplace
    from recsplit_spark.mphf import MPHFDescriptor, build_descriptor_from_sigs

    for tag, n_elems in (("l2", L2_ELEMS), ("big", BIG_ELEMS)):
        base = _distinct_sigs(n_elems, seed)
        buf = np.empty_like(base)
        scratch = np.empty_like(base)

        def _pos():
            np.copyto(buf, base)
            positions_inplace(buf, 127, scratch)

        def _copy():
            np.copyto(buf, base)

        def _mix():
            np.copyto(buf, base)
            mix64_inplace(buf, scratch)

        copy_s = _time_per_call(_copy)
        out[f"hashing.positions_ns_per_elem_{tag}"] = max(0.0, _time_per_call(_pos) - copy_s) / n_elems * 1e9
        out[f"hashing.mix64_ns_per_elem_{tag}"] = max(0.0, _time_per_call(_mix) - copy_s) / n_elems * 1e9
        del buf, scratch

    build_descriptor_from_sigs(_distinct_sigs(4096, seed), 8, 128)  # derives the rule table
    for tag, n_keys in (("l2", L2_ELEMS), ("big", BIG_KEYS)):
        sigs = _distinct_sigs(n_keys, seed + 1)
        t0 = time.perf_counter()
        desc = build_descriptor_from_sigs(sigs, 8, 128)
        out[f"kernel.build_us_per_key_{tag}"] = (time.perf_counter() - t0) / n_keys * 1e6
        probes = np.ascontiguousarray(sigs[np.random.default_rng(seed).integers(0, n_keys, n_keys)])
        ve = VectorEvaluator(desc.settings, desc.bucket_log2, desc.offsets, desc.byte_starts, desc.stream)
        walk_s = _time_per_call(lambda: ve.evaluate(probes), min_s=0.5, max_reps=5)
        out[f"evaluate.walk_ns_per_key_{tag}"] = walk_s / len(probes) * 1e9
        if tag == "big":
            blob = desc.to_bytes()
            out["codecs.encode_s"] = _time_per_call(desc.to_bytes)
            out["codecs.decode_s"] = _time_per_call(lambda: MPHFDescriptor.from_bytes(blob))
            out["evaluate.decode_s"] = _time_per_call(
                lambda: VectorEvaluator(desc.settings, desc.bucket_log2, desc.offsets, desc.byte_starts, desc.stream),
                max_reps=5,
            )
            import pickle

            out["evaluate.state_bytes"] = float(len(pickle.dumps(ve)))
            out["kernel.trials_per_key"] = float((ve.codes.astype(np.int64) + 1).sum()) / n_keys
            out["codecs.bits_per_key"] = 8.0 * len(blob) / n_keys


def _suite_sketches(seed: int, out: dict) -> None:
    import pandas as pd

    from recsplit_spark.sketches import KLL, CountMinSketch, HyperLogLog
    from recsplit_spark.sketches.multi import series_window_hashes

    rng = np.random.default_rng(seed)
    hll, cms, kll = HyperLogLog(p=14), CountMinSketch(eps=1e-3, delta=0.01), KLL(k=200)
    for tag, n_elems in (("l2", L2_ELEMS), ("big", BIG_ELEMS)):
        lens = rng.integers(64, 512, size=max(1, n_elems // 284))
        flat = rng.integers(0, 4096, size=int(lens.sum()), dtype=np.int64)
        series = pd.Series(np.split(flat, np.cumsum(lens)[:-1]))
        n_win = int(np.maximum(lens - 4, 0).sum())
        out[f"sketches.window_hash_ns_per_window_{tag}"] = (
            _time_per_call(lambda: series_window_hashes(series, 5)) / n_win * 1e9
        )
        h = rng.integers(-(1 << 63), (1 << 63) - 1, size=n_elems, dtype=np.int64)
        vals = rng.integers(16, 2048, size=n_elems).astype(np.float64)
        for name, sk, arr in (("hll", hll, h), ("cms", cms, h), ("kll", kll, vals)):
            out[f"sketches.{name}_update_ns_per_elem_{tag}"] = (
                _time_per_call(lambda: sk.update(sk.new_state(), arr)) / n_elems * 1e9
            )
    merge_ms = 0.0
    state_bytes = 0
    for sk, arr in ((hll, h), (cms, h), (kll, vals)):
        a, b = sk.new_state(), sk.new_state()
        sk.update(a, arr[: len(arr) // 2])
        sk.update(b, arr[len(arr) // 2 :])
        merge_ms += _time_per_call(lambda: sk.merge(a, b)) * 1e3
        state_bytes += len(sk.to_bytes(sk.merge(a, b)))
    out["sketches.merge_ms"] = merge_ms
    out["sketches.state_bytes"] = float(state_bytes)


def _suite_dedup(seed: int, out: dict) -> None:
    """Text docs of 60-179 base-36 words of 3-4 characters."""
    from recsplit_spark.pipeline.dedup import minhash_signatures_batch

    rng = np.random.default_rng(seed)
    for tag, n_bytes in (("l2", L2_ELEMS), ("big", BIG_ELEMS // 8)):
        docs = []
        size = 0
        while size < n_bytes:
            words = [np.base_repr(int(w), 36).lower() for w in rng.integers(1296, 61296, rng.integers(60, 180))]
            docs.append(" ".join(words))
            size += len(docs[-1])
        out[f"pipeline.dedup.minhash_us_per_doc_{tag}"] = (
            _time_per_call(lambda: minhash_signatures_batch(docs, 128, 5), max_reps=5) / len(docs) * 1e6
        )


def _suite(seed: int, barrier, queue) -> None:
    out: dict = {}
    try:
        barrier.wait(timeout=120)
        _suite_mphf(seed, out)
        _suite_sketches(seed, out)
        _suite_dedup(seed, out)
        queue.put(("ok", out))
    except Exception as e:  # noqa: BLE001 — reported to the parent, which fails
        queue.put(("error", f"{type(e).__name__}: {e}"))


def _run_suite_copies(seed: int, k: int, timeout_s: float) -> list[dict]:
    """Start ``k`` spawned copies of the suite behind one barrier; return
    their results. Drains the queue before joining (joining first can
    deadlock) and kills any process still alive at the deadline."""
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(k)
    queue = ctx.Queue()
    procs = [ctx.Process(target=_suite, args=(seed, barrier, queue)) for _ in range(k)]
    for p in procs:
        p.start()
    results = []
    deadline = time.monotonic() + timeout_s
    try:
        for _ in range(k):
            results.append(queue.get(timeout=max(1.0, deadline - time.monotonic())))
    finally:
        for p in procs:
            p.join(timeout=max(1.0, deadline - time.monotonic()))
            if p.is_alive():
                p.kill()
                p.join()
    errors = [r[1] for r in results if r[0] != "ok"]
    if errors:
        raise RuntimeError(f"microbench worker failed: {errors[0]}")
    return [r[1] for r in results]


def bandwidth_gbps() -> float:
    """Aggregate copy bandwidth (read + write) of ``PAR`` concurrent
    threads — ``np.copyto`` releases the GIL — each at its median over
    ten copies of a 32 MiB array, GB/s."""
    barrier = threading.Barrier(PAR)

    def _one(_):
        src = np.ones(PROBE_ELEMS)
        dst = np.empty_like(src)
        np.copyto(dst, src)
        barrier.wait(timeout=60)
        reps = []
        for _ in range(10):
            t0 = time.perf_counter()
            np.copyto(dst, src)
            reps.append(time.perf_counter() - t0)
        return 2 * src.nbytes / float(np.median(reps))

    with ThreadPoolExecutor(PAR) as ex:
        return sum(ex.map(_one, range(PAR))) / 1e9


def run_suites(seed: int) -> dict[str, float]:
    """Every microbench, alone and as ``PAR`` concurrent copies."""
    (single,) = _run_suite_copies(seed, 1, timeout_s=120)
    par = _run_suite_copies(seed, PAR, timeout_s=150)
    out = dict(single)
    for name in single:
        if name.endswith(("_l2", "_big")):
            out[f"{name}_par{PAR}"] = float(np.median([p[name] for p in par]))
    return out
