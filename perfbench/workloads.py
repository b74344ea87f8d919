"""The benchmark workloads: input generation, the timed operation, and
the correctness check of every result.

Inputs are generated JVM-side from the seed (``xxhash64(seed, id, ...)``)
and cached before timing; the library never generates its own input.
Each workload exposes:

* ``generate()`` — build and cache the inputs (repeated: ``setup_s``
  takes the median);
* ``prepare()``  — once, after ``generate``: untimed prep such as the
  ``lookup`` descriptor build, and the exact answers the checks use;
* ``op()``       — one closed-loop operation, the only timed code;
* ``check(res)`` — raises ``CheckFailed`` unless ``res`` is correct;
* ``items``      — work units per op (keys, probes, windows);
* ``floors()``   — (traced run) the JVM / shuffle / crossing floor jobs.
"""

from __future__ import annotations

import time

import numpy as np

#: full sizes (the benchmark) and tiny sizes (the self-test)
SIZES = {
    "full": {"build_keys": 1 << 19, "lookup_keys": 1 << 18, "lookup_probes": 1 << 21,
             "profile_docs": 25_000},
    "tiny": {"build_keys": 20_000, "lookup_keys": 1 << 13, "lookup_probes": 1 << 16,
             "profile_docs": 2_000},
}


class CheckFailed(AssertionError):
    """An operation produced a wrong result."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_batches(batches):
    """Count-only crossing body: the Arrow/pandas transport, no kernel."""
    import pandas as pd

    n = 0
    for b in batches:
        n += len(b)
    yield pd.DataFrame({"n": [n]})


def warm_workers(batches):
    """Python workers import the library before timing starts."""
    import recsplit_spark.mphf  # noqa: F401
    import recsplit_spark.pipeline.dedup  # noqa: F401
    import recsplit_spark.sketches  # noqa: F401

    yield from _count_batches(batches)


def _count_arrow(batches):
    import pyarrow as pa

    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.record_batch([pa.array([n], pa.int64())], names=["n"])


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _floor(fn, reps: int = 2) -> float:
    return float(np.median([_timed(fn) for _ in range(reps)]))


def _floors(jvm, crossing, rows: int, shuffle=None) -> dict:
    """Median walls of the floor jobs, and the partition count the crossing
    job actually ran with (read after any ``coalesce``)."""
    out = {
        "jvm_floor_s": _floor(lambda: _noop(jvm)),
        "shuffle_floor_s": _floor(lambda: _noop(shuffle)) if shuffle is not None else 0.0,
        "crossing_floor_s": _floor(crossing.collect),
        "crossing_tasks": crossing.rdd.getNumPartitions(),
    }
    _require(sum(r["n"] for r in crossing.collect()) == rows, "crossing floor lost rows")
    return out


def _arrow_column(df, name: str) -> np.ndarray:
    """One non-null int64 column of ``df`` as numpy, through Arrow."""
    col = df.toArrow().column(name).combine_chunks().drop_null()
    return np.ascontiguousarray(col.to_numpy(zero_copy_only=False), dtype=np.int64)


def doc_key(seed: int, idx_col):
    """Distinct string key of row ``idx_col`` (distinct by construction)."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit("doc-"), F.lower(F.hex(F.xxhash64(F.lit(seed), idx_col))), F.lit("-"), idx_col.cast("string")
    )


class Workload:
    name = ""

    def __init__(self, spark, seed: int, sizes: dict) -> None:
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self._cached: list = []
        self.salt_rerolls = 0

    def _cache(self, df):
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def prepare(self) -> None:
        pass


# -- build ---------------------------------------------------------------------

class Build(Workload):
    """RecSplit construction over distinct string keys."""

    name = "build"

    def generate(self) -> None:
        from pyspark.sql import functions as F

        n = self.sizes["build_keys"]
        self.n = self.items = n
        self.keys = self._cache(
            self.spark.range(0, n, numPartitions=4).select(doc_key(self.seed, F.col("id")).alias("doc_id"))
        )
        self._sigs: dict[int, np.ndarray] = {}
        self._verified: bytes | None = None

    def _sigs_for(self, salt: int) -> np.ndarray:
        from recsplit_spark.mphf import gather_sig_array

        if salt not in self._sigs:
            self._sigs[salt] = gather_sig_array(self.keys, "doc_id", salt, 0)
        return self._sigs[salt]

    def op(self, tracer):
        from recsplit_spark import RecSplitBuilder

        return RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(self.keys, "doc_id", n=self.n)

    def check(self, desc) -> None:
        from recsplit_spark import MPHFDescriptor

        blob = desc.to_bytes()
        self.salt_rerolls = desc.salt
        _require(desc.n == self.n, f"descriptor n={desc.n}, want {self.n}")
        _require(8 * len(blob) / self.n <= 2.0, f"bits/key {8 * len(blob) / self.n:.4f} > 2.0")
        if self._verified is not None and blob == self._verified:
            return  # byte-identical to a descriptor whose bijection was verified
        loaded = MPHFDescriptor.from_bytes(blob)
        idx = loaded.evaluate_array(self._sigs_for(loaded.salt))
        _require(idx.min() >= 0 and idx.max() < self.n, "index out of [0, n)")
        _require(bool((np.bincount(idx, minlength=self.n) == 1).all()), "reloaded descriptor is not a bijection")
        self._verified = blob

    def space_bits_per_item(self, desc) -> float:
        return desc.bits_per_key

    def floors(self, desc) -> dict:
        """JVM scan+cast+hash; + bucket shuffle; + count-only mapInPandas
        crossing — the three stages the build runs before its kernel."""
        from pyspark.sql import functions as F

        from recsplit_spark.mphf import bucket_log2_for, key_sig_expr

        blog2 = bucket_log2_for(self.n, 128)
        sig = self.keys.select(key_sig_expr("doc_id", desc.salt, 0).alias("sig"))
        bucket = F.shiftrightunsigned(F.col("sig"), 64 - blog2)
        nparts = min(2 * self.spark.sparkContext.defaultParallelism, max(1, self.n // 32768), 1 << blog2)
        shuffled = sig.repartition(nparts, bucket).withColumn("bucket", bucket)
        crossing = shuffled.mapInPandas(_count_batches, schema="n long")
        return _floors(sig.withColumn("bucket", bucket), crossing, self.n, shuffle=shuffled)


# -- lookup --------------------------------------------------------------------

_WEIGHT_MOD = 1021


class Lookup(Workload):
    """Load a saved descriptor and evaluate a member-probe stream."""

    name = "lookup"

    def generate(self) -> None:
        from pyspark.sql import functions as F

        n, p = self.sizes["lookup_keys"], self.sizes["lookup_probes"]
        _require(n & (n - 1) == 0 and p % n == 0, "lookup sizes: n a power of two dividing the probe count")
        self.n, self.items = n, p
        self.keys = self._cache(
            self.spark.range(0, n, numPartitions=4).select(F.col("id").alias("key_idx"), doc_key(self.seed, F.col("id")).alias("doc_id"))
        )
        # each key is probed p/n times, in a seed-dependent order: an odd
        # multiplier permutes every block of n consecutive ids mod n
        mult = (2 * self.seed + 1) * 0x9E3779B1 % n | 1
        key_idx = F.pmod(F.col("id") * F.lit(mult) + F.lit(self.seed), F.lit(n))
        probes = self.spark.range(0, p, numPartitions=4).select(key_idx.alias("key_idx"))
        self.probes = self._cache(probes.select("key_idx", doc_key(self.seed, F.col("key_idx")).alias("doc_id")))

    def prepare(self) -> None:
        from recsplit_spark import RecSplitBuilder
        from recsplit_spark.mphf import key_sig_expr

        n, p, keys = self.n, self.items, self.keys
        desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(keys, "doc_id", n=n)
        self.blob = desc.to_bytes()
        self.salt_rerolls = desc.salt
        # checksum sum(index * weight(key)) is wrong for any other bijection
        sigs = _arrow_column(keys.select("key_idx", key_sig_expr("doc_id", desc.salt, 0).alias("sig")).orderBy("key_idx"), "sig")
        _require(len(sigs) == n, "lookup setup lost keys")
        weight = np.arange(n, dtype=np.int64) % _WEIGHT_MOD + 1
        self.expected_sum = int((p // n) * (desc.evaluate_array(sigs) * weight).sum())

    def op(self, tracer):
        from pyspark.sql import functions as F

        from recsplit_spark import MPHFDescriptor

        with tracer.span("codecs.from_bytes"):
            desc = MPHFDescriptor.from_bytes(self.blob)
        out = desc.evaluate(self.probes, "doc_id", coalesce="auto")
        row = out.agg(
            F.count("*").alias("c"), F.min("mphf_index").alias("lo"),
            F.max("mphf_index").alias("hi"), F.sum("mphf_index").alias("s"),
            F.sum(F.col("mphf_index") * (F.pmod("key_idx", F.lit(_WEIGHT_MOD)) + 1)).alias("ws"),
        ).first()
        return desc, row

    def check(self, res) -> None:
        _desc, row = res
        _require(row["c"] == self.items, f"count {row['c']} != {self.items}")
        _require(row["lo"] == 0 and row["hi"] == self.n - 1, f"index range [{row['lo']}, {row['hi']}]")
        _require(int(row["s"]) == (self.items // self.n) * self.n * (self.n - 1) // 2, "index sum is not p/n copies of 0..n-1")
        _require(int(row["ws"]) == self.expected_sum, "index checksum differs from driver-side evaluate_array")

    def space_bits_per_item(self, res) -> float:
        return res[0].bits_per_key

    def floors(self, res) -> dict:
        """JVM scan+cast+hash into noop; count-only mapInArrow crossing,
        both after the same ``coalesce`` the op applies."""
        from recsplit_spark.mphf import key_sig_expr

        desc = res[0]
        parts = max(2, (3 * self.spark.sparkContext.defaultParallelism) // 2)
        sig = self.probes.coalesce(parts).select(key_sig_expr("doc_id", desc.salt, 0).alias("sig"))
        crossing = sig.mapInArrow(_count_arrow, schema="n long")
        return _floors(sig, crossing, self.items)


# -- profile -------------------------------------------------------------------

_VOCAB = 4096  # 12-bit tokens: a 5-gram packs exactly into 60 bits
_HEADERS = 16
_HEADER_LEN = 20


class Profile(Workload):
    """One fused sketch scan over a token corpus."""

    name = "profile"

    def _specs(self):
        from recsplit_spark.sketches import KLL, CountMinSketch, HyperLogLog, SketchSpec

        return [
            SketchSpec("ngram_hll", HyperLogLog(p=14), "tokens", ngram=5),
            SketchSpec("ngram_cms", CountMinSketch(eps=1e-3, delta=0.01), "tokens", ngram=5),
            SketchSpec("ntok_kll", KLL(k=200), "n_tok"),
            SketchSpec("doc_hll", HyperLogLog(p=14), "doc_id"),
        ]

    def generate(self) -> None:
        from pyspark.sql import functions as F

        d, s = self.sizes["profile_docs"], self.seed
        ids = self.spark.range(0, d, numPartitions=4)
        n_tok = (F.lit(16) + F.pmod(F.xxhash64(F.lit(s), F.col("id"), F.lit(1)), F.lit(529))).cast("int")
        # every doc opens with one of 16 fixed 20-token headers (heavy
        # 5-grams for the count-min check); the rest is uniform noise
        tok = lambda j: F.when(  # noqa: E731
            j < _HEADER_LEN,
            F.pmod(F.xxhash64(F.lit(s), F.lit(2), F.pmod(F.col("id"), F.lit(_HEADERS)), j), F.lit(_VOCAB)),
        ).otherwise(F.pmod(F.xxhash64(F.lit(s), F.col("id"), j), F.lit(_VOCAB))).cast("int")
        docs = ids.select(
            "id", doc_key(s, F.col("id")).alias("doc_id"), n_tok.alias("n_tok"),
        ).withColumn("tokens", F.transform(F.sequence(F.lit(0), F.col("n_tok") - 1), tok))
        self.docs = self._cache(docs.select("doc_id", "tokens", "n_tok"))

    def prepare(self) -> None:
        s = self.seed
        # exact answers, driver-side: every 5-gram packed losslessly into
        # 60 bits, counted by sorting (independent of the library's hashing)
        col = self.docs.select("tokens").toArrow().column("tokens").combine_chunks()
        _require(col.null_count == 0 and col.values.null_count == 0, "profile setup: null tokens")
        flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        offs = col.offsets.to_numpy()
        lens = np.diff(offs)
        valid = np.ones(len(flat), dtype=bool)
        for k in range(1, 5):  # a window may not run past its document's end
            last = offs[1:] - k
            valid[last[last >= offs[:-1]]] = False
        starts = np.flatnonzero(valid)
        packed = np.zeros(len(starts), dtype=np.int64)
        for k in range(5):
            packed |= flat[starts + k] << (12 * (4 - k))
        grams, counts = np.unique(packed, return_counts=True)
        self.items, self.exact_distinct_grams = len(packed), len(grams)
        # count-min queries: the header 5-grams of the first docs plus one
        # random window from each of them
        rng = np.random.default_rng(s)
        queries = set()
        for i in range(_HEADERS * 4):
            doc = flat[offs[i] : offs[i + 1]]
            picks = list(range(min(_HEADER_LEN, len(doc)) - 4))
            if len(doc) > _HEADER_LEN + 5:
                picks.append(int(rng.integers(_HEADER_LEN, len(doc) - 5)))
            queries.update(tuple(int(t) for t in doc[j : j + 5]) for j in picks)
        self.queries = sorted(queries)
        keys = np.array([sum(t << (12 * (4 - k)) for k, t in enumerate(q)) for q in self.queries], dtype=np.int64)
        at = np.searchsorted(grams, keys)
        _require(bool((grams[np.minimum(at, len(grams) - 1)] == keys).all()), "profile setup: a query 5-gram is missing")
        self.query_truth = counts[at]
        self.n_tok = np.sort(lens)
        self.n_docs = len(lens)

    def op(self, tracer):
        from recsplit_spark.sketches import profile

        return profile(self.docs, self._specs())

    def errors_over_bound(self, states) -> dict[str, float]:
        """Observed error / published bound, per sketch (must be <= 1).

        HLL: |relative error| over 3 standard errors (1.04/sqrt(m)).
        CMS: worst point-query overcount over eps * N (it never undercounts).
        KLL: worst normalized rank error at q = 0.05..0.95 over epsilon."""
        from recsplit_spark.sketches.multi import token_ngram_hashes

        specs = {sp.name: sp.sketch for sp in self._specs()}
        out = {}
        for name, truth in (("ngram_hll", self.exact_distinct_grams), ("doc_hll", self.n_docs)):
            sk = specs[name]
            out[name] = abs(sk.estimate(states[name]) - truth) / truth / (3 * sk.relative_error)
        cms = specs["ngram_cms"]
        h = np.array([token_ngram_hashes(np.array(q), 5)[0] for q in self.queries], dtype=np.int64)
        est = cms.query_hashes(states["ngram_cms"], h)
        over = est - self.query_truth
        _require(bool((over >= 0).all()), "count-min undercounted a 5-gram")
        out["ngram_cms"] = float(over.max()) / (cms.eps * self.items)
        kll = specs["ntok_kll"]
        qs = np.linspace(0.05, 0.95, 19)
        xs = np.atleast_1d(kll.quantile(states["ntok_kll"], qs))
        lo = np.searchsorted(self.n_tok, xs, side="left") / len(self.n_tok)
        hi = np.searchsorted(self.n_tok, xs, side="right") / len(self.n_tok)
        rank_err = np.maximum(0.0, np.maximum(lo - qs, qs - hi))
        out["ntok_kll"] = float(rank_err.max()) / kll.epsilon
        return out

    def check(self, states) -> None:
        errs = self.errors_over_bound(states)
        self.err_over_bound = max(errs.values())
        bad = {k: round(v, 3) for k, v in errs.items() if not v <= 1.0}
        _require(not bad, f"sketch error above its published bound: {bad}")

    def space_bits_per_item(self, states) -> float:
        specs = {sp.name: sp.sketch for sp in self._specs()}
        return 8.0 * sum(len(specs[k].to_bytes(v)) for k, v in states.items()) / self.items

    def floors(self, _states) -> dict:
        """JVM projection into noop; count-only mapInPandas crossing of the
        same projection (the transport the fused fold uses)."""
        from pyspark.sql import functions as F

        from recsplit_spark.session import ensure_min_partitions

        src = self.docs.select("tokens", "n_tok", F.xxhash64("doc_id").alias("h"))
        crossing = ensure_min_partitions(src).mapInPandas(_count_batches, schema="n long")
        return _floors(src, crossing, self.n_docs)


WORKLOADS = {w.name: w for w in (Build, Lookup, Profile)}
