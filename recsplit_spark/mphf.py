"""RecSplit MPHF over Spark DataFrames.

Public surface (reference analogue ``RecSplitBuilder`` /
``RecSplitEvaluator``, ``RecSplitBuilder.java:34-89``):

    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    df2  = desc.evaluate(df, "doc_id", out_col="mphf_index")
    blob = desc.to_bytes();  desc2 = MPHFDescriptor.from_bytes(blob)

Architecture (SURVEY §3.1 "Spark re-architecture"):

1. **Signature + bucket** are JVM-side Column expressions — ``xxhash64(key,
   salt)`` and a top-bits shift (``shiftrightunsigned``) — no Python touches
   raw keys (reference bucket assignment: ``FastGenerator.java:30-36``;
   salted hash family per the north rule).
2. **Shuffle** on bucket id replaces the reference's in-place counting-sort
   scatter (``FastGenerator.sortIntoBuckets``, ``FastGenerator.java:56-114``)
   — each bucket lands wholly inside one partition. Every build HASH-
   partitions on the bucket id (no range-boundary sampling pass; the merge
   scatters per bucket, so range contiguity is unnecessary); a checkpoint
   resume drops committed buckets by their exact ids (``_kernel_blocks``).
3. **Partition-parallel construction**: one Arrow-vectorized
   ``mapInPandas`` kernel per partition builds ALL its buckets (wavefront,
   see ``kernel.py``) and emits ONE row per partition: packed per-bucket
   streams + metadata arrays + lineage (part id, key count, wall time).
   This row stream doubles as the **per-partition checkpoint** table
   (reference analogue: the HEM blocked file, ``hem/HemGenerator.java:29-33``).
4. **Associative merge**: per-bucket streams are byte-aligned and prefix
   sums are recomputed on the driver from (bucket, n_keys, byte_len), so
   ANY merge order / partial restart yields identical final bytes
   (north rule "associative bit-stream merge"; SURVEY §7 resume note).
5. **Skew / collisions**: duplicate 64-bit signatures or trial-limit
   blowups abort the job and the build retries with salt+1 (salt re-roll,
   reference overflow diversion ``Generator.java:465-469`` re-expressed);
   oversized buckets are handled by the rule table growing on demand.

Descriptor layout (self-describing, version byte; reference header:
``Generator.java:332-360`` / ``RecSplitEvaluator.java:29-54``):

    magic 'RSMP' | ver u8 | leaf u8 | bucket_log2 u8 | key_mode u8 | n u64 |
    salt i64 | avg_bucket u32 | mean_size u32 | alpha f64
    | len u32 + splitRice(zigzag(bucket sizes - mean_size))
    | len u32 + splitRice(zigzag(byte lens - floor(alpha*size))) | streams
"""

from __future__ import annotations

import struct
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from .codecs import rice_split_decode, rice_split_encode, unzigzag, zigzag
from .kernel import build_buckets
from .settings import RULE_GEN, Settings, get_settings
from .store import fs_for, has_data, pin_manifest

_MAGIC = b"RSMP"
# v2: the former pad byte now carries key_mode (0=string, 1=long). Bumped so
# a v1 reader fails loudly instead of silently hashing long keys as strings.
# v3: the two Elias-Fano prefix-sum lists are replaced by signed-fold
# split-Rice deltas (sizes vs the mean; byte lengths vs an alpha*size linear
# predictor) — reference analogue of the Elias-Delta+fold header codes
# (BitBuffer.java:245-276); ~0.04 bits/key smaller at 16M keys.
#: v4 (round 3): appends a rule-generation byte after the fixed header —
#: the DP split rule is part of the wire format, and v4 headers pin which
#: generation encoded the streams. v3 (rounds 1-2) is still read: it
#: implies rule generation 0 (the uniform time weight those rounds used).
_VERSION = 4
_HDR = struct.Struct("<4sBBBBQqIId")  # ..., mean_size u32, alpha f64


def _bucket_of(sigs: np.ndarray, bucket_log2: int) -> np.ndarray:
    """Bucket id = top bits of the signature — MUST match the Spark-side
    ``shiftrightunsigned(sig, 64 - bucket_log2)`` (Java >>> semantics)."""
    if bucket_log2 == 0:
        return np.zeros(len(sigs), dtype=np.int64)
    shift = 64 - bucket_log2
    return (sigs >> shift) & np.int64((1 << bucket_log2) - 1)


def key_mode_for(df, key_col: str) -> int:
    """1 (native long hashing) for integral key columns, else 0 (string)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[key_col].dataType
    return 1 if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)) else 0


def key_sig_expr(key_col: str, salt: int, key_mode: int):
    """The canonical signature Column: must match between build and eval."""
    from pyspark.sql import functions as F

    col = F.col(key_col)
    cast = col.cast("long") if key_mode == 1 else col.cast("string")
    return F.xxhash64(cast, F.lit(salt))


def gather_sig_array(df, key_col: str, salt: int, key_mode: int) -> np.ndarray:
    """Driver-side gather of the signature column as ONE contiguous int64
    numpy array via the Arrow path (``DataFrame.toArrow``).

    This is the supported gather for the driver-global constructions
    (standalone BDZ, XorFilter): 8 bytes/key on the wire and in driver
    memory — a 10^8-key gather is ~800 MB of Arrow buffers, vs tens of GB
    of Row objects through ``collect()`` (the round-2 implementation).
    Beyond ~10^8 keys use the blocked builders, which never gather keys.
    """
    tbl = df.select(key_sig_expr(key_col, salt, key_mode).alias("sig")).toArrow()
    arr = tbl.column("sig").combine_chunks().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(arr, dtype=np.int64)


def bucket_log2_for(n: int, avg_bucket_size: int) -> int:
    """log2 of the (power-of-2) bucket count for n keys (reference rule:
    ``Settings.getBucketCount``, ``Settings.java:287-289``, rounded to the
    fast path's power-of-2 count, ``hem/recsplit/Builder.java:48-58``)."""
    import math

    target = max(1, round(n / avg_bucket_size))
    return max(0, math.ceil(math.log2(target)))


def build_descriptor_from_sigs(
    sigs: np.ndarray,
    leaf_size: int,
    avg_bucket_size: int,
    settings: Settings | None = None,
    salt: int = 0,
) -> MPHFDescriptor:
    """Single-process MPHF build over precomputed int64 signatures.

    This is the per-block kernel of the blocked 10^12-key path (reference
    analogue: the per-block single-threaded ``hem/recsplit/Builder.generate``,
    ``Builder.java:25-31``) and is also handy for no-Spark unit tests.
    Signatures must be distinct (raises DuplicateSignatureError otherwise).
    """
    sigs = np.ascontiguousarray(sigs, dtype=np.int64)
    n = len(sigs)
    if settings is None:
        settings = get_settings(leaf_size)
    if n == 0:
        return MPHFDescriptor(
            leaf_size, avg_bucket_size, salt, 0, 0,
            np.zeros(1, np.int64), np.zeros(1, np.int64), b"",
            rule_gen=settings.rule_gen,
        )
    blog2 = bucket_log2_for(n, avg_bucket_size)
    bc = 1 << blog2
    bids = _bucket_of(sigs, blog2)
    order = np.argsort(bids, kind="stable")
    uniq, n_keys, _bits, byte_lens_u, blob = build_buckets(
        bids[order], sigs[order], settings
    )
    sizes = np.zeros(bc, dtype=np.int64)
    sizes[uniq] = n_keys
    byte_lens = np.zeros(bc, dtype=np.int64)
    byte_lens[uniq] = byte_lens_u
    offsets = np.zeros(bc + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    byte_starts = np.zeros(bc + 1, dtype=np.int64)
    np.cumsum(byte_lens, out=byte_starts[1:])
    return MPHFDescriptor(
        leaf_size, avg_bucket_size, salt, n, blog2, offsets, byte_starts, blob,
        rule_gen=settings.rule_gen,
    )


@dataclass
class MPHFDescriptor:
    """Serialized minimal-perfect-hash descriptor + vectorized evaluator."""

    leaf_size: int
    avg_bucket_size: int
    salt: int
    n: int
    bucket_log2: int
    offsets: np.ndarray  # (bc+1,) int64 cumulative key counts
    byte_starts: np.ndarray  # (bc+1,) int64 cumulative stream byte offsets
    stream: bytes
    #: 0 = keys hashed as strings (universal), 1 = native long keys (no
    #: per-row string allocation JVM-side; ~30% less GC pressure at build)
    key_mode: int = 0
    #: split-rule generation the streams were encoded under (settings.py
    #: RULE_GEN): evaluate re-derives the rule table, so this IS part of
    #: the format — a v3 descriptor decodes with generation 0. The default
    #: tracks RULE_GEN so a future generation bump cannot leave Spark-built
    #: descriptors stamped with a stale literal (review finding)
    rule_gen: int = RULE_GEN

    # -- serialization ------------------------------------------------------
    def to_bytes(self) -> bytes:
        sizes = np.diff(self.offsets)
        blens = np.diff(self.byte_starts)
        mean_size = int(round(sizes.mean())) if len(sizes) else 0
        # alpha = global stream bytes per key: predicts each bucket's byte
        # length from its (already decoded) size; residuals are tiny folded
        # deltas. Stored as f64 so floor(alpha*size) replays identically.
        alpha = len(self.stream) / self.n if self.n else 0.0
        enc_sizes = rice_split_encode(zigzag(sizes - mean_size))
        pred = np.floor(alpha * sizes).astype(np.int64)
        enc_blens = rice_split_encode(zigzag(blens - pred))
        head = _HDR.pack(
            _MAGIC,
            _VERSION,
            self.leaf_size,
            self.bucket_log2,
            self.key_mode,
            self.n,
            self.salt,
            self.avg_bucket_size,
            mean_size,
            alpha,
        )
        return (
            head
            + struct.pack("<B", self.rule_gen)
            + struct.pack("<I", len(enc_sizes))
            + enc_sizes
            + struct.pack("<I", len(enc_blens))
            + enc_blens
            + self.stream
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "MPHFDescriptor":
        magic, ver, leaf, blog2, key_mode, n, salt, avg, mean_size, alpha = (
            _HDR.unpack_from(data, 0)
        )
        if magic != _MAGIC or ver not in (3, _VERSION):
            raise ValueError("bad descriptor header")
        if key_mode not in (0, 1):
            raise ValueError(f"unknown key_mode {key_mode}")
        off = _HDR.size
        if ver == 3:
            # rounds 1-2: uniform time weight for every leaf size. (Known
            # hole: leaf>=10 descriptors serialized in the brief dev window
            # where the per-leaf rule existed but the header was still v3
            # are byte-indistinguishable from gen-0 and unsupported; none
            # were persisted outside throwaway test dirs.)
            rule_gen = 0
        else:
            (rule_gen,) = struct.unpack_from("<B", data, off)
            off += 1
        if rule_gen not in (0, 1, 2, 3):
            raise ValueError(f"unknown rule generation {rule_gen}")
        (l1,) = struct.unpack_from("<I", data, off)
        off += 4
        sizes = unzigzag(rice_split_decode(data[off : off + l1])) + mean_size
        off += l1
        (l2,) = struct.unpack_from("<I", data, off)
        off += 4
        pred = np.floor(alpha * sizes).astype(np.int64)
        blens = unzigzag(rice_split_decode(data[off : off + l2])) + pred
        off += l2
        bc = len(sizes)
        offsets = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        byte_starts = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(blens, out=byte_starts[1:])
        return cls(
            leaf, avg, salt, n, blog2, offsets, byte_starts, data[off:],
            key_mode, rule_gen,
        )

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            f.write(self.to_bytes())

    @classmethod
    def load(cls, path: str) -> "MPHFDescriptor":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())

    # -- stats --------------------------------------------------------------
    @property
    def total_bits(self) -> int:
        return 8 * len(self.to_bytes())

    @property
    def bits_per_key(self) -> float:
        return self.total_bits / max(1, self.n)

    @property
    def settings(self) -> Settings:
        return get_settings(self.leaf_size, self.rule_gen)

    # -- evaluation ----------------------------------------------------------
    def _evaluator(self):
        """Lazy per-process VectorEvaluator (decoded trees cached)."""
        ve = getattr(self, "_ve", None)
        if ve is None:
            from .evaluate import VectorEvaluator

            ve = VectorEvaluator(
                self.settings,
                self.bucket_log2,
                self.offsets,
                self.byte_starts,
                self.stream,
            )
            object.__setattr__(self, "_ve", ve)
        return ve

    def _broadcast_evaluator(self, spark):
        """Broadcast of the decoded evaluator, memoized per Spark app.

        ``evaluate``/``register_sql`` used to broadcast afresh on every
        call: the decoded codes table (the dominant payload, ~2.3
        bytes/key) was re-pickled driver-side and re-unpickled by every
        Python worker each time. One descriptor evaluated repeatedly —
        the steady-state serving pattern — now ships it once; PySpark's
        worker-side broadcast registry then caches the unpickled value
        across tasks for reused workers. Keyed by applicationId so a
        stopped/restarted session transparently re-broadcasts."""
        sc = spark.sparkContext
        app = sc.applicationId
        cached = getattr(self, "_ve_bcast", None)
        if cached is not None and cached[0] == app:
            return cached[1]
        b = sc.broadcast(self._evaluator())
        object.__setattr__(self, "_ve_bcast", (app, b))
        return b

    def evaluate_array(self, sigs: np.ndarray) -> np.ndarray:
        """MPHF indices for int64 signatures (vectorized wavefront walk,
        see ``evaluate.VectorEvaluator``).

        Keys must have been hashed with this descriptor's salt. Results for
        non-member keys are unspecified (standard MPHF contract,
        ``simple/recsplit.md:51-54``).
        """
        sigs = np.ascontiguousarray(sigs, dtype=np.int64)
        if self.n == 0 or len(sigs) == 0:
            return np.zeros(len(sigs), dtype=np.int64)
        return self._evaluator().evaluate(sigs)

    def evaluate(
        self,
        df,
        key_col: str,
        out_col: str = "mphf_index",
        coalesce: int | str | None = None,
    ):
        """Append the MPHF index column to a DataFrame.

        JVM-side ``xxhash64`` recomputes the signature; a scalar Arrow UDF
        does the bucket-grouped tree walk (reference:
        ``RecSplitEvaluator.evaluate``, broadcast-join pattern of SURVEY
        §3.2). The Rice streams are decoded ONCE on the driver and the
        decoded evaluator (flat trial-index array, ~2.3 bytes/key) is what
        gets broadcast — N executors re-decoding the same descriptor was
        measured DRAM-latency-bound once the stream outgrew L2. Beyond
        ~10^8 keys use BlockedMPHF (per-block streams stay cache-sized).

        ``arrow_udf`` (not ``pandas_udf``): the walk reads/writes plain
        int64 arrays, so the pandas Series construction on both sides of
        the old plumbing was pure tax (round-2 control experiment; in
        degraded-bandwidth windows it measured 2x end-to-end). The index
        crosses back as int32 when n fits (75% of the round-trip payload
        is the outbound sigs; the return leg halves) and is cast to long
        JVM-side, so the output schema is unchanged.

        ``coalesce``: partition-count discipline for the Arrow stage. The
        walk itself is no longer the limiter (~140 ns/key on one core at
        leaf 8 / avg bucket 128, ``evaluate.VectorEvaluator``);
        the residual end-to-end cost is a fixed cost per Python task,
        so many small partitions lose to few large ones (round-3
        controls: 16M keys at 48 partitions beat 128 by 1.6x on 32
        cores). Most of that cost was not Arrow transport but PySpark's
        per-task ``importlib.invalidate_caches()`` re-reading every zip
        on the worker's path, 0.14-0.42 s per task on 4 cores, now under
        1 ms (``session.install_worker_zip_cache``); the ~1.5 tasks/core
        default predates that fix and stays until it is re-measured.
        ``'auto'`` coalesces to ~1.5 tasks per core
        (``max(2, 3 * defaultParallelism // 2)``), an int coalesces to
        that count, ``None`` (default) leaves partitioning alone.
        ``coalesce`` is a NARROW dependency — no shuffle is introduced —
        and it never increases the partition count, so already-coarse
        inputs pass through unchanged.
        """
        from pyspark.sql import functions as F

        if self.n == 0:  # empty key set: any result is unspecified
            return df.withColumn(out_col, F.lit(0).cast("long"))
        spark = df.sparkSession
        if coalesce == "auto":
            coalesce = max(2, (3 * spark.sparkContext.defaultParallelism) // 2)
        if coalesce is not None:
            df = df.coalesce(int(coalesce))
        walk = _walk_udf(self._broadcast_evaluator(spark), self.n <= (1 << 31))
        return df.withColumn(
            out_col,
            walk(key_sig_expr(key_col, self.salt, self.key_mode)).cast("long"),
        )

    def register_sql(self, spark, name: str = "mphf_eval") -> None:
        """Expose evaluation as a Spark SQL scalar function ``<name>(key)``.

        Two-layer registration keeps the plan shape identical to
        ``evaluate``: the raw key is hashed JVM-side inside a SQL UDF
        wrapper (``xxhash64(cast(key), salt)`` — no Python touches raw
        keys), which forwards the signature to a registered Arrow UDF
        over the broadcast decoded evaluator. Like ``evaluate``, the index
        crosses back from Python as int32 when n fits 2^31 (the return
        leg halves) and the SQL wrapper casts it to BIGINT, so the
        function's result type is stable either way. After this,
        ``SELECT <name>(doc_id) FROM t`` works anywhere SQL does."""
        walk = _walk_udf(self._broadcast_evaluator(spark), self.n <= (1 << 31))
        spark.udf.register(f"_{name}_walk", walk)
        cast = "BIGINT" if self.key_mode == 1 else "STRING"
        arg = "CAST(k AS BIGINT)" if self.key_mode == 1 else "CAST(k AS STRING)"
        # xxhash64 hashes the salt as an input COLUMN, so its SQL type is
        # part of the signature: F.lit(int) is INT when it fits 32 bits —
        # the SQL literal must match or every hash differs
        salt_lit = (
            str(self.salt)
            if -(2**31) <= self.salt < 2**31
            else f"{self.salt}L"
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(k {cast})"
            f" RETURNS BIGINT RETURN "
            f"CAST(_{name}_walk(xxhash64({arg}, {salt_lit})) AS BIGINT)"
        )


def _walk_udf(bcast, narrow: bool):
    """Arrow UDF mapping int64 signatures to MPHF indices through the
    broadcast decoded evaluator. ``narrow`` (n <= 2^31) returns int32,
    halving the return leg; callers cast to long JVM-side."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import IntegerType, LongType

    if narrow:
        np_t, sql_t, arrow_t = np.int32, IntegerType(), pa.int32()
    else:
        np_t, sql_t, arrow_t = np.int64, LongType(), pa.int64()

    @arrow_udf(sql_t)
    def _walk(sig: pa.Array) -> pa.Array:
        sigs = np.ascontiguousarray(sig.to_numpy(zero_copy_only=False), dtype=np.int64)
        out = bcast.value.evaluate(sigs).astype(np_t, copy=False)
        return pa.array(out, type=arrow_t)

    return _walk


_BLOCK_SCHEMA = (
    "part_first_bucket long, min_bucket long, max_bucket long, "
    "n_keys_total long, build_ns long, bucket_ids array<long>, "
    "n_keys array<long>, byte_lens array<long>, blob binary"
)


def _space_priority_gen(space_priority: bool | str) -> int:
    """Map the builder's ``space_priority`` flag to a rule generation:
    False -> the default generation, True -> 2, "max" -> 3. Shared by
    RecSplitBuilder and BlockedMPHFBuilder so the flag means the same
    thing everywhere."""
    if space_priority is False:
        return RULE_GEN
    if space_priority is True:
        return 2
    if space_priority == "max":
        return 3
    raise ValueError(
        f"space_priority must be False, True, or 'max', got {space_priority!r}"
    )


def _make_kernel(leaf_size: int, avg_bucket_size: int, rule_gen: int = RULE_GEN):
    """Partition kernel closure. The Settings rule table is derived ONCE on
    the driver and shipped inside the closure (plain lists pickle fast);
    workers skip the DP entirely unless an oversized bucket forces growth."""
    settings = get_settings(leaf_size, rule_gen)
    settings.ensure(4 * avg_bucket_size + 256)

    def _kernel(batches):
        t0 = time.time_ns()
        chunks = list(batches)
        if not chunks:
            return
        bids = np.concatenate([c["bucket"].to_numpy() for c in chunks])
        sigs = np.concatenate([c["sig"].to_numpy() for c in chunks])
        order = np.argsort(bids, kind="stable")
        bids, sigs = bids[order], sigs[order]
        uniq, n_keys, _bits, byte_lens, blob = build_buckets(bids, sigs, settings)
        yield pd.DataFrame(
            {
                "part_first_bucket": [int(uniq[0])],
                "min_bucket": [int(uniq[0])],
                "max_bucket": [int(uniq[-1])],
                "n_keys_total": [int(n_keys.sum())],
                "build_ns": [time.time_ns() - t0],
                "bucket_ids": [uniq.tolist()],
                "n_keys": [n_keys.tolist()],
                "byte_lens": [byte_lens.tolist()],
                "blob": [blob],
            }
        )

    return _kernel


def _kernel_blocks(keys, salt: int, blog2: int, nparts: int, kernel, committed=None):
    """The kernel frame of every RecSplit build: ``kernel`` over the
    8-byte signatures of ``keys.__key``, one ``_BLOCK_SCHEMA`` row per
    partition.

    The shuffle HASH-partitions on the bucket id: ``_finalize`` scatters
    per bucket, so the only invariant is whole-bucket colocation, and
    hash partitioning needs no boundary-sampling pass (a range
    partitioner's full extra scan computing xxhash64 over the input).
    Bucket ids are top bits of xxhash64, so with bc >> nparts the hash
    spreads partitions evenly. The shuffle carries ONLY the sig; the
    bucket column is recomputed from it after the exchange.

    ``committed`` (checkpointed block rows) drops the keys of every bucket
    those rows list, with a broadcast left-anti join against
    ``explode(bucket_ids)`` before the shuffle. Committed rows hold
    disjoint bucket ids, so the exploded list needs no ``distinct``."""
    from pyspark.sql import functions as F

    sig_df = keys.select(F.xxhash64(F.col("__key"), F.lit(salt)).alias("sig"))
    if blog2 == 0:
        bucket_expr = F.lit(0).cast("long")
    else:
        bucket_expr = F.shiftrightunsigned(F.col("sig"), 64 - blog2)
    if committed is not None:
        done = committed.select(F.explode("bucket_ids").alias("bucket"))
        sig_df = sig_df.join(
            F.broadcast(done), bucket_expr == done["bucket"], "left_anti"
        )
    parted = sig_df.repartition(nparts, bucket_expr).withColumn("bucket", bucket_expr)
    return parted.mapInPandas(kernel, schema=_BLOCK_SCHEMA)


class RecSplitBuilder:
    """Distributed MPHF construction (reference: ``RecSplitBuilder``).

    Parameters mirror the reference: ``leaf_size`` (1..20 practical),
    ``avg_bucket_size`` (4..4096). ``partitions`` sets the kernel task count
    (default: one task per core, at most one per ~32k keys and one per
    bucket; see ``_build_once``). ``checkpoint_dir`` persists the
    per-partition block rows (each listing its exact ``bucket_ids``) as
    parquet with lineage; a re-run rebuilds only the buckets no committed
    row lists. Every block commits in ONE Spark job, so this saves a
    committed build's kernel work (a re-run with part files lost or
    removed), not a killed job's: kill-tolerant builds are
    ``BlockedMPHFBuilder(checkpoint_waves=R)``.
    """

    def __init__(
        self,
        leaf_size: int = 8,
        avg_bucket_size: int = 128,
        salt: int = 0,
        partitions: int | None = None,
        checkpoint_dir: str | None = None,
        max_salt_retries: int = 4,
        space_priority: bool | str = False,
    ) -> None:
        if not (1 <= leaf_size <= 20):
            raise ValueError("leaf_size must be in [1, 20]")
        if not (4 <= avg_bucket_size <= 4096):
            raise ValueError("avg_bucket_size must be in [4, 4096]")
        self.leaf_size = leaf_size
        self.avg_bucket_size = avg_bucket_size
        self.salt = salt
        self.partitions = partitions
        self.checkpoint_dir = checkpoint_dir
        self.max_salt_retries = max_salt_retries
        # space_priority=True = rule generation 2 (SPACE_TIME_WEIGHT): at
        # leaf 12/256, 0.049 tree-bits/key smaller than the default rule
        # for 4.8x the kernel work. space_priority="max" = generation 3
        # (GEN3_TIME_WEIGHT + raised trial cap): the reference's extreme-
        # space regime — 1.5772 tree-bits/key at leaf 14/512 for ~27x the
        # gen-2 work. Both opt-in because build time is the usual
        # constraint; descriptors record the generation, so all kinds
        # evaluate interchangeably
        self.rule_gen = _space_priority_gen(space_priority)

    # -- public -------------------------------------------------------------
    def build(self, df, key_col: str, n: int | None = None) -> MPHFDescriptor:
        """Construct the MPHF over the keys of ``df[key_col]``.

        Keys must be distinct (duplicates fail the build after salt
        retries, like the reference's checkDuplicateKey). ``n`` skips the
        count job when the caller already knows the key count — at scale
        that saves one full scan; only the bucket count depends on it
        (approximation is tolerated; minimality is enforced from the
        actual kernel outputs at finalize).
        """
        from pyspark.sql import functions as F

        key_mode = key_mode_for(df, key_col)
        cast_t = "long" if key_mode == 1 else "string"
        keys = df.select(F.col(key_col).cast(cast_t).alias("__key"))
        if n is None:
            n = keys.count()
        if n == 0:
            return MPHFDescriptor(
                self.leaf_size, self.avg_bucket_size, self.salt, 0, 0,
                np.zeros(1, np.int64), np.zeros(1, np.int64), b"", key_mode,
                rule_gen=self.rule_gen,
            )
        salt = self.salt
        last_err: Exception | None = None
        for _attempt in range(self.max_salt_retries):
            try:
                return self._build_once(keys, n, salt, key_mode)
            except Exception as e:  # noqa: BLE001 — executor errors arrive as strings
                msg = str(e)
                if "duplicate 64-bit signature" in msg or "search exceeded" in msg:
                    last_err = e
                    salt += 1  # salt re-roll (north rule; Generator.java:465-469)
                    continue
                raise
        raise RuntimeError(
            f"MPHF build failed after {self.max_salt_retries} salt re-rolls "
            f"(duplicate keys in input?): {last_err}"
        )

    # -- internals ------------------------------------------------------------
    def _build_once(self, keys, n: int, salt: int, key_mode: int) -> MPHFDescriptor:
        spark = keys.sparkSession
        blog2 = bucket_log2_for(n, self.avg_bucket_size)
        bc = 1 << blog2
        # one kernel task per core. Each Python task used to pay 0.14-0.42 s
        # of CPU before the UDF ran: PySpark's per-task
        # importlib.invalidate_caches() re-parsed every zip on the worker's
        # path, until session.install_worker_zip_cache. Build wall on 4
        # cores at 4 / 8 / 16 kernel tasks, range of three medians of 3,
        # without -> with that fix:
        #   2^18 keys 1.15-1.36 / 1.29-1.61 / 1.63-2.29 s
        #          -> 0.66-1.22 / 0.85-1.07 / 0.82-1.24 s
        #   2^21 keys 3.23-4.43 / 3.09-4.71 / 3.96-5.93 s
        #          -> 2.98-4.38 / 3.32-4.82 / 3.42-3.59 s (the third
        #             16-task run read 11.0 s; re-timed, 4.65-4.86 s)
        # so extra waves now cost less than the host's run-to-run spread;
        # the one-wave default stays until a measured change moves it.
        # Floored at ~32k keys per task: below that the per-task fixed cost
        # IS the build (457k keys at 64 partitions: 1.9 s vs 1.1 s at 8,
        # measured before the fix).
        nparts = self.partitions or min(
            spark.sparkContext.defaultParallelism, max(1, n // 32768)
        )
        nparts = min(nparts, bc)

        kernel = _make_kernel(self.leaf_size, self.avg_bucket_size, self.rule_gen)
        if self.checkpoint_dir:
            rows = self._run_with_checkpoint(spark, keys, n, salt, blog2, nparts, kernel)
        else:
            rows = _kernel_blocks(keys, salt, blog2, nparts, kernel).collect()
        return self._finalize(rows, n, salt, blog2, key_mode)

    def _pin_manifest(self, spark, blog2: int) -> None:
        """Pin (leaf_size, avg_bucket_size, rule_gen, blog2) at first commit
        under the checkpoint path (``<dir>/_manifest``: the underscore
        keeps Hadoop/Spark listings from treating it as data); raise on
        resume mismatch.

        The committed blocks are Rice streams encoded under a specific rule
        table: resuming with a different ``leaf_size`` (same bucket
        geometry), or resuming a checkpoint whose blobs were encoded under
        an older rule generation, would merge incompatible blobs with newly
        built ones — key-count and stream-length checks still pass, so the
        descriptor silently misdecodes (non-bijective). ``blog2``
        additionally pins the bucket geometry, so a changed input size or
        ``avg_bucket_size`` fails loudly instead of scattering blobs at the
        wrong offsets. A path with committed ``salt=*`` blocks but no
        manifest is refused (protocol in ``store.py``)."""
        want = (self.leaf_size, self.avg_bucket_size, self.rule_gen, blog2)
        pin_manifest(
            spark,
            f"{self.checkpoint_dir}/_manifest",
            "leaf_size int, avg_bucket_size int, rule_gen int, blog2 int",
            [want],
            committed=lambda: self._has_committed_blocks(spark),
            refuse=(
                f"checkpoint at {self.checkpoint_dir} has committed "
                "blocks but no readable manifest (pre-manifest "
                "checkpoint or corrupt manifest); re-run against a "
                "fresh path, or restore the manifest recording the "
                "original leaf_size/avg_bucket_size/rule_gen/blog2"
            ),
            mismatch=lambda have, _want: (
                "MPHF checkpoint manifest mismatch: committed build used "
                f"(leaf_size, avg_bucket_size, rule_gen, blog2)={have[0]}, "
                f"resume requested {want}; resume with the original "
                "settings or use a fresh path"
            ),
        )

    def _has_committed_blocks(self, spark) -> bool:
        """True if any ``salt=*`` block dir under the checkpoint path is
        non-empty (Hadoop FS listing, so it works on any supported
        filesystem). Any entry counts, even a bare ``_SUCCESS``: the
        refusal errs toward "committed"."""
        fs, root, _ = fs_for(spark, self.checkpoint_dir)
        return bool(fs.exists(root)) and any(
            st.isDirectory()
            and st.getPath().getName().startswith("salt=")
            and len(fs.listStatus(st.getPath())) > 0
            for st in fs.listStatus(root)
        )

    def _run_with_checkpoint(self, spark, keys, n, salt, blog2, nparts, kernel):
        """Resume-aware execution: committed blocks are read from the
        checkpoint parquet; only the keys of buckets that no committed row
        lists are rebuilt, through the plain build's kernel frame
        (reference analogue: the restartable HEM block loop,
        ``HemGenerator.java:48-70``). Membership comes from each row's
        exact ``bucket_ids``, so blocks of any partitioning resume,
        including range-partitioned ones written by earlier versions.
        When the committed rows already hold all ``n`` keys no kernel job
        runs (``_finalize`` checks the exact count). A partial resume
        scales the task count to the share of keys left, so each task
        gets about the keys it had in the full build: every task costs a
        Python worker round trip and a part file: resuming an eighth of
        2^20 keys built at partitions=1024 took 54 s in 1024 tasks and
        17 s in the scaled 128, against 10 s for a 4-task plain build of
        all 2^20 (4 cores)."""
        from pyspark.sql import functions as F

        self._pin_manifest(spark, blog2)
        path = f"{self.checkpoint_dir}/salt={salt}"
        committed = None
        done = 0
        if has_data(spark, path):
            committed = spark.read.schema(_BLOCK_SCHEMA).parquet(path)
            done = committed.agg(F.sum("n_keys_total")).first()[0] or 0
        if done != n:
            nparts = max(1, -(-nparts * max(0, n - done) // n))
            _kernel_blocks(keys, salt, blog2, nparts, kernel, committed).write.mode(
                "append"
            ).parquet(path)
        rows = spark.read.schema(_BLOCK_SCHEMA).parquet(path).collect()
        # de-duplicate blocks if a retry double-wrote (first wins)
        seen: set[int] = set()
        uniq_rows = []
        for r in sorted(rows, key=lambda r: r["min_bucket"]):
            if r["min_bucket"] not in seen:
                seen.add(r["min_bucket"])
                uniq_rows.append(r)
        return uniq_rows

    def _finalize(
        self, rows, n: int, salt: int, blog2: int, key_mode: int = 0
    ) -> MPHFDescriptor:
        """Associative merge: scatter per-bucket (n_keys, byte_len) into
        dense arrays, recompute prefix sums, and scatter each row's blob
        into the global stream AT ITS BUCKETS' OFFSETS (M1-M3 of SURVEY
        §2.4 — order-independent by construction).

        The scatter (not a sorted concatenation) is what makes hash
        partitioning work: one row's blob holds the row's NON-ADJACENT
        buckets laid out back-to-back, so a min_bucket-sorted blob join
        would interleave other rows' buckets at the wrong offsets while
        both the key-count and stream-length checks still pass (silently
        non-bijective). Each row is copied as runs of consecutive bucket
        ids — global offsets within such a run are contiguous by
        construction — so a range-partitioned row (an earlier version's
        checkpoint) stays one memcpy."""
        bc = 1 << blog2
        sizes = np.zeros(bc, dtype=np.int64)
        byte_lens = np.zeros(bc, dtype=np.int64)
        total_keys = 0
        for r in rows:
            bids = np.asarray(r["bucket_ids"], dtype=np.int64)
            sizes[bids] = np.asarray(r["n_keys"], dtype=np.int64)
            byte_lens[bids] = np.asarray(r["byte_lens"], dtype=np.int64)
            total_keys += int(r["n_keys_total"])
        if total_keys != n:
            raise RuntimeError(
                f"bucket merge lost keys: {total_keys} != {n} (corrupt checkpoint?)"
            )
        offsets = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        byte_starts = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(byte_lens, out=byte_starts[1:])
        buf = bytearray(int(byte_starts[-1]))
        written = 0
        for r in rows:
            bids = np.asarray(r["bucket_ids"], dtype=np.int64)
            blens = np.asarray(r["byte_lens"], dtype=np.int64)
            local = np.zeros(len(bids) + 1, dtype=np.int64)
            np.cumsum(blens, out=local[1:])
            blob = bytes(r["blob"])
            breaks = np.flatnonzero(np.diff(bids) != 1) + 1
            run_lo = np.concatenate([[0], breaks])
            run_hi = np.concatenate([breaks, [len(bids)]])
            for s_i, e_i in zip(run_lo, run_hi):
                g0 = int(byte_starts[bids[s_i]])
                lo, hi = int(local[s_i]), int(local[e_i])
                buf[g0 : g0 + (hi - lo)] = blob[lo:hi]
                written += hi - lo
        stream = bytes(buf)
        if written != len(stream):
            raise RuntimeError("stream length mismatch during merge")
        return MPHFDescriptor(
            self.leaf_size,
            self.avg_bucket_size,
            salt,
            n,
            blog2,
            offsets,
            byte_starts,
            stream,
            key_mode,
            rule_gen=self.rule_gen,
        )
