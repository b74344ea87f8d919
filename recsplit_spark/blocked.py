"""Blocked MPHF — the 10^12-key / 100 TB-scale path.

Re-architecture of the reference's huge-scale HEM design
(``hem/HemGenerator.java:23-70``: high bits of the signature select a
*block*; each block gets its own self-contained RecSplit descriptor; the
global index is the block's base offset + the local index; blocks are
appended to a restartable file as ``(highBits, len, bytes)`` records,
``HemGenerator.java:29-33,109-125``).

Spark-first shape — the descriptor NEVER centralizes:

* **Build**: JVM-side ``xxhash64`` signature + top-bits block id →
  ``repartitionByRange`` on block id → one Arrow-vectorized ``mapInPandas``
  kernel builds every block in its partition with the single-process
  RecSplit builder (``build_descriptor_from_sigs``) → rows
  ``(block, n_keys, nbytes, part_id, build_ns, blob)`` written straight to
  **partitioned parquet**. That parquet IS the descriptor *and* the
  per-block checkpoint table (per-partition lineage + metrics rows).
* **Resume**: a re-run left-anti-joins the key stream against the already
  checkpointed block ids and appends only missing blocks — the reference's
  restartable block loop re-expressed.
* **Driver state**: only ``(block, n_keys)`` is ever collected (a few MB at
  10^12 keys with ~1M-key blocks); it becomes the base-offset prefix-sum
  array, stored as a one-row meta parquet.
* **Evaluate**: cogrouped ``applyInPandas`` of (keys grouped by block) ×
  (blocks parquet grouped by block): each task parses the blobs of the
  blocks it owns and walks all their keys vectorized. One shuffle on block
  id; blob bytes move once per block per job, never per key.

**128-bit base signatures + per-block re-rolls (the 10^12 enabler).** At
n = 10^12 a single 64-bit signature is BIRTHDAY-DEAD: ~n^2/2^65 ≈ 27,000
colliding pairs are expected, so a global salt re-roll can never succeed.
The build therefore derives TWO independent JVM-side signatures
(``xxhash64(key, salt)`` and ``xxhash64(key, salt xor SALT2_MIX)``); block
assignment and attempt-0 working signatures use only sig0 — identical to
the single-signature scheme — and when a block hits a duplicate working
signature (or a trial blowup) it re-rolls LOCALLY: attempt a > 0 mixes
sig2 into the working signature, separating any pair that collided on
sig0 (joint collision probability 2^-128 per pair). The winning attempt is
recorded in the block's parquet row and replayed at evaluation. The global
salt re-roll remains as the outer fallback for genuinely duplicate keys
(where no attempt can ever help — both signatures are equal).

Reference analogue: HEM re-derives per-block keys so block builds fail
independently (``hem/HemGenerator.java:48-70``); the reference's overflow
diversion (``Generator.java:465-469``) is the same local-salvage idea one
level down.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .hashing import GOLDEN, mix64_inplace
from .kernel import DuplicateSignatureError, TrialLimitError
from .mphf import (
    MPHFDescriptor,
    build_descriptor_from_sigs,
    key_mode_for,
    key_sig_expr,
)
from .settings import RULE_GEN, get_settings

#: xor-mixed into the salt for the second (independent) signature column
SALT2_MIX = 0x5DEECE66D
#: per-block working-signature re-rolls before giving up on the block
MAX_BLOCK_ATTEMPTS = 8


def parse_descriptor(blob: bytes):
    """Dispatch a per-block blob on its magic: RecSplit or BDZ."""
    if blob[:4] == b"BDZ1":
        from .bdz import BDZDescriptor

        return BDZDescriptor.from_bytes(blob)
    return MPHFDescriptor.from_bytes(blob)


def _block_descs(blocks_pdf: pd.DataFrame) -> dict:
    """``{block: (descriptor, attempt)}`` for one cogroup's block rows."""
    return {
        int(b): (parse_descriptor(bytes(blob)), int(att))
        for b, att, blob in zip(
            blocks_pdf["__block"], blocks_pdf["attempt"], blocks_pdf["blob"]
        )
    }


_BLOCK_SCHEMA = (
    "block long, n_keys long, nbytes long, part_id int, build_ns long,"
    " attempt int, blob binary"
)


def _working_sigs(
    sig0: np.ndarray, sig2: np.ndarray | None, block: int, attempt: int
) -> np.ndarray:
    """Block-local working signatures for a given re-roll attempt.

    attempt 0 == the classic ``mix64(sig0 + (block+1)*GOLDEN)`` (sig2
    unused); attempt > 0 additionally mixes the independent second
    signature, so pairs colliding on sig0 separate."""
    x = sig0.astype(np.int64, copy=True)
    # scalar multiply via a 1-element array: numpy warns on wrapping scalars
    x += (np.array([block + 1], dtype=np.int64) * GOLDEN)[0]
    if attempt:
        y = sig2.astype(np.int64, copy=True)
        y += (np.array([attempt], dtype=np.int64) * GOLDEN)[0]
        x ^= mix64_inplace(y)
    return mix64_inplace(x)


@dataclass
class BlockedMPHF:
    """Handle over a built blocked MPHF (parquet-backed descriptor)."""

    path: str
    leaf_size: int
    avg_bucket_size: int
    salt: int
    block_log2: int
    n: int
    block_offsets: np.ndarray  # (2^block_log2 + 1,) int64 global base offsets
    total_bytes: int
    key_mode: int = 0

    @property
    def bits_per_key(self) -> float:
        return 8.0 * self.total_bytes / max(1, self.n)

    @property
    def blocks_path(self) -> str:
        return f"{self.path}/blocks/salt={self.salt}"

    # -- persistence ----------------------------------------------------------
    def save_meta(self, spark) -> None:
        row = [
            (
                self.leaf_size,
                self.avg_bucket_size,
                self.salt,
                self.block_log2,
                self.n,
                self.block_offsets.tolist(),
                self.total_bytes,
                self.key_mode,
            )
        ]
        spark.createDataFrame(
            row,
            "leaf_size int, avg_bucket_size int, salt long, block_log2 int,"
            " n long, block_offsets array<long>, total_bytes long, key_mode int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{self.path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "BlockedMPHF":
        r = spark.read.parquet(f"{path}/meta").collect()[0]
        return cls(
            path,
            r["leaf_size"],
            r["avg_bucket_size"],
            r["salt"],
            r["block_log2"],
            r["n"],
            np.asarray(r["block_offsets"], dtype=np.int64),
            r["total_bytes"],
            r["key_mode"],
        )

    # -- evaluation -------------------------------------------------------------
    def _cogroup_inputs(self, df, key_col: str, carry: bool):
        """The two sides of the per-block cogroup shared by ``evaluate``
        and ``verify_bijection``: ``df`` keyed by ``__sig``, ``__sig2`` and
        ``__block`` (after df's own columns when ``carry``, else alone),
        and the block table as ``(__block, attempt, blob)`` — attempt 0
        for checkpoints written before per-block attempts existed."""
        from pyspark.sql import functions as F

        salt, blog2 = self.salt, self.block_log2
        keyed = df.select(
            *(["*"] if carry else []),
            key_sig_expr(key_col, salt, self.key_mode).alias("__sig"),
            key_sig_expr(key_col, salt ^ SALT2_MIX, self.key_mode).alias("__sig2"),
        )
        if blog2 == 0:
            keyed = keyed.withColumn("__block", F.lit(0).cast("long"))
        else:
            keyed = keyed.withColumn(
                "__block", F.shiftrightunsigned(F.col("__sig"), 64 - blog2)
            )
        blocks = df.sparkSession.read.parquet(self.blocks_path)
        if "attempt" not in blocks.columns:  # pre-attempt checkpoints
            blocks = blocks.withColumn("attempt", F.lit(0))
        return keyed, blocks.select(
            F.col("block").alias("__block"), "attempt", "blob"
        )

    def evaluate(self, df, key_col: str, out_col: str = "mphf_index"):
        """Append the global MPHF index; fully distributed (cogroup on block).

        Output columns = input columns + ``out_col``. Results for keys not in
        the build set are unspecified (standard MPHF contract).
        """
        spark = df.sparkSession
        offsets_b = spark.sparkContext.broadcast(self.block_offsets)
        keyed, blocks = self._cogroup_inputs(df, key_col, carry=True)

        out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        out_schema = ", ".join(out_fields + [f"{out_col} long"])
        in_cols = [f.name for f in df.schema.fields]

        def _eval(keys_pdf: pd.DataFrame, blocks_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(keys_pdf) == 0:
                return keys_pdf.drop(columns=["__sig", "__sig2", "__block"]).assign(
                    **{out_col: pd.Series(dtype="int64")}
                )
            offs = offsets_b.value
            out = np.empty(len(keys_pdf), dtype=np.int64)
            sig0 = keys_pdf["__sig"].to_numpy()
            sig2 = keys_pdf["__sig2"].to_numpy()
            blk = keys_pdf["__block"].to_numpy()
            descs = _block_descs(blocks_pdf)
            order = np.argsort(blk, kind="stable")
            bounds = np.flatnonzero(np.diff(blk[order])) + 1
            for rows in np.split(order, bounds):
                b = int(blk[rows[0]])
                entry = descs.get(b)
                if entry is None:  # non-member keys: unspecified result
                    out[rows] = int(offs[b])
                    continue
                desc, att = entry
                local = desc.evaluate_array(
                    _working_sigs(sig0[rows], sig2[rows], b, att)
                )
                out[rows] = local + int(offs[b])
            res = keys_pdf[in_cols].copy()
            res[out_col] = out
            return res

        return (
            keyed.groupBy("__block")
            .cogroup(blocks.groupBy("__block"))
            .applyInPandas(_eval, schema=out_schema)
        )

    def verify_bijection(self, df, key_col: str) -> dict:
        """Full-bijection check WITHOUT the distinct shuffle: one row per
        BLOCK comes back, not one per key.

        ``evaluate(keys).agg(countDistinct(idx))`` re-shuffles all n
        evaluated indices into a hash aggregate — at 10^9 keys that is a
        second ~16 GB/leg exchange whose sort/agg spill can exceed local
        disk (observed: ENOSPC on a 69 GB-free box). But every block owns
        the contiguous global range [offsets[b], offsets[b+1]), so
        bijectivity is checkable INSIDE the existing eval cogroup: each
        block kernel bincounts its local indices and asserts every count
        is exactly 1 and the key count equals the block size. The only
        exchange is the eval's own 16 B/key cogroup; the output is
        2^block_log2 rows. Raises AssertionError-free — returns
        {'ok': bool, 'n_keys', 'n_blocks', 'bad_blocks': [...]}. Keys
        outside the build set make their block fail (as they should: the
        check is "these n keys biject onto [0, n)")."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        offsets_b = spark.sparkContext.broadcast(self.block_offsets)
        keyed, blocks = self._cogroup_inputs(df, key_col, carry=False)

        def _check(keys_pdf: pd.DataFrame, blocks_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(keys_pdf) == 0 and len(blocks_pdf) == 0:
                return pd.DataFrame(
                    {"block": pd.Series(dtype="int64"),
                     "n_keys": pd.Series(dtype="int64"),
                     "ok": pd.Series(dtype="bool")}
                )
            offs = offsets_b.value
            descs = _block_descs(blocks_pdf)
            rows = []
            if len(keys_pdf):
                sig0 = keys_pdf["__sig"].to_numpy()
                sig2 = keys_pdf["__sig2"].to_numpy()
                blk = keys_pdf["__block"].to_numpy()
                order = np.argsort(blk, kind="stable")
                bounds = np.flatnonzero(np.diff(blk[order])) + 1
                for grp in np.split(order, bounds):
                    b = int(blk[grp[0]])
                    size = int(offs[b + 1] - offs[b])
                    entry = descs.pop(b, None)
                    if entry is None or len(grp) != size:
                        rows.append((b, len(grp), False))
                        continue
                    desc, att = entry
                    local = desc.evaluate_array(
                        _working_sigs(sig0[grp], sig2[grp], b, att)
                    )
                    ok = bool(
                        (local >= 0).all()
                        and (local < size).all()
                        and (np.bincount(local, minlength=size) == 1).all()
                    )
                    rows.append((b, len(grp), ok))
            for b in descs:  # blocks that saw no keys
                size = int(offs[b + 1] - offs[b])
                rows.append((int(b), 0, size == 0))
            return pd.DataFrame(rows, columns=["block", "n_keys", "ok"])

        per_block = (
            keyed.groupBy("__block")
            .cogroup(blocks.groupBy("__block"))
            .applyInPandas(_check, schema="block long, n_keys long, ok boolean")
        )
        # persist the (one-row-per-block) result so a failed verify's
        # bad_blocks listing reads the cached rows instead of re-running
        # the whole 16 B/key cogroup a second time
        per_block = per_block.persist()
        try:
            agg = per_block.agg(
                F.sum("n_keys").alias("n"),
                F.count("*").alias("b"),
                F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("bad"),
            ).collect()[0]
            ok = int(agg["bad"] or 0) == 0 and int(agg["n"] or 0) == self.n
            out = {
                "ok": bool(ok),
                "n_keys": int(agg["n"] or 0),
                "n_blocks": int(agg["b"] or 0),
            }
            if not ok:
                out["bad_blocks"] = [
                    int(r["block"])
                    for r in per_block.filter(~F.col("ok")).limit(20).collect()
                ]
        finally:
            per_block.unpersist()
        return out


class BlockedMPHFBuilder:
    """Distributed blocked-MPHF construction (reference: ``HemGenerator``).

    ``block_log2`` fixes the block count to ``2^block_log2``; when omitted
    it is chosen so the expected block holds ``target_block_keys`` keys
    (reference sizing rule: expected block ≤ 2M keys,
    ``HemGenerator.java:36-42``).
    """

    def __init__(
        self,
        leaf_size: int = 8,
        avg_bucket_size: int = 128,
        block_log2: int | None = None,
        target_block_keys: int = 1 << 20,
        salt: int = 0,
        partitions: int | None = None,
        max_salt_retries: int = 4,
        algo: str = "recsplit",
        checkpoint_waves: int = 1,
        space_priority: bool | str = False,
    ) -> None:
        """``checkpoint_waves`` > 1 splits the build into that many
        sequential block-range jobs, each committing its parquet before the
        next starts: a kill loses at most one wave (parquet only publishes
        files at JOB commit, so a single-job build has all-or-nothing
        checkpointing). Cost: the key scan runs once per wave — use on
        long builds where input re-scan << lost work.

        ``space_priority`` selects split-rule generation 2 (True) or 3
        ("max") — recsplit only: ~0.06 / ~0.11 bits/key smaller blocks
        for ~3x / ~80x the kernel work; see settings.SPACE_TIME_WEIGHT
        and settings.GEN3_TIME_WEIGHT."""
        if algo not in ("recsplit", "bdz"):
            raise ValueError("algo must be 'recsplit' or 'bdz'")
        if checkpoint_waves < 1:
            raise ValueError("checkpoint_waves must be >= 1")
        self.checkpoint_waves = checkpoint_waves
        self.leaf_size = leaf_size
        self.avg_bucket_size = avg_bucket_size
        self.block_log2 = block_log2
        self.target_block_keys = target_block_keys
        self.salt = salt
        self.partitions = partitions
        self.max_salt_retries = max_salt_retries
        self.algo = algo
        # rule generation 2 (space-priority split rule) — per-block
        # descriptors record it, so mixed-generation block stores never
        # arise silently (eval decodes each block's own header). The rule
        # table only exists on the recsplit path; silently ignoring the
        # flag for bdz would ship same-size blocks the caller believes
        # are smaller (review finding).
        if space_priority and algo == "bdz":
            raise ValueError("space_priority applies to algo='recsplit' only")
        from .mphf import _space_priority_gen

        self.rule_gen = _space_priority_gen(space_priority)

    def build(self, df, key_col: str, path: str, n: int | None = None) -> BlockedMPHF:
        """Build (or resume) the blocked MPHF at ``path``.

        Re-running with the same path resumes: blocks already in the
        checkpoint parquet are skipped via a left-anti join.
        """
        from pyspark.sql import functions as F

        import math

        spark = df.sparkSession
        key_mode = key_mode_for(df, key_col)
        cast_t = "long" if key_mode == 1 else "string"
        keys = df.select(F.col(key_col).cast(cast_t).alias("__key"))
        if n is None:
            n = keys.count()
        blog2 = self.block_log2
        if blog2 is None:
            blog2 = max(0, math.ceil(math.log2(max(1, n / self.target_block_keys))))

        salt = self.salt
        last_err: Exception | None = None
        for _attempt in range(self.max_salt_retries):
            try:
                return self._build_once(spark, keys, n, blog2, salt, path, key_mode)
            except Exception as e:  # noqa: BLE001 — executor errors arrive as strings
                msg = str(e)
                if "duplicate 64-bit signature" in msg or "search exceeded" in msg:
                    last_err = e
                    salt += 1  # salt re-roll; stale checkpoints stay under old salt dir
                    continue
                raise
        raise RuntimeError(
            f"blocked MPHF build failed after {self.max_salt_retries} salt "
            f"re-rolls (duplicate keys in input?): {last_err}"
        )

    # -- internals ------------------------------------------------------------
    def _build_once(
        self, spark, keys, n: int, blog2: int, salt: int, path: str, key_mode: int
    ) -> BlockedMPHF:
        from pyspark.sql import functions as F

        blocks_path = f"{path}/blocks/salt={salt}"
        sig = F.xxhash64(F.col("__key"), F.lit(salt))
        sig2 = F.xxhash64(F.col("__key"), F.lit(salt ^ SALT2_MIX))
        sig_df = keys.select(sig.alias("__sig"), sig2.alias("__sig2"))
        if blog2 == 0:
            sig_df = sig_df.withColumn("__block", F.lit(0).cast("long"))
        else:
            sig_df = sig_df.withColumn(
                "__block", F.shiftrightunsigned(F.col("__sig"), 64 - blog2)
            )

        try:
            done = spark.read.parquet(blocks_path).select("block").distinct()
            has_checkpoint = done.limit(1).count() > 0
        except Exception:  # noqa: BLE001 — no checkpoint yet
            done, has_checkpoint = None, False
        if has_checkpoint:
            sig_df = sig_df.join(
                F.broadcast(done.withColumnRenamed("block", "__block")),
                "__block",
                "left_anti",
            )

        nparts = self.partitions or max(1, 2 * spark.sparkContext.defaultParallelism)
        nparts = min(nparts, 1 << blog2)
        kernel = _make_block_kernel(
            self.leaf_size, self.avg_bucket_size, salt, self.algo,
            self.rule_gen,
        )
        bc = 1 << blog2
        waves = min(self.checkpoint_waves, bc)
        step = -(-bc // waves)
        for wlo in range(0, bc, step):
            wave = sig_df
            if waves > 1:
                wave = sig_df.filter(
                    (F.col("__block") >= wlo) & (F.col("__block") < wlo + step)
                )
            wave_parts = max(1, min(nparts, step))  # <= one partition per block
            pending = wave.repartitionByRange(wave_parts, "__block").mapInPandas(
                kernel, schema=_BLOCK_SCHEMA
            )
            pending.write.mode("append").parquet(blocks_path)

        stats = spark.read.parquet(blocks_path).select("block", "n_keys", "nbytes")
        rows = stats.collect()
        bc = 1 << blog2
        sizes = np.zeros(bc, dtype=np.int64)
        total_bytes = 0
        for r in rows:
            sizes[r["block"]] = r["n_keys"]
            total_bytes += r["nbytes"]
        total = int(sizes.sum())
        if total != n:
            raise RuntimeError(
                f"blocked merge lost keys: {total} != {n} (corrupt checkpoint?)"
            )
        offsets = np.zeros(bc + 1, dtype=np.int64)
        np.cumsum(sizes, out=offsets[1:])
        mphf = BlockedMPHF(
            path,
            self.leaf_size,
            self.avg_bucket_size,
            salt,
            blog2,
            n,
            offsets,
            total_bytes,
            key_mode,
        )
        mphf.save_meta(spark)
        return mphf


def _make_block_kernel(
    leaf_size: int, avg_bucket_size: int, salt: int, algo: str,
    rule_gen: int | None = None,
):
    settings = (
        get_settings(leaf_size, rule_gen) if algo == "recsplit" else None
    )
    if settings is not None:
        settings.ensure(4 * avg_bucket_size + 256)

    def _kernel(batches):
        import time

        try:
            from pyspark import TaskContext

            tc = TaskContext.get()
            part_id = tc.partitionId() if tc else -1
        except Exception:  # noqa: BLE001
            part_id = -1
        chunks = list(batches)
        if not chunks:
            return
        blk = np.concatenate([c["__block"].to_numpy() for c in chunks])
        sig0 = np.concatenate([c["__sig"].to_numpy() for c in chunks])
        sig2 = np.concatenate([c["__sig2"].to_numpy() for c in chunks])
        order = np.argsort(blk, kind="stable")
        blk, sig0, sig2 = blk[order], sig0[order], sig2[order]
        bounds = np.flatnonzero(np.diff(blk)) + 1
        out_rows = []
        for rows in np.split(np.arange(len(blk)), bounds):
            b = int(blk[rows[0]])
            t0 = time.time_ns()
            # per-block re-roll: attempt 0 uses sig0 only; later attempts
            # mix in sig2, separating 64-bit birthday collisions LOCALLY —
            # at 10^12 keys a global re-roll can never converge (~27K
            # colliding pairs expected), a per-block one always does unless
            # the keys themselves are duplicates
            desc = None
            last: Exception | None = None
            for att in range(MAX_BLOCK_ATTEMPTS):
                inner = _working_sigs(sig0[rows], sig2[rows], b, att)
                try:
                    if algo == "bdz":
                        from .bdz import build_bdz_from_sigs

                        desc = build_bdz_from_sigs(inner, salt)
                    else:
                        desc = build_descriptor_from_sigs(
                            inner, leaf_size, avg_bucket_size, settings, salt
                        )
                    break
                except (DuplicateSignatureError, TrialLimitError, ValueError) as e:
                    last = e
                    continue
            if desc is None:
                raise RuntimeError(
                    f"block {b}: duplicate 64-bit signature persisted through "
                    f"{MAX_BLOCK_ATTEMPTS} block attempts "
                    f"(duplicate keys in input?): {last}"
                )
            blob = desc.to_bytes()
            out_rows.append(
                (b, len(rows), len(blob), part_id, time.time_ns() - t0, att, blob)
            )
        yield pd.DataFrame(
            out_rows,
            columns=[
                "block", "n_keys", "nbytes", "part_id", "build_ns", "attempt", "blob",
            ],
        )

    return _kernel
