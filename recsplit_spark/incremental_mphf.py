"""Generational MPHF: stable ``[0, n)`` ids for a GROWING key universe.

The reference's MPHFs are static — ``RecSplitBuilder.generate``
(``src/main/java/org/minperf/RecSplitBuilder.java:20-90``) consumes the
whole key set once and any later key needs a full rebuild, which also
reassigns EVERY id. On a training-data lake that contract is wrong twice
over: the corpus grows by append batches (the ingest pattern
``sketches/incremental.py`` already models), and downstream artifacts
(feature stores, shard maps, dedup bitmaps) are keyed by the assigned id,
so a rebuild invalidates all of them.

``IncrementalMPHF`` keeps the RecSplit machinery but makes the key
universe appendable with id stability:

- each ``append(df)`` builds a standalone RecSplit MPHF over JUST the new
  batch's keys (``RecSplitBuilder`` — the same single-shuffle distributed
  build) and assigns the batch the id range
  ``[offset, offset + n_batch)`` where ``offset`` is the committed total;
  earlier ids never move, and the union stays a bijection onto
  ``[0, n_total)``;
- ``evaluate(df, key, gen_col)`` is the exact zero-extra-space path for
  callers that know each row's ingest generation (in a lake they usually
  do: the batch id is a partition column / file lineage fact);
- ``route(df, key)`` handles unknown-generation keys: every generation
  carries a per-key fingerprint table (the ``MPHFFilter`` construction,
  built with the SAME dense-fragment assembly), and the route kernel
  probes generations oldest-first, accepting the first fingerprint
  match. Exactness is restored by an **exception table** built at append
  time: each new batch is probed against every earlier generation's
  filter, and the (rare, ~``2^-fp_bits``) keys that false-positive an
  earlier filter are recorded with their true generation and
  broadcast-joined ahead of the probe. For every appended key, ``route``
  therefore returns exactly the id ``evaluate`` would — tested. For
  never-appended keys it returns NULL with probability
  ``>= 1 - G * 2^-fp_bits`` (a filter, not an oracle — same caveat as
  ``MPHFFilter.might_contain``).

Space: ``~1.8 + fp_bits`` bits/key (descriptor + fingerprints). The
fingerprints are the price of ``route``; callers that only ever use the
generation-aware ``evaluate`` still pay it here because the filter is
what makes appends safe to route later (build it once, at build
parallelism, not as a retrofit scan).

Scale shape: every append is one distributed RecSplit build plus one
fingerprint-assembly pass plus one probe scan of the new batch — no scan
of the old data, ever. ``route``/``evaluate`` broadcast the decoded
evaluators + fingerprint tables exactly like ``MPHFDescriptor.evaluate``
(~``(0.3 + 1)`` bytes/key at fp_bits=8), so the generational window this
targets is up to ~10^9 appended keys between full rebuilds; the 10^12
base build remains ``BlockedMPHF``, and the periodic re-key is
``compact()`` — one rebuild of the whole universe plus an
``(old_id, new_id)`` remap table consumers re-key through.
Probe cost grows linearly in the number of generations (the JVM hashes
one signature per generation per row; the Python side early-exits rows
as they are claimed), so nightly appends with weekly compaction — G <=
~10 — is the intended operating cadence.

Commit protocol: ``store.py`` (manifest pin, per-generation payload dir
first and lineage row second, committed set defined by lineage,
single-writer ``_lock``, ``sb<id>:<uuid>`` stream replay marker).
"""

from __future__ import annotations

import time
from functools import partial

import numpy as np
import pyarrow as pa

from .filters import build_fingerprint_table
from .mphf import MPHFDescriptor, RecSplitBuilder, key_mode_for, key_sig_expr
from .settings import RULE_GEN
from .store import (
    break_lock,
    dir_exists,
    new_run_id,
    pin_manifest,
    read_lineage_rows,
    stream_high_water,
    writer_lock,
)

# Fingerprint-hash seed shared by ALL generations (stored in the manifest):
# route hashes each key's fingerprint signature ONCE however many
# generations exist. Golden-ratio odd constant as signed 64-bit (xxhash64
# literals are BIGINT).
_FP_SEED = -7046029254386353131

_CFG_SCHEMA = (
    "key_mode int, leaf_size int, avg_bucket_size int, fp_bits int,"
    " fp_seed long, rule_gen int"
)
_LIN_SCHEMA = (
    "gen int, n long, offset long, salt long, n_exceptions long,"
    " run_id string, wall_s double"
)
#: committed lineage rows, read under their schema (no inference job)
_lineage = partial(read_lineage_rows, schema=_LIN_SCHEMA)


class _Gen:
    """Driver-side handle of one committed generation (decoded once)."""

    __slots__ = ("gen", "n", "offset", "salt", "desc", "fp", "n_exc")

    def __init__(self, gen: int, n: int, offset: int, desc: MPHFDescriptor,
                 fp: np.ndarray, n_exc: int) -> None:
        self.gen = gen
        self.n = n
        self.offset = offset
        self.salt = desc.salt
        self.desc = desc
        self.fp = fp
        self.n_exc = n_exc


class IncrementalMPHF:
    """A persisted, appendable MPHF over a growing key universe (see
    module docstring). ``path`` is any Spark-readable directory URI."""

    def __init__(
        self,
        path: str,
        leaf_size: int = 8,
        avg_bucket_size: int = 128,
        fp_bits: int = 8,
        space_priority: bool = False,
    ) -> None:
        if not (1 <= fp_bits <= 8):
            raise ValueError("fp_bits must be in [1, 8]")
        self.path = path.rstrip("/")
        self.leaf_size = leaf_size
        self.avg_bucket_size = avg_bucket_size
        self.fp_bits = fp_bits
        self.space_priority = space_priority
        self.rule_gen = 2 if space_priority else RULE_GEN
        self.fp_seed = _FP_SEED
        self._key_mode: int | None = None  # pinned by manifest
        self._gens: list[_Gen] | None = None  # committed-generation cache

    # -- manifest -------------------------------------------------------------
    def _config_row(self, key_mode: int) -> tuple:
        return (
            key_mode,
            self.leaf_size,
            self.avg_bucket_size,
            self.fp_bits,
            self.fp_seed,
            self.rule_gen,
        )

    def _pin_manifest(self, spark, key_mode: int | None) -> int:
        """Verify (or, at genuine first use, write) the config manifest;
        returns the pinned key_mode. ``key_mode=None`` (lookups) adopts
        the committed one and refuses a path with nothing committed."""

        def _want(have):
            if have is None and key_mode is None:
                raise RuntimeError(
                    f"no incremental MPHF committed at {self.path} "
                    "(manifest missing); append a first batch to create it"
                )
            return [self._config_row(key_mode)]

        (pinned,) = pin_manifest(
            spark,
            f"{self.path}/manifest",
            _CFG_SCHEMA,
            _want,
            committed=lambda: dir_exists(spark, f"{self.path}/lineage"),
            refuse=(
                f"incremental MPHF at {self.path} has committed "
                "generations but no readable manifest; re-run against "
                "a fresh path or restore the manifest"
            ),
            mismatch=lambda have, want: (
                "incremental MPHF manifest mismatch: committed config "
                f"{have[0]} != requested {want[0]}; "
                "appending under a different config would break the "
                "route/evaluate contract for already-assigned ids"
            ),
        )
        self._key_mode = pinned[0]
        self.fp_seed = int(pinned[4])
        return pinned[0]

    def break_lock(self, spark) -> None:
        """Remove a stale writer lock left by a crashed append. Only safe
        when no other writer is actually running."""
        break_lock(spark, self.path)

    # -- committed state --------------------------------------------------------
    def _load_gens(self, spark) -> list[_Gen]:
        """Load + decode every committed generation (driver-side, cached
        on the handle; ``append`` invalidates). The committed set is
        DEFINED by lineage — orphaned ``gen=N`` dirs from a crashed
        append are invisible here."""
        if self._gens is not None:
            return self._gens
        self._pin_manifest(spark, None)
        gens: list[_Gen] = []
        for lr in _lineage(spark, self.path):
            g = int(lr["gen"])
            row = spark.read.parquet(f"{self.path}/gen={g}/blob").collect()[0]
            desc = MPHFDescriptor.from_bytes(bytes(row["desc"]))
            fp = np.frombuffer(bytes(row["fp"]), dtype=np.uint8).copy()
            if desc.n != int(lr["n"]) or len(fp) != desc.n:
                raise RuntimeError(
                    f"generation {g} payload inconsistent with lineage "
                    f"(desc.n={desc.n}, lineage n={int(lr['n'])}, "
                    f"fp bytes={len(fp)})"
                )
            gens.append(
                _Gen(g, desc.n, int(lr["offset"]), desc, fp,
                     int(lr["n_exceptions"]))
            )
        self._gens = gens
        return gens

    def generations(self, spark) -> list[dict]:
        """Committed generations, oldest first: [{gen, n, offset,
        n_exceptions, run_id}]."""
        return [
            {
                "gen": int(r["gen"]),
                "n": int(r["n"]),
                "offset": int(r["offset"]),
                "n_exceptions": int(r["n_exceptions"]),
                "run_id": r["run_id"],
            }
            for r in _lineage(spark, self.path)
        ]

    def total_keys(self, spark) -> int:
        rows = _lineage(spark, self.path)
        return int(rows[-1]["offset"] + rows[-1]["n"]) if rows else 0

    def should_compact(self, spark, max_exception_frac: float = 0.02) -> bool:
        """The RUNBOOK §2b compact cadence rule as a predicate: True when
        G x 2^-fp_bits exceeds ``2 * max_exception_frac`` — i.e. the
        model (and SCALE_r05 `incmphf`, measured 9.0% at G=50/fp_bits=8
        vs 9.8% predicted) says the cross-generation exception table has
        grown past ``max_exception_frac`` of all keys. Exceeding the rule
        costs space and append wall, never correctness, so this is a
        planning signal for the nightly job, not a guard."""
        g = len(_lineage(spark, self.path))
        return g * 2.0 ** (-self.fp_bits) > 2.0 * max_exception_frac

    def last_stream_batch_id(self, spark) -> int:
        """Highest structured-streaming batch id committed via
        ``append(..., stream_batch_id=...)``; -1 if none. The id is
        folded into the lineage ``run_id`` (``sb<id>:<uuid>``), so the
        replay marker commits ATOMICALLY with the generation itself —
        there is no sidecar state that can disagree with the data."""
        return stream_high_water(_lineage(spark, self.path))

    def bits_per_key(self, spark) -> float:
        gens = self._load_gens(spark)
        n = sum(g.n for g in gens)
        bits = sum(g.desc.total_bits + 8 * len(g.fp) for g in gens)
        return bits / max(1, n)

    def _key_cast(self) -> str:
        return "long" if self._key_mode == 1 else "string"

    # -- append -----------------------------------------------------------------
    def append(self, df, key_col: str, duplicate_guard: float | None = 8.0,
               stream_batch_id: int | None = None):
        """Commit one new batch of keys as the next generation; returns
        metrics ``{gen, n, offset, n_exceptions, expected_fp, wall_s}``.

        ``stream_batch_id`` makes the append idempotent under structured
        streaming's foreachBatch replay: the id is committed inside the
        lineage row (``run_id = sb<id>:<uuid>``), and an append whose id
        is <= the highest committed one returns a
        ``{skipped_replay: True}`` no-op instead of double-assigning ids.
        Because the marker IS the lineage row, a crash anywhere in the
        payload-then-lineage window replays cleanly: before the lineage
        write the generation never committed (orphan dir, rebuilt); after
        it the replay is skipped. Ids must be delivered in nondecreasing
        order (structured streaming's contract per checkpoint).

        Keys must be distinct within the batch (the build salt re-rolls
        then raises, like the reference) AND never appended before —
        stable ids make a cross-generation duplicate unrepresentable
        (one key, two ids). The builder cannot check the second contract
        exactly without rescanning old data, but the exception probe
        sees every true duplicate with certainty (a member of an earlier
        generation always matches that generation's filter), so
        ``duplicate_guard`` raises when the exception count exceeds
        ``max(32, guard * expected_false_positives)`` — a duplicate
        storm is unmistakable against the ``2^-fp_bits`` baseline. Pass
        ``None`` to disable (e.g. fp_bits=1 experiments where FPs are
        the common case)."""
        t0 = time.time()
        spark = df.sparkSession
        key_mode = key_mode_for(df, key_col)
        # lock BEFORE the manifest check (see store.writer_lock)
        with writer_lock(spark, self.path, "incremental MPHF"):
            self._pin_manifest(spark, key_mode)
            return self._append_locked(
                df, key_col, duplicate_guard, t0, stream_batch_id
            )

    def _append_locked(self, df, key_col, duplicate_guard, t0,
                       stream_batch_id=None):
        from pyspark.sql import functions as F

        spark = df.sparkSession
        self._gens = None
        if (
            stream_batch_id is not None
            and stream_batch_id <= self.last_stream_batch_id(spark)
        ):
            return {
                "gen": None,
                "n": 0,
                "offset": self.total_keys(spark),
                "n_exceptions": 0,
                "expected_fp": 0.0,
                "wall_s": time.time() - t0,
                "skipped_replay": True,
            }
        earlier = self._load_gens(spark)
        gen = earlier[-1].gen + 1 if earlier else 0
        offset = earlier[-1].offset + earlier[-1].n if earlier else 0

        builder = RecSplitBuilder(
            self.leaf_size,
            self.avg_bucket_size,
            space_priority=self.space_priority,
        )
        desc = builder.build(df, key_col)
        if desc.n == 0:
            # Empty ingest batch: committing an n=0 generation would put a
            # zero-bucket evaluator (and an empty fingerprint table) into
            # every later probe broadcast, crashing all lookups. A no-op is
            # the correct semantics — the next non-empty batch takes this
            # generation number.
            return {
                "gen": None,
                "n": 0,
                "offset": offset,
                "n_exceptions": 0,
                "expected_fp": 0.0,
                "wall_s": time.time() - t0,
            }
        fp, _ = build_fingerprint_table(
            df, key_col, desc, self.fp_seed, self.fp_bits
        )

        # Exception probe: new keys that false-positive an EARLIER
        # generation's filter would be claimed by it at route time; record
        # their true generation. One scan of the new batch, early-exit per
        # row on first hit.
        cast_t = self._key_cast()
        keys = df.select(F.col(key_col).cast(cast_t).alias("key"))
        if earlier:
            hit = self._probe_any_expr(keys, "key", earlier)
            exc = keys.withColumn("__hit", hit).filter("__hit").select("key")
            exc_rows = exc.collect()
            n_exc = len(exc_rows)
        else:
            exc_rows, n_exc = [], 0
        expected_fp = desc.n * len(earlier) * 2.0 ** -self.fp_bits
        if (
            duplicate_guard is not None
            and earlier
            and n_exc > max(32, duplicate_guard * expected_fp)
        ):
            raise RuntimeError(
                f"append aborted: {n_exc} new keys match earlier "
                f"generations' filters vs ~{expected_fp:.1f} expected "
                f"false positives — the batch almost certainly contains "
                "keys appended before (duplicate keys across generations "
                "would assign one key two ids); dedupe the batch against "
                "the lake, or pass duplicate_guard=None if this workload "
                "really runs at a false-positive rate this high"
            )

        # Commit: payload dir first, lineage row second (the committed set
        # is defined by lineage; a crash in between leaves an ignorable
        # orphan dir that a future append with the same gen overwrites).
        gdir = f"{self.path}/gen={gen}"
        spark.createDataFrame(
            exc_rows or [], f"key {cast_t}"
        ).coalesce(1).write.mode("overwrite").parquet(f"{gdir}/exceptions")
        spark.createDataFrame(
            [(gen, desc.n, offset, bytearray(desc.to_bytes()),
              bytearray(fp.tobytes()))],
            "gen int, n long, offset long, desc binary, fp binary",
        ).coalesce(1).write.mode("overwrite").parquet(f"{gdir}/blob")
        wall = time.time() - t0
        run_id = new_run_id(stream_batch_id)
        spark.createDataFrame(
            [(gen, desc.n, offset, desc.salt, n_exc, run_id, wall)],
            _LIN_SCHEMA,
        ).write.mode("append").parquet(f"{self.path}/lineage")
        self._gens = None
        return {
            "gen": gen,
            "n": desc.n,
            "offset": offset,
            "n_exceptions": n_exc,
            "expected_fp": expected_fp,
            "wall_s": wall,
        }

    # -- kernels ------------------------------------------------------------------
    def _probe_any_expr(self, df, key_col: str, gens: list[_Gen]):
        """Boolean Column: does the key fingerprint-match ANY of ``gens``?
        JVM computes one signature per generation plus the shared
        fingerprint signature; the Arrow kernel early-exits rows as they
        are claimed."""
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import BooleanType

        spark = df.sparkSession
        payload = [(g.desc._evaluator(), g.fp) for g in gens]
        fp_bits = self.fp_bits
        bcast = spark.sparkContext.broadcast((payload, fp_bits))

        @arrow_udf(BooleanType())
        def _any(*cols: pa.Array) -> pa.Array:
            payload, fp_bits = bcast.value
            arrs = [
                np.ascontiguousarray(
                    c.to_numpy(zero_copy_only=False), dtype=np.int64
                )
                for c in cols
            ]
            *sigs, fpsig = arrs
            want = (fpsig & np.int64((1 << fp_bits) - 1)).astype(np.uint8)
            hit = np.zeros(len(fpsig), dtype=bool)
            rem = np.flatnonzero(~hit)
            for g, (ve, fp) in enumerate(payload):
                if len(rem) == 0:
                    break
                idx = ve.evaluate(np.ascontiguousarray(sigs[g][rem]))
                m = fp[idx] == want[rem]
                hit[rem[m]] = True
                rem = rem[~m]
            return pa.array(hit)

        return _any(*self._sig_args(key_col, gens))

    def _walk_udf(self, spark, gens: list[_Gen]):
        """The shared evaluate/route kernel: args are one signature column
        per generation, the fingerprint signature, and a per-row
        generation hint (``>= 0``: direct exact dispatch — evaluate() and
        exception rows; ``-1``: probe generations oldest-first and accept
        the first fingerprint match; anything else: NULL). Decoded
        evaluators + fingerprint tables broadcast once (driver-decode
        discipline of ``MPHFDescriptor.evaluate``)."""
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import LongType

        payload = [(g.desc._evaluator(), g.fp, g.offset) for g in gens]
        fp_bits = self.fp_bits
        bcast = spark.sparkContext.broadcast((payload, fp_bits))

        @arrow_udf(LongType())
        def _walk(*cols: pa.Array) -> pa.Array:
            payload, fp_bits = bcast.value
            arrs = [
                np.ascontiguousarray(
                    c.to_numpy(zero_copy_only=False), dtype=np.int64
                )
                for c in cols
            ]
            *sigs, fpsig, genhint = arrs
            out = np.full(len(fpsig), -1, dtype=np.int64)
            want = (fpsig & np.int64((1 << fp_bits) - 1)).astype(np.uint8)
            for g, (ve, fp, off) in enumerate(payload):
                sel = np.flatnonzero(genhint == g)
                if len(sel):
                    out[sel] = off + ve.evaluate(
                        np.ascontiguousarray(sigs[g][sel])
                    )
            rem = np.flatnonzero(genhint == -1)
            for g, (ve, fp, off) in enumerate(payload):
                if len(rem) == 0:
                    break
                idx = ve.evaluate(np.ascontiguousarray(sigs[g][rem]))
                m = fp[idx] == want[rem]
                out[rem[m]] = off + idx[m]
                rem = rem[~m]
            return pa.array(out, mask=out < 0)

        return _walk

    def _sig_args(self, key_col: str, gens: list[_Gen]) -> list:
        args = [key_sig_expr(key_col, g.salt, self._key_mode) for g in gens]
        args.append(key_sig_expr(key_col, self.fp_seed, self._key_mode))
        return args

    @staticmethod
    def _coalesced(df, coalesce):
        """The eval-side partition discipline of ``MPHFDescriptor.evaluate``
        (a fixed cost per Python task dominates; ~1.5 tasks/core wins):
        ``'auto'`` → ``max(2, 3 * defaultParallelism // 2)``; an int is
        used as-is; ``None`` leaves partitioning alone. Narrow — never an
        Exchange — and never increases the partition count."""
        if coalesce == "auto":
            coalesce = max(
                2, (3 * df.sparkSession.sparkContext.defaultParallelism) // 2
            )
        return df if coalesce is None else df.coalesce(int(coalesce))

    # -- lookup -------------------------------------------------------------------
    def evaluate(self, df, key_col: str, gen_col: str,
                 out_col: str = "mphf_index",
                 coalesce: int | str | None = None):
        """Exact global id for rows whose generation is known (the
        normal lake case: the ingest batch is a partition column or file
        lineage fact). One scan, no shuffle, no fingerprint check needed
        — within its generation the MPHF is a bijection by construction.
        Rows with a NULL, negative, or out-of-range generation get NULL.
        ``coalesce``: see ``MPHFDescriptor.evaluate`` (``'auto'`` = ~1.5
        tasks/core, the measured sweet spot for the per-task cost)."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        gens = self._load_gens(spark)
        if not gens:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        df = self._coalesced(df, coalesce)
        walk = self._walk_udf(spark, gens)
        # Negative user generations must NOT reach the kernel: -1 is the
        # private probe sentinel route() uses, and a stray -1 here would
        # silently give filter semantics (possibly-wrong ids) instead of
        # the documented NULL.
        gl = F.col(gen_col).cast("long")
        hint = F.when(gl >= 0, gl).otherwise(F.lit(-2))
        return df.withColumn(
            out_col, walk(*self._sig_args(key_col, gens), hint)
        )

    def route(self, df, key_col: str, out_col: str = "mphf_index",
              coalesce: int | str | None = None):
        """Global id for keys of UNKNOWN generation: broadcast-join the
        exception table (keys known to false-positive an earlier
        generation), then probe generations oldest-first accepting the
        first fingerprint match. Exact for every appended key (equals
        ``evaluate`` — tested); a never-appended key gets NULL except
        with probability ``<= G * 2^-fp_bits`` (filter semantics). One
        scan plus one broadcast hash join; no shuffle of ``df``."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        gens = self._load_gens(spark)
        if not gens:
            return df.withColumn(out_col, F.lit(None).cast("long"))
        df = self._coalesced(df, coalesce)
        exc = self._exceptions(spark, gens)
        walk = self._walk_udf(spark, gens)
        cast_t = self._key_cast()
        if exc is None:
            hint = F.lit(-1).cast("long")
            joined = df
        else:
            # __exc_gen holds the TRUE generation for exception keys and
            # NULL otherwise; NULL maps to the probe path (-1).
            joined = df.join(
                F.broadcast(exc),
                F.col(key_col).cast(cast_t) == F.col("__exc_key"),
                "left",
            )
            hint = F.coalesce(F.col("__exc_gen").cast("long"), F.lit(-1))
        out = joined.withColumn(
            out_col, walk(*self._sig_args(key_col, gens), hint)
        )
        if exc is not None:
            out = out.drop("__exc_key", "__exc_gen")
        return out

    def _exceptions(self, spark, gens: list[_Gen]):
        """Union of every committed generation's exception rows as
        DataFrame[__exc_key, __exc_gen] — or None when every table is
        empty. Sized by the false-positive rate (~``n * G * 2^-fp_bits``
        keys total), hence always broadcastable."""
        from functools import reduce

        from pyspark.sql import functions as F

        # lineage recorded n_exceptions per generation (cached on _Gen at
        # load) — skip the reads entirely when every table is empty
        parts = []
        for g in gens:
            if g.n_exc == 0:
                continue
            e = spark.read.parquet(f"{self.path}/gen={g.gen}/exceptions")
            parts.append(
                e.select(
                    F.col("key").alias("__exc_key"),
                    F.lit(g.gen).alias("__exc_gen"),
                )
            )
        if not parts:
            return None
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -- compaction ---------------------------------------------------------------
    def compact(self, df, key_col: str, out_path: str,
                gen_col: str | None = None,
                fp_bits: int | None = None,
                leaf_size: int | None = None,
                avg_bucket_size: int | None = None,
                space_priority: bool | None = None,
                allow_removed: bool = False):
        """The planned re-key at the end of a generational window: rebuild
        the WHOLE key universe as a single generation 0 at ``out_path``
        and return ``(new_handle, remap)`` where ``remap`` is
        ``DataFrame[key_col, old_id, new_id]`` — the table downstream
        id-keyed artifacts (shard maps, dedup bitmaps, feature stores)
        re-key through. After compaction, route cost drops from G probes
        back to 1 and the exception table empties.

        ``df`` must hold EXACTLY the appended key universe (the lake's key
        column; compaction is the one operation that re-scans it). That is
        enforced: a row count different from the committed total, or any
        key the old structure cannot resolve, raises before anything is
        visible at ``out_path``'s lineage. ``allow_removed=True`` relaxes
        ONLY the count side — the planned SHRINK after corpus deletions
        (the forget path): ``df`` may be a strict subset of the appended
        universe, the remap covers the survivors only (downstream
        re-keying drops the forgotten ids by construction), and
        resolution always goes through the fingerprint-verified
        ``route`` (``gen_col`` hints are ignored — the hinted path skips
        verification). Novel keys are refused with probability
        ``1 - G * 2^-fp_bits`` each (plus a distinct-old-id check that
        catches FP collisions with survivors); for forget-heavy
        deployments raise ``fp_bits`` at append time if the residual
        probabilistic acceptance matters. ``gen_col`` (when the lake
        carries ingest lineage) routes old-id resolution through the exact
        zero-probe ``evaluate`` path instead of ``route``.

        Plan shape: ONE distributed RecSplit build + fingerprint pass over
        ``df`` (the ``append``), then one scan of ``df`` carrying both
        broadcast evaluator stacks — no shuffle, no join beyond the old
        structure's broadcast exception table. The result is one
        single-blob descriptor, the right shape up to the generational
        window this class targets (~10^9 keys); past that, compact into a
        ``BlockedMPHF`` instead (same planned re-key, per-block blobs)."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        gens = self._load_gens(spark)
        if not gens:
            raise RuntimeError("nothing committed to compact")
        n_total = sum(g.n for g in gens)

        new = IncrementalMPHF(
            out_path,
            leaf_size=self.leaf_size if leaf_size is None else leaf_size,
            avg_bucket_size=(
                self.avg_bucket_size if avg_bucket_size is None
                else avg_bucket_size
            ),
            fp_bits=self.fp_bits if fp_bits is None else fp_bits,
            space_priority=(
                self.space_priority if space_priority is None
                else space_priority
            ),
        )
        if _lineage(spark, new.path):
            raise RuntimeError(
                f"compaction target {out_path} already has committed "
                "generations; compact into a fresh path"
            )

        # Validate BEFORE the new structure commits: a wrong key set must
        # raise with out_path's lineage still empty. (An in-batch
        # duplicate additionally fails the append's own build, also
        # pre-commit.) Strict mode gets EXACTNESS from the count backstop
        # (n_rows == n_total and all resolvable => df IS the universe).
        # allow_removed relaxes the count, so novel-key detection falls
        # back to the fingerprints: resolution must go through route()
        # (gen-hinted evaluate() skips fingerprint verification and would
        # hand ANY novel key a wrong old_id), and the surviving old_ids
        # must stay DISTINCT (an FP-accepted novel key colliding with a
        # survivor shows up as a duplicate). Residual risk is honest and
        # bounded: a novel key whose true owner was ALSO removed slips
        # through with probability ~G * 2^-fp_bits — raise fp_bits on
        # forget-heavy deployments if that matters.
        if allow_removed or gen_col is None:
            old = self.route(df, key_col, out_col="old_id")
        else:
            old = self.evaluate(df, key_col, gen_col, out_col="old_id")
        chk = old.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("old_id").isNull().cast("long")).alias("bad"),
            F.countDistinct("old_id").alias("dist"),
        ).collect()[0]
        n_bad = int(chk["bad"]) if chk["bad"] is not None else 0
        n_rows = int(chk["rows"])
        bad_count = (
            (n_rows != n_total) if not allow_removed else (n_rows > n_total)
        )
        dup_ids = allow_removed and int(chk["dist"]) != n_rows - n_bad
        if bad_count or n_bad or dup_ids:
            what = "a subset of the" if allow_removed else "the"
            how = (
                "the surviving subset of" if allow_removed else "exactly"
            )
            raise RuntimeError(
                f"compaction key set ({n_rows} rows, {n_bad} "
                f"unresolvable in the old structure"
                + (", duplicate old ids" if dup_ids else "")
                + f") is not {what} "
                f"committed universe of {n_total} keys; df must be "
                f"{how} the appended key universe"
            )

        m = new.append(df, key_col)
        assert m["n"] == n_rows  # guaranteed by the row-count check
        remap = new.evaluate(
            old.withColumn("__g0", F.lit(0)), key_col, "__g0",
            out_col="new_id",
        ).select(key_col, "old_id", "new_id")
        return new, remap

    # -- verification ---------------------------------------------------------------
    def verify_bijection(self, df, key_col: str, gen_col: str) -> dict:
        """Small/medium-scale global-bijection check via ``evaluate``:
        ids must be exactly ``{0 .. n_total-1}``. Uses a distinct-count
        aggregation — fine to ~10^8 keys; above that follow the blocked
        discipline (``BlockedMPHF.verify_bijection``) per generation plus
        the offsets being a prefix sum, which this method also asserts."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        gens = self._load_gens(spark)
        n = sum(g.n for g in gens)
        run = 0
        for g in gens:
            if g.offset != run:
                raise RuntimeError(
                    f"generation {g.gen} offset {g.offset} != prefix sum {run}"
                )
            run += g.n
        r = (
            self.evaluate(df, key_col, gen_col, out_col="__idx")
            .agg(
                F.count("*").alias("rows"),
                F.countDistinct("__idx").alias("distinct"),
                F.min("__idx").alias("lo"),
                F.max("__idx").alias("hi"),
                F.sum(F.col("__idx").isNull().cast("long")).alias("nulls"),
            )
            .collect()[0]
        )
        # F.sum over zero rows is NULL, not 0
        nulls = int(r["nulls"]) if r["nulls"] is not None else 0
        ok = (
            r["rows"] == n
            and r["distinct"] == n
            and r["lo"] == 0
            and r["hi"] == n - 1
            and nulls == 0
        )
        return {
            "ok": bool(ok),
            "n": n,
            "rows": int(r["rows"]),
            "distinct": int(r["distinct"]),
            "lo": int(r["lo"]) if r["lo"] is not None else None,
            "hi": int(r["hi"]) if r["hi"] is not None else None,
            "nulls": nulls,
        }
