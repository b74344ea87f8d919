"""Incremental ANN: an appendable, persisted IVF vector store.

``IVFIndex`` gives the pieces (fit / assign / pruned search) but leaves
the bucketed data table to the caller; on an append-only lake that table
must GROW without reassigning what was already ingested, and a nightly
re-`assign` of the whole corpus is the same O(corpus)-per-batch cost
profile the rest of the incremental family
(``sketches/incremental.IncrementalProfile``,
``incremental_mphf.IncrementalMPHF``, ``pipeline/incremental_dedup``)
exists to avoid.

``IncrementalANN`` persists, per committed generation, the new batch's
vectors written PARTITIONED BY ``centroid_id`` under
``<path>/vectors/gen=N/centroid_id=C``; the fitted index itself is saved
once at first append under ``<path>/index``. Each ``append`` costs one
``assign`` pass over the NEW batch (broadcast centroids, Arrow matmul
kernel) plus one partitioned write — old vectors are never touched.
``search`` reads only the lineage-committed generation dirs with the
``centroid_id IN (probe set)`` filter, so partition pruning keeps the
scan at ``nprobe/k`` of the stored corpus regardless of how many
generations accumulated.

The centroid set is the bucket contract: vectors assigned under one
index are unreadable under another (the probe set would look in the
wrong buckets), so the manifest pins a fingerprint of the centroid
bytes (plus id/vector column names) and refuses appends with a
different index — the exact analogue of the banding pin in
``IncrementalDedup`` and the rule-generation pin in the MPHF
descriptors. Centroid drift (the ingest distribution wandering away
from the fitted centroids) degrades recall, not correctness; the
planned re-key is: fit a fresh index, re-``assign`` the corpus once,
start a new store — the same compaction cadence as
``IncrementalMPHF.compact``.

Commit protocol: ``store.py``, like the siblings (payload dir first,
lineage row second, single-writer ``_lock``, stream replay marker in the
lineage ``run_id``).

Reference analogue: none (minperf has no ANN); this is the task brief's
similarity-search requirement in the lake-append form.
"""

from __future__ import annotations

import hashlib
import time
from functools import partial

import numpy as np

from ..store import (
    align_tombstone_ids,
    break_lock,
    commit_tombstone_generation,
    dir_exists,
    new_run_id,
    pin_manifest,
    read_lineage_rows,
    read_tombstone_ids,
    stream_batch_row,
    stream_high_water,
    writer_lock,
)
from .ann import IVFIndex

_CFG_SCHEMA = (
    "id_col string, vec_col string, n_centroids int, dim int,"
    " centroid_sha string, codec_sha string"
)
_LIN_SCHEMA = "gen int, n long, run_id string, wall_s double"
#: committed lineage rows, read under their schema (no inference job)
_lineage = partial(read_lineage_rows, schema=_LIN_SCHEMA)


def _centroid_sha(index: IVFIndex) -> str:
    c = np.ascontiguousarray(index.centroids, dtype=np.float32)
    return hashlib.sha256(c.tobytes()).hexdigest()


def _codec_sha(codec) -> str:
    return hashlib.sha256(codec.to_bytes()).hexdigest()


class IncrementalANN:
    """A persisted, appendable IVF-bucketed vector store (see module
    docstring). First ``append`` must receive a FITTED ``index``; later
    opens reload it from ``<path>/index``.

    Optional PQ sidecar: created with a fitted ``PQCodec``, every
    committed generation additionally carries the m-byte ``pq_code``
    column (encoded in the same ``assign`` pass pipeline — one extra
    arrow_udf projection, no extra scan or shuffle) and ``search_adc``
    runs the IVFADC funnel over the store: partition-pruned probe
    buckets -> byte-only ADC scan (parquet column pruning keeps the
    float column out of the read) -> optional exact-cosine rerank. The
    codec bytes ARE the code semantics (pq.py header note), so the
    manifest pins sha256(codec bytes) exactly like the centroid sha:
    a store created without a codec refuses one later (its generations
    have no code column), and a different codec is refused, never
    re-read — both the same refuse-don't-adapt contract as the
    centroid pin."""

    def __init__(self, path: str, index: IVFIndex | None = None,
                 codec=None) -> None:
        self.path = path.rstrip("/")
        self._index = index
        self._codec = codec
        self._id_col: str | None = None
        self._vec_col: str | None = None

    # -- manifest / lock ----------------------------------------------------------
    def _pin_manifest(self, spark, id_col, vec_col) -> None:
        """Pin (or verify) the centroid/codec contract; ``id_col=None``
        adopts the committed column names and refuses a fresh path."""

        def _want(have):
            if have is None:
                if self._index is None or self._index.centroids is None:
                    raise RuntimeError(
                        "first append needs a FITTED IVFIndex (pass index= "
                        "to IncrementalANN); later opens reload it from the "
                        "path"
                    )
                if id_col is None:
                    raise RuntimeError(
                        f"no incremental ANN committed at {self.path}; "
                        "append a first batch to create it"
                    )
                if self._codec is not None and getattr(
                    self._codec, "needs_centroid", False
                ) and (
                    _centroid_sha(self._codec.index)
                    != _centroid_sha(self._index)
                ):
                    raise RuntimeError(
                        "residual PQ codec was fitted against a different "
                        "centroid set than the store's index; fit it on "
                        "this index (codes would silently misscore)"
                    )
                # sidecars before the manifest: a crash in between leaves
                # no manifest, so the next first append redoes (overwrites)
                # both
                self._index.save(spark, f"{self.path}/index", mode="overwrite")
                if self._codec is not None:
                    spark.createDataFrame(
                        [(bytearray(self._codec.to_bytes()),)], "codec binary"
                    ).coalesce(1).write.mode("overwrite").parquet(
                        f"{self.path}/pq_codec"
                    )
            else:
                if self._index is None:
                    self._index = IVFIndex.load(spark, f"{self.path}/index")
                if self._codec is None and have[0][5] is not None:
                    from .pq import codec_from_bytes

                    blob = bytes(
                        spark.read.parquet(f"{self.path}/pq_codec")
                        .collect()[0]["codec"]
                    )
                    # magic dispatch: PQC1 raw codec or PQR1 residual codec
                    # (the latter sha-checks the index we just loaded — the
                    # manifest's centroid pin makes that check a tautology
                    # here, but a hand-swapped index dir still fails loudly)
                    self._codec = codec_from_bytes(blob, self._index)
            k, d = self._index.centroids.shape
            return [(
                id_col, vec_col, int(k), int(d), _centroid_sha(self._index),
                _codec_sha(self._codec) if self._codec is not None else None,
            )]

        (pinned,) = pin_manifest(
            spark,
            f"{self.path}/manifest",
            _CFG_SCHEMA,
            _want,
            committed=lambda: dir_exists(spark, f"{self.path}/lineage"),
            refuse=(
                f"incremental ANN at {self.path} has committed "
                "generations but no readable manifest; re-run against "
                "a fresh path or restore the manifest"
            ),
            mismatch=lambda have, want: (
                "incremental ANN manifest mismatch: committed "
                f"{have[0]} != requested {want[0]}; vectors assigned under "
                "one centroid set are unreadable under another (search "
                "would probe the wrong buckets), and PQ codes are "
                "unreadable under a different codec"
            ),
            # pre-PQ manifests have no codec_sha column
            defaults={"codec_sha": None},
        )
        self._id_col, self._vec_col = pinned[0], pinned[1]

    def break_lock(self, spark) -> None:
        """Remove a stale writer lock left by a crashed append."""
        break_lock(spark, self.path)

    # -- committed state ----------------------------------------------------------
    def generations(self, spark) -> list[dict]:
        return [
            {"gen": int(r["gen"]), "n": int(r["n"]), "run_id": r["run_id"]}
            for r in _lineage(spark, self.path)
        ]

    def total_vectors(self, spark) -> int:
        return sum(int(r["n"]) for r in _lineage(spark, self.path))

    def last_stream_batch_id(self, spark) -> int:
        return stream_high_water(_lineage(spark, self.path))

    def index(self, spark) -> IVFIndex:
        """The pinned index (loaded from the path on first use)."""
        self._pin_manifest(spark, None, None)
        return self._index

    def vectors(self, spark, include_tombstoned: bool = False):
        """The committed bucketed table (id, vector, centroid_id, gen) —
        ONLY lineage-committed generation dirs (orphans from crashed
        appends are invisible), with partition columns preserved via
        basePath so `search`'s IN-filter prunes directories. Tombstoned
        ids (``delete``) are anti-joined out unless
        ``include_tombstoned`` — every downstream surface (search,
        search_adc/_many, append_dedup probing, bucket stats, compact)
        reads through here, so a delete is effective everywhere at
        once."""
        from pyspark.sql import functions as F

        rows = _lineage(spark, self.path)
        if not rows:
            raise RuntimeError(f"nothing committed at {self.path}")
        paths = [
            f"{self.path}/vectors/gen={int(r['gen'])}"
            for r in rows
            if int(r["n"]) > 0
        ]
        vec = (
            spark.read.option("basePath", f"{self.path}/vectors")
            .parquet(*paths)
        )
        if include_tombstoned:
            return vec
        if self._id_col is None:  # fresh handle: the anti-join needs it
            self._pin_manifest(spark, None, None)
        tomb = self._tombstones(spark)
        if tomb is None:
            return vec
        return vec.join(
            F.broadcast(tomb), on=self._id_col, how="left_anti"
        )

    # -- deletion (tombstones; shared machinery in store.py) ------------------
    def _tombstones(self, spark):
        """Distinct tombstoned ids, or None if nothing was ever deleted
        (the common case pays zero extra plan nodes)."""
        return read_tombstone_ids(spark, self.path, self._id_col)

    def total_tombstoned(self, spark) -> int:
        """Distinct deleted ids (a re-deleted id counts once)."""
        self._pin_manifest(spark, None, None)
        t = self._tombstones(spark)
        return 0 if t is None else t.count()

    def delete(self, spark, ids, id_col: str | None = None) -> dict:
        """Tombstone ids: the append-only lake's delete (the
        right-to-be-forgotten path). Vectors are NOT rewritten — a
        tombstone generation commits under ``<path>/tombstones/gen=K``
        (payload-then-lineage, same crash discipline as appends) and
        ``vectors()`` anti-joins the set out, so search/serving/dedup
        stop seeing the ids immediately. Physical removal happens at the
        next ``compact`` (it rebuilds from ``vectors()``, which already
        excludes tombstones). Deleting an id twice, or an id the store
        never held, is harmless (the anti-join is set semantics).

        ``ids`` is a DataFrame carrying the store's id column (pass
        ``id_col=`` if named differently) or a Python list. Tombstone
        sets ride a broadcast at read time — this is for targeted
        deletions (the usual case), not bulk expiry; bulk expiry IS a
        compaction."""
        t0 = time.time()
        with writer_lock(spark, self.path, "incremental ANN"):
            self._pin_manifest(spark, None, None)
            if isinstance(ids, (list, tuple)):
                ids_df = spark.createDataFrame(
                    [(i,) for i in ids], f"{self._id_col} string"
                ) if ids and isinstance(ids[0], str) else spark.createDataFrame(
                    [(int(i),) for i in ids], f"{self._id_col} long"
                )
            else:
                ids_df = ids.select(
                    (ids[id_col] if id_col else ids[self._id_col]).alias(
                        self._id_col
                    )
                )
            # no committed vectors -> nothing to forget, no-op
            if not _lineage(spark, self.path):
                return {"gen": None, "n": 0, "wall_s": time.time() - t0}
            id_type = self.vectors(
                spark, include_tombstoned=True
            ).schema[self._id_col].dataType
            ids_df = align_tombstone_ids(ids_df, self._id_col, id_type)
            return commit_tombstone_generation(spark, self.path, ids_df, t0)

    def bucket_stats(self, spark):
        """Per-bucket vector counts: ``DataFrame[centroid_id int,
        n long]``. Column pruning keeps vectors and codes out of the
        read (count over the partition column only); with
        ``spark.sql.parquet.aggregatePushdown`` the count comes straight
        from the footers."""
        from pyspark.sql import functions as F

        return (
            self.vectors(spark)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
        )

    def bucket_skew(self, spark) -> dict:
        """The drift/compaction signal: bucket-size imbalance summary.

        At scale the probe cost of a query is the size of its probed
        buckets, so ingest drift away from the fitted centroids shows up
        here FIRST — a rising ``imbalance`` (max/mean) or ``empty``
        count means hot buckets are absorbing the drifted mass and it is
        time for the planned re-key (``compact``). Driver cost is one
        k-row collect."""
        rows = self.bucket_stats(spark).collect()
        self._pin_manifest(spark, None, None)
        k = int(self._index.centroids.shape[0])
        counts = {int(r["centroid_id"]): int(r["n"]) for r in rows}
        total = sum(counts.values())
        mean = total / max(1, k)
        mx = max(counts.values(), default=0)
        return {
            "n_buckets": k,
            "n_vectors": total,
            "nonempty_buckets": len(counts),
            "empty_buckets": k - len(counts),
            "max_bucket": mx,
            "mean_bucket": round(mean, 2),
            "imbalance": round(mx / mean, 3) if total else 0.0,
        }

    # -- append / search ------------------------------------------------------------
    def append(self, df, id_col: str | None = None,
               vec_col: str | None = None,
               stream_batch_id: int | None = None) -> dict:
        """Assign the new batch to the pinned centroids and commit it as
        the next generation; returns ``{gen, n, wall_s}``. One broadcast
        ``assign`` pass + one partitioned write — never touches old
        vectors. Replay-idempotent via ``stream_batch_id`` (lineage
        marker, like the sibling structures)."""
        t0 = time.time()
        spark = df.sparkSession
        # lock BEFORE the manifest check (see store.writer_lock)
        with writer_lock(spark, self.path, "incremental ANN"):
            self._pin_manifest(spark, id_col, vec_col)
            return self._append_locked(df, t0, stream_batch_id)

    def _append_locked(self, df, t0, stream_batch_id):
        spark = df.sparkSession
        if (
            stream_batch_id is not None
            and stream_batch_id <= self.last_stream_batch_id(spark)
        ):
            return {
                "gen": None, "n": 0, "wall_s": time.time() - t0,
                "skipped_replay": True,
            }
        rows = _lineage(spark, self.path)
        gen = int(rows[-1]["gen"]) + 1 if rows else 0
        assigned = self._index.assign(
            df.select(self._id_col, self._vec_col), self._vec_col
        ).persist()
        n = assigned.count()
        if n == 0:
            # no-op like the sibling structures: a 0-row partitionBy
            # write leaves no data files, and nothing needs committing
            assigned.unpersist()
            return {"gen": None, "n": 0, "wall_s": time.time() - t0,
                    "skipped_replay": False}
        gdir = f"{self.path}/vectors/gen={gen}"
        payload = assigned
        if self._codec is not None:
            # same pass as the write — one extra arrow_udf projection,
            # no extra scan; every gen dir in a codec-pinned store
            # carries the code column (schema-uniform by construction)
            payload = self._codec.encode(assigned, self._vec_col)
        # co-locate each centroid before the partitioned write: a bare
        # partitionBy emits one file per (task x centroid-it-touches) —
        # measured 78K files for a 144K-row compact at 316 centroids,
        # and task_count x n_centroids is filesystem-fatal at the
        # sqrt(n) operating point. The hash repartition caps it at one
        # file per centroid per gen; the shuffle moves exactly the
        # payload once (same bill class as the dedup/id shuffles).
        payload.repartition("centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(gdir)
        assigned.unpersist()
        run_id = new_run_id(stream_batch_id)
        wall = time.time() - t0
        spark.createDataFrame(
            [(gen, n, run_id, wall)], _LIN_SCHEMA
        ).write.mode("append").parquet(f"{self.path}/lineage")
        return {"gen": gen, "n": int(n), "wall_s": wall,
                "skipped_replay": False}

    def append_dedup(self, df, id_col: str | None = None,
                     vec_col: str | None = None, threshold: float = 0.9,
                     probes: int | None = None,
                     stream_batch_id: int | None = None):
        """Semantic dedup + ingest in one append (the SemDeDup shape): a
        new vector is DROPPED if its cosine to any already-kept vector —
        or to an earlier-kept member of its own batch cluster — is
        ``>= threshold``; survivors commit as the next generation.

        Candidates come from the store's own IVF buckets used as the
        LSH: each new vector probes its ``probes`` nearest centroid
        buckets (default ``index.nprobe``; position 0 is its argmax
        bucket, where a near-duplicate almost surely sits) and compares
        against the stored vectors there — a partition-pruned scan of
        ``~probes/k`` of the store, never all of it. Recall is the
        standard IVF trade: NEAR-IDENTICAL vectors (cosine ~1, the
        semantic-dup regime) share an argmax bucket ~always, but pairs
        only barely above a LOW threshold can straddle buckets neither
        side probes — measured at sf0.01 with threshold 0.4 and
        probes=3/8, one 0.47-cosine pair survived that probes=8 catches.
        ``probes == n_centroids`` makes candidates exhaustive (the
        oracle query runs there); production dials probes exactly like
        ``search``'s nprobe. Cost per batch
        vector is its probe buckets' population (``~probes * n/k``; at
        the auto-sqrt(n) operating point, ``probes * sqrt(n)``
        comparisons — the standard semantic-dedup bill). Cosines are
        pure Column exprs (``zip_with`` dot + norms). Within-batch
        resolution mirrors ``IncrementalDedup``: verified pairs cluster
        by min-label CC; a cluster touching the kept store drops whole,
        else its min-id rep survives.

        Returns ``(kept_df, metrics)``; replay-idempotent via
        ``stream_batch_id`` (exact lineage-marker match; the kept set is
        recomputed FROM the committed generation, so a crashed
        downstream write can always be redone)."""
        t0 = time.time()
        spark = df.sparkSession
        with writer_lock(spark, self.path, "incremental ANN"):
            self._pin_manifest(spark, id_col, vec_col)
            return self._append_dedup_locked(
                df, threshold, probes, t0, stream_batch_id
            )

    def _append_dedup_locked(self, df, threshold, probes, t0,
                             stream_batch_id):
        from pyspark.sql import functions as F

        from .ann import bucket_pairs_above
        from .dedup import connected_components

        spark = df.sparkSession
        id_col, vec_col = self._id_col, self._vec_col
        row = None
        if stream_batch_id is not None:
            row = stream_batch_row(
                _lineage(spark, self.path), stream_batch_id
            )
        if row is not None:
            gen = int(row["gen"])
            kept = df.join(
                self.vectors(spark)
                .filter(F.col("gen") == gen)
                .select(F.col(id_col)),
                id_col,
                "left_semi",
            )
            return kept, {
                "gen": gen, "n_in": None,
                "n_kept": int(row["n"]),
                "wall_s": time.time() - t0,
                "skipped_replay": True,
            }
        if probes is None:
            probes = self._index.nprobe

        probed = self._index.assign_probes(
            df.select(id_col, vec_col), vec_col, probes
        ).persist()
        cnt = probed.agg(
            F.count("*").alias("n"), F.countDistinct(id_col).alias("d")
        ).collect()[0]
        n_in = int(cnt["n"])
        if n_in == 0:
            probed.unpersist()
            return df, {"gen": None, "n_in": 0, "n_kept": 0,
                        "n_matched_old": 0, "n_clusters": 0,
                        "wall_s": time.time() - t0, "skipped_replay": False}
        if int(cnt["d"]) != n_in:
            probed.unpersist()
            raise ValueError(
                f"batch ids must be distinct within the batch "
                f"({n_in} rows, {int(cnt['d'])} distinct ids)"
            )
        # bucketed relations for the per-bucket BLAS verifier
        # (bucket_pairs_above): vectors cross the shuffle once per probe
        # bucket membership, never once per candidate pair
        exploded_a = probed.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("__va"),
            F.explode("probe_ids").alias("centroid_id"),
        )

        # -- new-vs-old: probe buckets against the committed store
        have_state = bool(_lineage(spark, self.path))
        if have_state:
            store = self.vectors(spark).select(
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("__vb"),
                "centroid_id",
            )
            matched_old = (
                bucket_pairs_above(exploded_a, store, threshold)
                .select("id_a")
                .distinct()
                .persist()
            )
        else:
            matched_old = spark.createDataFrame([], "id_a long").persist()
        n_matched_old = matched_old.count()

        # -- new-vs-new: within-batch, same kernel in self mode (a pair
        # sharing two probe buckets appears twice -> distinct)
        exploded_b = probed.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
            F.explode("probe_ids").alias("centroid_id"),
        )
        verified_new = (
            bucket_pairs_above(exploded_a, exploded_b, threshold,
                               self_pairs=True)
            .distinct()
            .persist()
        )
        if verified_new.count() == 0:
            clusters = spark.createDataFrame([], "id long, rep long").persist()
            n_clusters = 0
        else:
            clusters = connected_components(verified_new).persist()
            n_clusters = int(
                clusters.agg(F.countDistinct("rep")).collect()[0][0]
            )
        verified_new.unpersist()

        # -- resolution (same semantics as IncrementalDedup)
        hit_reps = (
            clusters.join(
                matched_old.withColumnRenamed("id_a", "id"), "id", "left_semi"
            )
            .select("rep")
            .distinct()
        )
        drop = (
            clusters.join(hit_reps, "rep", "left_semi").select("id")
            .unionByName(
                clusters.filter(F.col("id") != F.col("rep")).select("id")
            )
            .unionByName(matched_old.withColumnRenamed("id_a", "id"))
            .distinct()
            .withColumnRenamed("id", id_col)
        )
        kept_assigned = (
            probed.join(drop, id_col, "left_anti")
            .select(
                id_col,
                vec_col,
                F.element_at("probe_ids", 1).alias("centroid_id"),
            )
            .persist()
        )
        n_kept = kept_assigned.count()

        # -- commit (payload dir first, lineage second — same protocol
        # as append; an all-dup batch commits nothing)
        rows = _lineage(spark, self.path)
        gen = int(rows[-1]["gen"]) + 1 if rows else 0
        if n_kept > 0:
            gdir = f"{self.path}/vectors/gen={gen}"
            payload = kept_assigned
            if self._codec is not None:
                payload = self._codec.encode(kept_assigned, vec_col)
            # see append: co-locate per centroid or the write emits
            # task_count x n_centroids files
            payload.repartition("centroid_id").write.mode(
                "overwrite"
            ).partitionBy("centroid_id").parquet(gdir)
            run_id = new_run_id(stream_batch_id)
            spark.createDataFrame(
                [(gen, n_kept, run_id, time.time() - t0)], _LIN_SCHEMA
            ).write.mode("append").parquet(f"{self.path}/lineage")
            kept = df.join(
                spark.read.parquet(gdir).select(id_col), id_col, "left_semi"
            )
        else:
            gen = None
            kept = df.limit(0)
        probed.unpersist()
        matched_old.unpersist()
        clusters.unpersist()
        kept_assigned.unpersist()
        return kept, {
            "gen": gen,
            "n_in": n_in,
            "n_kept": int(n_kept),
            "n_matched_old": int(n_matched_old),
            "n_clusters": int(n_clusters),
            "wall_s": time.time() - t0,
            "skipped_replay": False,
        }

    def search(self, spark, query, k: int = 10):
        """Top-k cosine over the whole committed store: probe-set
        IN-filter -> partition-pruned scan of ~nprobe/k of the corpus ->
        JVM cosine + TakeOrdered."""
        self._pin_manifest(spark, None, None)
        return self._index.search(
            self.vectors(spark), self._vec_col, query, k
        )

    def codec(self, spark):
        """The pinned PQ codec, or None for a plain store (loaded from
        the path on first use, like ``index``)."""
        self._pin_manifest(spark, None, None)
        return self._codec

    def compact(self, spark, out_path: str, index: IVFIndex | None = None,
                codec="keep"):
        """The planned re-key at the end of a drift window (the module
        docstring's manual recipe, as one call): re-bucket the WHOLE
        committed vector set into a fresh store at ``out_path`` under a
        new centroid contract and return ``(new_handle, metrics)``.

        ``index=None`` refits on the stored corpus with the old
        geometry (same n_centroids/nprobe, a fresh seed offset) — the
        drift correction; pass a fitted ``IVFIndex`` to choose the
        geometry yourself. ``codec='keep'`` re-pins a raw ``PQCodec``
        as-is (raw codes quantize the normalized vectors, so they are
        centroid-independent), but REFITS a ``ResidualPQ`` with the same
        config against the new centroids on the stored corpus — residual
        codes are defined relative to the centroid set, so "keep" keeps
        the codec CONFIG, never stale index-coupled codebooks.
        ``codec=None`` drops the sidecar; a fitted codec re-pins a new
        one (a residual codec must be fitted against the compaction
        index — a mismatched one is refused).

        Validation precedes visibility, like every compaction in the
        family: the target must have no committed lineage and the
        committed lineage totals must agree with the stored rows BEFORE
        the new store's first commit; the rebuild itself goes through
        ``append`` (lock, manifest, payload-dir-then-lineage), so a
        crash mid-compact leaves ``out_path`` empty-or-orphaned and the
        old store untouched. Cost: one assign (+ encode) scan of the
        corpus + one partitioned write — the same bill as ingesting it,
        paid once per drift window."""
        import time as _time

        t0 = _time.time()
        self._pin_manifest(spark, None, None)
        if dir_exists(spark, f"{out_path.rstrip('/')}/lineage"):
            raise RuntimeError(
                f"compaction target {out_path} already has committed "
                "generations; compact into a fresh path"
            )
        n_total = self.total_vectors(spark)
        # consistency check against the PHYSICAL rows (lineage counts
        # what was appended; tombstones don't rewrite generations)...
        n_physical = self.vectors(spark, include_tombstoned=True).count()
        if n_physical != n_total:
            raise RuntimeError(
                f"committed lineage says {n_total} vectors but the "
                f"generation dirs hold {n_physical}; refusing to compact "
                "an inconsistent store"
            )
        # ...but the rebuild reads the LIVE set: compaction is where
        # tombstoned rows are physically dropped (the new store starts
        # with an empty tombstone set; append's metrics report the live
        # count — no extra scan here)
        vecs = self.vectors(spark).select(self._id_col, self._vec_col)
        if index is None:
            k, _ = self._index.centroids.shape
            index = IVFIndex(
                n_centroids=int(k),
                nprobe=self._index.nprobe,
                iters=self._index.iters,
                seed=self._index.seed + 1,
            ).fit(vecs, self._vec_col)
        new_codec = self._codec if codec == "keep" else codec
        if new_codec is not None and getattr(
            new_codec, "needs_centroid", False
        ):
            if codec == "keep":
                # residual codebooks are coupled to the OLD centroid set:
                # keep the config, refit against the new index (one extra
                # sample gather — driver-sized, like the index refit)
                from .pq import ResidualPQ

                new_codec = ResidualPQ(
                    index,
                    m=new_codec.m,
                    ks=new_codec.ks,
                    iters=new_codec.iters,
                    seed=new_codec.seed,
                ).fit(vecs, self._vec_col)
            elif _centroid_sha(new_codec.index) != _centroid_sha(index):
                raise RuntimeError(
                    "residual PQ codec passed to compact() was fitted "
                    "against a different centroid set than the compaction "
                    "index; fit it on the new index (codes would silently "
                    "misscore)"
                )
        new = IncrementalANN(out_path, index=index, codec=new_codec)
        m = new.append(vecs, self._id_col, self._vec_col)
        return new, {
            "n": int(m["n"]),
            "n_centroids": int(index.centroids.shape[0]),
            "codec": new_codec is not None,
            "wall_s": round(_time.time() - t0, 3),
        }

    def search_adc(self, spark, query, k: int = 10, rerank: int = 0):
        """IVFADC top-k over the committed store (requires the PQ
        sidecar): probe-set directory pruning -> ADC byte scan (column
        pruning keeps the float vectors out of the read) -> optional
        exact-cosine rerank of the top ``k*rerank`` (the only rows whose
        floats are touched)."""
        from .pq import ivfadc_search

        self._pin_manifest(spark, None, None)
        if self._codec is None:
            raise RuntimeError(
                f"incremental ANN at {self.path} has no PQ codec pinned; "
                "create the store with codec= to enable search_adc"
            )
        vecs = self.vectors(spark)
        if rerank == 0:
            # byte-only scan: project the float column away
            vecs = vecs.drop(self._vec_col)
        return ivfadc_search(
            self._index,
            self._codec,
            vecs,
            query,
            k=k,
            rerank=rerank,
            vec_col=self._vec_col if rerank > 0 else None,
            id_col=self._id_col if rerank > 0 else None,
        )

    def search_adc_many(self, spark, queries, k: int = 10,
                        rerank: int = 0):
        """Batched IVFADC serving over the committed store: Q queries
        answered in ONE byte-only scan of the UNION of their probe
        buckets (``pq.ivfadc_search_many``'s shape — per-batch partial
        top-k per query inside the kernel, one Q*k-row global reduce).
        Returns ``DataFrame[qid int, <id_col>, pq_score float]``;
        per-query rows match ``search_adc(..., rerank=0)``. Works for
        every codec sidecar kind. ``rerank > 0`` adds the batched
        exact-cosine refine (one id-IN re-read of the probe buckets,
        driver-tiny gather) and returns ``cosine`` instead of
        ``pq_score``."""
        from .pq import ivfadc_search_many

        self._pin_manifest(spark, None, None)
        if self._codec is None:
            raise RuntimeError(
                f"incremental ANN at {self.path} has no PQ codec pinned; "
                "create the store with codec= to enable search_adc_many"
            )
        vecs = self.vectors(spark)
        if rerank == 0:
            # byte-only scan: the float column never enters the plan
            vecs = vecs.drop(self._vec_col)
        return ivfadc_search_many(
            self._index, self._codec, vecs, queries, k=k,
            id_col=self._id_col, rerank=rerank,
            vec_col=self._vec_col if rerank > 0 else None,
        )
