"""Resumable batch sketch builds (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

A 10^12-row sketch fold is a single scan; if the driver or cluster dies
mid-job, Spark's all-or-nothing job commit loses everything. This module
splits the fold into ``waves`` independent jobs, each committing its
partial states (one per task, with the rows-folded count) to
``<path>/states/wave=<w>`` parquet plus a lineage/metrics row (rows
folded, states written, wall seconds, run id) to ``<path>/metrics``. A
crash loses at most one uncommitted wave — parquet job commit is atomic,
so a half-written wave leaves no visible files and no metrics row, and
the re-run redoes exactly that wave. Re-running with everything
committed only re-merges (idempotent). The final merge is
order-independent, so a resumed result is byte-identical to an
uninterrupted build for exactly-mergeable sketches (HLL, CMS, Bloom,
theta) and bound-identical for the compacting ones (KLL, t-digest, MG).

Rows are routed to waves by ``pmod(xxhash64(col, WAVE_SALT), waves)`` — a
deterministic function of the DATA, not of partition layout, so resume is
correct even if the source re-splits differently (parquet re-read with
other maxPartitionBytes, added executors, ...). The cost is ``waves``
scans of the single projected input column (parquet column pruning keeps
each scan cheap relative to losing a multi-hour job; pick waves by how
much re-work a crash may cost, like blocked.py's checkpoint_waves).

The same pattern as the MPHF side (`mphf.RecSplitBuilder._run_with_checkpoint`,
`blocked.py` waved block commits), applied to the sketch side. Reference
analogue: minperf's chunked multi-pass processing of key sets too large
to hold (`LargeSetTest.java` chunked 10^8 runs).
"""

from __future__ import annotations

import time

import pandas as pd

from ..store import has_data, pin_manifest, read_lineage_rows
from .base import MergeableSketch

#: fixed salt decorrelating the wave router from every sketch's own hashing
WAVE_SALT = 0x5157A17E


def _wave_expr(col: str, waves: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(col).cast("string"), F.lit(WAVE_SALT)), F.lit(waves))


#: per-wave lineage + metrics row, appended after the wave's states
_METRICS_SCHEMA = (
    "wave int, n_rows long, n_states long, lineage string, wall_sec double"
)


def _committed_waves(spark, path: str) -> set[int]:
    """Waves with a metrics row — the committed set (``store.py``)."""
    rows = read_lineage_rows(
        spark, path, "metrics", "wave", schema=_METRICS_SCHEMA
    )
    return {int(r["wave"]) for r in rows}


def _sketch_fingerprint(sk: MergeableSketch) -> str:
    """Config fingerprint: type name + hex of the serialized EMPTY state.

    Every sketch's serialization header carries its configuration (magic +
    k/p/width/depth/...; ``from_bytes`` raises on mismatch), so the empty
    state is a stable digest of (sketch type, parameters) — two sketches
    whose states may NOT be folded together fingerprint differently. The
    bytes are sha256'd because an empty Bloom/CMS state is table-sized."""
    import hashlib

    digest = hashlib.sha256(sk.to_bytes(sk.new_state())).hexdigest()
    return f"{type(sk).__name__}:{digest}"


class CheckpointedBuild:
    """Waved, resumable fold of a DataFrame column into one sketch state."""

    def __init__(self, sketch: MergeableSketch, waves: int = 8) -> None:
        if waves < 1:
            raise ValueError("waves must be >= 1")
        self.sketch = sketch
        self.waves = waves

    def run(self, df, col: str, path: str, ngram: int | None = None,
            _stop_after: int | None = None):
        """Fold df[col]; commit per-wave states+metrics under ``path``;
        return the merged state. Re-running with the same path resumes.
        ``ngram=n`` feeds ALL n-token window hashes of an ``array<int>``
        column instead of the scalar (the shared window-hash contract,
        sketches/multi.series_window_hashes); wave membership stays a
        function of the raw column value, and the manifest pins ``ngram``
        so a resume can't mix scalar and window-hash states (they merge
        cleanly but mean different things). ``_stop_after`` aborts after
        that many wave commits (crash simulation for the resume tests)
        and returns None."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        sk = self.sketch
        sk._check_ngram(ngram)
        self._pin_manifest(spark, path, ngram)
        done = _committed_waves(spark, path)
        run_id = f"run-{int(time.time())}"
        committed = 0
        for w in range(self.waves):
            if w in done:
                continue
            t0 = time.time()
            wave_rows = df.filter(_wave_expr(col, self.waves) == w)
            if ngram is None:
                src = wave_rows.select(sk._input_expr(col))
            else:
                src = wave_rows.select(F.col(col).alias("__arr"))

            def _fold(batches):
                from .multi import series_window_hashes

                st, n = sk.new_state(), 0
                for pdf in batches:
                    n += len(pdf)
                    if ngram is None:
                        sk.update(st, pdf["__in"].to_numpy())
                    else:
                        sk.update(st, series_window_hashes(pdf["__arr"], ngram))
                yield pd.DataFrame({"state": [sk.to_bytes(st)], "n_rows": [n]})

            wave_dir = f"{path}/states/wave={w}"
            # overwrite, not append: a crash in the window between the
            # states write and the metrics write leaves a committed wave
            # dir with no metrics row; the resume re-folds that wave and
            # must REPLACE the orphaned states — an append would double
            # every count in linear-merge sketches (CMS, MG, KLL)
            src.mapInPandas(_fold, schema="state binary, n_rows long").write.mode(
                "overwrite"
            ).parquet(wave_dir)
            stats = (
                spark.read.parquet(wave_dir)
                .agg(
                    F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n"),
                    F.count("*").alias("s"),
                )
                .collect()[0]
            )
            spark.createDataFrame(
                [
                    (
                        w,
                        int(stats["n"]),
                        int(stats["s"]),
                        run_id,
                        round(time.time() - t0, 3),
                    )
                ],
                _METRICS_SCHEMA,
            ).write.mode("append").parquet(f"{path}/metrics")
            committed += 1
            if _stop_after is not None and committed >= _stop_after:
                return None  # simulated crash: waves committed so far persist
        return self.merged_state(spark, path)

    def _pin_manifest(self, spark, path: str, ngram: int | None) -> None:
        """Pin (waves, sketch fingerprint, ngram feed) at first commit;
        raise on resume mismatch.

        Wave membership is ``pmod(hash, waves)`` — a function of the DATA
        and of ``waves`` — so resuming an 8-wave checkpoint with waves=4
        would re-index wave membership: wave dirs that "look done" cover
        DIFFERENT row subsets, and the fold would silently drop or
        double-count rows for linear-merge sketches (CMS/MG/KLL). Same for
        a changed sketch config: states/wave=* would be folded into an
        incompatible (or worse, compatible-looking) state. Both are user-
        plausible re-runs (the CLI exposes --waves), so they must fail
        loudly, not proceed. A path with committed waves but no manifest
        (pre-manifest checkpoint, or a lost manifest) is refused; checked
        against BOTH the metrics and the states dirs, so losing
        metrics+manifest while states/wave=* survive is refused too.
        Pre-ngram manifests lack the ``ngram`` column: those checkpoints
        were scalar-feed builds, so they pin ngram=None."""
        fp = _sketch_fingerprint(self.sketch)
        pin_manifest(
            spark,
            f"{path}/manifest",
            "waves int, fingerprint string, ngram int",
            [(int(self.waves), fp, int(ngram or 0))],
            committed=lambda: has_data(spark, f"{path}/metrics")
            or has_data(spark, f"{path}/states"),
            refuse=(
                f"checkpoint at {path} has committed waves but no "
                "readable manifest (pre-manifest checkpoint or corrupt "
                "manifest); re-run against a fresh path, or restore the "
                "manifest recording the original waves + sketch config"
            ),
            mismatch=lambda have, _want: (
                "checkpoint manifest mismatch: committed build used "
                f"waves={have[0][0]} fingerprint={have[0][1]} "
                f"ngram={have[0][2] or None}, resume requested "
                f"waves={self.waves} fingerprint={fp} ngram={ngram}; "
                "resume with the original settings or use a fresh path"
            ),
            defaults={"ngram": 0},
        )

    def merged_state(self, spark, path: str):
        """Merge every committed wave's states under ``path`` (order-
        independent). Wave dirs without a metrics row are crash orphans:
        invisible here, replaced by the next ``run``."""
        sk = self.sketch
        waves = sorted(_committed_waves(spark, path))
        if not waves:
            raise ValueError(f"no committed waves under {path}")
        states = spark.read.parquet(
            *[f"{path}/states/wave={w}" for w in waves]
        )

        def _pre(batches):
            st = None
            for pdf in batches:
                for b in pdf["state"]:
                    s = sk.from_bytes(bytes(b))
                    st = s if st is None else sk.merge(st, s)
            if st is not None:
                yield pd.DataFrame({"state": [sk.to_bytes(st)]})

        rows = states.select("state").mapInPandas(_pre, schema="state binary").collect()
        out = sk.new_state()
        for r in rows:
            out = sk.merge(out, sk.from_bytes(bytes(r["state"])))
        return out

    def metrics(self, spark, path: str):
        """Per-wave lineage + metrics DataFrame (wave, n_rows, n_states,
        lineage, wall_sec)."""
        return spark.read.parquet(f"{path}/metrics")
