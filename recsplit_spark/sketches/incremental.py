"""Incrementally-maintained per-key sketch state tables over an
append-only source (north rule: resumable builds with per-partition
lineage + metrics, extended to a table that GROWS between runs).

A 10^12-sequence corpus is not rebuilt nightly; it is appended to. The
sketch monoid makes maintenance incremental by construction: persist the
per-key state table (G keys x S specs rows, KB each — size independent of
corpus row count), and on each run scan ONLY the input files that were
never folded, then merge the new partials into the persisted table
(`MergeableSketch.merge_state_tables` semantics, multi-spec here). Each
update therefore costs one scan of the NEW data plus a (G x S)-row
states-not-rows merge, regardless of how large the already-folded corpus
is.

On Iceberg the "which files are new" question is answered by the table
format itself (incremental snapshot-range reads:
``spark.read.format("iceberg").option("start-snapshot-id", ...)`` — see
io.py); on plain parquet directories (this sandbox) this module keeps its
own processed-file manifest, which doubles as the lineage/metrics record
(file, generation, rows folded, run id, wall seconds).

Commit protocol (``store.py``): the new state table is written to
``<path>/state/gen=<g>`` FIRST, then the processed-file rows are appended
to ``<path>/lineage``. The committed generation is defined by the
lineage table, so a crash between the two writes leaves an orphaned
``gen`` directory that the next update ignores (its files still read as
unprocessed) and overwrites. The manifest pins (keys, spec names, sketch
fingerprints, columns, ngram feeds) at first commit.

Reference analogue: minperf processes key sets too large for one pass as
resumable chunked runs (LargeSetTest.java chunked 10^8 builds); the
incremental table is the same idea turned into a standing, growable
artifact.
"""

from __future__ import annotations

import time
import uuid

import numpy as np
import pandas as pd

from ..store import (
    break_lock,
    dir_exists,
    fs_for,
    has_data,
    pin_manifest,
    writer_lock,
)
from .base import MergeableSketch
from .checkpoint import _sketch_fingerprint
from .multi import SketchSpec, profile_by_key


def _canon_file(p: str) -> str:
    """Canonicalize a data-file URI so Hadoop listing output
    (``file:/root/x.parquet``, unescaped) and ``input_file_name()``
    output (``file:///root/x.parquet``, URI-escaped: a space lists as
    ``%20``) compare equal: normalize the local-scheme slashes and
    percent-decode both sides. (A file name containing a LITERAL
    percent-escape like ``%20`` decodes on the listing side only and
    would mis-pair — that pathological case costs an ``n_rows=0``
    lineage row, never a correctness error: the processed-file diff
    compares listing-side paths with themselves.) Schemes with a real
    authority (hdfs://nn:8020/..., s3a://bucket/...) pass through
    bar the decode."""
    from urllib.parse import unquote

    if p.startswith("file:"):
        p = "file:///" + p[5:].lstrip("/")
    return unquote(p)


def _lineage_match_key(p: str) -> str:
    """Scheme-insensitive identity used ONLY for the processed-file
    diff. Legacy lineage rows (pre-qualification ``update(files=...)``
    runs) recorded bare local paths (``/data/x.parquet``) while modern
    listings produce ``file:///data/x.parquet`` — the fold-vs-skip
    decision must treat those as the SAME file, or a later
    ``update(source=...)`` silently re-folds (double-counts) every
    legacy-recorded file. Lineage rows themselves keep whatever form
    they were written with; only the membership test strips the local
    scheme."""
    return p[7:] if p.startswith("file://") else p


def _qualify_input(spark, f: str, known: set) -> str:
    """Map a caller-supplied file path to its lineage identity: the
    plain ``_canon_file`` form if the lineage already recorded it that
    way (back-compat for states whose ``update(files=...)`` runs passed
    scheme-less paths), else the fully-qualified Hadoop URI
    (``file:///...``, ``hdfs://nn/...``) — the same form
    ``_list_data_files`` and ``input_file_name()`` produce, so a bare
    local path passed to ``forget()`` matches lineage rows written by
    ``--source`` runs instead of raising "not currently folded"."""
    c = _canon_file(f)
    if c in known:
        return c
    fs, p, _ = fs_for(spark, f)
    return _canon_file(fs.makeQualified(p).toString())


def _list_data_files_raw(spark, source: str) -> dict[str, str]:
    """Recursively list data files under ``source`` via the Hadoop
    FileSystem API (works for any scheme Spark can read), skipping
    hidden/commit-protocol entries (``_SUCCESS``, ``.crc`` ...).
    Returns ``{canonical lineage form -> RAW filesystem path}``: the
    canonical form (percent-decoded) is the lineage identity, but the
    READER must get the raw path — a file literally named
    ``a%20b.parquet`` decodes to ``a b.parquet``, which does not
    exist."""
    fs, root, _ = fs_for(spark, source)
    out: dict[str, str] = {}
    stack = [root]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                raw = st.getPath().toString()
                out[_canon_file(raw)] = raw
    return out


def _list_data_files(spark, source: str) -> list[str]:
    """Sorted canonical data-file list (see ``_list_data_files_raw``)."""
    return sorted(_list_data_files_raw(spark, source))


def merge_profile_tables(tables, keys, specs):
    """Merge ``profile_by_key``-shaped tables (keys... string, name
    string, state binary) with per-``name`` sketch dispatch — the
    multi-spec analogue of ``MergeableSketch.merge_state_tables``. One
    groupBy over G x S rows; associativity makes any grouping of input
    tables value-identical to a single build over the concatenated
    sources."""
    by_name = {s.name: s.sketch for s in specs}
    keys = list(keys)
    if not tables:
        raise ValueError("merge_profile_tables needs at least one table")
    df = tables[0]
    for t in tables[1:]:
        df = df.unionByName(t)
    group_cols = keys + ["name"]
    schema = ", ".join(f"{k} string" for k in group_cols) + ", state binary"

    def _final(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = by_name[pdf["name"].iloc[0]]
        state = None
        for b in pdf["state"]:
            s = sk.from_bytes(bytes(b))
            state = s if state is None else sk.merge(state, s)
        out = {k: [pdf[k].iloc[0]] for k in group_cols}
        out["state"] = [sk.to_bytes(state)]
        return pd.DataFrame(out)

    return df.groupBy(*group_cols).applyInPandas(_final, schema=schema)


def _subtract_profile_tables(committed, forgotten, keys, specs):
    """``committed - forgotten`` for all-LINEAR (count-min) profiles:
    per (keys..., name) the forgotten partial's counter matrix is
    subtracted from the committed state; keys whose counters empty out
    are dropped (matching what a survivor re-fold would produce). A
    partial that exceeds the committed counters means the file's
    CONTENT changed after it was folded — raises, advising
    ``forget(refold=True)``."""
    from pyspark.sql import functions as F

    by_name = {s.name: s.sketch for s in specs}
    keys = list(keys)
    group_cols = keys + ["name"]
    schema = ", ".join(f"{k} string" for k in group_cols) + ", state binary"
    both = committed.withColumn("__sign", F.lit(1)).unionByName(
        forgotten.withColumn("__sign", F.lit(-1))
    )

    def _sub(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = by_name[pdf["name"].iloc[0]]
        pos, neg = None, None
        for b, s in zip(pdf["state"], pdf["__sign"]):
            st = sk.from_bytes(bytes(b))
            if s > 0:
                pos = st if pos is None else sk.merge(pos, st)
            else:
                neg = st if neg is None else sk.merge(neg, st)
        empty = pd.DataFrame({c: [] for c in group_cols} | {"state": []})
        if pos is None:
            # a forgotten-file partial for a key the committed table
            # never saw: impossible when the file was actually folded
            raise ValueError(
                "forgotten-file partial for a key absent from the "
                "committed table — file content changed since it was "
                "folded; use forget(refold=True)"
            )
        d = pos if neg is None else pos - neg
        if neg is not None and (d < 0).any():
            raise ValueError(
                "forgotten-file partial exceeds the committed counters "
                "— file content changed since it was folded; use "
                "forget(refold=True)"
            )
        if sk.total(d) <= 0:
            return empty
        out = {k: [pdf[k].iloc[0]] for k in group_cols}
        out["state"] = [sk.to_bytes(d)]
        return pd.DataFrame(out)

    return both.groupBy(*group_cols).applyInPandas(_sub, schema=schema)


class IncrementalProfile:
    """A persisted, incrementally-updated per-key state table for a set
    of sketch specs (see module docstring)."""

    def __init__(self, specs: list[SketchSpec], keys, path: str) -> None:
        self.specs = list(specs)
        self.keys = list(keys)
        self.path = path
        if not self.keys:
            raise ValueError(
                "IncrementalProfile needs at least one group key; for a "
                "single global state use sketches.checkpoint."
                "CheckpointedBuild (waved resumable global fold)"
            )
        if not self.specs:
            raise ValueError("IncrementalProfile needs at least one spec")
        names = [s.name for s in self.specs]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate spec names: {sorted(names)}")

    # -- manifests -----------------------------------------------------------
    def _config_rows(self) -> list[tuple]:
        key_sig = ",".join(self.keys)
        return sorted(
            (
                key_sig,
                s.name,
                _sketch_fingerprint(s.sketch),
                s.col,
                int(s.ngram or 0),
            )
            for s in self.specs
        )

    def _pin_manifest(self, spark) -> None:
        rows = self._config_rows()
        pin_manifest(
            spark,
            f"{self.path}/manifest",
            "keys string, name string, fingerprint string, col string,"
            " ngram int",
            rows,
            # a path with committed work but no manifest must not be
            # silently adopted under the current config
            committed=lambda: self._committed_gen(spark) > 0
            or dir_exists(spark, f"{self.path}/state"),
            refuse=(
                f"incremental profile at {self.path} has committed "
                "generations but no readable manifest; re-run against "
                "a fresh path or restore the manifest"
            ),
            mismatch=lambda have, want: (
                "incremental profile manifest mismatch: committed config "
                f"{sorted(have)} != requested {want}; update with the "
                "original specs/keys or use a fresh path"
            ),
        )

    def _committed_gen(self, spark) -> int:
        from pyspark.sql import functions as F

        best = 0
        for tab in ("lineage", "forget_lineage"):
            if not has_data(spark, f"{self.path}/{tab}"):
                continue
            row = (
                spark.read.parquet(f"{self.path}/{tab}")
                .agg(F.max("gen").alias("g"))
                .collect()[0]
            )
            best = max(best, int(row["g"] or 0))
        return best

    # -- writer lock ---------------------------------------------------------
    def break_lock(self, spark) -> None:
        """Remove a stale writer lock left by a crashed update. Only
        safe when no other writer is actually running."""
        break_lock(spark, self.path)

    # -- update --------------------------------------------------------------
    def update(self, spark, source: str | None = None,
               files: list[str] | None = None) -> dict:
        """Fold every not-yet-processed data file into the state table.

        ``source`` is a directory to diff against the lineage manifest
        (recursive listing); ``files`` is an explicit list (the Iceberg
        snapshot-diff integration point — pass the files of a snapshot
        range). Returns ``{"gen", "new_files", "rows"}``; a no-op update
        (nothing new) leaves the committed generation untouched.

        Single-writer: a ``<path>/_lock`` file guards the whole
        read-fold-commit sequence (``store.writer_lock``); concurrent
        updates raise instead of silently losing a batch."""
        if (source is None) == (files is None):
            raise ValueError("pass exactly one of source= or files=")
        t0 = time.time()
        # lock BEFORE the manifest check: racing first-updates could
        # otherwise pin one config while the other commits gen 0 under a
        # different one (see store.writer_lock)
        with writer_lock(spark, self.path, "incremental profile"):
            self._pin_manifest(spark)
            return self._update_locked(spark, source, files, t0)

    def _update_locked(self, spark, source, files, t0) -> dict:
        from pyspark.sql import functions as F

        cur_gen = self._committed_gen(spark)
        # the folded set, not "every lineage file": a file forgotten via
        # forget() must re-fold if it is ever presented again
        done = self._folded_files(spark, cur_gen) if cur_gen > 0 else set()
        if files is not None:
            raw_for = {}
            for f in files:
                raw_for.setdefault(_qualify_input(spark, f, done), f)
            all_files = sorted(raw_for)
        else:
            raw_for = _list_data_files_raw(spark, source)
            all_files = sorted(raw_for)
        # membership via the scheme-insensitive key: legacy lineage rows
        # hold bare local paths, modern listings file:///... — a raw
        # comparison would re-fold (double-count) every legacy file
        done_keys = {_lineage_match_key(d) for d in done}
        new = [f for f in all_files if _lineage_match_key(f) not in done_keys]
        if not new:
            return {"gen": cur_gen, "new_files": 0, "rows": 0}

        # read the RAW paths (canonical forms are percent-decoded and a
        # literal %XX in a file name would PATH_NOT_FOUND); lineage rows
        # record the canonical identity
        df_new = spark.read.parquet(*[raw_for.get(f, f) for f in new])
        new_states = profile_by_key(df_new, self.keys, self.specs)
        if cur_gen > 0:
            cur = spark.read.parquet(f"{self.path}/state/gen={cur_gen}")
            merged = merge_profile_tables(
                [cur, new_states], self.keys, self.specs
            )
        else:
            merged = new_states
        gen = cur_gen + 1
        # state first, lineage second: the committed generation is
        # DEFINED by the lineage table, so a crash in between leaves an
        # orphaned gen dir whose files re-fold next run (and the orphan
        # is overwritten) — never a silently-missing or double-counted
        # batch. overwrite mode for the same reason as the checkpoint
        # wave commits.
        merged.write.mode("overwrite").parquet(f"{self.path}/state/gen={gen}")
        # per-file row counts: zero-data-column parquet scan (the
        # grouping column is metadata), #new_files tiny rows collected
        counts = {
            _canon_file(r["f"]): int(r["count"])
            for r in df_new.groupBy(F.input_file_name().alias("f"))
            .count()
            .collect()
        }
        run_id = f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
        wall = round(time.time() - t0, 3)
        spark.createDataFrame(
            [(f, gen, counts.get(f, 0), run_id, wall) for f in new],
            "file string, gen int, n_rows long, lineage string, wall_sec double",
        ).write.mode("append").parquet(f"{self.path}/lineage")
        return {"gen": gen, "new_files": len(new), "rows": sum(counts.values())}

    def vacuum(self, spark, keep: int = 1) -> list[int]:
        """Delete superseded generation directories, keeping the
        committed one plus ``keep - 1`` predecessors (every update
        writes a full new G x S table, so without vacuuming storage
        grows by one table copy per update). Returns the deleted
        generation numbers. Takes the writer lock — vacuuming while an
        update is mid-commit could delete the generation it is merging
        from."""
        if keep < 1:
            raise ValueError("keep must be >= 1")
        with writer_lock(spark, self.path, "incremental profile"):
            cur = self._committed_gen(spark)
            cutoff = cur - (keep - 1)
            fs, _, jvm = fs_for(spark, self.path)
            dropped = []
            state_root = jvm.org.apache.hadoop.fs.Path(f"{self.path}/state")
            if not fs.exists(state_root):
                return dropped
            for st in fs.listStatus(state_root):
                name = st.getPath().getName()
                if not name.startswith("gen="):
                    continue
                g = int(name[4:])
                # orphans ABOVE the committed gen are in-progress or
                # crash leftovers; the commit protocol owns them
                if g < cutoff:
                    fs.delete(st.getPath(), True)
                    dropped.append(g)
            return sorted(dropped)

    # -- forget (right-to-be-forgotten, file granularity) ---------------------
    def _folded_files(self, spark, g: int) -> set[str]:
        """Files whose rows are folded into the state table AS OF
        generation ``g``: a file counts iff its latest lineage event at
        gen <= g is a fold, not a forget (files can be forgotten and
        later re-folded, so per-file event ORDER decides)."""
        if not has_data(spark, f"{self.path}/lineage"):
            return set()
        last_fold: dict[str, int] = {}
        for r in (
            spark.read.parquet(f"{self.path}/lineage")
            .select("file", "gen")
            .collect()
        ):
            if int(r["gen"]) <= g:
                f = r["file"]
                last_fold[f] = max(last_fold.get(f, 0), int(r["gen"]))
        last_forget: dict[str, int] = {}
        if has_data(spark, f"{self.path}/forget_lineage"):
            for r in (
                spark.read.parquet(f"{self.path}/forget_lineage")
                .select("file", "gen")
                .collect()
            ):
                if int(r["gen"]) <= g:
                    f = r["file"]
                    last_forget[f] = max(
                        last_forget.get(f, 0), int(r["gen"])
                    )
        return {
            f for f, fg in last_fold.items() if fg > last_forget.get(f, 0)
        }

    def _forget_gens(self, spark) -> list[int]:
        """Distinct generations committed by forget(), ascending."""
        if not has_data(spark, f"{self.path}/forget_lineage"):
            return []
        return sorted(
            {
                int(r["gen"])
                for r in spark.read.parquet(
                    f"{self.path}/forget_lineage"
                )
                .select("gen")
                .distinct()
                .collect()
            }
        )

    def forget_lineage(self, spark):
        """Forget-event lineage: DataFrame[file, gen, lineage (run id),
        wall_sec] — empty-shaped error if nothing was ever forgotten."""
        return spark.read.parquet(f"{self.path}/forget_lineage")

    def forget(self, spark, files: list[str], refold: bool = False) -> dict:
        """Right-to-be-forgotten at FILE granularity — the unit the
        lineage tracks (id-granularity deletes live on IncrementalDedup
        / IncrementalANN; a folded sketch state cannot un-fold
        individual rows). Removes previously-folded files from the
        committed table and commits the result as a new generation.

        Two paths, picked automatically (``refold=True`` forces the
        rescan):

        * **linear subtraction** — when every spec is a CountMinSketch
          AND the forgotten files are still readable: one scan of ONLY
          the forgotten files, whose counter matrices are subtracted
          from the committed states. CMS is linear, so
          ``committed - forgotten == a fresh fold of the survivors``
          exactly (byte-identical: serialization is a pure function of
          the counter matrix); keys whose counters empty out are
          dropped, matching the rebuild. This is the O(forgotten) path
          — at 10^6 folded files, forgetting 3 never rescans the
          corpus. The normal deletion workflow hits it: state must stop
          reflecting the files BEFORE they are physically deleted.
        * **survivor re-fold** — any other profile (HLL / theta / MG /
          KLL / t-digest states are not subtractable): one scan of the
          surviving lineage files. The honest cost; there is no
          sub-linear forget for non-linear sketches.

        Commit protocol mirrors ``update``: state gen dir FIRST, then
        the forget-lineage rows under ``<path>/forget_lineage`` — the
        committed generation is defined by the union of both lineage
        tables, so a crash in between leaves an ignorable, overwritten
        orphan. Forgotten file PATHS stay recorded (metadata, not
        content — required to order per-file events); ``update`` treats
        a re-presented forgotten file as new and re-folds it.

        Generation algebra across a forget: ``generation_delta`` /
        ``cms_generation_delta`` / ``generation_sample_added`` refuse
        ranges that straddle a forget generation (states stop being
        monotone across it), and ``heavy_ngrams`` resolves over exactly
        the files folded AS OF its generation. Pre-forget generations
        still time-travel via ``states(gen=...)`` until vacuumed."""
        from pyspark.sql import functions as F

        from .cms import CountMinSketch

        t0 = time.time()
        with writer_lock(spark, self.path, "incremental profile"):
            self._pin_manifest(spark)
            cur = self._committed_gen(spark)
            if cur == 0:
                raise ValueError(
                    f"no committed updates under {self.path}; nothing "
                    "to forget"
                )
            if not files:
                raise ValueError("pass at least one file to forget")
            folded = self._folded_files(spark, cur)
            want = sorted({_qualify_input(spark, f, folded) for f in files})
            unknown = [f for f in want if f not in folded]
            if unknown:
                raise ValueError(
                    "not currently folded (nothing to forget): "
                    f"{unknown}"
                )
            survivors = sorted(folded - set(want))
            all_cms = all(
                isinstance(s.sketch, CountMinSketch) for s in self.specs
            )

            def _readable(f: str) -> bool:
                fs, p, _ = fs_for(spark, f)
                return bool(fs.exists(p))

            if not refold and all_cms and all(_readable(f) for f in want):
                mode = "subtract"
                src = spark.read.parquet(*want)
                # content-drift guard: subtraction equals a survivor
                # re-fold only if the forgotten files still hold exactly
                # the rows that were folded. Grown content trips the
                # negative-counter check, but SHRUNK content subtracts
                # cleanly and silently leaves the missing rows' counts
                # attributed to nothing — compare each file's current
                # row count against the n_rows its latest fold event
                # recorded (cheap: metadata-only count + tiny collect)
                # and refuse on any mismatch.
                cur_counts = {
                    _lineage_match_key(_canon_file(r["f"])): int(r["count"])
                    for r in src.groupBy(
                        F.input_file_name().alias("f")
                    ).count().collect()
                }
                recorded: dict[str, int] = {}
                for r in (
                    spark.read.parquet(f"{self.path}/lineage")
                    .select("file", "gen", "n_rows")
                    .collect()
                ):
                    k = _lineage_match_key(r["file"])
                    g = int(r["gen"])
                    if g <= cur and (
                        k not in recorded or g > recorded[k][0]
                    ):
                        recorded[k] = (g, int(r["n_rows"]))
                drift = {
                    f: (recorded[_lineage_match_key(f)][1],
                        cur_counts.get(_lineage_match_key(f), 0))
                    for f in want
                    if _lineage_match_key(f) in recorded
                    and recorded[_lineage_match_key(f)][1]
                    != cur_counts.get(_lineage_match_key(f), 0)
                }
                if drift:
                    raise ValueError(
                        "forgotten file content changed since it was "
                        f"folded (recorded vs current row counts: {drift}); "
                        "subtraction would commit a wrong state — pass "
                        "refold=True to rebuild from the survivors"
                    )
                gone = profile_by_key(src, self.keys, self.specs)
                new_tab = _subtract_profile_tables(
                    self.states(spark), gone, self.keys, self.specs
                )
            else:
                mode = "refold"
                if survivors:
                    new_tab = profile_by_key(
                        spark.read.parquet(*survivors),
                        self.keys,
                        self.specs,
                    )
                else:
                    schema = (
                        ", ".join(f"{k} string" for k in self.keys)
                        + ", name string, state binary"
                    )
                    new_tab = spark.createDataFrame([], schema)
            gen = cur + 1
            # state first, forget-lineage second: same crash-window
            # contract as _update_locked
            new_tab.write.mode("overwrite").parquet(
                f"{self.path}/state/gen={gen}"
            )
            run_id = f"forget-{int(time.time())}-{uuid.uuid4().hex[:8]}"
            wall = round(time.time() - t0, 3)
            spark.createDataFrame(
                [(f, gen, run_id, wall) for f in want],
                "file string, gen int, lineage string, wall_sec double",
            ).write.mode("append").parquet(f"{self.path}/forget_lineage")
            return {
                "gen": gen,
                "forgotten_files": len(want),
                "mode": mode,
            }

    # -- reads ---------------------------------------------------------------
    def generations(self, spark) -> list[int]:
        """Readable (non-vacuumed, committed) generation numbers,
        ascending — the time-travel index for ``states(gen=...)``.
        Excludes an orphaned in-progress/crashed gen above the committed
        one."""
        committed = self._committed_gen(spark)
        if committed == 0 or not dir_exists(spark, f"{self.path}/state"):
            return []
        fs, _, jvm = fs_for(spark, self.path)
        root = jvm.org.apache.hadoop.fs.Path(f"{self.path}/state")
        gens = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("gen="):
                g = int(name[4:])
                if g <= committed:
                    gens.append(g)
        return sorted(gens)

    def states(self, spark, gen: int | None = None):
        """State table: DataFrame[keys... string, name string, state
        binary]. ``gen=None`` reads the committed (latest) generation;
        an explicit ``gen`` time-travels to that historical snapshot —
        each generation is the complete table as of its update, so old
        generations answer "what did the profile say after batch N"
        until ``vacuum`` reclaims them (``generations()`` lists what is
        still readable)."""
        committed = self._committed_gen(spark)
        if committed == 0:
            raise ValueError(f"no committed updates under {self.path}")
        if gen is None:
            gen = committed
        elif gen < 1 or gen > committed:
            raise ValueError(
                f"generation {gen} out of range [1, {committed}]"
            )
        path = f"{self.path}/state/gen={gen}"
        if not dir_exists(spark, path):
            raise ValueError(
                f"generation {gen} was vacuumed (readable: "
                f"{self.generations(spark)})"
            )
        return spark.read.parquet(path)

    def estimates(self, spark, names=None, est_col: str = "estimate",
                  gen: int | None = None):
        """Scalar estimates from the committed table: DataFrame[keys...,
        name, est_col double]. ``names=None`` covers every spec whose
        sketch has a scalar estimate; explicitly requesting a spec
        without one (CMS/Bloom — point-query sketches) raises (fetch
        their states via ``states``). ``gen`` time-travels like
        ``states``."""
        have = {
            s.name: s.sketch
            for s in self.specs
            if type(s.sketch).estimate is not MergeableSketch.estimate
        }
        if names is None:
            names = sorted(have)
        for nm in names:
            if nm not in have:
                sk = next((s for s in self.specs if s.name == nm), None)
                if sk is None:
                    raise ValueError(f"unknown spec name {nm!r}")
                raise ValueError(
                    f"spec {nm!r}: {type(sk.sketch).__name__} has no "
                    "scalar estimate — read raw states via states()"
                )
        by_name = {nm: have[nm] for nm in names}
        keys = self.keys
        schema = (
            ", ".join(f"{k} string" for k in keys)
            + f", name string, {est_col} double"
        )

        def _est(batches):
            for pdf in batches:
                out = {k: pdf[k] for k in keys}
                out["name"] = pdf["name"]
                out[est_col] = [
                    float(
                        by_name[n].estimate(by_name[n].from_bytes(bytes(b)))
                    )
                    for n, b in zip(pdf["name"], pdf["state"])
                ]
                yield pd.DataFrame(out)

        from pyspark.sql import functions as F

        src = self.states(spark, gen=gen).filter(
            F.col("name").isin(list(names))
        )
        return src.mapInPandas(_est, schema=schema)

    def lineage(self, spark):
        """Processed-file lineage + metrics: DataFrame[file, gen,
        n_rows, lineage (run id), wall_sec]."""
        return spark.read.parquet(f"{self.path}/lineage")

    def _spec_for(self, name: str, required_type=None, what: str = ""):
        """Spec lookup shared by the generation-analytics methods,
        optionally enforcing the sketch type the operation's algebra
        needs."""
        spec = next((s for s in self.specs if s.name == name), None)
        if spec is None:
            raise ValueError(f"unknown spec name {name!r}")
        if required_type is not None and not isinstance(
            spec.sketch, required_type
        ):
            raise ValueError(
                f"{what or 'this operation'} needs a "
                f"{required_type.__name__} spec; {name!r} is "
                f"{type(spec.sketch).__name__}"
            )
        return spec

    def _resolve_gens(self, spark, gen_old: int,
                      gen_new: int | None) -> int:
        """``gen_new=None`` -> committed; the pair must be ordered (all
        generation algebra here relies on states being monotone under
        appends, i.e. the newer generation containing the older)."""
        g_new = (
            gen_new if gen_new is not None else self._committed_gen(spark)
        )
        if gen_old > g_new:
            raise ValueError(
                f"gen_old {gen_old} is after gen_new {g_new}; pass the "
                "older generation first"
            )
        straddled = [
            g for g in self._forget_gens(spark) if gen_old < g <= g_new
        ]
        if straddled:
            raise ValueError(
                f"generation range ({gen_old}, {g_new}] straddles "
                f"forget generation(s) {straddled}: states are not "
                "monotone across a forget, so generation algebra "
                "(deltas / added samples) is undefined over it"
            )
        return g_new

    def generation_delta(self, spark, name: str, gen_old: int,
                         gen_new: int | None = None):
        """What changed between two committed generations, per key, for a
        THETA spec: DataFrame[keys..., old_est, new_est, union_est,
        added_est, jaccard] where ``added_est`` estimates the distinct
        values present in ``gen_new`` but not ``gen_old`` (theta
        difference) — e.g. "how many NEW distinct 5-grams did yesterday's
        batches contribute, per source". Theta states are monotone under
        appends, so this is exact set algebra on the retained bottom-k
        sets, never a rescan. Keys appearing only in the newer generation
        report old_est 0. Join is per-key states, computed in-kernel —
        nothing grows with the corpus, only with G."""
        from pyspark.sql import functions as F

        from .theta import ThetaSketch

        sk = self._spec_for(
            name, ThetaSketch, "generation_delta (set algebra)"
        ).sketch
        gen_new = self._resolve_gens(spark, gen_old, gen_new)
        keys = self.keys
        old = (
            self.states(spark, gen=gen_old)
            .filter(F.col("name") == name)
            .select(*keys, F.col("state").alias("__old"))
        )
        new = (
            self.states(spark, gen=gen_new)
            .filter(F.col("name") == name)
            .select(*keys, F.col("state").alias("__new"))
        )
        joined = old.join(new, keys, "full_outer")
        schema = (
            ", ".join(f"{k} string" for k in keys)
            + ", old_est double, new_est double, union_est double,"
            " added_est double, jaccard double"
        )

        def _delta(batches):
            for pdf in batches:
                out = {k: pdf[k] for k in keys}
                cols = {c: [] for c in (
                    "old_est", "new_est", "union_est", "added_est", "jaccard"
                )}
                for ob, nb in zip(pdf["__old"], pdf["__new"]):
                    a = sk.from_bytes(bytes(ob)) if ob is not None else sk.new_state()
                    b = sk.from_bytes(bytes(nb)) if nb is not None else sk.new_state()
                    cols["old_est"].append(float(sk.estimate(a)))
                    cols["new_est"].append(float(sk.estimate(b)))
                    cols["union_est"].append(float(sk.union_estimate(a, b)))
                    cols["added_est"].append(float(sk.difference_estimate(b, a)))
                    cols["jaccard"].append(float(sk.jaccard_estimate(a, b)))
                out.update(cols)
                yield pd.DataFrame(out)

        return joined.mapInPandas(_delta, schema=schema)

    def generation_sample_added(self, spark, name: str, gen_old: int,
                                gen_new: int | None = None):
        """Uniformly sampled distinct VALUES added between two committed
        generations of a theta spec, resolved — DataFrame[keys...,
        spec.col] (or [keys..., gram array<int>] for ngram feeds).

        KMV set algebra: a hash retained in the newer bottom-k set but
        absent from the older one, below BOTH sampling thresholds
        (``_restricted``'s exact uint64 cut), is PROVABLY a distinct
        value the appended batches introduced — had it existed before,
        the older sketch would have retained it. Those hashes are a
        uniform sample (rate = the shared theta) of the added distinct
        universe. Resolution then scans ONLY the lineage files of
        generations (gen_old, gen_new] — every added value must occur
        there — via ``theta.resolve_hash_values``: one narrow distinct
        of the resolve column plus a broadcast hash join (no wide or
        sort-merge shuffle), driver footprint G x k, the corpus-so-far
        never re-read. "Pull a QA sample of the NEW documents / n-grams
        yesterday's batches introduced, per source" from state tables
        plus one scan of the new files."""
        from pyspark.sql import functions as F

        from .theta import ThetaSketch

        spec = self._spec_for(name, ThetaSketch, "generation_sample_added")
        sk = spec.sketch
        g_new = self._resolve_gens(spark, gen_old, gen_new)
        keys = self.keys
        old = {
            tuple(r[k] for k in keys): bytes(r["state"])
            for r in self.states(spark, gen=gen_old)
            .filter(F.col("name") == name)
            .collect()
        }
        out: list[tuple] = []
        for r in self.states(spark, gen=g_new).filter(
            F.col("name") == name
        ).collect():
            kt = tuple(r[k] for k in keys)
            a = (
                sk.from_bytes(old[kt]) if kt in old else sk.new_state()
            )
            b = sk.from_bytes(bytes(r["state"]))
            ra, rb, _theta = sk._restricted(a, b)
            added = np.setdiff1d(rb, ra)
            out.extend(
                kt + (h,) for h in added.view(np.int64).tolist()
            )
        hcol = "gram_hash" if spec.ngram else "h"
        hashes_df = spark.createDataFrame(
            out, ", ".join(f"{k} string" for k in keys) + f", {hcol} long"
        )
        files = sorted(
            r["file"]
            for r in self.lineage(spark)
            .filter((F.col("gen") > gen_old) & (F.col("gen") <= g_new))
            .select("file")
            .collect()
        )
        if spec.ngram and (not out or not files):
            return spark.createDataFrame(
                [],
                ", ".join(f"{k} string" for k in keys)
                + ", gram array<int>",
            )
        if not out or not files:
            # nothing added (or nothing appended): don't scan the
            # appended files just to produce 0 rows — one limit(0) read
            # of any committed file supplies the column TYPES
            anyf = (
                self.lineage(spark).select("file").limit(1).collect()[0]["file"]
            )
            corpus = spark.read.parquet(anyf).limit(0)
        else:
            corpus = spark.read.parquet(*files)
        if spec.ngram:
            from .multi import _resolve_gram_hashes

            tops = np.sort(
                np.unique(np.array([t[-1] for t in out], dtype=np.int64))
            )
            gram_map = _resolve_gram_hashes(
                corpus, spec.col, spec.ngram, tops
            )
            return (
                hashes_df.join(F.broadcast(gram_map), "gram_hash")
                .select(*keys, "gram")
            )
        from .theta import resolve_hash_values

        return resolve_hash_values(corpus, spec.col, hashes_df, keys)

    def cms_generation_delta(self, spark, name: str, items, gen_old: int,
                             gen_new: int | None = None):
        """Per-key frequency GROWTH of specific items between two
        committed generations of a count-min spec: DataFrame[keys...,
        item string, old_est, new_est, added_est, added_bound long].

        CMS is a linear sketch — every update is a counter add — so the
        elementwise difference of the two persisted counter matrices is
        EXACTLY the CMS of the rows appended between the generations
        (states are monotone under appends). ``added_est`` therefore
        carries the standard one-sided CMS guarantee against the
        appended data alone: ``added_true <= added_est <= added_true +
        eps * added_total``, with ``eps * added_total`` reported per key
        as ``added_bound``. "How much did token X's count grow per
        source since batch N" from the state tables alone — no rescan.

        Scalar specs hash items by the cross-type contract
        (``xxhash64(cast(value AS string))`` — pass each item in its
        string form, computed JVM-side here); ngram specs take token
        lists/tuples and hash via the shared window-hash contract
        (``item`` is then the comma-joined token gram)."""
        from pyspark.sql import functions as F

        from .cms import CountMinSketch

        spec = self._spec_for(
            name, CountMinSketch, "cms_generation_delta (linear counters)"
        )
        sk = spec.sketch
        items = list(items)
        if not items:
            raise ValueError("pass at least one item")
        g_new = self._resolve_gens(spark, gen_old, gen_new)
        if spec.ngram:
            from .multi import token_ngram_hashes

            labels, hs = [], []
            for g in items:
                g = list(g)
                if len(g) != spec.ngram:
                    raise ValueError(
                        f"gram {g} has {len(g)} tokens; spec {name!r} "
                        f"hashes {spec.ngram}-token windows"
                    )
                labels.append(",".join(str(int(t)) for t in g))
                hs.append(int(token_ngram_hashes(g, spec.ngram)[0]))
            hashes = np.array(hs, dtype=np.int64)
        else:
            # cast AND hash via the engine itself, so the item's string
            # form is Spark's CAST (the fold-side cross-type contract),
            # never Python str() — str(True)/'True' vs CAST 'true', or
            # float repr drift, would silently query the wrong cells.
            # One ROW per item (items must share a type), not one column
            # per item: thousands of items stay a constant-width plan.
            got = {
                r["i"]: r
                for r in spark.createDataFrame(
                    [(i, v) for i, v in enumerate(items)], ["i", "v"]
                )
                .select(
                    "i",
                    F.col("v").cast("string").alias("s"),
                    F.xxhash64(F.col("v").cast("string")).alias("h"),
                )
                .collect()
            }
            labels = [got[i]["s"] for i in range(len(items))]
            hashes = np.array(
                [got[i]["h"] for i in range(len(items))], dtype=np.int64
            )
        keys = self.keys
        old = (
            self.states(spark, gen=gen_old)
            .filter(F.col("name") == name)
            .select(*keys, F.col("state").alias("__old"))
        )
        new = (
            self.states(spark, gen=g_new)
            .filter(F.col("name") == name)
            .select(*keys, F.col("state").alias("__new"))
        )
        joined = old.join(new, keys, "full_outer")
        schema = (
            ", ".join(f"{k} string" for k in keys)
            + ", item string, old_est long, new_est long,"
            " added_est long, added_bound long"
        )
        m = len(items)

        def _delta(batches):
            for pdf in batches:
                out = {k: np.repeat(pdf[k].to_numpy(), m) for k in keys}
                cols = {c: [] for c in (
                    "old_est", "new_est", "added_est", "added_bound"
                )}
                lab = []
                for ob, nb in zip(pdf["__old"], pdf["__new"]):
                    a = (
                        sk.from_bytes(bytes(ob))
                        if ob is not None
                        else sk.new_state()
                    )
                    b = (
                        sk.from_bytes(bytes(nb))
                        if nb is not None
                        else sk.new_state()
                    )
                    d = b - a
                    bound = int(np.ceil(sk.eps * sk.total(d)))
                    cols["old_est"].extend(
                        sk.query_hashes(a, hashes).tolist()
                    )
                    cols["new_est"].extend(
                        sk.query_hashes(b, hashes).tolist()
                    )
                    cols["added_est"].extend(
                        sk.query_hashes(d, hashes).tolist()
                    )
                    cols["added_bound"].extend([bound] * m)
                    lab.extend(labels)
                out["item"] = lab
                out.update(cols)
                yield pd.DataFrame(out)

        return joined.mapInPandas(_delta, schema=schema)

    def heavy_ngrams(self, spark, name: str, top: int = 100,
                     gen: int | None = None):
        """Per-key heaviest token n-grams AS OF a committed generation,
        WITHOUT refolding anything: DataFrame[keys..., gram_hash long,
        gram array<int>, count_est long, max_undercount long], heaviest
        first per key.

        The spec must be a Misra-Gries sketch with an ``ngram`` feed.
        The persisted state table already holds every group's certified
        heavy-gram hashes — each nightly ``update`` kept it current at
        the cost of scanning only the new files — so the only work here
        is the resolve: one scan over EXACTLY the lineage-recorded files
        of generations <= ``gen`` (the data the states were folded from,
        by construction) maps the unioned top hashes back to token
        grams. At 10^12 sequences that is one read of the corpus-so-far
        with a broadcast hash-set filter — no shuffle, no state rebuild;
        the driver holds G x k MG entries (~64 KB/group at k=4096).
        ``gen`` time-travels exactly like ``states(gen=...)``: "what
        were the heavy grams after batch N"."""
        from pyspark.sql import functions as F

        from .mg import MisraGries
        from .multi import heavy_ngrams_from_states

        spec = self._spec_for(name, MisraGries, "heavy_ngrams")
        if not spec.ngram:
            raise ValueError(
                f"heavy_ngrams needs an ngram feed (SketchSpec(..., "
                f"ngram=n)); spec {name!r} folds scalar items"
            )
        g = gen if gen is not None else self._committed_gen(spark)
        state_rows = (
            self.states(spark, gen=g)
            .filter(F.col("name") == name)
            .collect()
        )
        # exactly the files FOLDED as of g (forgotten files excluded —
        # their grams left the rebuilt/subtracted states, so they must
        # not re-enter via the resolve scan either)
        files = sorted(self._folded_files(spark, g))
        if files:
            corpus = spark.read.parquet(*files)
        else:
            # everything forgotten: states are empty, the resolve scan
            # never runs — any DataFrame supplies the session
            corpus = spark.range(1)
        return heavy_ngrams_from_states(
            corpus, spec.col, spec.ngram, state_rows, self.keys,
            spec.sketch, top,
        )
