"""The commit protocol shared by every resumable or appendable structure.

Six structures persist work under a directory and must survive a crash
at any point: ``RecSplitBuilder`` checkpoints (``mphf.py``),
``CheckpointedBuild`` (``sketches/checkpoint.py``), ``IncrementalProfile``
(``sketches/incremental.py``), ``IncrementalMPHF``, ``IncrementalDedup``
and ``IncrementalANN``. They follow one protocol, implemented here once:

1. **Manifest pin** (``pin_manifest``). A config tuple is written at the
   first commit and compared on every later open; a mismatch raises,
   never adapts (state folded under one config must not be extended under
   another — count checks pass while the answers silently lie). "First
   run" is decided by whether the manifest DIRECTORY exists, never by a
   read failure: a failed read of an existing manifest propagates instead
   of re-pinning the path. A path with committed work but no manifest is
   refused rather than adopted.
2. **Payload first, lineage second.** Each structure writes its payload
   (state table, generation dir, wave dir) and only then appends the
   lineage/metrics row. Parquet job commit is atomic, so a crash in
   between leaves an orphaned payload dir with no lineage row.
3. **The committed set is defined by lineage** (``read_lineage_rows``).
   Orphaned payload dirs are invisible to readers and are overwritten by
   the next commit that takes their slot.
4. **Single writer** (``writer_lock``). The appendable structures hold
   ``<path>/_lock`` across the read-build-commit sequence; two racing
   writers would otherwise read the same committed generation and the
   second commit would silently drop the first one's batch.
5. **Stream replay marker** (``new_run_id``). A structured-streaming batch
   id rides inside the lineage ``run_id`` as ``sb<id>:<uuid>``, so the
   marker commits atomically with the generation it guards.
6. **Tombstone generations** (``commit_tombstone_generation``). The
   deletable stores (dedup, ANN) record deletes as a
   ``tombstones/gen=<k>`` payload plus a ``tombstone_lineage`` row, with
   the same payload-then-lineage discipline.

Each structure keeps its payload logic and its "has committed work"
predicate. This module imports only the standard library at load time.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager


class ManifestError(ValueError, RuntimeError):
    """A manifest refusal: a config mismatch, or committed work with no
    readable manifest. Subclasses both ``ValueError`` (raised by the sketch
    structures) and ``RuntimeError`` (raised by the MPHF, dedup and ANN
    stores), so callers of either family catch it as before."""


def fs_for(spark, path: str):
    """``(hadoop FileSystem, hadoop Path, jvm)`` for ``path``."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def dir_exists(spark, path: str) -> bool:
    fs, p, _ = fs_for(spark, path)
    return bool(fs.exists(p))


def has_data(spark, path: str) -> bool:
    """True if ``path`` exists and holds an entry a Spark read would see
    (names starting with ``_`` or ``.`` are commit-protocol leftovers,
    e.g. the ``_temporary`` dir of an aborted write)."""
    fs, p, _ = fs_for(spark, path)
    if not fs.exists(p):
        return False
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p)
    )


# -- manifest -----------------------------------------------------------------
def read_manifest(spark, path: str, schema: str,
                  defaults: dict | None = None) -> list:
    """The rows pinned at ``path`` as tuples in ``schema`` column order,
    read under that schema (no schema-inference job): a column an older
    manifest lacks reads as null and takes its ``defaults`` value. A
    failed read propagates."""
    cols = [c.split()[0] for c in schema.split(",")]
    defaults = defaults or {}
    return [
        tuple(
            defaults[c] if r[c] is None and c in defaults else r[c]
            for c in cols
        )
        for r in spark.read.schema(schema).parquet(path).collect()
    ]


def pin_manifest(spark, path: str, schema: str, want, *, committed,
                 refuse: str, mismatch, defaults: dict | None = None) -> list:
    """Pin a config at ``path`` (a parquet dir with ``schema``), or verify
    the one pinned there; returns the committed rows as tuples in
    ``schema`` column order.

    ``want`` is the requested rows (a list of tuples), or a callable
    taking the committed rows (``None`` on a first run) and returning
    them — on a first run it is called before the manifest is written, so
    it may validate and write sidecars. A ``None`` field in a single-row
    request adopts the committed value. Rows compare as sorted lists.

    ``committed`` is a zero-argument predicate ("does the path hold
    committed work?"), evaluated only when the manifest holds nothing a
    read would see (absent, or only the leftovers of a first manifest
    write that was killed); if it holds, ``ManifestError(refuse)`` is
    raised, else the run is a first run. ``mismatch(have, want)`` builds
    the mismatch message. ``defaults`` fills columns that older manifests
    lack (see ``read_manifest``)."""
    if not has_data(spark, path):
        if committed():
            raise ManifestError(refuse)
        rows = want(None) if callable(want) else want
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        return rows
    have = read_manifest(spark, path, schema, defaults)
    rows = want(have) if callable(want) else want
    if len(rows) == 1 and len(have) == 1:
        rows = [tuple(h if w is None else w for w, h in zip(rows[0], have[0]))]
    if sorted(have) != sorted(rows):
        raise ManifestError(mismatch(have, rows))
    return have


# -- lineage ------------------------------------------------------------------
def read_lineage_rows(spark, path: str, table: str = "lineage",
                      order: str = "gen", *, schema: str) -> list:
    """Committed rows of ``<path>/<table>`` (a parquet table with
    ``schema``) sorted by ``order``; [] if nothing is committed — the
    committed-set definition. A table dir holding only an aborted write's
    leftovers reads as empty."""
    if not has_data(spark, f"{path}/{table}"):
        return []
    rows = spark.read.schema(schema).parquet(f"{path}/{table}").collect()
    return sorted(rows, key=lambda r: r[order])


# -- writer lock --------------------------------------------------------------
@contextmanager
def writer_lock(spark, path: str, what: str):
    """Best-effort single-writer guard: atomically create ``<path>/_lock``
    (``FileSystem.create(overwrite=False)`` — atomic on HDFS/local; object
    stores without atomic create should gate writers externally, as with
    any non-catalog table format) and remove it on exit, on success and
    failure alike. Writers must take it BEFORE touching the manifest: two
    racing first-appends could otherwise each see no manifest, one pin its
    config, and the other commit payload under a different one."""
    fs, _, jvm = fs_for(spark, path)
    lock = jvm.org.apache.hadoop.fs.Path(f"{path}/_lock")
    try:
        fs.create(lock, False).close()
    except Exception as e:
        # only an existing-lock failure means "locked" — a transient IO
        # or permission error must NOT advise break_lock(): following
        # that advice against a LIVE lock is exactly the silent
        # lost-batch the lock exists to prevent
        java = getattr(e, "java_exception", None)
        jname = java.getClass().getName() if java is not None else ""
        jmsg = str(java.getMessage() or "") if java is not None else str(e)
        if "AlreadyExists" in jname or "already exists" in jmsg.lower():
            raise RuntimeError(
                f"{what} at {path} is locked by another writer (_lock "
                "exists); if a previous run crashed, remove the stale "
                "lock with break_lock()"
            ) from None
        raise
    try:
        yield
    finally:
        break_lock(spark, path)


def break_lock(spark, path: str) -> None:
    """Remove ``<path>/_lock``. Only safe when no writer is running."""
    fs, _, jvm = fs_for(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_lock"), False)


# -- stream replay marker -----------------------------------------------------
def _marker(stream_batch_id: int) -> str:
    return f"sb{int(stream_batch_id)}:"


def new_run_id(stream_batch_id: int | None = None) -> str:
    """A fresh lineage ``run_id``; with a stream batch id it carries the
    replay marker ``sb<id>:<uuid>``."""
    run_id = uuid.uuid4().hex
    if stream_batch_id is None:
        return run_id
    return _marker(stream_batch_id) + run_id


def stream_high_water(rows) -> int:
    """Highest stream batch id marked in the lineage ``run_id`` values of
    ``rows``; -1 if none. The MPHF and ANN ``append`` skip any id at or
    below it (ids arrive in nondecreasing order per stream checkpoint)."""
    best = -1
    for r in rows:
        rid = r["run_id"] or ""
        if rid.startswith("sb"):
            head = rid[2:].split(":", 1)[0]
            if head.isdigit():
                best = max(best, int(head))
    return best


def stream_batch_row(rows, stream_batch_id: int):
    """The lineage row committed by exactly this stream batch id, else
    None. Used where a replay must return the ORIGINAL batch's result
    (dedup kept sets): an id at or below the high-water mark with no
    marker can only be a batch whose original run committed nothing
    (empty batches commit no lineage row), so re-appending it is a natural
    no-op, whereas a high-water-mark fallback would return ANOTHER batch's
    result and make a streaming wrapper write a spurious output slot."""
    mark = _marker(stream_batch_id)
    for r in rows:
        if (r["run_id"] or "").startswith(mark):
            return r
    return None


# -- tombstone generations ----------------------------------------------------
#: tombstone lineage schema of the deletable stores (IncrementalDedup,
#: IncrementalANN)
TOMB_SCHEMA = "gen int, n long, run_id string, wall_s double"


def read_tombstone_ids(spark, path: str, id_col: str):
    """Distinct tombstoned ids as DataFrame[id_col], or None if nothing
    was ever deleted (the common case pays zero extra plan nodes)."""
    rows = read_lineage_rows(
        spark, path, "tombstone_lineage", schema=TOMB_SCHEMA
    )
    if not rows:
        return None
    paths = [
        f"{path}/tombstones/gen={int(r['gen'])}"
        for r in rows
        if int(r["n"]) > 0
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths).select(id_col).distinct()


def align_tombstone_ids(ids_df, id_col: str, id_type):
    """try_cast incoming ids to the store's id type; REFUSE malformed
    values — a type-mismatched tombstone table poisons every later
    anti-join far from the cause (the shared guard both deletable
    structures apply before committing)."""
    from pyspark.sql import functions as F

    casted = ids_df.select(
        F.col(ids_df.columns[0]).try_cast(id_type).alias(id_col)
    ).localCheckpoint()  # pin ONE evaluation: the null check below and
    # the later count+write must see the same rows, or a
    # nondeterministic ids_df (sample(), a re-read of a mutating table)
    # sneaks a malformed id past the guard on re-evaluation
    if casted.filter(F.col(id_col).isNull()).count():
        raise ValueError(
            f"ids do not cast to the store's id type "
            f"{id_type.simpleString()}; refusing to write a "
            "type-mismatched tombstone table"
        )
    return casted.distinct()


def commit_tombstone_generation(spark, path: str, ids_df, t0: float) -> dict:
    """Payload-then-lineage tombstone commit (same crash discipline as
    the structures' appends): writes ``<path>/tombstones/gen=K`` then
    appends the tombstone-lineage row. ``ids_df`` must already be
    type-aligned and distinct. Returns the delete metrics dict."""
    n = ids_df.count()
    rows = read_lineage_rows(
        spark, path, "tombstone_lineage", schema=TOMB_SCHEMA
    )
    gen = int(rows[-1]["gen"]) + 1 if rows else 0
    wall = time.time() - t0
    if n > 0:
        ids_df.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/tombstones/gen={gen}"
        )
        spark.createDataFrame(
            [(gen, n, new_run_id(), wall)], TOMB_SCHEMA
        ).write.mode("append").parquet(f"{path}/tombstone_lineage")
    return {"gen": gen if n > 0 else None, "n": int(n), "wall_s": wall}
