"""The shared commit protocol (``recsplit_spark/store.py``) across all six
persisted structures: RecSplitBuilder checkpoints, CheckpointedBuild,
IncrementalProfile, IncrementalMPHF, IncrementalDedup and IncrementalANN.

Each structure runs a small scenario that is safe to re-run: profile
updates skip folded files, appends carry stream batch ids, checkpoints
resume. Pinned here:

* an existing but unreadable manifest is never overwritten — the run
  raises and the manifest bytes stay as they were;
* a crash where the lineage/metrics write aborts after the payload write
  leaves no lock behind and the orphaned payload invisible, and
  re-running converges to the uncrashed result (for RecSplitBuilder
  checkpoints, whose committed blocks are their own lineage, the block
  write itself aborts); the same holds when the first manifest write
  aborts;
* manifests written with the round-6 schemas open, including the two
  legacy forms (a checkpoint manifest without ``ngram``, an ANN manifest
  without ``codec_sha``), and the manifest/lineage schemas are unchanged.
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from recsplit_spark.incremental_mphf import IncrementalMPHF
from recsplit_spark.mphf import RecSplitBuilder
from recsplit_spark.pipeline.ann import IVFIndex
from recsplit_spark.pipeline.incremental_ann import IncrementalANN
from recsplit_spark.pipeline.incremental_dedup import IncrementalDedup
from recsplit_spark.sketches import (
    CheckpointedBuild,
    CountMinSketch,
    HyperLogLog,
)
from recsplit_spark.sketches.incremental import IncrementalProfile
from recsplit_spark.sketches.multi import SketchSpec


def _visible(path):
    """Entries of a local dir that a Spark read would see."""
    if not os.path.isdir(path):
        return []
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


# -- scenarios ----------------------------------------------------------------
# Each case: ``manifest`` (dir under the store path), ``table`` (the write
# that commits), ``crash_at`` (commit indices the matrix crashes),
# ``parent_manifest`` / ``parent_table`` (the round-6 schemas), ``legacy``
# (a manifest column older manifests lack), ``run(spark, path, upto)``
# (the first ``upto`` commits; all when None), ``committed(spark, path)``
# (a read-only view of the committed set) and ``orphan(path, k)`` (what
# a crash at commit ``k`` leaves on disk).


class _RecSplitCheckpoint:
    manifest = "_manifest"
    table = "salt=0"
    crash_at = (0,)
    parent_manifest = "leaf_size int, avg_bucket_size int, rule_gen int, blog2 int"
    parent_table = (
        "part_first_bucket long, min_bucket long, max_bucket long, "
        "n_keys_total long, build_ns long, bucket_ids array<long>, "
        "n_keys array<long>, byte_lens array<long>, blob binary"
    )
    legacy = None

    def __init__(self, spark, root):
        self.df = spark.range(0, 3000, 1, 4).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        )

    def run(self, spark, path, upto=None):
        if upto == 0:
            return None
        return RecSplitBuilder(
            leaf_size=8, avg_bucket_size=128, checkpoint_dir=path
        ).build(self.df, "k").to_bytes()

    def committed(self, spark, path):
        p = f"{path}/salt=0"
        if not _visible(p):
            return []
        return sorted(
            (r["min_bucket"], r["max_bucket"], r["n_keys_total"])
            for r in spark.read.parquet(p).collect()
        )

    def orphan(self, path, k):
        return f"{path}/salt=0/_temporary"


class _Checkpointed:
    manifest = "manifest"
    table = "metrics"
    crash_at = (0, 1)
    parent_manifest = "waves int, fingerprint string, ngram int"
    parent_table = "wave int, n_rows long, n_states long, lineage string, wall_sec double"
    legacy = "ngram"

    def __init__(self, spark, root):
        self.df = spark.range(0, 5000, 1, 4)
        # linear merge: a re-folded wave appended over its orphan would
        # double its counts
        self.sk = CountMinSketch(eps=0.01, delta=0.05)

    def run(self, spark, path, upto=None):
        if upto == 0:
            return None
        st = CheckpointedBuild(self.sk, waves=2).run(
            self.df, "id", path, _stop_after=upto
        )
        return None if st is None else self.sk.to_bytes(st)

    def committed(self, spark, path):
        if not _visible(f"{path}/metrics"):
            return [], None
        cb = CheckpointedBuild(self.sk, waves=2)
        waves = sorted(r["wave"] for r in cb.metrics(spark, path).collect())
        return waves, self.sk.to_bytes(cb.merged_state(spark, path))

    def orphan(self, path, k):
        # waves commit in index order
        return f"{path}/states/wave={k}"


class _Profile:
    manifest = "manifest"
    table = "lineage"
    crash_at = (0,)
    parent_manifest = (
        "keys string, name string, fingerprint string, col string, ngram int"
    )
    parent_table = "file string, gen int, n_rows long, lineage string, wall_sec double"
    legacy = None

    def __init__(self, spark, root):
        self.sources = []
        for i, (lo, hi) in enumerate([(0, 300)]):
            src = f"{root}/profile_batch{i}"
            spark.range(lo, hi, 1, 2).select(
                F.col("id").cast("string").alias("doc_id"),
                (F.col("id") % 3).cast("string").alias("source"),
            ).write.parquet(src)
            self.sources.append(src)
        self.specs = [SketchSpec("docs", HyperLogLog(p=10), "doc_id")]

    def _store(self, path):
        return IncrementalProfile(self.specs, ["source"], path)

    def run(self, spark, path, upto=None):
        inc = self._store(path)
        for src in self.sources[:upto]:
            inc.update(spark, source=src)

    def committed(self, spark, path):
        inc = self._store(path)
        gens = inc.generations(spark)
        states = sorted(
            (r["source"], bytes(r["state"])) for r in inc.states(spark).collect()
        ) if gens else []
        return gens, states

    def orphan(self, path, k):
        return f"{path}/state/gen={k + 1}"


class _IncMPHF:
    manifest = "manifest"
    table = "lineage"
    crash_at = (0,)
    parent_manifest = (
        "key_mode int, leaf_size int, avg_bucket_size int, fp_bits int,"
        " fp_seed long, rule_gen int"
    )
    parent_table = (
        "gen int, n long, offset long, salt long, n_exceptions long,"
        " run_id string, wall_s double"
    )
    legacy = None

    def __init__(self, spark, root):
        self.batches = [
            spark.range(lo, hi).select(
                F.concat(F.lit("k"), F.col("id")).alias("k")
            )
            for lo, hi in [(0, 1000)]
        ]

    def run(self, spark, path, upto=None):
        inc = IncrementalMPHF(path)
        for sb, b in enumerate(self.batches[:upto]):
            inc.append(b, "k", stream_batch_id=sb)

    def committed(self, spark, path):
        inc = IncrementalMPHF(path)
        if not inc.generations(spark):
            return []
        return [
            (g.gen, g.offset, g.desc.to_bytes(), g.fp.tobytes())
            for g in inc._load_gens(spark)
        ]

    def orphan(self, path, k):
        return f"{path}/gen={k}"


def _text(i, variant=0):
    words = [f"w{(i * 7919 + j * 104729) % 100003}" for j in range(40)]
    if variant:
        words[5] = f"variant{variant}"
    return " ".join(words)


class _Dedup:
    manifest = "manifest"
    table = "lineage"
    crash_at = (0,)
    parent_manifest = (
        "mode string, num_hashes int, bands int, shingle int, threshold double"
    )
    parent_table = (
        "gen int, n_in long, n_kept long, n_matched_old long,"
        " n_clusters long, run_id string, wall_s double"
    )
    legacy = None

    def __init__(self, spark, root):
        schema = "doc_id long, text string"
        # 0/1 near-duplicates, 2 unique
        self.batches = [spark.createDataFrame(
            [(0, _text(0)), (1, _text(0, 1)), (2, _text(2))], schema
        )]

    def _store(self, path):
        return IncrementalDedup(
            path, threshold=0.8, num_hashes=64, bands=32, shingle=5
        )

    def run(self, spark, path, upto=None):
        inc = self._store(path)
        for sb, b in enumerate(self.batches[:upto]):
            inc.append(b, "doc_id", "text", stream_batch_id=sb)

    def committed(self, spark, path):
        inc = self._store(path)
        gens = [
            (g["gen"], g["n_in"], g["n_kept"], g["n_matched_old"],
             g["n_clusters"])
            for g in inc.generations(spark)
        ]
        return gens, sorted(r["id"] for r in inc.kept_ids(spark).collect())

    def orphan(self, path, k):
        return f"{path}/gen={k}"


class _ANN:
    manifest = "manifest"
    table = "lineage"
    crash_at = (0,)
    parent_manifest = (
        "id_col string, vec_col string, n_centroids int, dim int,"
        " centroid_sha string, codec_sha string"
    )
    parent_table = "gen int, n long, run_id string, wall_s double"
    legacy = "codec_sha"

    def __init__(self, spark, root):
        rows = [
            (i, np.random.default_rng(i).standard_normal(8).tolist())
            for i in range(200)
        ]
        base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        self.index = IVFIndex(n_centroids=4, nprobe=2).fit(base, "embedding")
        self.batches = [base]

    def run(self, spark, path, upto=None):
        inc = IncrementalANN(path, index=self.index)
        for sb, b in enumerate(self.batches[:upto]):
            inc.append(b, "vec_id", "embedding", stream_batch_id=sb)

    def committed(self, spark, path):
        inc = IncrementalANN(path, index=self.index)
        gens = [(g["gen"], g["n"]) for g in inc.generations(spark)]
        if not gens:
            return gens, []
        vecs = sorted(
            (r["vec_id"], r["centroid_id"], r["gen"])
            for r in inc.vectors(spark)
            .select("vec_id", "centroid_id", "gen").collect()
        )
        return gens, vecs

    def orphan(self, path, k):
        return f"{path}/vectors/gen={k}"


_CASES = {
    "mphf_checkpoint": _RecSplitCheckpoint,
    "checkpointed_build": _Checkpointed,
    "incremental_profile": _Profile,
    "incremental_mphf": _IncMPHF,
    "incremental_dedup": _Dedup,
    "incremental_ann": _ANN,
}


@pytest.fixture(scope="module")
def case(spark, tmp_path_factory):
    """Case instances built once per module, each with an uncrashed
    reference run: ``c.ref`` (its store path) and ``c.reference``
    (``(run result, committed view)``)."""
    built = {}

    def get(name):
        if name not in built:
            root = str(tmp_path_factory.mktemp(name))
            c = _CASES[name](spark, root)
            c.ref = f"{root}/reference"
            c.reference = (c.run(spark, c.ref), c.committed(spark, c.ref))
            built[name] = c
        return built[name]

    return get


class _Crash(Exception):
    pass


def _crash_next_commit(monkeypatch, table):
    """Make the next parquet write to a ``table`` dir abort the way a
    killed job does: the commit-protocol scratch dir is left behind and
    no data file is committed."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("/" + table):
            os.makedirs(os.path.join(path, "_temporary", "0"), exist_ok=True)
            raise _Crash(path)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


# -- tests --------------------------------------------------------------------
@pytest.mark.parametrize("name", list(_CASES))
def test_unreadable_manifest_is_never_overwritten(spark, case, tmp_path, name):
    """A manifest dir that exists but cannot be read means "config
    unknown", never "first run": re-pinning it would adopt the path under
    whatever config the caller passed."""
    c = case(name)
    path = str(tmp_path / "store")
    mdir = os.path.join(path, c.manifest)
    os.makedirs(mdir)
    garbage = b"not a parquet file\n" * 8
    with open(os.path.join(mdir, "part-0.parquet"), "wb") as f:
        f.write(garbage)
    with pytest.raises(Exception):
        c.run(spark, path)
    assert os.listdir(mdir) == ["part-0.parquet"]
    with open(os.path.join(mdir, "part-0.parquet"), "rb") as f:
        assert f.read() == garbage
    assert not os.path.exists(f"{path}/_lock")


@pytest.mark.parametrize("name", list(_CASES))
def test_crash_between_payload_and_lineage(
    spark, case, tmp_path, monkeypatch, name
):
    """On one path: crash the first manifest write, then each commit in
    ``crash_at`` (payload written, lineage/metrics write aborted). After
    every crash no lock is left and the orphan is on disk but invisible;
    the next run overwrites it, and the last run converges to the
    uncrashed result."""
    c = case(name)
    path = str(tmp_path / "store")
    crashes = [(c.manifest, 0, f"{path}/{c.manifest}/_temporary")] + [
        (c.table, k, c.orphan(path, k)) for k in c.crash_at
    ]
    for table, k, orphan in crashes:
        c.run(spark, path, upto=k)
        want_partial = c.committed(spark, path)
        with monkeypatch.context() as m:
            # the re-run replays the k committed steps without writing,
            # so the next commit is step k
            _crash_next_commit(m, table)
            with pytest.raises(_Crash):
                c.run(spark, path)
        assert os.path.exists(orphan), table  # the crash hit the window
        assert not os.path.exists(f"{path}/_lock")
        assert c.committed(spark, path) == want_partial  # orphan invisible
    assert c.run(spark, path) == c.reference[0]
    assert c.committed(spark, path) == c.reference[1]


def _fields(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema]


@pytest.mark.parametrize("name", list(_CASES))
def test_round6_manifests_open(spark, case, tmp_path, name):
    """Manifests written with the round-6 column names and types — and
    the legacy forms that predate a column — open and resume."""
    c = case(name)
    path = str(tmp_path / "store")
    shutil.copytree(c.ref, path)
    mdir = f"{path}/{c.manifest}"
    parent = spark.createDataFrame([], c.parent_manifest).schema
    assert _fields(spark.read.parquet(mdir).schema) == _fields(parent)
    table = spark.createDataFrame([], c.parent_table).schema
    assert _fields(
        spark.read.parquet(f"{path}/{c.table}").schema
    ) == _fields(table)
    rows = [tuple(r) for r in spark.read.parquet(mdir).collect()]
    forms = [(c.parent_manifest, rows)]
    if c.legacy:
        cols = [f for f in c.parent_manifest.split(",")]
        keep = [i for i, f in enumerate(cols) if f.split()[0] != c.legacy]
        forms.append((
            ",".join(cols[i] for i in keep),
            [tuple(r[i] for i in keep) for r in rows],
        ))
    for schema, data in forms:
        spark.createDataFrame(data, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(mdir)
        assert c.run(spark, path) == c.reference[0]
        assert c.committed(spark, path) == c.reference[1]


def test_legacy_checkpoint_manifest_pins_scalar_feed(spark, case, tmp_path):
    """A checkpoint manifest without the ``ngram`` column comes from a
    scalar-feed build; resuming it with an n-gram feed is a mismatch."""
    c = case("checkpointed_build")
    path = str(tmp_path / "store")
    shutil.copytree(c.ref, path)
    r = spark.read.parquet(f"{path}/manifest").collect()[0]
    spark.createDataFrame(
        [(r["waves"], r["fingerprint"])], "waves int, fingerprint string"
    ).write.mode("overwrite").parquet(f"{path}/manifest")
    with pytest.raises(ValueError, match="manifest mismatch"):
        CheckpointedBuild(c.sk, waves=2).run(c.df, "id", path, ngram=3)


def test_legacy_ann_manifest_opens_without_codec(spark, case, tmp_path):
    """An ANN manifest written before the PQ sidecar (no ``codec_sha``
    column) opens as a codec-less store, from a fresh handle too."""
    c = case("incremental_ann")
    path = str(tmp_path / "store")
    shutil.copytree(c.ref, path)
    r = spark.read.parquet(f"{path}/manifest").collect()[0]
    spark.createDataFrame(
        [(r["id_col"], r["vec_col"], r["n_centroids"], r["dim"],
          r["centroid_sha"])],
        "id_col string, vec_col string, n_centroids int, dim int,"
        " centroid_sha string",
    ).write.mode("overwrite").parquet(f"{path}/manifest")
    fresh = IncrementalANN(path)
    assert fresh.codec(spark) is None
    assert fresh.total_vectors(spark) == 200
    assert fresh.search(spark, np.ones(8), k=3).count() == 3


def test_replay_marker_roundtrip():
    """The stream replay marker is encoded in one place; the high-water
    mark and the exact lookup both read it back."""
    from recsplit_spark.store import new_run_id, stream_batch_row, stream_high_water

    rows = [
        {"gen": 0, "run_id": new_run_id(3)},
        {"gen": 1, "run_id": new_run_id()},
        {"gen": 2, "run_id": new_run_id(12)},
        {"gen": 3, "run_id": None},
    ]
    assert rows[0]["run_id"].startswith("sb3:")
    assert stream_high_water(rows) == 12
    assert stream_high_water([]) == -1
    assert stream_batch_row(rows, 12)["gen"] == 2
    assert stream_batch_row(rows, 1) is None  # no prefix match on "sb12:"
    assert stream_batch_row(rows, 5) is None  # below the mark, never marked


def test_open_refuses_leftover_only_manifest(spark, tmp_path):
    """A manifest dir holding only an aborted first write's leftovers
    pins nothing: ``open`` (which adopts the pinned config) refuses it
    like an absent store instead of failing on an empty read."""
    path = tmp_path / "store"
    os.makedirs(path / "manifest" / "_temporary" / "0")
    with pytest.raises(RuntimeError, match="no incremental dedup committed"):
        IncrementalDedup.open(spark, str(path))
