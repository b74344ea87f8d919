"""End-to-end MPHF invariants on Spark (the canonical oracle of
RandomizedTest.java:1324-1347): build on the deterministic sequences table,
serialize, reload, evaluate EVERY key, assert bijection onto [0, n);
plus determinism, token-array equality (input_hint per-row invariant),
and checkpoint/resume byte-identity."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from recsplit_spark.data import sequence_batch, sequences
from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder


@pytest.fixture(scope="module")
def seq10k(spark):
    df = sequences(spark, 10_000, partitions=4).cache()
    df.count()
    return df


def _assert_bijection(df_with_idx, n):
    stats = df_with_idx.agg(
        F.count("*").alias("cnt"),
        F.countDistinct("mphf_index").alias("dst"),
        F.min("mphf_index").alias("mn"),
        F.max("mphf_index").alias("mx"),
    ).collect()[0]
    assert stats["cnt"] == n and stats["dst"] == n
    assert stats["mn"] == 0 and stats["mx"] == n - 1


def test_build_evaluate_bijection(spark, seq10k):
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    assert desc.n == 10_000
    # always evaluate through the serialized descriptor (never in-memory
    # state) — reference always reloads via `new BitBuffer(data)`
    desc2 = MPHFDescriptor.from_bytes(desc.to_bytes())
    _assert_bijection(desc2.evaluate(seq10k, "doc_id"), 10_000)


def test_bits_per_key_gate(spark):
    # BASELINE.md target: <= 2.0 bits/key at leaf 8. Constant header/list
    # overhead amortizes with n (reference grid used 30M keys); 30k is the
    # smallest size where the asymptotic rate dominates.
    df = sequences(spark, 30_000, partitions=4)
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    assert desc.bits_per_key <= 2.0  # BASELINE.md target
    assert desc.bits_per_key >= 1.44  # information-theoretic lower bound


@pytest.mark.parametrize("leaf,avg", [(4, 32), (8, 64), (10, 256)])
def test_parameter_sweep(spark, leaf, avg):
    df = sequences(spark, 3_000, partitions=2)
    desc = RecSplitBuilder(leaf_size=leaf, avg_bucket_size=avg).build(df, "doc_id")
    desc2 = MPHFDescriptor.from_bytes(desc.to_bytes())
    _assert_bijection(desc2.evaluate(df, "doc_id"), 3_000)


def test_build_deterministic_across_partitionings(spark):
    """Different input partitioning / kernel parallelism -> identical
    descriptor bytes (associative merge; FIXTURES.md F5)."""
    a = sequences(spark, 5_000, partitions=2)
    b = sequences(spark, 5_000, partitions=7)
    d1 = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, partitions=2).build(a, "doc_id")
    d2 = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, partitions=5).build(b, "doc_id")
    assert d1.to_bytes() == d2.to_bytes()


def test_token_array_equality(spark, seq10k):
    """input_hint per-row invariant: joining mphf_index back reproduces each
    row's tokens exactly."""
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    indexed = desc.evaluate(seq10k, "doc_id").select("doc_id", "mphf_index", "tokens")
    rejoin = indexed.alias("a").join(
        indexed.select("mphf_index", F.col("tokens").alias("tokens_b")).alias("b"),
        on="mphf_index",
    )
    bad = rejoin.filter(F.col("tokens") != F.col("tokens_b")).count()
    assert bad == 0
    assert rejoin.count() == 10_000  # 1:1 join through the index


def test_evaluate_subset_and_order(spark, seq10k):
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(seq10k, "doc_id")
    full = {
        r["doc_id"]: r["mphf_index"]
        for r in desc.evaluate(seq10k, "doc_id").select("doc_id", "mphf_index").collect()
    }
    sub = seq10k.filter(F.col("source") == "web")
    for r in desc.evaluate(sub, "doc_id").select("doc_id", "mphf_index").collect():
        assert full[r["doc_id"]] == r["mphf_index"]


def test_duplicate_keys_fail(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], "doc_id string")
    with pytest.raises(RuntimeError, match="salt re-rolls"):
        RecSplitBuilder(max_salt_retries=2).build(df, "doc_id")


def test_long_keys(spark):
    """FIXTURES F2: 64-bit key set via a LongType column."""
    df = spark.range(5_000).select(F.xxhash64("id").alias("key"))
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=64).build(df, "key")
    _assert_bijection(
        MPHFDescriptor.from_bytes(desc.to_bytes()).evaluate(df, "key"), 5_000
    )


def test_empty_and_tiny(spark):
    empty = spark.createDataFrame([], "doc_id string")
    d0 = RecSplitBuilder().build(empty, "doc_id")
    assert d0.n == 0
    one = spark.createDataFrame([("x",)], "doc_id string")
    d1 = RecSplitBuilder().build(one, "doc_id")
    out = MPHFDescriptor.from_bytes(d1.to_bytes()).evaluate(one, "doc_id").collect()
    assert out[0]["mphf_index"] == 0


def test_checkpoint_resume_byte_identical(spark, tmp_path):
    """Kill-and-resume: build ranges partially, then resume — final
    descriptor must be byte-identical to a direct build (SURVEY §7)."""
    df = sequences(spark, 8_000, partitions=4).cache()
    df.count()
    direct = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")

    ckpt = str(tmp_path / "ckpt")
    b = RecSplitBuilder(leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt)
    full = b.build(df, "doc_id")
    assert full.to_bytes() == direct.to_bytes()

    # simulate a crash: drop half the checkpointed ranges, then resume
    import glob as _glob
    import os as _os

    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    assert part_files, "expected checkpoint part files"
    for f in part_files[: max(1, len(part_files) // 2)]:
        _os.remove(f)
    resumed = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt
    ).build(df, "doc_id")
    assert resumed.to_bytes() == direct.to_bytes()


def test_build_checkpoint_manifest_guards(spark, tmp_path):
    """The build checkpoint pins (leaf_size, avg_bucket_size, rule_gen,
    blog2): resuming with a different leaf_size (same bucket geometry)
    would merge blobs encoded under a different rule table with newly
    built blocks — key-count and stream-length checks still pass, so the
    descriptor silently misdecodes. Must fail loudly instead; same for a
    pre-manifest checkpoint (committed blocks, no manifest)."""
    import glob as _glob
    import os as _os
    import shutil

    import pytest

    df = sequences(spark, 4_000, partitions=4).cache()
    df.count()
    ckpt = str(tmp_path / "ckpt_manifest")
    RecSplitBuilder(leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt).build(
        df, "doc_id"
    )
    # drop a block file so a resume actually has work to do
    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    assert part_files
    _os.remove(part_files[0])
    # changed leaf_size -> loud mismatch, not a silent mixed-rule merge
    with pytest.raises(Exception, match="manifest mismatch"):
        RecSplitBuilder(
            leaf_size=10, avg_bucket_size=128, checkpoint_dir=ckpt
        ).build(df, "doc_id")
    # pre-manifest checkpoint (blocks committed, manifest gone) -> loud
    shutil.rmtree(f"{ckpt}/_manifest")
    with pytest.raises(Exception, match="no readable manifest"):
        RecSplitBuilder(
            leaf_size=8, avg_bucket_size=128, checkpoint_dir=ckpt
        ).build(df, "doc_id")
    df.unpersist()


def test_sequence_batch_deterministic():
    a = sequence_batch(100, 200)
    b = sequence_batch(100, 200)
    assert a[0] == b[0]
    assert all((x == y).all() for x, y in zip(a[1], b[1]))


def test_fixture_matches_spec():
    """doc_id formula from FIXTURES.md F1 (mix64(i ^ golden) hex)."""
    doc_ids, tokens, n_tok, src = sequence_batch(0, 3)
    from recsplit_spark.hashing import mix64_scalar

    for i in range(3):
        h = mix64_scalar(i ^ 0x9E3779B97F4A7C15)
        assert doc_ids[i] == f"doc-{h:016x}"
        assert 16 <= n_tok[i] <= 512
        assert len(tokens[i]) == n_tok[i]
        assert tokens[i].max() < 50_257


def test_read_sequences_roundtrip(spark, tmp_path):
    import pytest as _pt

    from recsplit_spark.data import sequences
    from recsplit_spark.io import read_sequences, write_sequences

    df = sequences(spark, 1_000, partitions=2)
    path = str(tmp_path / "seqs")
    write_sequences(df, path)
    back = read_sequences(spark, path)  # schema contract validated
    assert back.count() == 1_000

    bad_path = str(tmp_path / "bad")
    df.select("doc_id", "source").write.parquet(bad_path)  # missing columns
    with _pt.raises(ValueError, match="schema mismatch"):
        read_sequences(spark, bad_path)


def test_register_sql_function(spark, sf_dir):
    """SQL surface: SELECT mphf_eval(key) gives the same bijection as the
    DataFrame evaluate path (hashing stays JVM-side inside the SQL UDF)."""
    import pyspark.sql.functions as F

    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder
    from recsplit_spark.session import ship_package

    ship_package(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").distinct()
    desc = MPHFDescriptor.from_bytes(
        RecSplitBuilder(leaf_size=8, avg_bucket_size=64).build(orders, "o_orderkey").to_bytes()
    )
    desc.register_sql(spark, "mphf_eval_t")
    orders.createOrReplaceTempView("ok_keys")
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT mphf_eval_t(o_orderkey)) AS d,"
        " min(mphf_eval_t(o_orderkey)) AS mn, max(mphf_eval_t(o_orderkey)) AS mx"
        " FROM ok_keys"
    ).collect()[0]
    assert got["n"] == got["d"] == desc.n and got["mn"] == 0 and got["mx"] == desc.n - 1
    # agrees row-for-row with the DataFrame path
    df_path = desc.evaluate(orders, "o_orderkey")
    sql_path = spark.sql(
        "SELECT o_orderkey, mphf_eval_t(o_orderkey) AS mphf_index FROM ok_keys"
    )
    assert df_path.exceptAll(sql_path).count() == 0


def test_checkpoint_resume_at_1024_ranges(spark, tmp_path):
    """Resume must stay cheap when the checkpoint holds >= 1000 committed
    rows: the round-2 OR-chain of per-range predicates built a Catalyst
    expression tree thousands of nodes deep; membership is now a
    broadcast left-anti join against the rows' exploded ``bucket_ids``
    (flat plan at any row count). Build with partitions=1024 over 8192
    buckets — hash partitioning leaves ~37% of 1024 partitions empty when
    there are only 1024 buckets — drop an eighth of the rows, resume: the
    result must stay byte-identical to a direct build."""
    import glob as _glob
    import os as _os

    import pyspark.sql.functions as F

    n = 1 << 17  # bucket count 8192 at avg_bucket_size=16
    df = spark.range(0, n, 1, 32).select(F.xxhash64("id").alias("key")).cache()
    df.count()
    direct = RecSplitBuilder(leaf_size=8, avg_bucket_size=16).build(df, "key", n=n)

    ckpt = str(tmp_path / "ckpt1024")
    b = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=16, partitions=1024, checkpoint_dir=ckpt
    )
    full = b.build(df, "key", n=n)
    assert full.to_bytes() == direct.to_bytes()
    import pyarrow.parquet as pq

    n_ranges = sum(
        pq.read_table(f, columns=["min_bucket"]).num_rows
        for f in _glob.glob(f"{ckpt}/salt=0/part-*")
    )
    assert n_ranges >= 1000, n_ranges  # a partition may draw no bucket

    part_files = sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))
    for f in part_files[: max(1, len(part_files) // 8)]:
        _os.remove(f)
    # the resume's task count does not change the bytes: the default
    # one-task-per-core count keeps this check off 1024 tiny tasks
    resumed = RecSplitBuilder(
        leaf_size=8, avg_bucket_size=16, checkpoint_dir=ckpt
    ).build(df, "key", n=n)
    assert resumed.to_bytes() == direct.to_bytes()
    df.unpersist()


@pytest.fixture(scope="module")
def resume20k(spark):
    """20k string keys (256 buckets) and the bytes of their direct build:
    every checkpoint resume below must reproduce them."""
    df = sequences(spark, 20_000, partitions=4).select("doc_id").cache()
    df.count()
    direct = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    yield df, direct.to_bytes()
    df.unpersist()


def _checkpoint_build(df, ckpt, partitions=8):
    return RecSplitBuilder(
        leaf_size=8, avg_bucket_size=128, partitions=partitions,
        checkpoint_dir=ckpt,
    ).build(df, "doc_id").to_bytes()


def _part_files(ckpt):
    import glob as _glob

    return sorted(_glob.glob(f"{ckpt}/salt=0/part-*"))


def _committed_bucket_ids(spark, ckpt):
    return [
        b
        for r in spark.read.parquet(f"{ckpt}/salt=0").collect()
        for b in r["bucket_ids"]
    ]


def test_checkpoint_double_resume_byte_identical(spark, tmp_path, resume20k):
    """Two successive resumes, each after removing different part files,
    give the direct build's bytes. The first resume runs at another
    partition count (3, scaled to the missing half of the keys: 2 tasks),
    so its rows hold non-adjacent buckets of several removed rows and the second resume's committed set mixes both
    layouts — the case where a rebuilt row's [min, max] span straddles
    buckets committed by other rows. Every bucket is built exactly once."""
    import os as _os

    df, direct = resume20k
    ckpt = str(tmp_path / "ckpt")
    assert _checkpoint_build(df, ckpt) == direct
    first = _part_files(ckpt)
    assert len(first) == 8
    for f in first[:4]:
        _os.remove(f)
    assert _checkpoint_build(df, ckpt, partitions=3) == direct
    rebuilt = sorted(set(_part_files(ckpt)) - set(first))
    assert len(rebuilt) == 2  # 3 tasks scaled to the missing half of the keys
    for f in [first[4], first[6], rebuilt[1]]:
        _os.remove(f)
    assert _checkpoint_build(df, ckpt) == direct
    ids = _committed_bucket_ids(spark, ckpt)
    assert sorted(ids) == list(range(256))


def test_checkpoint_resumes_range_partitioned_layout(spark, tmp_path, resume20k):
    """A checkpoint in the layout earlier versions wrote — each row a
    contiguous bucket range from ``repartitionByRange`` — resumes by its
    rows' exact bucket ids after half its files are removed."""
    import os as _os

    from recsplit_spark.mphf import _BLOCK_SCHEMA, _make_kernel
    from recsplit_spark.settings import RULE_GEN

    df, direct = resume20k
    blog2 = 8  # 256 buckets for 20k keys at avg_bucket_size=128
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(8, 128, RULE_GEN, blog2)],
        "leaf_size int, avg_bucket_size int, rule_gen int, blog2 int",
    ).write.parquet(f"{ckpt}/_manifest")
    sig = F.xxhash64(F.col("doc_id").cast("string"), F.lit(0))
    df.select(sig.alias("sig")).withColumn(
        "bucket", F.shiftrightunsigned(F.col("sig"), 64 - blog2)
    ).repartitionByRange(8, "bucket").mapInPandas(
        _make_kernel(8, 128), schema=_BLOCK_SCHEMA
    ).write.parquet(f"{ckpt}/salt=0")
    rows = spark.read.parquet(f"{ckpt}/salt=0").collect()
    assert len(rows) > 1 and all(
        len(r["bucket_ids"]) == r["max_bucket"] - r["min_bucket"] + 1
        for r in rows
    )
    files = _part_files(ckpt)
    for f in files[::2]:
        _os.remove(f)
    assert _checkpoint_build(df, ckpt) == direct
    assert sorted(_committed_bucket_ids(spark, ckpt)) == list(range(256))


def test_fully_committed_resume_runs_no_kernel(
    spark, tmp_path, monkeypatch, resume20k
):
    """A resume whose committed rows already hold all n keys reads them
    back and builds nothing: no MapInPandas frame, no parquet write."""
    from pyspark.sql.readwriter import DataFrameWriter

    df, direct = resume20k
    ckpt = str(tmp_path / "ckpt")
    assert _checkpoint_build(df, ckpt) == direct

    def refuse(*_args, **_kwargs):
        raise AssertionError("a fully committed resume launched a build")

    monkeypatch.setattr(type(df), "mapInPandas", refuse)
    monkeypatch.setattr(DataFrameWriter, "parquet", refuse)
    assert _checkpoint_build(df, ckpt) == direct


def test_space_priority_builder_end_to_end(spark):
    """RecSplitBuilder(space_priority=True): distributed build stamps
    rule generation 2, round-trips through bytes, and the bijection
    holds through the normal evaluate path."""
    import pyspark.sql.functions as F

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder

    df = sequences(spark, 60_000, partitions=4).select("doc_id")
    desc = RecSplitBuilder(
        leaf_size=12, avg_bucket_size=256, space_priority=True
    ).build(df, "doc_id")
    assert desc.rule_gen == 2
    rt = MPHFDescriptor.from_bytes(desc.to_bytes())
    assert rt.rule_gen == 2
    out = rt.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("mphf_index").alias("d"),
        F.min("mphf_index").alias("lo"),
        F.max("mphf_index").alias("hi"),
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (
        60_000, 60_000, 0, 59_999,
    )


def test_skewed_input_layout_rebalanced(spark):
    """P7 (similar-size repartition) direct exercise: a pathologically
    skewed INPUT layout — every key in one partition — must still build
    and biject, because the bucket scatter is a hash repartition on
    bucket id (+ AQE), not the input partitioning."""
    import pyspark.sql.functions as F

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import RecSplitBuilder

    df = sequences(spark, 20_000, partitions=8).select("doc_id").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(df, "doc_id")
    out = desc.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"), F.countDistinct("mphf_index").alias("d")
    ).collect()[0]
    assert (row["n"], row["d"]) == (20_000, 20_000)


def test_space_priority_max_builder_end_to_end(spark):
    """RecSplitBuilder(space_priority='max'): distributed build stamps
    rule generation 3 (the extreme-space leaf-14 regime), round-trips
    through bytes, and the bijection holds through the normal evaluate
    path. Kept small: gen 3 pays ~92K trial-elements/key by design."""
    import pyspark.sql.functions as F
    import pytest

    from recsplit_spark.data import sequences
    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder

    df = sequences(spark, 8_000, partitions=4).select("doc_id")
    desc = RecSplitBuilder(
        leaf_size=14, avg_bucket_size=512, space_priority="max"
    ).build(df, "doc_id")
    assert desc.rule_gen == 3
    rt = MPHFDescriptor.from_bytes(desc.to_bytes())
    assert rt.rule_gen == 3
    out = rt.evaluate(df, "doc_id")
    row = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("mphf_index").alias("d"),
        F.min("mphf_index").alias("lo"),
        F.max("mphf_index").alias("hi"),
    ).collect()[0]
    assert (row["n"], row["d"], row["lo"], row["hi"]) == (
        8_000, 8_000, 0, 7_999,
    )
    with pytest.raises(ValueError, match="space_priority"):
        RecSplitBuilder(space_priority="fastest")
