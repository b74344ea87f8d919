"""IncrementalMPHF: stable ids under appends, exact routing, commit
protocol. The reference has no appendable MPHF (RecSplitBuilder is
one-shot); these tests pin the NEW contracts this repo adds on top:
global bijection across generations, route == generation-aware evaluate
for every appended key, exception-table exactness even at absurd
false-positive rates, and the manifest/lineage/lock discipline shared
with the other incremental surfaces."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from recsplit_spark.incremental_mphf import IncrementalMPHF


def _batch(spark, lo, hi, prefix="k"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).alias("k")
    )


def _union_with_gen(batches):
    out = None
    for g, b in enumerate(batches):
        t = b.withColumn("g", F.lit(g))
        out = t if out is None else out.unionByName(t)
    return out


def test_append_bijection_and_stable_ids(spark, tmp_path):
    path = f"{tmp_path}/inc"
    inc = IncrementalMPHF(path)
    b0 = _batch(spark, 0, 4000)
    b1 = _batch(spark, 4000, 6500)
    b2 = _batch(spark, 6500, 8000)

    m0 = inc.append(b0, "k")
    assert (m0["gen"], m0["n"], m0["offset"]) == (0, 4000, 0)
    ids_before = {
        r["k"]: r["i"]
        for r in inc.route(b0, "k", out_col="i").collect()
    }

    m1 = inc.append(b1, "k")
    m2 = inc.append(b2, "k")
    assert (m1["offset"], m2["offset"]) == (4000, 6500)

    union = _union_with_gen([b0, b1, b2])
    v = inc.verify_bijection(union, "k", "g")
    assert v["ok"], v

    # id stability: generation-0 ids are untouched by later appends
    ids_after = {
        r["k"]: r["i"]
        for r in inc.route(b0, "k", out_col="i").collect()
    }
    assert ids_after == ids_before

    # route == evaluate for every appended key (exceptions included)
    both = inc.route(
        inc.evaluate(union, "k", "g", out_col="i_eval"), "k", out_col="i_route"
    )
    assert both.filter("i_eval <> i_route or i_route is null").count() == 0

    # a fresh handle reloads the committed state identically
    inc2 = IncrementalMPHF(path)
    assert inc2.total_keys(spark) == 8000
    v2 = inc2.verify_bijection(union, "k", "g")
    assert v2["ok"]
    # descriptor + fingerprints: ~1.8 + 8 bits/key, small-n overhead aside
    assert inc2.bits_per_key(spark) < 11.5


def test_bigint_keys_and_nonmember_nulls(spark, tmp_path):
    inc = IncrementalMPHF(f"{tmp_path}/inc", fp_bits=8)
    b0 = spark.range(0, 3000).select((F.col("id") * 7).alias("k"))
    b1 = spark.range(0, 2000).select((F.col("id") * 7 + 1).alias("k"))
    inc.append(b0, "k")
    inc.append(b1, "k")
    union = _union_with_gen([b0, b1])
    assert inc.verify_bijection(union, "k", "g")["ok"]

    # non-members: route must agree with an independent numpy replay of
    # the oldest-first fingerprint probe over the stored tables
    non = spark.range(0, 800).select((F.col("id") * 7 + 3).alias("k"))
    got = {
        r["k"]: r["i"] for r in inc.route(non, "k", out_col="i").collect()
    }
    gens = inc._load_gens(spark)
    sig_cols = [F.xxhash64(F.col("k").cast("long"), F.lit(g.salt)) for g in gens]
    sig_cols.append(F.xxhash64(F.col("k").cast("long"), F.lit(inc.fp_seed)))
    rows = non.select(F.col("k"), *sig_cols).collect()
    mask = (1 << inc.fp_bits) - 1
    n_fp = 0
    for row in rows:
        k = row[0]
        want = np.uint8(row[1 + len(gens)] & mask)
        expect = None
        for gi, g in enumerate(gens):
            sig = np.array([row[1 + gi]], dtype=np.int64)
            idx = int(g.desc.evaluate_array(sig)[0])
            if g.fp[idx] == want:
                expect = g.offset + idx
                break
        assert got[k] == expect, (k, got[k], expect)
        n_fp += expect is not None
    # sanity: FP rate is in the right regime (expected ~800*2/256 = 6.25)
    assert n_fp < 64


def test_exceptions_exact_at_fp_bits_1(spark, tmp_path):
    # fp_bits=1: HALF of all new keys false-positive each earlier filter,
    # so the exception machinery carries real weight — route must still
    # equal evaluate exactly for every key
    inc = IncrementalMPHF(f"{tmp_path}/inc", fp_bits=1)
    b0 = _batch(spark, 0, 1500)
    b1 = _batch(spark, 1500, 2500)
    b2 = _batch(spark, 2500, 3200)
    inc.append(b0, "k", duplicate_guard=None)
    m1 = inc.append(b1, "k", duplicate_guard=None)
    m2 = inc.append(b2, "k", duplicate_guard=None)
    # ~half of batch 1, ~3/4 of batch 2 must be exceptions
    assert m1["n_exceptions"] > 350
    assert m2["n_exceptions"] > 400
    union = _union_with_gen([b0, b1, b2])
    assert inc.verify_bijection(union, "k", "g")["ok"]
    both = inc.route(
        inc.evaluate(union, "k", "g", out_col="i_eval"), "k", out_col="i_route"
    )
    assert both.filter("i_eval <> i_route or i_route is null").count() == 0
    # compact cadence predicate (RUNBOOK §2b): at fp_bits=1 the exception
    # fraction model G/2 * 2^-1 blows past 2% from the first generations
    assert inc.should_compact(spark)


def test_should_compact_rule(spark, tmp_path):
    """should_compact == the RUNBOOK G x 2^-fp_bits > 2*frac rule: far
    below threshold at fp_bits=8 with a few generations, crossing at the
    configured fraction."""
    inc = IncrementalMPHF(f"{tmp_path}/inc", fp_bits=8)
    inc.append(_batch(spark, 0, 500), "k")
    inc.append(_batch(spark, 500, 900), "k")
    assert not inc.should_compact(spark)            # G=2: 2/256 = 0.8%
    assert inc.should_compact(spark, max_exception_frac=0.003)
    assert not inc.should_compact(spark, max_exception_frac=0.004)


def test_duplicate_storm_raises(spark, tmp_path):
    inc = IncrementalMPHF(f"{tmp_path}/inc")
    b0 = _batch(spark, 0, 3000)
    inc.append(b0, "k")
    with pytest.raises(RuntimeError, match="duplicate keys across generations"):
        inc.append(_batch(spark, 1000, 2500), "k")  # 1500 re-appended keys
    # the failed append must not have committed anything
    assert inc.total_keys(spark) == 3000
    assert len(inc.generations(spark)) == 1
    # and the lock must have been released
    inc.append(_batch(spark, 3000, 3500), "k")
    assert inc.total_keys(spark) == 3500


def test_manifest_refusals(spark, tmp_path):
    path = f"{tmp_path}/inc"
    inc = IncrementalMPHF(path, fp_bits=8)
    inc.append(_batch(spark, 0, 1000), "k")

    with pytest.raises(RuntimeError, match="manifest mismatch"):
        IncrementalMPHF(path, fp_bits=4).append(_batch(spark, 1000, 1100), "k")
    with pytest.raises(RuntimeError, match="manifest mismatch"):
        IncrementalMPHF(path, leaf_size=10).route(_batch(spark, 0, 10), "k")
    # key-mode change is a config change too
    longs = spark.range(5000, 5100).select(F.col("id").alias("k"))
    with pytest.raises(RuntimeError, match="manifest mismatch"):
        IncrementalMPHF(path).append(longs, "k")

    # committed generations with a deleted manifest are refused, not adopted
    import shutil

    shutil.rmtree(f"{path}/manifest")
    with pytest.raises(RuntimeError, match="no readable manifest"):
        IncrementalMPHF(path).append(_batch(spark, 1000, 1100), "k")

    # a path with nothing committed refuses lookup outright
    with pytest.raises(RuntimeError, match="append a first batch"):
        IncrementalMPHF(f"{tmp_path}/fresh").route(_batch(spark, 0, 10), "k")


def test_crash_window_orphan_is_overwritten(spark, tmp_path):
    path = f"{tmp_path}/inc"
    inc = IncrementalMPHF(path)
    inc.append(_batch(spark, 0, 2000), "k")

    # simulate a crash between the payload write and the lineage append:
    # run a full append, then surgically delete its lineage row by
    # rewriting lineage with only generation 0's rows
    lineage = spark.read.parquet(f"{path}/lineage").filter("gen = 0")
    rows = lineage.collect()
    inc.append(_batch(spark, 2000, 3000), "k")
    spark.createDataFrame(
        rows, spark.read.parquet(f"{path}/lineage").schema
    ).write.mode("overwrite").parquet(f"{path}/lineage")

    # gen=1 payload exists on disk but is uncommitted: invisible
    inc2 = IncrementalMPHF(path)
    assert inc2.total_keys(spark) == 2000
    assert len(inc2._load_gens(spark)) == 1

    # the next append takes gen=1 again, overwriting the orphan payload
    m = inc2.append(_batch(spark, 5000, 5800), "k")
    assert (m["gen"], m["offset"], m["n"]) == (1, 2000, 800)
    union = _union_with_gen([_batch(spark, 0, 2000), _batch(spark, 5000, 5800)])
    assert inc2.verify_bijection(union, "k", "g")["ok"]


def test_empty_batch_append_is_a_noop(spark, tmp_path):
    # an empty ingest batch must NOT commit a generation: an n=0
    # evaluator in the probe broadcast would crash every later lookup
    inc = IncrementalMPHF(f"{tmp_path}/inc")
    b0 = _batch(spark, 0, 1000)
    inc.append(b0, "k")
    m = inc.append(b0.filter("k = 'nope'"), "k")
    assert (m["gen"], m["n"]) == (None, 0)
    assert len(inc.generations(spark)) == 1
    # lookups and the next real append are unaffected
    b1 = _batch(spark, 1000, 1600)
    m1 = inc.append(b1, "k")
    assert (m1["gen"], m1["offset"]) == (1, 1000)
    union = _union_with_gen([b0, b1])
    assert inc.verify_bijection(union, "k", "g")["ok"]
    assert inc.route(b1, "k").filter("mphf_index is null").count() == 0


def test_evaluate_negative_gen_is_null_not_probe(spark, tmp_path):
    # -1 is route()'s PRIVATE probe sentinel; a user column carrying -1
    # (a common 'unknown' marker) must get the documented NULL, never
    # fingerprint-probe semantics
    inc = IncrementalMPHF(f"{tmp_path}/inc", fp_bits=1)
    b0 = _batch(spark, 0, 2000)
    inc.append(b0, "k")
    # fp_bits=1: members would match their own filter with certainty,
    # so any probe leak is guaranteed visible
    bad = b0.withColumn("g", F.lit(-1))
    out = inc.evaluate(bad, "k", "g", out_col="i")
    assert out.filter("i is not null").count() == 0
    # verify_bijection on an empty frame reports, not crashes
    v = inc.verify_bijection(
        b0.withColumn("g", F.lit(0)).filter("k = 'nope'"), "k", "g"
    )
    assert v["ok"] is False and v["rows"] == 0 and v["nulls"] == 0


def test_lookup_coalesce_auto(spark, tmp_path):
    inc = IncrementalMPHF(f"{tmp_path}/inc")
    b0 = _batch(spark, 0, 2000)
    inc.append(b0, "k")
    wide = b0.repartition(64).withColumn("g", F.lit(0))
    target = max(2, (3 * spark.sparkContext.defaultParallelism) // 2)
    ev = inc.evaluate(wide, "k", "g", out_col="i", coalesce="auto")
    assert ev.rdd.getNumPartitions() == min(64, target)
    assert ev.filter("i is null").count() == 0
    rt = inc.route(wide, "k", out_col="i", coalesce=8)
    assert rt.filter("i is null").count() == 0


def test_compact_rekeys_whole_universe(spark, tmp_path):
    # the planned end-of-window re-key: one generation 0 over everything,
    # a remap table downstream artifacts re-key through, exceptions gone
    inc = IncrementalMPHF(f"{tmp_path}/inc")
    b0 = _batch(spark, 0, 2000)
    b1 = _batch(spark, 2000, 3500)
    b2 = _batch(spark, 3500, 4200)
    for b in (b0, b1, b2):
        inc.append(b, "k")
    union = _union_with_gen([b0, b1, b2])

    new, remap = inc.compact(union, "k", f"{tmp_path}/compacted", gen_col="g")
    remap = remap.cache()
    assert remap.count() == 4200
    gens = new.generations(spark)
    assert len(gens) == 1
    assert gens[0]["n"] == 4200 and gens[0]["n_exceptions"] == 0
    agg = remap.agg(
        F.countDistinct("old_id").alias("od"),
        F.countDistinct("new_id").alias("nd"),
        F.min("new_id").alias("lo"),
        F.max("new_id").alias("hi"),
        F.sum(F.col("old_id").isNull().cast("long")).alias("null_old"),
    ).collect()[0]
    assert (agg["od"], agg["nd"], agg["lo"], agg["hi"]) == (4200, 4200, 0, 4199)
    assert (agg["null_old"] or 0) == 0
    # remap's old_id column IS what the old structure assigns, and new_id
    # IS what the compacted structure assigns (route is exact for members)
    old_chk = inc.route(remap, "k", out_col="old2")
    assert old_chk.filter("old2 <> old_id or old2 is null").count() == 0
    new_chk = new.route(remap, "k", out_col="new2")
    assert new_chk.filter("new2 <> new_id or new2 is null").count() == 0
    # the compacted structure is a global bijection, reloadable from disk
    assert new.verify_bijection(union.withColumn("g", F.lit(0)), "k", "g")["ok"]
    assert IncrementalMPHF(f"{tmp_path}/compacted").total_keys(spark) == 4200
    remap.unpersist()


def test_compact_validation_and_refusals(spark, tmp_path):
    inc = IncrementalMPHF(f"{tmp_path}/inc")
    b0 = _batch(spark, 0, 1500)
    b1 = _batch(spark, 1500, 2400)
    inc.append(b0, "k")
    inc.append(b1, "k")
    union = _union_with_gen([b0, b1])
    out = f"{tmp_path}/c"

    # a subset is not the committed universe (row-count gate)
    with pytest.raises(RuntimeError, match="not the committed universe"):
        inc.compact(b0, "k", out)
    # unresolvable rows are caught even when the count matches: same rows,
    # but one key's generation hint is out of range -> evaluate gives NULL
    poisoned = union.withColumn(
        "g", F.when(F.col("k") == "k0", F.lit(9)).otherwise(F.col("g"))
    )
    with pytest.raises(RuntimeError, match="not the committed universe"):
        inc.compact(poisoned, "k", out, gen_col="g")

    # failed validations left nothing committed at out: real compact works
    new, remap = inc.compact(union, "k", out)
    assert remap.count() == 2400
    # compacting again into a committed path refuses
    with pytest.raises(RuntimeError, match="already has committed"):
        inc.compact(union, "k", out)
    # a path with nothing committed cannot be compacted
    with pytest.raises(RuntimeError, match="append a first batch"):
        IncrementalMPHF(f"{tmp_path}/virgin").compact(
            union, "k", f"{tmp_path}/c2"
        )


def test_writer_lock(spark, tmp_path):
    path = f"{tmp_path}/inc"
    inc = IncrementalMPHF(path)
    inc.append(_batch(spark, 0, 500), "k")
    open(f"{path}/_lock", "w").close()  # another writer holds the lock
    with pytest.raises(RuntimeError, match="locked by another writer"):
        inc.append(_batch(spark, 500, 600), "k")
    inc.break_lock(spark)
    inc.append(_batch(spark, 500, 600), "k")
    assert inc.total_keys(spark) == 600


def test_stream_batch_id_makes_append_idempotent(spark, tmp_path):
    """The replay marker commits inside the lineage row: an append whose
    stream_batch_id is <= the highest committed one is a skipped no-op,
    while a fresh id appends normally — even interleaved with plain
    (non-stream) appends, whose uuid run_ids never parse as markers."""
    path = f"{tmp_path}/inc"
    inc = IncrementalMPHF(path)
    b0 = _batch(spark, 0, 2000)
    b1 = _batch(spark, 2000, 3000)

    m0 = inc.append(b0, "k", stream_batch_id=0)
    assert m0["gen"] == 0 and "skipped_replay" not in m0
    assert inc.last_stream_batch_id(spark) == 0

    # replayed micro-batch: skipped, nothing committed
    m0r = inc.append(b0, "k", stream_batch_id=0)
    assert m0r["skipped_replay"] and m0r["gen"] is None
    assert inc.total_keys(spark) == 2000

    # a plain append in between does not disturb the stream marker
    mplain = inc.append(_batch(spark, 9000, 9500), "k")
    assert mplain["gen"] == 1
    assert inc.last_stream_batch_id(spark) == 0

    m1 = inc.append(b1, "k", stream_batch_id=1)
    assert m1["gen"] == 2 and m1["offset"] == 2500
    # replays of BOTH stream batches now skip
    assert inc.append(b0, "k", stream_batch_id=0)["skipped_replay"]
    assert inc.append(b1, "k", stream_batch_id=1)["skipped_replay"]
    assert inc.total_keys(spark) == 3500

    union = _union_with_gen([b0, _batch(spark, 9000, 9500), b1])
    v = inc.verify_bijection(union, "k", "g")
    assert v["ok"], v


def test_compact_allow_removed_shrinks_universe(spark, tmp_path):
    """The forget path: compact(allow_removed=True) re-keys a strict
    SUBSET of the appended universe into a dense [0, n_surviving) id
    space; novel keys are still refused, and the default strict mode
    still refuses a subset."""
    from pyspark.sql import functions as F

    from recsplit_spark import IncrementalMPHF

    inc = IncrementalMPHF(f"{tmp_path}/shrink")
    b0 = spark.range(0, 500).select(F.concat(F.lit("k"), "id").alias("k"))
    b1 = spark.range(500, 800).select(F.concat(F.lit("k"), "id").alias("k"))
    inc.append(b0, "k")
    inc.append(b1, "k")

    survivors = spark.range(0, 800).filter(F.col("id") % 4 != 0).select(
        F.concat(F.lit("k"), "id").alias("k")
    )
    n_surv = survivors.count()
    with pytest.raises(RuntimeError, match="exactly"):
        inc.compact(survivors, "k", f"{tmp_path}/strict")

    new, remap = inc.compact(
        survivors, "k", f"{tmp_path}/shrunk", allow_removed=True
    )
    rows = remap.collect()
    assert len(rows) == n_surv
    new_ids = sorted(r["new_id"] for r in rows)
    assert new_ids == list(range(n_surv))  # dense bijection on survivors
    assert len({r["old_id"] for r in rows}) == n_surv  # injective remap

    # novel keys refused even with allow_removed
    novel = survivors.union(
        spark.createDataFrame([("nope",)], "k string")
    )
    with pytest.raises(RuntimeError, match="unresolvable"):
        inc.compact(novel, "k", f"{tmp_path}/novel", allow_removed=True)
