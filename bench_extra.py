#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement — this
file carries the extra instrumentation the optimization guide asks for):

  python bench_extra.py isolate   # noop-sink timings of the hot operators
                                  # (guide §1.4: computation, not sink)
  python bench_extra.py plans DIR # .explain("formatted") for every touched
                                  # query -> DIR/<query>_after.txt (run it
                                  # from the round-start tree for _before)
  python bench_extra.py sketchfold  # the sketch-partials transport A/B:
                                  # pandas fold vs a mapInArrow prototype vs
                                  # the pure-crossing floor (the measurement
                                  # behind OPTIMIZATION_r06.md's "fold
                                  # Arrow-ization: measured dead" verdict).
                                  # PROBE_DUP=k unions the input k times
                                  # (sf0.1 x 10 = the sf1.0 row count).

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _session(cores: int):
    from recsplit_spark.session import get_spark, ship_package

    spark = get_spark(app_name=f"recsplit-bench-extra-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _touched_frames(spark):
    """(name, dataframe) for every query path touched this round — the
    DataFrame whose plan/compute IS the timed operator (actions that
    build a descriptor or collect driver metadata are timed separately
    in ``isolate``)."""
    import pyspark.sql.functions as F

    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder
    from recsplit_spark.pipeline import dedup
    from recsplit_spark.pipeline.bpe import BPETokenizer

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()
    li.count()
    keys = (
        li.select(
            F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("pk")
        )
        .distinct()
        .cache()
    )
    n_keys = keys.count()

    frames = []
    frames.append(
        ("minhash_signatures", dedup.add_minhash(docs, "doc_id", "text", 128))
    )
    tok = BPETokenizer.train(docs, "text", vocab_size=320)
    frames.append(("bpe_encode", tok.encode(docs, "text")))

    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(
        keys, "pk", n=n_keys
    )
    desc2 = MPHFDescriptor.from_bytes(desc.to_bytes())
    # truncate the keys lineage (distinct -> 2 lineage exchanges) so the
    # captured plan is the OPERATOR's shape, not the fixture's
    keys_ck = keys.localCheckpoint()
    frames.append(
        ("mphf_eval", desc2.evaluate(keys_ck, "pk", coalesce="auto"))
    )
    # the build is an action chain; its plan-bearing frame is the kernel
    # frame (exchange + MapInPandas), taken from the builder's own helper
    from recsplit_spark.mphf import (
        _kernel_blocks,
        _make_kernel,
        bucket_log2_for,
        key_mode_for,
    )

    builder = RecSplitBuilder(leaf_size=8, avg_bucket_size=128)
    cast_t = "long" if key_mode_for(keys, "pk") == 1 else "string"
    kdf = keys_ck.select(F.col("pk").cast(cast_t).alias("__key"))
    blog2 = bucket_log2_for(n_keys, builder.avg_bucket_size)
    nparts = min(
        spark.sparkContext.defaultParallelism, max(1, n_keys // 32768), 1 << blog2
    )
    kernel = _make_kernel(builder.leaf_size, builder.avg_bucket_size)
    frames.append(
        ("mphf_build_blocks", _kernel_blocks(kdf, 0, blog2, nparts, kernel))
    )

    from recsplit_spark.data import sequences
    from recsplit_spark.pipeline.substring_dedup import duplicate_spans

    seq = sequences(spark, 2_000, partitions=8)
    frames.append(
        ("substring_duplicate_spans", duplicate_spans(seq, n=20, keep="first"))
    )
    return frames, {"keys": keys, "docs": docs, "desc2": desc2, "n_keys": n_keys}


def isolate(cores: int) -> dict:
    import pyspark.sql.functions as F

    spark = _session(cores)
    frames, ctx = _touched_frames(spark)
    out: dict[str, float] = {}

    def timed(name, fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)

    for name, df in frames:
        spark.sparkContext.setJobDescription(f"r6-isolate: {name}")
        timed(f"{name}_noop", lambda df=df: _noop(df))
    # action-level timings the noop cannot see
    from recsplit_spark.mphf import RecSplitBuilder

    keys, n_keys = ctx["keys"], ctx["n_keys"]
    spark.sparkContext.setJobDescription("r6-isolate: mphf_build_full")
    timed(
        "mphf_build_full",
        lambda: RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(
            keys, "pk", n=n_keys
        ),
    )
    desc2 = ctx["desc2"]
    spark.sparkContext.setJobDescription("r6-isolate: mphf_eval_agg")
    timed(
        "mphf_eval_agg",
        lambda: desc2.evaluate(keys, "pk", coalesce="auto")
        .agg(
            F.countDistinct("mphf_index").alias("d"),
            F.max("mphf_index").alias("mx"),
        )
        .collect(),
    )
    spark.sparkContext.setJobDescription(None)
    res = {"sf_dir": SF_DIR, "cores": cores, "timings": out}
    print(json.dumps(res))
    spark.stop()
    return res


def plans(cores: int, out_dir: str, suffix: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = _session(cores)
    frames, _ctx = _touched_frames(spark)
    for name, df in frames:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        jvm = spark.sparkContext._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        txt = df._jdf.queryExecution().explainString(mode)
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}")
    spark.stop()


def sketchfold(cores: int) -> dict:
    """Would Arrow-izing the sketch ``partials`` fold (base.py mapInPandas
    -> mapInArrow) pay? Times, over the bench's cached lineitem (optionally
    union'd PROBE_DUP times to reach the sf1.0 row count):

      jvm_hash_noop    — scan + cast(string) + xxhash64, no Python (JVM floor)
      cross_only_*     — mapInArrow that only counts rows: the pure
                         JVM->Python crossing floor, at the input's native
                         partitioning and split 4 ways
      hll_pandas       — the shipped HyperLogLog.count_distinct (pandas fold)
      hll_arrow_proto  — the identical fold via mapInArrow, zero-copy
                         column -> numpy (what the library change would ship)
      kll_pandas/arrow — same A/B for the value-feed KLL build (state
                         byte-identity checked: same Arrow batch boundaries)

    Exits non-zero when an HLL/KLL identity check fails; records the
    partition count ``cross_only_p4`` really ran with.

    Round-6 result (6M rows, 32 cores, healthy window): pandas ~= arrow on
    both sketches (hll 0.876 vs 0.901, kll 1.177 vs 1.219), crossing floor
    0.44-1.14 s (4+ tasks vs 1), JVM floor 0.12 s — the fold cost IS the
    per-row crossing, which the transport choice does not touch, so the
    library keeps the pandas fold."""
    import numpy as np
    import pyarrow as pa
    import pyspark.sql.functions as F

    from recsplit_spark.sketches.hll import HyperLogLog
    from recsplit_spark.sketches.kll import KLL

    spark = _session(cores)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dup = int(os.environ.get("PROBE_DUP", "1"))
    for _ in range(dup - 1):
        li = li.union(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"))
    li = li.cache()
    n = li.count()
    out: dict = {"rows": n, "parts": li.rdd.getNumPartitions(), "timings": {}}

    def timed(name, fn, reps=3):
        best, res = None, None
        for _ in range(reps):
            t0 = time.time()
            res = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out["timings"][name] = round(best, 3)
        return res

    hll, kll = HyperLogLog(p=14), KLL(k=256)
    src = li.select(F.xxhash64(F.col("l_orderkey").cast("string")).alias("__in"))
    vsrc = li.select(F.col("l_extendedprice").cast("double").alias("__in"))
    spark.sparkContext.setJobDescription("r6-sketchfold")

    timed("jvm_hash_noop", lambda: _noop(src))

    def _cross_only(batches):
        c = 0
        for b in batches:
            c += b.num_rows
        yield pa.RecordBatch.from_arrays([pa.array([c], type=pa.int64())], ["c"])

    timed(
        "cross_only_native",
        lambda: src.mapInArrow(_cross_only, "c long").agg(F.sum("c")).collect(),
    )
    p4 = src.coalesce(4)
    # coalesce only merges: on a narrower input this is not a 4-task run
    out["cross_only_p4_parts"] = p4.rdd.getNumPartitions()
    timed(
        "cross_only_p4",
        lambda: p4.mapInArrow(_cross_only, "c long").agg(F.sum("c")).collect(),
    )

    def arrow_build(sk, src_df):
        def _fold(batches):
            st = None
            for b in batches:
                # a nullable column would reach numpy as float64 NaN
                arr = b.column(0).drop_null().to_numpy(zero_copy_only=False)
                if st is None:
                    st = sk.new_state()
                sk.update(st, arr)
            if st is not None:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([sk.to_bytes(st)], type=pa.binary())], ["state"]
                )

        rows = src_df.mapInArrow(_fold, "state binary").collect()
        st = sk.new_state()
        for r in rows:
            st = sk.merge(st, sk.from_bytes(bytes(r["state"])))
        return st

    est_pd = timed("hll_pandas", lambda: hll.count_distinct(li, "l_orderkey"))
    st_ar = timed("hll_arrow_proto", lambda: arrow_build(hll, src))
    out["hll_estimates_equal"] = bool(abs(est_pd - hll.estimate(st_ar)) < 1e-9)

    ks_pd = timed("kll_pandas", lambda: kll.build(li, "l_extendedprice"))
    ks_ar = timed("kll_arrow_proto", lambda: arrow_build(kll, vsrc))
    out["kll_states_byte_equal"] = bool(kll.to_bytes(ks_pd) == kll.to_bytes(ks_ar))
    out["kll_quantiles_equal"] = bool(
        (
            np.asarray(kll.quantile(ks_pd, [0.01, 0.5, 0.99]))
            == np.asarray(kll.quantile(ks_ar, [0.01, 0.5, 0.99]))
        ).all()
    )
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()
    failed = [
        k
        for k in ("hll_estimates_equal", "kll_states_byte_equal", "kll_quantiles_equal")
        if not out[k]
    ]
    if failed:
        sys.exit(f"sketchfold identity check failed: {', '.join(failed)}")
    return out


if __name__ == "__main__":
    args = sys.argv[1:]
    cores = CPUS
    if "--cores" in args:
        cores = int(args[args.index("--cores") + 1])
    if args and args[0] == "isolate":
        isolate(cores)
    elif args and args[0] == "plans":
        out_dir = args[1] if len(args) > 1 else "plans/r06"
        suffix = args[2] if len(args) > 2 else "after"
        plans(cores, out_dir, suffix)
    elif args and args[0] == "sketchfold":
        sketchfold(cores)
    else:
        print("usage: bench_extra.py isolate | plans DIR [suffix] | sketchfold")
