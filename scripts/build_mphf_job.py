#!/usr/bin/env python
"""spark-submit entry point: distributed MPHF build over a table's key column.

Cluster usage (the north-rule deployment shape)::

    python scripts/make_pyfiles_zip.py            # -> dist/recsplit_spark.zip
    spark-submit --py-files dist/recsplit_spark.zip \
        scripts/build_mphf_job.py \
        --input  <parquet path or Iceberg table name> \
        --key-col doc_id \
        --output /path/to/mphf_out \
        [--blocked] [--algo recsplit|bdz] [--leaf 8] [--avg-bucket 128] \
        [--block-log2 N] [--verify]

Prints ONE JSON line of build metrics (keys/sec, bits/key, wall seconds).
Run the same job at N and 4N executors to measure scaling efficiency
(sandbox stand-in: ``python bench.py --scaling`` uses local[8] vs local[32]).

The job is resumable: re-submitting with the same --output reuses completed
per-block checkpoints (blocked mode) — kill-and-restart loses at most the
in-flight partitions.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or Iceberg table")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--output", required=True)
    ap.add_argument("--blocked", action="store_true", help="parquet-backed blocked build")
    ap.add_argument("--algo", default="recsplit", choices=["recsplit", "bdz"])
    ap.add_argument("--leaf", type=int, default=8)
    ap.add_argument("--avg-bucket", type=int, default=128)
    ap.add_argument("--block-log2", type=int, default=None)
    ap.add_argument("--waves", type=int, default=1, help="checkpoint waves (blocked mode)")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--verify", action="store_true", help="full bijection check after build")
    ap.add_argument(
        "--space-priority",
        nargs="?", const=True, default=False,
        help="rule generation 2: smaller descriptors (1.683 vs 1.743 "
        "bits/key at leaf 12/256) for ~3x the build time. Pass "
        "'--space-priority max' for generation 3 (1.605 b/k at leaf "
        "14/512, ~80x the default build time — archive tier)",
    )
    args = ap.parse_args()
    if args.space_priority not in (False, True, "max"):
        ap.error("--space-priority takes no value or 'max'")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("recsplit-mphf-build").getOrCreate()
    # --py-files makes recsplit_spark importable on executors; importing here
    # (after session creation) works both under spark-submit and locally
    from recsplit_spark.blocked import BlockedMPHFBuilder
    from recsplit_spark.io import read_input
    from recsplit_spark.mphf import MPHFDescriptor, RecSplitBuilder

    df = read_input(spark, args.input)  # parquet path or Iceberg table

    keys = df.select(args.key_col).distinct()
    t0 = time.time()
    if args.blocked:
        mphf = BlockedMPHFBuilder(
            leaf_size=args.leaf,
            avg_bucket_size=args.avg_bucket,
            block_log2=args.block_log2,
            salt=args.salt,
            algo=args.algo,
            checkpoint_waves=args.waves,
            space_priority=args.space_priority,
        ).build(keys, args.key_col, args.output)
        n, bpk = mphf.n, mphf.bits_per_key
    else:
        if args.algo == "bdz":
            # gather-scale fallback algorithm (viable to ~10^8 keys on
            # the driver; use --blocked --algo bdz beyond that); leaf/
            # avg-bucket/space-priority are recsplit knobs
            if args.space_priority:
                raise SystemExit(
                    "--space-priority selects a recsplit split rule; "
                    "bdz has no split tree"
                )
            from recsplit_spark.bdz import BDZBuilder, BDZDescriptor

            desc = BDZBuilder(salt=args.salt).build(keys, args.key_col)
            mphf = BDZDescriptor.from_bytes(desc.to_bytes())
        else:
            desc = RecSplitBuilder(
                leaf_size=args.leaf, avg_bucket_size=args.avg_bucket,
                salt=args.salt, space_priority=args.space_priority,
            ).build(keys, args.key_col)
            mphf = MPHFDescriptor.from_bytes(desc.to_bytes())
        blob = desc.to_bytes()
        sc = spark.sparkContext
        # overwrite semantics like every other state write in the repo:
        # Hadoop's pickle save refuses an existing dir, which would kill
        # a re-submitted job AFTER the full rebuild
        from recsplit_spark.store import fs_for

        fs, p, _ = fs_for(spark, f"{args.output}/descriptor")
        if fs.exists(p):
            fs.delete(p, True)
        sc.parallelize([bytearray(blob)], 1).saveAsPickleFile(f"{args.output}/descriptor")
        n, bpk = desc.n, desc.bits_per_key
    build_s = time.time() - t0

    result = {
        "n_keys": n,
        "bits_per_key": round(bpk, 4),
        "build_sec": round(build_s, 2),
        "keys_per_sec": round(n / max(build_s, 1e-9), 1),
        "mode": "blocked" if args.blocked else "single",
        "algo": args.algo,
    }
    if args.verify:
        t0 = time.time()
        if args.blocked:
            # in-kernel per-block check: no second shuffle of n indices
            # (the countDistinct agg spill exceeds local disk at 10^9)
            res = mphf.verify_bijection(keys, args.key_col)
            result["verified_bijection"] = bool(
                res["ok"] and res["n_keys"] == n
            )
        else:
            if n >= 10**8:
                # CLAUDE.md: full-bijection checks at >= 10^8 keys MUST
                # go through BlockedMPHF.verify_bijection — this agg
                # re-shuffles all n indices and its spill ENOSPC'd this
                # box at 10^9. The descriptor is already persisted, so
                # emit the build metrics, then refuse the verify.
                print(json.dumps(result))
                raise SystemExit(
                    f"--verify at n={n} needs the in-kernel per-block "
                    "check: use --blocked (the countDistinct agg "
                    "re-shuffles all n indices and spills)"
                )
            out = mphf.evaluate(keys, args.key_col)
            row = out.agg(
                F.countDistinct("mphf_index").alias("d"),
                F.max("mphf_index").alias("mx"),
            ).collect()[0]
            result["verified_bijection"] = bool(
                row["d"] == n and row["mx"] == n - 1
            )
        result["verify_sec"] = round(time.time() - t0, 2)
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
