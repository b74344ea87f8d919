#!/usr/bin/env python
"""spark-submit entry point: forget documents across the incremental
lake state (RUNBOOK §3f) — the tombstone side of deletion.

Applies ``delete`` to whichever structures exist under ``--root``:

  - ``<root>/dedup``  (IncrementalDedup): the docs' LSH rows stop
    matching, so future near-copies are KEPT;
  - ``<root>/ann``    (IncrementalANN): search / ADC serving /
    semantic-dedup probing stop returning them immediately.

Physical removal rides the next planned compaction (``consolidate`` /
``compact``); the id side is a compaction-window operation — re-key the
surviving universe with ``IncrementalMPHF.compact(...,
allow_removed=True)`` — because it needs the whole surviving key set,
not a deletion batch.

Usage::

    spark-submit --py-files dist/recsplit_spark.zip \
        scripts/forget_job.py \
        --root <lake root> \
        (--ids 17,42,99 | --ids-parquet <dir> [--id-col doc_id])

Prints ONE JSON metrics line. Deletes are set-semantics: re-running the
same job is harmless.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True,
                    help="lake root (the ingest_job --root)")
    ap.add_argument("--ids", default=None,
                    help="comma-separated int64 doc ids")
    ap.add_argument("--ids-parquet", default=None,
                    help="parquet dir holding the ids to forget")
    ap.add_argument("--id-col", default="doc_id",
                    help="id column in --ids-parquet")
    args = ap.parse_args()
    if (args.ids is None) == (args.ids_parquet is None):
        raise SystemExit("pass exactly one of --ids / --ids-parquet")

    from recsplit_spark.pipeline.incremental_ann import IncrementalANN
    from recsplit_spark.pipeline.incremental_dedup import IncrementalDedup
    from recsplit_spark.session import get_spark, ship_package
    from recsplit_spark.store import dir_exists

    spark = get_spark(app_name="forget-job")
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    t0 = time.time()
    root = args.root.rstrip("/")

    if args.ids is not None:
        # keep the RAW strings: each store's delete() try_casts to its
        # own id type and refuses malformed values. Pre-coercing '007'
        # to 7 here would silently miss a string-id store's '007'.
        raw = [x.strip() for x in args.ids.split(",") if x.strip()]
        if not raw:
            # a quoting slip (--ids "$IDS" with IDS unset) must not
            # print a success JSON for a no-op "deletion"
            raise SystemExit("--ids is empty: nothing to forget")
        ids_df = spark.createDataFrame([(x,) for x in raw], "id string")
    else:
        ids_df = spark.read.parquet(args.ids_parquet).select(args.id_col)

    m_dedup = m_ann = None
    if dir_exists(spark, f"{root}/dedup/lineage"):
        m_dedup = IncrementalDedup.open(spark, f"{root}/dedup").delete(
            spark, ids_df
        )
    if dir_exists(spark, f"{root}/ann/lineage"):
        m_ann = IncrementalANN(f"{root}/ann").delete(
            spark, ids_df, id_col=ids_df.columns[0]
        )
    if m_dedup is None and m_ann is None:
        raise SystemExit(
            f"nothing to forget under {root}: no committed dedup or ann "
            "state found"
        )

    print(json.dumps({
        "dedup": m_dedup,
        "ann": m_ann,
        "wall_s": round(time.time() - t0, 2),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
