#!/usr/bin/env python
"""spark-submit entry point: the composed nightly ingest — one new batch
of documents flows through the whole incremental family in one job:

  0. optionally (``--benchmark``, tokens mode) decontaminate the batch
     against a held-out benchmark's n-grams first — drop contaminated
     docs or cut the contaminated spans; stateless, so replay safety is
     untouched and ids are only ever assigned to clean documents;
  0b. optionally (``--scrub-pii`` / ``--quality`` / ``--quality-model``,
     text mode) scrub PII, apply the published stateless doc filters
     (gopher, repetition, c4), then score with a pre-trained learned
     quality model (``LogisticQualityModel`` blob; pure-Column scoring
     fuses into the same scan) — all pure functions of the batch;
  1. ``IncrementalDedup.append``  — near-dedup the batch against the
     persisted kept-corpus LSH state (old text never rescanned);
  2. ``IncrementalMPHF.append``   — assign the SURVIVORS stable
     ``[0, n)`` ids (earlier ids never move);
  3. ``IncrementalANN.append``    — optionally bucket the survivors'
     embeddings into the appendable IVF store (when ``--vec-col`` and a
     previously-fitted index path are given);
  4. write the kept rows + their ``mphf_index`` to ``--out/batch=<id>``
     (re-running the same ``--batch-id`` is idempotent end to end,
     because every append below it skips via its lineage replay marker
     and a committed output slot is preserved as-is);
  5. optionally (``--profile-spec``) fold the committed clean output
     into the nightly ``IncrementalProfile`` at ``<root>/profile`` — the
     sketches then describe the DEDUPED corpus, and the profile's
     processed-file manifest keeps the fold idempotent too;
  6. optionally (``--pack-capacity``) emit TRAINING EXAMPLES from the
     committed clean output: text mode tokenizes with a pre-trained BPE
     blob (``--tokenizer``, from BPETokenizer.to_bytes), tokens mode
     packs the token arrays directly; deterministic packing means a
     replay writes identical bins, and reading from the COMMITTED output
     slot (not the in-flight DataFrame) means a crash between steps 4
     and 6 is repaired by the retry.

Cluster usage (the north-rule deployment shape, ingest side)::

    python scripts/make_pyfiles_zip.py            # -> dist/recsplit_spark.zip
    spark-submit --py-files dist/recsplit_spark.zip \
        scripts/ingest_job.py \
        --input  <parquet dir of the NEW batch> \
        [--input-format jsonl --jsonl-schema 'doc_id bigint, text string,
         source string' [--on-bad drop]]   # raw crawl-dump side door \
        --root   <lake root: <root>/dedup, <root>/ids, <root>/ann created> \
        --out    <clean-corpus output dir> \
        --id-col doc_id --text-col text \
        [--batch-id N] [--threshold 0.8] [--mode text|tokens] \
        [--vec-col embedding --ann-index <fitted IVFIndex save path>]

Prints ONE JSON line with the per-stage metrics. Composition contract:
ids are assigned to DEDUPED documents only, so the id universe is the
clean corpus — downstream shard maps and feature stores never hold a
slot for a document dedup later deletes (they can't: dedup runs first
and kept docs are never revoked).

``--batch-id`` is what makes re-runs safe: with it, every stage skips
via its lineage replay marker and the output slot is overwritten
identically. WITHOUT it there is no replay identity — the output is
written ``mode("error")`` (a second run fails loudly instead of wiping
the previous corpus), and a crash between the state commits and the
output write cannot be retried (the appends would double). Use the
no-batch-id form for one-shot backfills only.
"""

from __future__ import annotations

import argparse
import json
import time


def _profile_specs(args):
    """--profile-spec strings -> SketchSpecs via the library parser
    (recsplit_spark.sketches.multi.parse_spec — no sibling-script
    import, so the deployed shape of entry-script + zip is enough)."""
    from recsplit_spark.sketches.multi import parse_spec

    try:
        return [
            parse_spec(
                t,
                hll_p=args.hll_p,
                cms_eps=args.cms_eps,
                cms_delta=args.cms_delta,
                bloom_n=args.bloom_n,
                bloom_fpr=args.bloom_fpr,
                theta_k=args.theta_k,
                mg_k=args.mg_k,
            )
            for t in args.profile_spec
        ]
    except ValueError as e:
        raise SystemExit(f"--profile-spec: {e}") from None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="new-batch parquet dir")
    ap.add_argument("--root", required=True,
                    help="lake root for the incremental structures")
    ap.add_argument("--out", required=True, help="clean-corpus output dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text",
                    help="content column (text or token array per --mode)")
    ap.add_argument("--mode", choices=["text", "tokens"], default="text")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--batch-id", type=int, default=None,
                    help="replay-safe batch id (nondecreasing per lake)")
    ap.add_argument("--benchmark", default=None,
                    help="parquet dir of held-out benchmark sequences; "
                         "enables the decontamination stage (requires "
                         "--mode tokens)")
    ap.add_argument("--benchmark-col", default=None,
                    help="token column in --benchmark (default: --text-col)")
    ap.add_argument("--decontam", choices=["drop", "cut"], default="drop",
                    help="drop contaminated docs or cut the contaminated "
                         "spans out")
    ap.add_argument("--decontam-n", type=int, default=13,
                    help="n-gram window for the benchmark overlap")
    ap.add_argument("--quality", default=None,
                    help="comma list of stateless text-quality filters to "
                         "run before dedup (requires --mode text): any of "
                         "gopher, repetition, c4")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="replace email/IPv4/phone matches with <KIND> "
                         "tokens before any other stage (--mode text)")
    ap.add_argument("--quality-model", default=None,
                    help="path to a serialized LogisticQualityModel blob "
                         "(pipeline/classifier.py): scores "
                         "with_quality_stats features over --text-col and "
                         "keeps docs with score >= --quality-threshold; "
                         "runs AFTER the rule filters (--mode text)")
    ap.add_argument("--quality-threshold", type=float, default=0.5,
                    help="P(keep) cut for --quality-model")
    ap.add_argument("--vec-col", default=None,
                    help="embedding column; enables the ANN stage")
    ap.add_argument("--ann-index", default=None,
                    help="path of a previously-fitted IVFIndex save "
                         "(required the first time the ANN stage runs)")
    ap.add_argument("--pq", choices=["raw", "opq", "sq8", "residual"], default=None,
                    help="pin a PQ codec on the ANN store at creation "
                         "(every generation then carries byte codes and "
                         "search_adc works; 'opq' adds the learned "
                         "rotation, 'residual' = IVFADC proper, codes "
                         "coupled to the index's centroid set). "
                         "Fitted on the FIRST batch; later runs load the "
                         "pinned codec from the store.")
    ap.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspaces (code bytes per vector)")
    ap.add_argument("--profile-spec", action="append", default=[],
                    help="fold the KEPT batch into <root>/profile as well "
                         "(same name=kind:col[:ngram=N] syntax as "
                         "incremental_job.py; repeatable). The profile "
                         "folds exactly the committed output files, so it "
                         "describes the CLEAN corpus.")
    ap.add_argument("--profile-keys", default="source",
                    help="comma-separated group keys for --profile-spec")
    ap.add_argument("--hll-p", type=int, default=14)
    ap.add_argument("--cms-eps", type=float, default=5e-4)
    ap.add_argument("--cms-delta", type=float, default=0.01)
    ap.add_argument("--bloom-n", type=int, default=1_000_000)
    ap.add_argument("--bloom-fpr", type=float, default=0.01)
    ap.add_argument("--theta-k", type=int, default=4096)
    ap.add_argument("--mg-k", type=int, default=1024)
    ap.add_argument("--pack-capacity", type=int, default=None,
                    help="emit packed training examples of this token "
                         "capacity from the committed clean output")
    ap.add_argument("--tokenizer", default=None,
                    help="BPETokenizer blob path (required for "
                         "--pack-capacity in --mode text)")
    ap.add_argument("--pack-mode", choices=["bins", "concat"],
                    default="bins")
    ap.add_argument("--packed-out", default=None,
                    help="packed-example output dir (default <out>_packed)")
    ap.add_argument("--input-format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="new-batch format; jsonl is the raw-dump side "
                         "door (crawl shards) and requires "
                         "--jsonl-schema")
    ap.add_argument("--jsonl-schema", default=None,
                    help="explicit DDL schema for --input-format jsonl, "
                         "e.g. 'doc_id bigint, text string, source "
                         "string' (schema inference would be a full "
                         "extra scan of the dump)")
    ap.add_argument("--on-bad", choices=["error", "drop"], default="error",
                    help="malformed-JSONL-line policy: error=FAILFAST "
                         "(default; a silent drop changes every "
                         "downstream count), drop=DROPMALFORMED")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    # ---- preflight: every cheap precondition, BEFORE the session and
    # the stateful appends. A SystemExit raised at stage 3+ leaves
    # dedup/ids state committed, and in the no-batch-id form the retry
    # then near-dedups the batch against its OWN just-committed state
    # and writes an (almost) empty corpus slot without error — so
    # anything that can be validated from the flags and local blobs
    # must fail here instead.
    if args.pack_capacity and args.mode == "text" and not args.tokenizer:
        raise SystemExit(
            "--pack-capacity in --mode text needs --tokenizer "
            "(a BPETokenizer.to_bytes blob)"
        )
    if args.tokenizer and args.mode == "tokens":
        raise SystemExit(
            "--tokenizer is a text-mode flag; tokens mode packs the "
            "token arrays as-is (refusing rather than silently "
            "ignoring the blob — its merge table would NOT govern "
            "the packed ids)"
        )
    if (args.pq or args.ann_index) and not args.vec_col:
        raise SystemExit(
            "--pq/--ann-index without --vec-col would be silently "
            "ignored (the ANN stage only runs over an embedding column)"
        )
    if args.tokenizer:
        from recsplit_spark.pipeline.bpe import BPETokenizer

        try:
            with open(args.tokenizer, "rb") as fh:
                BPETokenizer.from_bytes(fh.read())
        except (OSError, ValueError) as e:
            raise SystemExit(f"--tokenizer {args.tokenizer}: {e}") from None
    qm = None
    if args.quality_model:
        from recsplit_spark.pipeline.classifier import LogisticQualityModel

        try:
            with open(args.quality_model, "rb") as fh:
                qm = LogisticQualityModel.from_bytes(fh.read())
        except (OSError, ValueError) as e:
            raise SystemExit(
                f"--quality-model {args.quality_model}: {e}"
            ) from None
    if args.profile_spec:
        _profile_specs(args)  # malformed --profile-spec fails now

    from recsplit_spark.pipeline.incremental_dedup import IncrementalDedup
    from recsplit_spark.incremental_mphf import IncrementalMPHF
    from recsplit_spark.session import get_spark, ship_package

    t0 = time.time()
    spark = get_spark(app_name="ingest-job", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    root = args.root.rstrip("/")

    # preflight, continued: the one check that needs the session. The
    # FIRST ANN run creates the store and must have --ann-index (with
    # --pq, the codec is fitted against it too); discovering that at
    # stage 3 would be after the dedup/ids commits.
    if args.vec_col and not args.ann_index:
        from recsplit_spark.store import has_data

        if not has_data(spark, f"{root}/ann/manifest"):
            raise SystemExit(
                "--vec-col on the FIRST ANN run requires --ann-index "
                "(the store is created against that fitted IVFIndex; "
                "later runs read it from the store manifest)"
            )

    if args.input_format == "jsonl":
        if not args.jsonl_schema:
            raise SystemExit(
                "--input-format jsonl requires --jsonl-schema (explicit "
                "DDL; inference would double the read)"
            )
        from recsplit_spark.io import read_jsonl

        batch = read_jsonl(
            spark, args.input, args.jsonl_schema, on_bad=args.on_bad
        )
    else:
        batch = spark.read.parquet(args.input)

    # 0. optional benchmark decontamination — STATELESS (a pure function
    # of the batch), so it sits before the stateful appends and replay
    # safety is untouched; ids are assigned to clean survivors only
    m_decon = None
    if args.benchmark:
        if args.mode != "tokens":
            raise SystemExit(
                "--benchmark requires --mode tokens (the n-gram overlap "
                "is defined on token arrays)"
            )
        from recsplit_spark.pipeline.decontaminate import (
            benchmark_windows,
            decontaminate,
        )

        bench = spark.read.parquet(args.benchmark)
        bw = benchmark_windows(
            bench, col=args.benchmark_col or args.text_col,
            n=args.decontam_n,
        )
        n_before = batch.count()
        if args.decontam == "drop":
            batch = decontaminate(
                batch, bw, args.id_col, args.text_col,
                n=args.decontam_n, mode="drop",
            ).persist()
            m_decon = {
                "mode": "drop",
                "bench_windows": int(len(bw)),
                "in": n_before,
                "dropped": n_before - batch.count(),
            }
        else:
            cut = decontaminate(
                batch, bw, args.id_col, args.text_col,
                n=args.decontam_n, mode="cut",
            ).persist()
            from pyspark.sql import functions as F

            m_decon = {
                "mode": "cut",
                "bench_windows": int(len(bw)),
                "in": n_before,
                "removed_tok": int(
                    cut.agg(F.sum("removed_tok")).collect()[0][0] or 0
                ),
            }
            batch = cut.drop("removed_tok")

    # 0b. optional stateless quality pass (text mode): PII scrub first
    # (it rewrites the text every later stage sees), then the published
    # doc filters. Like decontamination this is a pure function of the
    # batch, so replay safety and the id contract are untouched —
    # dropped docs never reach dedup state or get an id.
    m_quality = None
    if args.quality or args.scrub_pii or args.quality_model:
        if args.mode != "text":
            raise SystemExit(
                "--quality/--scrub-pii/--quality-model require --mode "
                "text (the rules are defined on strings, not token arrays)"
            )
        from recsplit_spark.pipeline import text as _text
        from recsplit_spark.pipeline.repetition import (
            gopher_repetition_filter,
        )

        filters = {
            "gopher": lambda d: _text.gopher_filter(d, args.text_col),
            "repetition": lambda d: gopher_repetition_filter(
                d, args.text_col
            ),
            "c4": lambda d: _text.c4_filter(d, args.text_col),
        }
        names = [n for n in (args.quality or "").split(",") if n]
        unknown = [n for n in names if n not in filters]
        if unknown:
            raise SystemExit(f"unknown --quality filters: {unknown}")
        n_in_q = batch.count()
        if args.scrub_pii:
            batch = _text.scrub_pii(batch, args.text_col)
        for n in names:
            batch = filters[n](batch)
        if args.quality_model:
            # learned model LAST: it scores the scrubbed, rule-surviving
            # text; scoring is a pure Column expr so it fuses into the
            # same scan as the rule filters
            from pyspark.sql import functions as F

            # qm was parsed in preflight (a bad blob fails before any
            # state commit). with_quality_stats uses withColumn, which
            # would REPLACE any pre-existing batch column sharing a stat
            # name (n_chars on the documents tables, for one) with a
            # recomputed value — silent corruption of user columns.
            # Rename collisions aside first, restore after scoring.
            stat_cols = [
                c
                for c in _text.with_quality_stats(
                    batch.select(args.text_col).limit(0), args.text_col
                ).columns
                if c != args.text_col
            ]
            missing = [c for c in qm.feature_cols if c not in stat_cols]
            if missing:
                raise SystemExit(
                    f"--quality-model needs feature columns {missing} that "
                    "with_quality_stats does not produce"
                )
            collide = [c for c in stat_cols if c in batch.columns]
            orig_cols = batch.columns
            work = batch
            for c in collide:
                work = work.withColumnRenamed(c, f"__orig_{c}")
            work = (
                qm.with_score(
                    _text.with_quality_stats(work, args.text_col), "__qscore"
                )
                .filter(F.col("__qscore") >= args.quality_threshold)
                .drop("__qscore", *stat_cols)
            )
            for c in collide:
                work = work.withColumnRenamed(f"__orig_{c}", c)
            batch = work.select(*orig_cols)
        batch = batch.persist()
        m_quality = {
            "scrub_pii": bool(args.scrub_pii),
            "filters": names,
            "model": args.quality_model,
            "model_threshold": (
                args.quality_threshold if args.quality_model else None
            ),
            "in": n_in_q,
            "dropped": n_in_q - batch.count(),
        }

    # 1. dedup vs the kept corpus + itself
    dd = IncrementalDedup(f"{root}/dedup", threshold=args.threshold,
                          mode=args.mode)
    kept, m_dedup = dd.append(batch, args.id_col, args.text_col,
                              stream_batch_id=args.batch_id)
    kept = kept.persist()

    # 2. stable ids for the survivors only
    ids = IncrementalMPHF(f"{root}/ids")
    m_ids = ids.append(kept.select(args.id_col), args.id_col,
                       stream_batch_id=args.batch_id)
    with_ids = ids.route(kept, args.id_col)

    # 3. optional ANN over the survivors' embeddings
    m_ann = None
    if args.vec_col:
        from recsplit_spark.pipeline.ann import IVFIndex
        from recsplit_spark.pipeline.incremental_ann import IncrementalANN

        idx = (IVFIndex.load(spark, args.ann_index)
               if args.ann_index else None)
        from recsplit_spark.store import has_data

        codec = None
        first_run = not has_data(spark, f"{root}/ann/manifest")
        if args.pq is not None and first_run and kept.isEmpty():
            # an all-dropped first batch cannot fit a codec; creating
            # the store WITHOUT one would permanently pin codec=None
            # (the codec is fixed at creation), so skip the ANN stage
            # entirely — the next non-empty batch creates the pinned
            # store. Replaying this batch id later is still a no-op
            # for every other stage (their lineage markers committed).
            m_ann = {"gen": None, "n": 0, "skipped_empty_first_batch": True}
        elif args.pq is not None and first_run:
            # first run: fit the codec on this batch and pin it; later
            # runs load the pinned codec (and its sha) from the store
            from recsplit_spark.pipeline.pq import PQCodec, ResidualPQ

            if idx is None:
                raise SystemExit(
                    "--pq on the first ANN run requires --ann-index "
                    "(the codec is fitted against that index)"
                )
            vecs = kept.select(args.vec_col)
            if args.pq == "residual":
                codec = ResidualPQ(idx, m=args.pq_m)
            elif args.pq == "opq":
                from recsplit_spark.pipeline.pq import OPQCodec

                codec = OPQCodec(m=args.pq_m)
            elif args.pq == "sq8":
                from recsplit_spark.pipeline.pq import SQ8Codec

                codec = SQ8Codec()  # 4x: code bytes = dim, no m
            else:
                codec = PQCodec(m=args.pq_m)
            codec = codec.fit(vecs, args.vec_col)
        if m_ann is not None:
            store = None  # ANN stage skipped this run (see above)
        else:
            store = IncrementalANN(f"{root}/ann", index=idx, codec=codec)
        if store is not None and args.pq is not None and codec is None:
            # the store pre-exists, so the flag was not used to fit a
            # codec — it must AGREE with what the manifest pins; silently
            # dropping it would bypass the refuse-don't-adapt contract
            # (the operator believes --pq took effect, search_adc fails
            # months later)
            from recsplit_spark.pipeline.pq import (
                OPQCodec,
                PQCodec,
                ResidualPQ,
                SQ8Codec,
            )

            pinned = store.codec(spark)
            kind = (
                None if pinned is None
                else "residual" if isinstance(pinned, ResidualPQ)
                else "opq" if isinstance(pinned, OPQCodec)
                else "sq8" if isinstance(pinned, SQ8Codec)
                else "raw" if isinstance(pinned, PQCodec)
                else "unknown"
            )
            if kind != args.pq:
                raise SystemExit(
                    f"--pq {args.pq} requested but the ANN store at "
                    f"{root}/ann pins {kind!r}; the codec is fixed at "
                    "store creation (compact() into a fresh store to "
                    "change it)"
                )
        if store is not None:
            m_ann = store.append(kept.select(args.id_col, args.vec_col),
                                 args.id_col, args.vec_col,
                                 stream_batch_id=args.batch_id)

    # 4. idempotent per-batch output (same overwrite contract as
    # StreamingDedupIngest). Without --batch-id there is no replay
    # identity, so the bare --out dir is written with mode("error"):
    # a second run fails loudly instead of silently wiping the previous
    # night's corpus. A replayed batch whose slot already committed is
    # NOT rewritten: the content would be identical but the part-file
    # names would change, and the profile stage's processed-file
    # manifest (step 5) keys on file paths.
    from recsplit_spark.store import dir_exists

    if args.batch_id is not None:
        out_slot = f"{args.out.rstrip('/')}/batch={args.batch_id}"
        already = m_dedup.get("skipped_replay") and dir_exists(
            spark, f"{out_slot}/_SUCCESS"
        )
        if not already:
            with_ids.write.mode("overwrite").parquet(out_slot)
    else:
        out_slot = args.out.rstrip("/")
        with_ids.write.mode("error").parquet(out_slot)
    n_out = spark.read.parquet(out_slot).count()
    kept.unpersist()

    # 5. optional: fold the committed CLEAN output into the nightly
    # profile (sketches over the deduped corpus). Idempotence comes from
    # the profile's own processed-file manifest: update(files=...) folds
    # ONLY never-folded files, so a replay (slot preserved above) is a
    # no-op, and a crash between the output write and this fold is
    # repaired by the retry folding the then-unfolded files.
    m_profile = None
    if args.profile_spec:
        from recsplit_spark.sketches.incremental import (
            IncrementalProfile,
            _list_data_files,
        )

        specs = _profile_specs(args)
        prof = IncrementalProfile(
            specs, [k for k in args.profile_keys.split(",") if k],
            f"{root}/profile",
        )
        m_profile = prof.update(
            spark, files=_list_data_files(spark, out_slot)
        )

    # 6. optional: packed training examples from the COMMITTED clean
    # output. Text mode first tokenizes with the shipped BPE blob (the
    # blob, not a re-train — the merge table is the token-id semantics
    # and must be the same one every batch uses); deterministic packing
    # (value-defined groups) makes the replay content-identical, so the
    # slot logic mirrors step 4.
    m_pack = None
    if args.pack_capacity:
        import hashlib

        from pyspark.sql import functions as F

        from recsplit_spark.pipeline import packing as _packing

        clean = spark.read.parquet(out_slot)
        tok_sha = None
        if args.mode == "text":
            if not args.tokenizer:
                raise SystemExit(
                    "--pack-capacity in --mode text needs --tokenizer "
                    "(a BPETokenizer.to_bytes blob)"
                )
            from recsplit_spark.pipeline.bpe import BPETokenizer

            with open(args.tokenizer, "rb") as fh:
                blob = fh.read()
            tok_sha = hashlib.sha256(blob).hexdigest()
            tok = BPETokenizer.from_bytes(blob)
            clean = tok.encode(clean, args.text_col, out_col="tokens")
            tok_col = "tokens"
        else:
            tok_col = args.text_col

        # the packed store pins its config like every sibling state dir:
        # a replay (or a later batch) under a different capacity/mode/
        # tokenizer would silently mix incompatible examples — refuse
        packed_root = args.packed_out or args.out.rstrip("/") + "_packed"
        pack_cfg = (int(args.pack_capacity), args.pack_mode, tok_sha)
        cfg_schema = "capacity int, pack_mode string, tokenizer_sha string"
        # probe the _SUCCESS marker, not the bare dir (same as the step-4
        # slot check): a crash mid-manifest-write leaves a dir with no
        # committed parquet, and the overwrite below repairs it. Not
        # store.pin_manifest: tokenizer_sha is None in tokens mode and
        # must compare as a value, where pin_manifest's None adopts the
        # committed field (a tokens run would pass over a text-mode pin)
        if dir_exists(spark, f"{packed_root}/_manifest/_SUCCESS"):
            r = spark.read.parquet(f"{packed_root}/_manifest").collect()[0]
            pinned = (int(r["capacity"]), r["pack_mode"], r["tokenizer_sha"])
            if pinned != pack_cfg:
                raise SystemExit(
                    f"packed-output manifest mismatch at {packed_root}: "
                    f"committed {pinned} != requested {pack_cfg}; pack "
                    "into a fresh --packed-out instead of mixing configs"
                )
        else:
            spark.createDataFrame(
                [pack_cfg], cfg_schema
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{packed_root}/_manifest"
            )
        packer = (_packing.pack_bins if args.pack_mode == "bins"
                  else _packing.pack_concat)
        packed = packer(
            clean.select(args.id_col, tok_col),
            capacity=args.pack_capacity,
            id_col=args.id_col,
            col=tok_col,
        )
        if args.batch_id is not None:
            pack_slot = f"{packed_root}/batch={args.batch_id}"
            pack_already = already and dir_exists(
                spark, f"{pack_slot}/_SUCCESS"
            )
            if not pack_already:
                packed.write.mode("overwrite").parquet(pack_slot)
        else:
            pack_slot = f"{packed_root}/data"
            packed.write.mode("error").parquet(pack_slot)
        st = spark.read.parquet(pack_slot).agg(
            F.count("*").alias("bins"),
            F.sum("n_tok").alias("tok"),
            F.sum("pad").alias("pad"),
        ).collect()[0]
        m_pack = {
            "mode": args.pack_mode,
            "capacity": args.pack_capacity,
            "n_bins": int(st["bins"]),
            "n_tok": int(st["tok"] or 0),
            "pad": int(st["pad"] or 0),
            "out": pack_slot,
        }

    print(json.dumps({
        "decontam": m_decon,
        "quality": m_quality,
        "dedup": m_dedup,
        "ids": m_ids,
        "ann": m_ann,
        "profile": m_profile,
        "pack": m_pack,
        "rows_out": n_out,
        "out": out_slot,
        "total_kept": dd.total_kept(spark),
        "total_ids": ids.total_keys(spark),
        "wall_s": round(time.time() - t0, 1),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
