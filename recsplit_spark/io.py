"""Input sources for the sequences table (BASELINE.json input_hint).

The production input is an Iceberg table of pre-tokenized training
sequences ``(doc_id:string, tokens:array<int32>, n_tok:int32,
source:string)``. Iceberg rides entirely on Spark's catalog API — no code
here depends on it beyond ``spark.table`` — so the same call works for
parquet directories (this sandbox), Hive tables, or Iceberg:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=rest ... \
      job.py --input lake.db.sequences

Iceberg specifics we rely on (all free via Catalyst): column pruning to
``doc_id`` for MPHF builds, partition pruning on ``source`` filters,
snapshot isolation for resumable builds (a re-run reads the same snapshot
→ byte-identical descriptor), and hidden-partitioning so the bucket
shuffle is the ONLY data movement.
"""

from __future__ import annotations

SEQUENCES_FIELDS = {
    "doc_id": "string",
    "tokens": "array<int>",
    "n_tok": "int",
    "source": "string",
}


def read_input(spark, source: str):
    """Parquet-path-vs-catalog-table dispatch, shared by the job scripts
    and ``read_sequences`` (one rule, one place: a source containing a
    path separator or a ``.parquet`` suffix is a parquet location,
    anything else resolves through the session catalog — Iceberg/Hive
    table names land there). A bare name that is NOT a catalog table
    falls back to a directory probe (a relative parquet dir like
    ``--input data`` would otherwise die with TABLE_OR_VIEW_NOT_FOUND,
    hiding that the path merely lacked a separator); a catalog entry
    still wins that ambiguity — prefix the path with ``./`` to force
    the file reading of a shadowed name."""
    if "/" in source or source.endswith(".parquet"):
        import os

        # a scheme-less RELATIVE path resolves against the JVM working
        # dir (pinned at session launch), not the Python cwd — qualify
        # it when it exists locally, same probe as the bare-dir branch
        if (
            "://" not in source
            and not os.path.isabs(source)
            and os.path.exists(source)
        ):
            source = os.path.abspath(source)
        return spark.read.parquet(source)
    if spark.catalog.tableExists(source):
        return spark.table(source)
    import os

    if os.path.isdir(source):
        # qualify against the PYTHON cwd: the JVM's working dir is
        # pinned at session launch and does not follow a later chdir
        return spark.read.parquet(os.path.abspath(source))
    from .store import dir_exists

    if dir_exists(spark, source):  # non-local default FS (hdfs etc.)
        return spark.read.parquet(source)
    raise ValueError(
        f"input {source!r} is neither a catalog table nor an existing "
        "path (paths with no separator are tried as tables first; use "
        "./name to force a relative directory)"
    )


def read_sequences(spark, source: str, validate: bool = True):
    """Load the sequences table from a parquet path or a catalog/Iceberg
    table name. ``validate`` checks the input_hint schema contract."""
    df = read_input(spark, source)
    if validate:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = {
            k: v for k, v in SEQUENCES_FIELDS.items() if have.get(k) != v
        }
        if missing:
            raise ValueError(
                f"sequences schema mismatch: expected {missing}, have "
                f"{ {k: have.get(k) for k in missing} }"
            )
    return df


def write_sequences(df, path: str, mode: str = "error") -> None:
    """Write a sequences DataFrame (parquet; Iceberg via ``writeTo`` when a
    catalog is configured)."""
    df.write.mode(mode).parquet(path)


# ---------------------------------------------------------------------------
# JSONL ingestion (web-crawl / annotation dumps)
# ---------------------------------------------------------------------------

def read_jsonl(spark, path: str, fields, on_bad: str = "error"):
    """Newline-delimited JSON with an EXPLICIT schema — the raw-dump
    ingestion surface (crawl shards, annotation exports) feeding the
    parquet/Iceberg sequences table everything else reads.

    ``fields`` is a ``{name: ddl_type}`` dict (e.g. ``SEQUENCES_FIELDS``)
    or a full DDL string. The schema is always explicit: Spark's JSON
    schema inference is a FULL EXTRA SCAN of the input before the real
    one — at crawl scale that doubles the read — and inferred types
    drift with the sample (``int`` vs ``bigint``, all-null columns),
    so ingestion jobs must pin them.

    ``on_bad`` is the malformed-line policy, mapped to the source-level
    parser modes (no corrupt rows ever leave the scan, so no post-filter
    pass). IMPORTANT — the modes apply to each query plan's REQUIRED
    columns, a property of Spark's JSON source, not this wrapper: the
    parser only validates the fields a plan actually reads, so a plain
    ``.count()`` (required schema empty) neither drops nor fails rows
    whose fields are type-mismatched, and ``.select("doc_id")`` does not
    police ``tokens``. A plan that reads every field gets the full
    policy; anything pruned is unpoliced. To pin ONE materialization of
    the policy across differently-pruned consumers, cache or write the
    frame first (the ingest job writes to parquet immediately, which is
    the recommended shape).

    * ``"error"`` — FAILFAST: an unparseable line, or a type-mismatched
      REQUIRED field, aborts the job. The right default for pipeline
      determinism: a silent drop changes every downstream count.
    * ``"drop"`` — DROPMALFORMED: lines malformed w.r.t. the required
      fields are dropped at the parser. For dirty dumps where the drop
      is the point; audit the loss by comparing a full-schema
      materialization against ``on_bad="keep"`` counts.
    * ``"keep"`` — PERMISSIVE: whole-line JSON failures survive with
      all data fields null; a syntactically-valid line with some BAD
      field keeps its parseable fields (partial result). In BOTH cases
      the raw line lands in ``corrupt_record`` — test THAT column for
      corruption, never "data field is null" (partial results have
      non-null data fields). NOTE Spark refuses plans whose only
      referenced column is the internal corrupt-record column —
      materialize (cache/write) before aggregating ``corrupt_record``
      alone.

    Compression is transparent by extension (``.gz``, ``.zst``, ...) but
    gzip is NOT splittable — one task per ``.gz`` file, so parallelism =
    shard count. Crawl dumps already ship as many-shard directories,
    which is exactly what this wants; re-shard or use a splittable codec
    before ingesting single multi-GB gzip files."""
    ddl = (
        ", ".join(f"{k} {v}" for k, v in fields.items())
        if isinstance(fields, dict)
        else fields
    )
    modes = {"error": "FAILFAST", "drop": "DROPMALFORMED",
             "keep": "PERMISSIVE"}
    if on_bad not in modes:
        raise ValueError(
            f"on_bad must be 'error', 'drop', or 'keep', got {on_bad!r}"
        )
    if on_bad == "keep":
        names = (
            set(fields) if isinstance(fields, dict)
            else {f.split()[0].strip("`") for f in fields.split(",")}
        )
        if "corrupt_record" in names:
            raise ValueError(
                "on_bad='keep' reserves the column name corrupt_record "
                "for the raw-line sink; rename the data field"
            )
        ddl = f"{ddl}, corrupt_record string"
    reader = spark.read.schema(ddl).option("mode", modes[on_bad])
    if on_bad == "keep":
        reader = reader.option(
            "columnNameOfCorruptRecord", "corrupt_record"
        )
    return reader.json(path)


def read_sequences_jsonl(spark, path: str, on_bad: str = "error"):
    """``read_jsonl`` pinned to the sequences input_hint schema
    (``doc_id, tokens array<int>, n_tok, source``) — the JSONL-dump
    side door into every builder that takes ``read_sequences`` output.
    The explicit schema lands ``tokens`` as ``array<int>`` directly
    (inference would widen JSON integers to ``bigint``, silently
    doubling the token payload and breaking the zero-copy int32 Arrow
    paths downstream)."""
    return read_jsonl(spark, path, SEQUENCES_FIELDS, on_bad=on_bad)


def write_jsonl(df, path: str, mode: str = "error",
                compression: str | None = None) -> None:
    """Export a DataFrame as JSONL shards (interchange with non-Spark
    consumers; parquet remains the pipeline-internal format)."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


# ---------------------------------------------------------------------------
# key-file sources (SURVEY §2.1 S3/S4)
# ---------------------------------------------------------------------------

def read_keys_text(spark, path: str, key_col: str = "doc_id",
                   skip_blank: bool = True):
    """S3 analogue (``hem/KeyReader.java:46-340``): a key universe stored
    as newline-delimited text files, one key per line. The reference
    streams the file and hashes each line to a signature as it reads;
    here the text scan is a Spark source and hashing stays an in-engine
    Column expression (``mphf.key_sig_expr``) applied by whichever
    builder consumes the frame — the reader only standardizes the scan
    (and drops blank lines, which the reference's iterator also never
    yields)."""
    from pyspark.sql import functions as F

    df = spark.read.text(path).select(F.col("value").alias(key_col))
    if skip_blank:
        df = df.filter(F.length(key_col) > 0)
    return df


def write_sorted_signatures(df, key_col: str, path: str, salt: int = 0,
                            mode: str = "error") -> None:
    """S4 analogue (``hem/SortedSignatures.java:14-327``): persist the
    key universe as a globally-sorted 64-bit signature table. The
    reference writes Rice-coded deltas of sorted signatures to a
    memory-mapped file for out-of-core passes; parquet gives the same
    properties in-engine: ``repartitionByRange`` + ``sortWithinPartitions``
    is a total order, delta/dictionary encoding compresses the sorted
    int64 column, and row-group min/max stats replace the mmap seek.
    Because the range partitions are disjoint, equal signatures always
    land in the SAME partition — which is what makes the zero-shuffle
    adjacency scan in ``signature_duplicates`` complete."""
    from pyspark.sql import functions as F

    from .mphf import key_mode_for, key_sig_expr

    mode_flag = key_mode_for(df, key_col)
    sigs = df.select(key_sig_expr(key_col, salt, mode_flag).alias("sig"))
    (
        sigs.repartitionByRange("sig")
        .sortWithinPartitions("sig")
        .write.mode(mode)
        .parquet(path)
    )


def read_sorted_signatures(spark, path: str):
    """Read a ``write_sorted_signatures`` table (DataFrame[sig long])."""
    return spark.read.parquet(path)


def signature_duplicates(sigs_df, assume_sorted: bool = False):
    """Duplicate signatures via a sorted adjacency scan — the
    reference's approach (its ``SortedSignatures`` iterators compare
    neighbours during the sorted file pass) re-expressed on Spark.
    Default: one ``repartitionByRange`` exchange of the 8 B/row sig
    column + per-partition vectorized neighbour compare — sort-based,
    no hash-aggregation state (vs ``groupBy(sig)``'s map). With
    ``assume_sorted=True`` the exchange is skipped; ONLY safe when each
    in-memory partition is sorted and equal values are co-located (the
    in-memory frame ``write_sorted_signatures`` builds — NOT a re-read
    parquet table, whose file SPLITS can put equal neighbours in
    different read partitions). Returns DataFrame[sig long, n_dups
    long], count excluding the first occurrence — the rows an MPHF
    build must salt-re-roll away.

    Cost shape: ``repartitionByRange`` runs RangePartitioner's boundary
    SAMPLING pass over the upstream before the real exchange — two
    evaluations of the input (persist upstream if it is expensive), the
    same trade ``write_training_shards`` documents. The per-partition
    duplicate dict holds one entry per DISTINCT duplicated sig, which is
    tiny for the intended rare-collision signature audits; on
    duplicate-HEAVY universes (pre-dedup id tables) prefer
    ``groupBy(sig).count().filter("count > 1")`` — hash aggregation
    spills, this kernel's dict does not."""
    import numpy as np
    import pandas as pd

    src = (
        sigs_df
        if assume_sorted
        else sigs_df.repartitionByRange("sig").sortWithinPartitions("sig")
    )

    def _adjacent(batches):
        prev = None  # carries across Arrow batches WITHIN a partition
        agg: dict[int, int] = {}
        for pdf in batches:
            arr = pdf["sig"].to_numpy()
            if len(arr) == 0:
                continue
            dups = arr[1:][arr[1:] == arr[:-1]]
            if prev is not None and arr[0] == prev:
                dups = np.concatenate([arr[:1], dups])
            if len(dups):
                # loop is over DISTINCT duplicated sigs only (tiny)
                u, c = np.unique(dups, return_counts=True)
                for k, v in zip(u.tolist(), c.tolist()):
                    agg[k] = agg.get(k, 0) + v
            prev = arr[-1]
        if agg:
            yield pd.DataFrame(
                {"sig": list(agg), "n_dups": list(agg.values())}
            )

    return src.mapInPandas(_adjacent, schema="sig long, n_dups long")
