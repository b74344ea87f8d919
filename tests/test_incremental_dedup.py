"""IncrementalDedup: near-dedup of arriving batches against the persisted
kept-corpus LSH state, without rescanning old documents. Pins the NEW
contracts: cross-batch duplicates drop against state alone, within-batch
clusters resolve to their min-id rep, id-ordered batch feeding reproduces
the one-shot ``dedup_corpus`` kept set on clique fixtures, and the
manifest / lineage / lock / stream-replay discipline shared with the
other incremental structures."""

import pytest
from pyspark.sql import functions as F

from recsplit_spark.pipeline.dedup import dedup_corpus
from recsplit_spark.pipeline.incremental_dedup import IncrementalDedup

# recall-first banding (r=2) so LSH candidate recall is ~1 on the
# fixtures and the kept set is decided by verification alone — the same
# pinning the dedup oracle queries use.
CFG = dict(threshold=0.8, num_hashes=64, bands=32, shingle=5)


def _word(i):
    return f"w{i % 97}x{i % 89}"


def _base_text(cluster, n_words=120):
    # long deterministic text per cluster: a one-word perturbation moves
    # only ~shingle of ~n_words*8 char shingles => Jaccard ~0.99
    c = sum(ord(ch) * (i + 1) for i, ch in enumerate(str(cluster)))
    return " ".join(_word(c * 131 + j * 7) for j in range(n_words))


def _doc(doc_id, cluster=None, variant=0):
    if cluster is None:
        # unique doc: id-seeded word soup, pairwise Jaccard ~0
        text = " ".join(
            _word(doc_id * 997 + j * 13 + 5) for j in range(60)
        ) + f" unique{doc_id}"
        return (doc_id, text)
    words = _base_text(cluster).split()
    if variant:
        words[3 * variant % len(words)] = f"v{variant}q{cluster}"
    return (doc_id, " ".join(words))


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedups_within_and_across_batches(spark, tmp_path):
    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    # batch 0: cluster A {0,1}, uniques 2,3
    b0 = _df(spark, [_doc(0, "A", 0), _doc(1, "A", 1), _doc(2), _doc(3)])
    kept0, m0 = inc.append(b0, "doc_id", "text")
    assert m0["gen"] == 0 and m0["n_in"] == 4
    assert sorted(r["doc_id"] for r in kept0.collect()) == [0, 2, 3]
    assert m0["n_kept"] == 3 and m0["n_matched_old"] == 0
    assert m0["n_clusters"] == 1

    # batch 1: new copy of cluster A (drops vs state), new cluster B {11,12}
    # (one survives), unique 13
    b1 = _df(
        spark,
        [_doc(10, "A", 2), _doc(11, "B", 0), _doc(12, "B", 3), _doc(13)],
    )
    kept1, m1 = inc.append(b1, "doc_id", "text")
    assert m1["gen"] == 1
    assert sorted(r["doc_id"] for r in kept1.collect()) == [11, 13]
    assert m1["n_matched_old"] == 1  # doc 10 hit the kept corpus

    # batch 2: copies of BOTH kept reps drop; a cluster where one member
    # matches old drops the WHOLE cluster (20 ~ A kept-rep, 21 ~ 20)
    b2 = _df(
        spark,
        [_doc(20, "A", 4), _doc(21, "A", 5), _doc(22, "B", 6), _doc(23)],
    )
    kept2, m2 = inc.append(b2, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept2.collect()) == [23]

    assert inc.total_kept(spark) == 6
    all_kept = sorted(r["id"] for r in inc.kept_ids(spark).collect())
    assert all_kept == [0, 2, 3, 11, 13, 23]
    gens = inc.generations(spark)
    assert [g["gen"] for g in gens] == [0, 1, 2]
    assert [g["n_kept"] for g in gens] == [3, 2, 1]


def test_string_doc_ids_supported(spark, tmp_path):
    """Signature output schemas derive the id type from the input
    (round-5 fix: a hardcoded ``long`` made string ids die in Arrow
    serialization with a spurious int64-target error); integral ids
    still widen to long, so persisted integer-id state schemas are
    byte-unchanged."""
    from recsplit_spark.pipeline.dedup import add_minhash, add_simhash

    def _s(df):
        return df.withColumn(
            "doc_id", F.concat(F.lit("doc-"), F.format_string("%03d", "doc_id"))
        )

    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    b0 = _df(spark, [_doc(0, "A", 0), _doc(1, "A", 1), _doc(2), _doc(3)])
    kept0, m0 = inc.append(_s(b0), "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept0.collect()) == [
        "doc-000", "doc-002", "doc-003",
    ]
    assert m0["n_kept"] == 3 and m0["n_clusters"] == 1
    b1 = _df(spark, [_doc(10, "A", 2), _doc(13)])
    kept1, m1 = inc.append(_s(b1), "doc_id", "text")
    assert m1["n_matched_old"] == 1  # doc-010 hit the kept corpus state
    assert [r["doc_id"] for r in kept1.collect()] == ["doc-013"]
    # declared schema contract: strings pass through, integrals widen
    assert (
        add_minhash(_s(b0), "doc_id", "text").schema["doc_id"]
        .dataType.simpleString() == "string"
    )
    assert (
        add_minhash(b0, "doc_id", "text").schema["doc_id"]
        .dataType.simpleString() == "bigint"
    )
    assert (
        add_simhash(_s(b0), "doc_id", "text").schema["doc_id"]
        .dataType.simpleString() == "string"
    )
    # mixed id types per store refuse loudly (parquet schema merge would
    # otherwise fail generations later, far from the cause)
    with pytest.raises(ValueError, match="one id type per store"):
        inc.append(_df(spark, [_doc(40)]), "doc_id", "text")


def test_matches_batch_dedup_corpus_on_id_ordered_batches(spark, tmp_path):
    """On a clique fixture (near-exact copies), feeding id-ordered batches
    reproduces the one-shot dedup_corpus kept set exactly: the earliest
    batch containing any cluster member contains its min id, so the
    incremental rep == the batch-mode min-id rep."""
    rows = []
    did = 0
    for c in range(6):
        for v in range(4):  # 4 near-copies per cluster, ids interleaved
            rows.append(_doc(did, f"C{c}", v))
            did += 1
    for _ in range(16):
        rows.append(_doc(did))
        did += 1
    corpus = _df(spark, rows)

    batch_kept = sorted(
        r["doc_id"]
        for r in dedup_corpus(corpus, "doc_id", "text", **CFG).collect()
    )

    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    splits = [(0, 13), (13, 27), (27, 40)]
    for lo, hi in splits:
        inc.append(
            corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            "doc_id",
            "text",
        )
    inc_kept = sorted(r["id"] for r in inc.kept_ids(spark).collect())
    assert inc_kept == batch_kept


def test_stream_replay_skips_and_reproduces_kept(spark, tmp_path):
    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    b0 = _df(spark, [_doc(0, "A", 0), _doc(1, "A", 1), _doc(2)])
    kept0, m0 = inc.append(b0, "doc_id", "text", stream_batch_id=0)
    assert not m0["skipped_replay"] and m0["gen"] == 0
    want = sorted(r["doc_id"] for r in kept0.collect())

    # replay: nothing committed, kept set recomputed FROM STATE
    kept_r, m_r = inc.append(b0, "doc_id", "text", stream_batch_id=0)
    assert m_r["skipped_replay"] and m_r["gen"] == 0
    assert sorted(r["doc_id"] for r in kept_r.collect()) == want
    assert inc.total_kept(spark) == 2
    assert len(inc.generations(spark)) == 1

    b1 = _df(spark, [_doc(10, "A", 2), _doc(11)])
    _, m1 = inc.append(b1, "doc_id", "text", stream_batch_id=1)
    assert not m1["skipped_replay"] and m1["gen"] == 1
    assert inc.last_stream_batch_id(spark) == 1
    # both ids now replay as skips
    assert inc.append(b0, "doc_id", "text", stream_batch_id=0)[1][
        "skipped_replay"
    ]
    assert inc.append(b1, "doc_id", "text", stream_batch_id=1)[1][
        "skipped_replay"
    ]
    assert inc.total_kept(spark) == 3


def test_manifest_refuses_config_change(spark, tmp_path):
    path = f"{tmp_path}/dd"
    inc = IncrementalDedup(path, **CFG)
    inc.append(_df(spark, [_doc(0), _doc(1)]), "doc_id", "text")
    other = IncrementalDedup(path, threshold=0.8, num_hashes=64, bands=16,
                             shingle=5)
    with pytest.raises(RuntimeError, match="manifest mismatch"):
        other.append(_df(spark, [_doc(2)]), "doc_id", "text")
    # same config reopens fine
    again = IncrementalDedup(path, **CFG)
    _, m = again.append(_df(spark, [_doc(3)]), "doc_id", "text")
    assert m["gen"] == 1


def test_writer_lock(spark, tmp_path):
    path = f"{tmp_path}/dd"
    inc = IncrementalDedup(path, **CFG)
    inc.append(_df(spark, [_doc(0)]), "doc_id", "text")
    open(f"{path}/_lock", "w").close()  # another writer holds the lock
    with pytest.raises(RuntimeError, match="locked by another writer"):
        inc.append(_df(spark, [_doc(1)]), "doc_id", "text")
    inc.break_lock(spark)
    _, m = inc.append(_df(spark, [_doc(1)]), "doc_id", "text")
    assert m["gen"] == 1


def test_token_mode(spark, tmp_path):
    """Token-shingle mode over array<int> payloads (the north-rule
    column): same semantics, Arrow token kernels underneath."""
    def tok_doc(doc_id, cluster=None, variant=0):
        if cluster is None:
            toks = [(doc_id * 7919 + j * 31) % 50021 for j in range(80)]
        else:
            toks = [(cluster * 104729 + j * 17) % 50021 for j in range(80)]
            if variant:
                toks[(5 * variant) % 80] = 50021 + variant
        return (doc_id, toks)

    df0 = spark.createDataFrame(
        [tok_doc(0, 1, 0), tok_doc(1, 1, 1), tok_doc(2)],
        "doc_id long, tokens array<int>",
    )
    df1 = spark.createDataFrame(
        [tok_doc(10, 1, 2), tok_doc(11)],
        "doc_id long, tokens array<int>",
    )
    inc = IncrementalDedup(f"{tmp_path}/dd", mode="tokens", **CFG)
    kept0, m0 = inc.append(df0, "doc_id", "tokens")
    assert sorted(r["doc_id"] for r in kept0.collect()) == [0, 2]
    kept1, m1 = inc.append(df1, "doc_id", "tokens")
    assert sorted(r["doc_id"] for r in kept1.collect()) == [11]
    assert m1["n_matched_old"] == 1


def test_duplicate_ids_within_batch_raise(spark, tmp_path):
    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    dup = _df(spark, [_doc(0), (0, "another text entirely different")])
    with pytest.raises(ValueError, match="distinct within the batch"):
        inc.append(dup, "doc_id", "text")


def test_consolidate_single_generation_same_behavior(spark, tmp_path):
    """Consolidation rewrites G state dirs into one generation at a new
    path: same kept set, same dedup decisions afterwards, stream replay
    high-water mark carried forward."""
    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    inc.append(_df(spark, [_doc(0, "A", 0), _doc(1, "A", 1), _doc(2)]),
               "doc_id", "text", stream_batch_id=0)
    inc.append(_df(spark, [_doc(10, "B", 0), _doc(11)]),
               "doc_id", "text", stream_batch_id=1)

    new = inc.consolidate(spark, f"{tmp_path}/dd2")
    assert len(new.generations(spark)) == 1
    assert sorted(r["id"] for r in new.kept_ids(spark).collect()) == sorted(
        r["id"] for r in inc.kept_ids(spark).collect()
    )
    assert new.last_stream_batch_id(spark) == 1
    # replays against the consolidated path still skip
    _, m = new.append(_df(spark, [_doc(0, "A", 0)]), "doc_id", "text",
                      stream_batch_id=1)
    assert m["skipped_replay"]
    # dedup vs consolidated state behaves identically: copies of both
    # kept reps drop, fresh doc survives
    kept, m2 = new.append(
        _df(spark, [_doc(20, "A", 3), _doc(21, "B", 2), _doc(22)]),
        "doc_id", "text", stream_batch_id=2,
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [22]
    assert m2["n_matched_old"] == 2
    # target-occupied refusal
    with pytest.raises(RuntimeError, match="already has committed"):
        inc.consolidate(spark, f"{tmp_path}/dd2")


def test_unmarked_replayed_batch_id_does_not_misattribute(spark, tmp_path):
    """A replayed batch id with no lineage marker (its original run was
    empty, so nothing committed) must NOT skip with another generation's
    metrics — it re-runs and no-ops naturally."""
    inc = IncrementalDedup(f"{tmp_path}/dd", **CFG)
    inc.append(_df(spark, [_doc(0)]), "doc_id", "text", stream_batch_id=0)
    # batch 1 was empty: commits nothing, no sb1 marker
    _, m1 = inc.append(_df(spark, []), "doc_id", "text", stream_batch_id=1)
    assert m1["gen"] is None and m1["n_in"] == 0
    inc.append(_df(spark, [_doc(5)]), "doc_id", "text", stream_batch_id=2)
    # replay of the empty batch 1: id <= high-water mark but unmarked —
    # must re-run as a no-op, not return batch 2's row
    _, m1r = inc.append(_df(spark, []), "doc_id", "text", stream_batch_id=1)
    assert m1r["gen"] is None and m1r["n_in"] == 0
    assert "skipped_replay" in m1r and not m1r["skipped_replay"]
    assert inc.total_kept(spark) == 2


def test_delete_unsuppresses_future_near_dups_and_consolidate_drops(
    spark, tmp_path
):
    """Right-to-be-forgotten in the dedup state: after delete(), a
    future near-copy of the deleted doc is KEPT (its state rows no
    longer match), kept_ids excludes it immediately, and consolidate
    drops its rows physically into a clean new store."""
    inc = IncrementalDedup(f"{tmp_path}/tomb", **CFG)
    # batch 0: doc 1 is a cluster-7 doc, doc 2 unique
    kept, m0 = inc.append(
        _df(spark, [_doc(1, cluster=7), _doc(2)]), "doc_id", "text"
    )
    assert m0["n_kept"] == 2

    # a near-copy of doc 1 arrives -> suppressed by state
    _, m1 = inc.append(
        _df(spark, [_doc(10, cluster=7, variant=1)]), "doc_id", "text"
    )
    assert m1["n_kept"] == 0 and m1["n_matched_old"] == 1

    # forget doc 1
    d = inc.delete(spark, [1])
    assert d["n"] == 1
    assert inc.total_tombstoned(spark) == 1
    ids = {r["id"] for r in inc.kept_ids(spark).collect()}
    assert ids == {2}

    # the same near-copy arrives again (new id) -> now KEPT
    _, m2 = inc.append(
        _df(spark, [_doc(11, cluster=7, variant=1)]), "doc_id", "text"
    )
    assert m2["n_kept"] == 1 and m2["n_matched_old"] == 0

    # re-delete + unknown id: set-semantics no-ops
    inc.delete(spark, [1, 424242])
    assert inc.total_tombstoned(spark) == 2  # distinct {1, 424242}
    assert {r["id"] for r in inc.kept_ids(spark).collect()} == {2, 11}

    # consolidate: physical drop, clean tombstone slate, count honest
    new = inc.consolidate(spark, f"{tmp_path}/tomb2")
    assert new.total_tombstoned(spark) == 0
    assert {r["id"] for r in new.kept_ids(spark).collect()} == {2, 11}
    assert new.generations(spark)[0]["n_kept"] == 2
    # and the new store still suppresses near-dups of the SURVIVORS
    _, m3 = new.append(
        _df(spark, [_doc(20, cluster=7, variant=2)]), "doc_id", "text"
    )
    assert m3["n_matched_old"] == 1 and m3["n_kept"] == 0


def test_streaming_replay_after_delete_omits_forgotten_doc(
    spark, tmp_path
):
    """The documented forget-vs-replay semantic: a replayed output slot
    is rewritten WITHOUT docs deleted since the original run — the
    kept set is recomputed from state, and state excludes tombstones."""
    import pandas as pd

    from recsplit_spark.streaming import StreamingDedupIngest

    rows = [_doc(1, cluster=3), _doc(2), _doc(3)]
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        src / "part-0.parquet", index=False
    )

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src))
        )

    inc = IncrementalDedup(f"{tmp_path}/sd", **CFG)
    ing = StreamingDedupIngest(inc, "doc_id", "text", f"{tmp_path}/clean")
    ing.start(stream(), checkpoint_dir=f"{tmp_path}/ck1").awaitTermination(120)
    out = spark.read.parquet(f"{tmp_path}/clean")
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}

    inc.delete(spark, [2])

    # full replay (checkpoint loss): slot rewritten without doc 2
    ing2 = StreamingDedupIngest(
        IncrementalDedup(f"{tmp_path}/sd", **CFG), "doc_id", "text",
        f"{tmp_path}/clean",
    )
    ing2.start(stream(), checkpoint_dir=f"{tmp_path}/ck2").awaitTermination(120)
    assert all(m["skipped_replay"] for m in ing2.metrics)
    # metrics agree with the rewritten slot (live count, not lineage)
    assert ing2.metrics[0]["n_kept"] == 2
    out2 = spark.read.parquet(f"{tmp_path}/clean")
    assert {r["doc_id"] for r in out2.collect()} == {1, 3}


def test_delete_refuses_uncommitted_path(spark, tmp_path):
    """A mistyped path must refuse loudly — NOT create a manifest and
    report a no-op 'success' while the real store keeps matching."""
    inc = IncrementalDedup(f"{tmp_path}/nope", **CFG)
    with pytest.raises(RuntimeError, match="no incremental dedup"):
        inc.delete(spark, [1])
    import os

    assert not os.path.exists(f"{tmp_path}/nope/manifest")
