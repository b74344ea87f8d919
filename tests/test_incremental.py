"""IncrementalProfile: incremental per-key state-table maintenance.

The load-bearing invariants:
  * incremental updates are VALUE-IDENTICAL (byte-identical states for
    batch-order-insensitive sketches) to one full rebuild over all data;
  * an update scans ONLY never-processed files (proven by deleting the
    already-folded files from disk before the second update);
  * the commit protocol survives the crash window between the state-table
    write and the lineage append (orphaned generation dirs are ignored
    and overwritten);
  * the config manifest refuses mismatched or manifestless-but-committed
    resumes (same failure mode as the checkpoint manifests).
"""

import os
import shutil

import pytest

from recsplit_spark.data import sequences
from recsplit_spark.sketches import CountMinSketch, HyperLogLog
from recsplit_spark.sketches.incremental import (
    IncrementalProfile,
    _canon_file,
    _list_data_files,
    merge_profile_tables,
)
from recsplit_spark.sketches.multi import SketchSpec, profile_by_key


def _specs():
    return [
        SketchSpec("docs", HyperLogLog(p=12), "doc_id"),
        SketchSpec("grams3", HyperLogLog(p=12), "tokens", ngram=3),
        SketchSpec("tok_freq", CountMinSketch(eps=1e-3, delta=1e-3), "n_tok"),
    ]


def _state_set(df):
    return {
        (r["source"], r["name"], bytes(r["state"])) for r in df.collect()
    }


def _write_batch(spark, lo, hi, path, parts=2):
    # sequences(n) generates rows [0, n); slice [lo, hi) via doc row index
    df = sequences(spark, hi, partitions=max(parts, 2))
    if lo:
        # regenerate deterministically: drop the rows of the earlier batch
        earlier = sequences(spark, lo, partitions=2).select("doc_id")
        df = df.join(earlier, "doc_id", "left_anti")
    df.repartition(parts).write.mode("overwrite").parquet(path)


_GRAM_A, _GRAM_B = (901, 902, 903), (911, 912, 913)


def _planted_batches(spark, tmp_path):
    """Two disjoint parquet batches with a distinct trigram planted at
    the end of every doc's truncated tokens (_GRAM_A in batch 1,
    _GRAM_B in batch 2; truncation keeps per-source distinct grams far
    below the exact-regime k the gram tests use)."""
    import pyspark.sql.functions as F

    def _mk(lo, hi, gram):
        df = sequences(spark, hi, partitions=2)
        if lo:
            earlier = sequences(spark, lo, partitions=2).select("doc_id")
            df = df.join(earlier, "doc_id", "left_anti")
        return df.withColumn(
            "tokens",
            F.concat(
                F.slice("tokens", 1, 24),
                F.array(*[F.lit(t) for t in gram]),
            ),
        )

    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _mk(0, 120, _GRAM_A).write.parquet(p1)
    _mk(120, 320, _GRAM_B).write.parquet(p2)
    return p1, p2


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Two disjoint parquet batches + the concatenated full corpus df."""
    root = tmp_path_factory.mktemp("inc_corpus")
    b1, b2 = str(root / "b1"), str(root / "b2")
    _write_batch(spark, 0, 400, b1, parts=2)
    _write_batch(spark, 400, 650, b2, parts=3)
    full = spark.read.parquet(b1, b2)
    return {"b1": b1, "b2": b2, "full": full}


def test_incremental_matches_full_rebuild(spark, corpus, tmp_path):
    inc = IncrementalProfile(_specs(), ["source"], str(tmp_path / "prof"))
    m1 = inc.update(spark, source=corpus["b1"])
    assert m1["gen"] == 1 and m1["new_files"] == 2 and m1["rows"] == 400
    m2 = inc.update(spark, source=corpus["b2"])
    assert m2["gen"] == 2 and m2["new_files"] == 3 and m2["rows"] == 250
    want = _state_set(profile_by_key(corpus["full"], ["source"], _specs()))
    assert _state_set(inc.states(spark)) == want

    # estimates read the committed table and dispatch per spec
    ests = {
        (r["source"], r["name"]): r["estimate"]
        for r in inc.estimates(spark).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in corpus["full"]
        .groupBy("source")
        .agg({"doc_id": "count"})
        .withColumnRenamed("count(doc_id)", "n")
        .collect()
    }
    for src, n in exact.items():
        assert ests[(src, "docs")] == pytest.approx(n, rel=0.15)

    # lineage carries per-file rows + run metadata
    lin = inc.lineage(spark).collect()
    assert len(lin) == 5
    assert sum(r["n_rows"] for r in lin) == 650
    assert all(r["wall_sec"] > 0 and r["lineage"].startswith("run-") for r in lin)


def test_update_scans_only_new_files(spark, corpus, tmp_path):
    src_dir = str(tmp_path / "src")
    shutil.copytree(corpus["b1"], src_dir)
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=src_dir)
    # delete the folded files: any rescan of them would now fail loudly
    shutil.rmtree(src_dir)
    shutil.copytree(corpus["b2"], src_dir)
    m = inc.update(spark, source=src_dir)
    assert m["new_files"] == 3 and m["gen"] == 2
    want = _state_set(profile_by_key(corpus["full"], ["source"], _specs()[:1]))
    assert _state_set(inc.states(spark)) == want
    # idempotent no-op third run
    m3 = inc.update(spark, source=src_dir)
    assert m3 == {"gen": 2, "new_files": 0, "rows": 0}


def test_explicit_file_list_is_the_snapshot_diff_hook(spark, corpus, tmp_path):
    files = _list_data_files(spark, corpus["b1"])
    assert len(files) == 2 and all(f.startswith("file:///") for f in files)
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "prof"))
    m = inc.update(spark, files=files)
    assert m["new_files"] == 2 and m["rows"] == 400
    b1 = spark.read.parquet(corpus["b1"])
    want = _state_set(profile_by_key(b1, ["source"], _specs()[:1]))
    assert _state_set(inc.states(spark)) == want
    with pytest.raises(ValueError, match="exactly one"):
        inc.update(spark, source=corpus["b1"], files=files)
    with pytest.raises(ValueError, match="exactly one"):
        inc.update(spark)


def test_orphaned_generation_is_ignored_and_overwritten(spark, corpus, tmp_path):
    path = str(tmp_path / "prof")
    inc = IncrementalProfile(_specs()[:2], ["source"], path)
    inc.update(spark, source=corpus["b1"])
    # simulate the crash window: a gen=2 state dir committed but the
    # lineage append lost — committed generation must remain 1
    shutil.copytree(f"{path}/state/gen=1", f"{path}/state/gen=2")
    assert inc._committed_gen(spark) == 1
    m = inc.update(spark, source=corpus["b2"])
    assert m["gen"] == 2
    want = _state_set(profile_by_key(corpus["full"], ["source"], _specs()[:2]))
    assert _state_set(inc.states(spark)) == want


def test_manifest_refuses_mismatched_config(spark, corpus, tmp_path):
    path = str(tmp_path / "prof")
    IncrementalProfile(_specs(), ["source"], path).update(
        spark, source=corpus["b1"]
    )
    # different sketch parameters under the same spec name
    other = [SketchSpec("docs", HyperLogLog(p=13), "doc_id")] + _specs()[1:]
    with pytest.raises(ValueError, match="manifest mismatch"):
        IncrementalProfile(other, ["source"], path).update(
            spark, source=corpus["b2"]
        )
    # different group keys
    with pytest.raises(ValueError, match="manifest mismatch"):
        IncrementalProfile(_specs(), ["doc_id"], path).update(
            spark, source=corpus["b2"]
        )
    # committed generations but no manifest: refuse adoption
    shutil.rmtree(f"{path}/manifest")
    with pytest.raises(ValueError, match="no readable manifest"):
        IncrementalProfile(_specs(), ["source"], path).update(
            spark, source=corpus["b2"]
        )


def test_constructor_contracts():
    with pytest.raises(ValueError, match="at least one group key"):
        IncrementalProfile(_specs(), [], "/tmp/x")
    with pytest.raises(ValueError, match="at least one spec"):
        IncrementalProfile([], ["source"], "/tmp/x")
    with pytest.raises(ValueError, match="duplicate spec names"):
        IncrementalProfile(
            [
                SketchSpec("a", HyperLogLog(p=12), "doc_id"),
                SketchSpec("a", HyperLogLog(p=12), "source"),
            ],
            ["source"],
            "/tmp/x",
        )


def test_states_before_any_commit_raises(spark, tmp_path):
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "p"))
    with pytest.raises(ValueError, match="no committed updates"):
        inc.states(spark)


def test_merge_profile_tables_partitions_arbitrarily(spark, corpus):
    """Merging per-batch profile tables == one build over everything —
    the associativity that makes every incremental schedule equivalent."""
    specs = _specs()
    b1 = spark.read.parquet(corpus["b1"])
    b2 = spark.read.parquet(corpus["b2"])
    t1 = profile_by_key(b1, ["source"], specs)
    t2 = profile_by_key(b2, ["source"], specs)
    merged = merge_profile_tables([t1, t2], ["source"], specs)
    want = _state_set(profile_by_key(corpus["full"], ["source"], specs))
    assert _state_set(merged) == want


def test_writer_lock_blocks_concurrent_update(spark, corpus, tmp_path):
    path = str(tmp_path / "prof")
    inc = IncrementalProfile(_specs()[:1], ["source"], path)
    inc.update(spark, source=corpus["b1"])
    # a crashed/concurrent writer left the lock: update must refuse
    open(f"{path}/_lock", "w").close()
    with pytest.raises(RuntimeError, match="locked by another writer"):
        inc.update(spark, source=corpus["b2"])
    inc.break_lock(spark)
    m = inc.update(spark, source=corpus["b2"])
    assert m["gen"] == 2
    # lock released after both success and refusal
    assert not os.path.exists(f"{path}/_lock")


def test_vacuum_drops_superseded_generations(spark, corpus, tmp_path):
    import os

    path = str(tmp_path / "prof")
    inc = IncrementalProfile(_specs()[:1], ["source"], path)
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    assert sorted(os.listdir(f"{path}/state")) == ["gen=1", "gen=2"]
    assert inc.vacuum(spark) == [1]
    assert sorted(os.listdir(f"{path}/state")) == ["gen=2"]
    # committed table still reads; keep >= committed is a no-op
    want = _state_set(profile_by_key(corpus["full"], ["source"], _specs()[:1]))
    assert _state_set(inc.states(spark)) == want
    assert inc.vacuum(spark, keep=5) == []
    with pytest.raises(ValueError, match="keep must be >= 1"):
        inc.vacuum(spark, keep=0)


def test_corrupt_lineage_propagates_not_refolds(spark, corpus, tmp_path):
    """An EXISTING but unreadable lineage dir is an error, never a
    silent 'first run' re-adoption (that would re-fold everything and
    double the lineage)."""
    path = str(tmp_path / "prof")
    inc = IncrementalProfile(_specs()[:1], ["source"], path)
    inc.update(spark, source=corpus["b1"])
    lineage_dir = f"{path}/lineage"
    shutil.rmtree(lineage_dir)
    import os

    os.makedirs(lineage_dir)
    with open(f"{lineage_dir}/garbage.parquet", "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        inc.update(spark, source=corpus["b2"])


def test_run_ids_are_unique_across_updates(spark, corpus, tmp_path):
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    lin = inc.lineage(spark).collect()
    by_gen = {}
    for r in lin:
        by_gen.setdefault(r["gen"], set()).add(r["lineage"])
    assert all(len(v) == 1 for v in by_gen.values())  # one id per run
    assert by_gen[1] != by_gen[2]  # distinct ids even within one second


def test_generation_time_travel(spark, corpus, tmp_path):
    """Every generation is the full table as of its update: gen=1 must
    answer exactly what a build over batch 1 alone answers, while the
    committed gen covers everything; vacuumed generations error with
    the readable list."""
    path = str(tmp_path / "prof")
    inc = IncrementalProfile(_specs()[:1], ["source"], path)
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    assert inc.generations(spark) == [1, 2]
    b1_only = _state_set(
        profile_by_key(
            spark.read.parquet(corpus["b1"]), ["source"], _specs()[:1]
        )
    )
    assert _state_set(inc.states(spark, gen=1)) == b1_only
    # estimates time-travel too
    e1 = {r["source"]: r["estimate"] for r in inc.estimates(spark, gen=1).collect()}
    e2 = {r["source"]: r["estimate"] for r in inc.estimates(spark).collect()}
    assert all(e1[s] <= e2[s] for s in e1)  # monotone under appends (HLL)
    with pytest.raises(ValueError, match="out of range"):
        inc.states(spark, gen=3)
    with pytest.raises(ValueError, match="out of range"):
        inc.states(spark, gen=0)
    inc.vacuum(spark)
    assert inc.generations(spark) == [2]
    with pytest.raises(ValueError, match="vacuumed"):
        inc.states(spark, gen=1)


def test_any_update_schedule_is_equivalent(spark, corpus, tmp_path):
    """The strongest associativity check: folding the 5 corpus files ONE
    AT A TIME (5 generations of state-table merges) is byte-identical to
    folding them all in a single update — so every real-world ingest
    schedule (hourly, daily, catch-up bursts) lands on the same states."""
    files = _list_data_files(spark, corpus["b1"]) + _list_data_files(
        spark, corpus["b2"]
    )
    assert len(files) == 5
    one_shot = IncrementalProfile(_specs(), ["source"], str(tmp_path / "a"))
    one_shot.update(spark, files=files)
    file_at_a_time = IncrementalProfile(
        _specs(), ["source"], str(tmp_path / "b")
    )
    for f in files:
        file_at_a_time.update(spark, files=[f])
    assert file_at_a_time._committed_gen(spark) == 5
    assert _state_set(file_at_a_time.states(spark)) == _state_set(
        one_shot.states(spark)
    )


def test_generation_delta_is_exact_set_algebra_below_k(spark, corpus, tmp_path):
    """generation_delta on a theta spec: with k above every group's
    distinct count the bottom-k sets ARE the sets, so old/new/union/added
    are exact per source — added_est equals the distinct doc_ids batch 2
    contributed that batch 1 didn't have. No rescan of batch-1 data
    happens (the states are the only input)."""
    from recsplit_spark.sketches.theta import ThetaSketch

    specs = [SketchSpec("doc_theta", ThetaSketch(k=4096), "doc_id")]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])

    b1 = spark.read.parquet(corpus["b1"])
    old_ids, new_ids = {}, {}
    for r in b1.select("source", "doc_id").collect():
        old_ids.setdefault(r["source"], set()).add(r["doc_id"])
    for r in corpus["full"].select("source", "doc_id").collect():
        new_ids.setdefault(r["source"], set()).add(r["doc_id"])

    rows = {r["source"]: r for r in inc.generation_delta(
        spark, "doc_theta", 1
    ).collect()}
    assert set(rows) == set(new_ids)
    for src, r in rows.items():
        old, new = old_ids.get(src, set()), new_ids[src]
        assert r["old_est"] == pytest.approx(len(old))
        assert r["new_est"] == pytest.approx(len(new))
        assert r["union_est"] == pytest.approx(len(old | new))
        assert r["added_est"] == pytest.approx(len(new - old))
        denom = len(old | new)
        assert r["jaccard"] == pytest.approx(
            len(old & new) / denom if denom else 0.0
        )
    # the corpus grows: at least one source gained distinct doc_ids
    assert any(r["added_est"] > 0 for r in rows.values())

    with pytest.raises(ValueError, match="unknown spec name"):
        inc.generation_delta(spark, "nope", 1)


def test_generation_delta_rejects_non_theta_specs(spark, corpus, tmp_path):
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    with pytest.raises(ValueError, match="ThetaSketch"):
        inc.generation_delta(spark, "docs", 1)


def test_incremental_heavy_ngrams_time_travel(spark, tmp_path):
    """heavy_ngrams over the persisted MG state table: gen 1 answers
    'heaviest grams per source after batch 1' (batch 2's planted gram is
    invisible), the committed gen is value-identical to a fresh
    heavy_ngrams_by_key over the concatenated corpus (exact regime:
    k above every group's distinct gram count, so merge order cannot
    matter), and resolution reads ONLY the lineage-recorded files."""
    from recsplit_spark.sketches import heavy_ngrams_by_key
    from recsplit_spark.sketches.mg import MisraGries

    A, B = _GRAM_A, _GRAM_B
    p1, p2 = _planted_batches(spark, tmp_path)
    specs = [SketchSpec("hg3", MisraGries(k=16384), "tokens", ngram=3)]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    assert inc.update(spark, source=p1)["gen"] == 1
    assert inc.update(spark, source=p2)["gen"] == 2

    b1_counts = {
        r["source"]: r["count"]
        for r in spark.read.parquet(p1).groupBy("source").count().collect()
    }
    g1 = inc.heavy_ngrams(spark, "hg3", top=3, gen=1).collect()
    assert all(r["max_undercount"] == 0 for r in g1)  # exact regime
    by_src = {}
    for r in g1:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(b1_counts)
    for src, rows in by_src.items():
        # batch-1's planted gram tops every source with its exact count;
        # batch-2's gram does not exist yet at gen 1
        assert tuple(rows[0]["gram"]) == A
        assert rows[0]["count_est"] == b1_counts[src]
        assert all(tuple(r["gram"]) != B for r in rows)

    g2 = inc.heavy_ngrams(spark, "hg3", top=3).collect()
    full = heavy_ngrams_by_key(
        spark.read.parquet(p1, p2), "tokens", 3, ["source"],
        k=16384, top=3,
    ).collect()
    assert [tuple(r) for r in g2] == [tuple(r) for r in full]
    assert any(tuple(r["gram"]) == B for r in g2)

    with pytest.raises(ValueError, match="unknown spec name"):
        inc.heavy_ngrams(spark, "nope")


def test_incremental_heavy_ngrams_rejects_wrong_specs(spark, corpus, tmp_path):
    inc = IncrementalProfile(_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    with pytest.raises(ValueError, match="MisraGries"):
        inc.heavy_ngrams(spark, "docs")  # HLL spec
    from recsplit_spark.sketches.mg import MisraGries

    inc2 = IncrementalProfile(
        [SketchSpec("toks", MisraGries(k=64), "doc_id")],
        ["source"],
        str(tmp_path / "q"),
    )
    inc2.update(spark, source=corpus["b1"])
    with pytest.raises(ValueError, match="ngram feed"):
        inc2.heavy_ngrams(spark, "toks")


def test_generation_sample_added_exact_regime(spark, corpus, tmp_path):
    """Below k both retained sets ARE the distinct-hash sets, so the
    added sample is EXACTLY the per-source set of doc_ids batch 2
    introduced — resolved values, not hashes — and a same-generation
    delta is empty."""
    from recsplit_spark.sketches.theta import ThetaSketch

    specs = [SketchSpec("ids", ThetaSketch(k=4096), "doc_id")]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])

    def _ids(df):
        out = {}
        for r in df.select("source", "doc_id").collect():
            out.setdefault(r["source"], set()).add(r["doc_id"])
        return out

    old_ids = _ids(spark.read.parquet(corpus["b1"]))
    new_ids = _ids(corpus["full"])
    expected = {
        (src, d)
        for src, ids in new_ids.items()
        for d in ids - old_ids.get(src, set())
    }
    got = {
        (r["source"], r["doc_id"])
        for r in inc.generation_sample_added(spark, "ids", 1).collect()
    }
    assert got == expected and expected
    assert inc.generation_sample_added(spark, "ids", 2, gen_new=2).count() == 0
    inc2 = IncrementalProfile(_specs(), ["source"], str(tmp_path / "q"))
    inc2.update(spark, source=corpus["b1"])
    with pytest.raises(ValueError, match="ThetaSketch"):
        inc2.generation_sample_added(spark, "docs", 1)
    with pytest.raises(ValueError, match="is after"):
        inc.generation_sample_added(spark, "ids", 2, gen_new=1)


def test_generation_sample_added_ngram_resolves_grams(spark, tmp_path):
    """ngram theta spec: the added sample resolves to token GRAMS —
    exactly the per-source trigrams batch 2 introduced (exact regime),
    including the batch-2-planted gram and never the batch-1-only one."""
    import numpy as np

    from recsplit_spark.sketches.multi import (
        _flat_ngram_hashes_pos,
        token_ngram_hashes,
    )
    from recsplit_spark.sketches.theta import ThetaSketch

    A, B = _GRAM_A, _GRAM_B
    p1, p2 = _planted_batches(spark, tmp_path)
    specs = [SketchSpec("g3", ThetaSketch(k=16384), "tokens", ngram=3)]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=p1)
    inc.update(spark, source=p2)

    def _gram_hashes(path):
        per: dict[str, set] = {}
        for r in spark.read.parquet(path).select("source", "tokens").collect():
            arr = np.asarray(r["tokens"], dtype=np.uint64)
            h, _ = _flat_ngram_hashes_pos(arr, np.array([len(arr)]), 3)
            per.setdefault(r["source"], set()).update(
                h.view(np.int64).tolist()
            )
        return per

    gs1, gs2 = _gram_hashes(p1), _gram_hashes(p2)
    expected = {
        (src, h)
        for src in gs2
        for h in gs2[src] - gs1.get(src, set())
    }
    rows = inc.generation_sample_added(spark, "g3", 1).collect()
    got = {
        (r["source"], int(token_ngram_hashes(list(r["gram"]), 3)[0]))
        for r in rows
    }
    assert got == expected and expected
    bh = int(token_ngram_hashes(list(B), 3)[0])
    ah = int(token_ngram_hashes(list(A), 3)[0])
    srcs = {r["source"] for r in rows}
    assert all((s, bh) in got for s in srcs)  # planted B everywhere
    assert all((s, ah) not in got for s in srcs)  # batch-1 gram never


def test_cms_generation_delta_is_linear(spark, tmp_path):
    """CMS is linear: the elementwise difference of two committed
    counter matrices IS the CMS of the appended rows (array-identical
    to a fresh build over batch 2 alone), and cms_generation_delta's
    added_est carries the certified one-sided bound against the
    appended data — planted gram B (batch-2-only) grows by its exact
    batch-2 count, gram A (batch-1-only) grows by at most the bound."""
    import numpy as np

    from recsplit_spark.sketches import CountMinSketch

    A, B = _GRAM_A, _GRAM_B
    p1, p2 = _planted_batches(spark, tmp_path)
    cms = CountMinSketch(eps=1e-3, delta=1e-3)
    specs = [SketchSpec("gfreq", cms, "tokens", ngram=3)]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=p1)
    inc.update(spark, source=p2)

    # linearity: (gen2 - gen1) counter matrices == fresh batch-2-only build
    g1 = {r["source"]: bytes(r["state"])
          for r in inc.states(spark, gen=1).collect()}
    g2 = {r["source"]: bytes(r["state"])
          for r in inc.states(spark, gen=2).collect()}
    fresh = {
        r["source"]: bytes(r["state"])
        for r in profile_by_key(
            spark.read.parquet(p2), ["source"], specs
        ).collect()
    }
    assert set(g2) == set(fresh)
    for src, nb in g2.items():
        old = cms.from_bytes(g1[src]) if src in g1 else cms.new_state()
        assert np.array_equal(
            cms.from_bytes(nb) - old, cms.from_bytes(fresh[src])
        )

    b1_cnt = {
        r["source"]: r["count"]
        for r in spark.read.parquet(p1).groupBy("source").count().collect()
    }
    b2_cnt = {
        r["source"]: r["count"]
        for r in spark.read.parquet(p2).groupBy("source").count().collect()
    }
    rows = inc.cms_generation_delta(spark, "gfreq", [A, B], 1).collect()
    assert len(rows) == 2 * len(b2_cnt)
    for r in rows:
        src = r["source"]
        if r["item"] == "901,902,903":  # batch-1-only gram
            added_true, old_true = 0, b1_cnt.get(src, 0)
        else:
            assert r["item"] == "911,912,913"
            added_true, old_true = b2_cnt[src], 0
        assert added_true <= r["added_est"] <= added_true + r["added_bound"]
        assert old_true <= r["old_est"]
        assert r["new_est"] >= r["old_est"] + r["added_est"] - r["added_bound"]
        assert r["added_bound"] >= 0

    with pytest.raises(ValueError, match="unknown spec name"):
        inc.cms_generation_delta(spark, "nope", [A], 1)
    with pytest.raises(ValueError, match="at least one item"):
        inc.cms_generation_delta(spark, "gfreq", [], 1)
    with pytest.raises(ValueError, match="older generation first"):
        inc.cms_generation_delta(spark, "gfreq", [A], 2, gen_new=1)
    with pytest.raises(ValueError, match="3-token windows"):
        inc.cms_generation_delta(spark, "gfreq", [(1, 2)], 1)


def test_cms_delta_item_hash_uses_engine_cast(spark, tmp_path):
    """Scalar items must hash through Spark's own CAST, not Python
    str(): doubles like 1.7e-8 cast to '1.7E-8' in the engine but
    str() gives '1.7e-08' — a Python-side cast would silently query
    the wrong CMS cells and report zero growth for a value the
    batches actually added."""
    import pyspark.sql.functions as F

    from recsplit_spark.sketches import CountMinSketch

    df = sequences(spark, 200, partitions=2).withColumn(
        "ratio", F.col("n_tok") * F.lit(1e-9)
    )
    split = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1
    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    df.filter(~split).write.parquet(p1)
    df.filter(split).write.parquet(p2)
    specs = [SketchSpec("rf", CountMinSketch(eps=1e-3, delta=1e-3), "ratio")]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=p1)
    inc.update(spark, source=p2)
    b2 = spark.read.parquet(p2)
    val = float(b2.select("ratio").first()["ratio"])
    # the engine's string form is scientific notation Python never emits
    cast_form = (
        spark.range(1)
        .select(F.lit(val).cast("string").alias("s"))
        .first()["s"]
    )
    assert cast_form != str(val)
    added = {
        r["source"]: r["count"]
        for r in b2.filter(b2["ratio"] == val).groupBy("source").count().collect()
    }
    rows = inc.cms_generation_delta(spark, "rf", [val], 1).collect()
    assert rows and all(r["item"] == cast_form for r in rows)
    for r in rows:
        t = added.get(r["source"], 0)
        assert t <= r["added_est"] <= t + r["added_bound"]
    assert sum(added.values()) > 0
    assert sum(r["added_est"] for r in rows) >= sum(added.values())


def test_cms_generation_delta_scalar_items_and_rejects(spark, corpus, tmp_path):
    """Scalar CMS spec: items hash by the cross-type string contract, so
    string forms of n_tok values query correctly; non-CMS specs raise."""
    inc = IncrementalProfile(_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    b2 = spark.read.parquet(corpus["b2"])
    val = b2.select("n_tok").first()["n_tok"]
    added = {
        r["source"]: r["count"]
        for r in b2.filter(b2["n_tok"] == val)
        .groupBy("source").count().collect()
    }
    rows = inc.cms_generation_delta(spark, "tok_freq", [val], 1).collect()
    assert rows and all(r["item"] == str(val) for r in rows)
    for r in rows:
        t = added.get(r["source"], 0)
        assert t <= r["added_est"] <= t + r["added_bound"]
    with pytest.raises(ValueError, match="CountMinSketch"):
        inc.cms_generation_delta(spark, "docs", [val], 1)


def test_canon_file_unifies_local_uri_forms():
    assert _canon_file("file:/root/a.parquet") == "file:///root/a.parquet"
    assert _canon_file("file:///root/a.parquet") == "file:///root/a.parquet"
    assert (
        _canon_file("hdfs://nn:8020/a.parquet") == "hdfs://nn:8020/a.parquet"
    )
    assert _canon_file("s3a://bucket/a.parquet") == "s3a://bucket/a.parquet"
    # input_file_name URI-escapes; listing does not — both decode equal
    assert (
        _canon_file("file:///data/dt=2026-08-18%2000/p.parquet")
        == _canon_file("file:/data/dt=2026-08-18 00/p.parquet")
    )


# -- forget (right-to-be-forgotten, file granularity) -------------------------


def _cms_specs():
    return [
        SketchSpec("tok_freq", CountMinSketch(eps=1e-3, delta=1e-3), "n_tok"),
        SketchSpec("doc_freq", CountMinSketch(eps=1e-3, delta=1e-3), "doc_id"),
    ]


def test_forget_cms_subtract_path(spark, corpus, tmp_path):
    """All-CMS profile: forget() takes the linear-subtraction path (one
    scan of ONLY the forgotten files) and the result is byte-identical
    to a fresh fold of the survivors — CMS linearity made observable.
    Forgetting everything empties the table (keys whose counters zero
    out are dropped, matching the rebuild)."""
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    b1_files = _list_data_files(spark, corpus["b1"])
    m = inc.forget(spark, b1_files)
    assert m == {"gen": 3, "forgotten_files": 2, "mode": "subtract"}
    want = _state_set(
        profile_by_key(
            spark.read.parquet(corpus["b2"]), ["source"], _cms_specs()
        )
    )
    assert _state_set(inc.states(spark)) == want
    # time travel: pre-forget generations still answer as of their batch
    full = _state_set(
        profile_by_key(corpus["full"], ["source"], _cms_specs())
    )
    assert _state_set(inc.states(spark, gen=2)) == full
    # forget-lineage metadata recorded (paths only — required to order
    # per-file events; content is gone from the states)
    fl = inc.forget_lineage(spark).collect()
    assert sorted(r["file"] for r in fl) == sorted(b1_files)
    assert all(r["gen"] == 3 and r["lineage"].startswith("forget-") for r in fl)
    # forget the rest: counters empty out, every key drops
    m2 = inc.forget(spark, _list_data_files(spark, corpus["b2"]))
    assert m2["gen"] == 4 and m2["mode"] == "subtract"
    assert inc.states(spark).count() == 0


def test_forget_refold_flag_and_nonlinear_sketches(spark, corpus, tmp_path):
    """refold=True forces the survivor rescan on an all-CMS profile and
    is byte-identical to the subtract path; non-subtractable sketches
    (HLL) always refold."""
    pa = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "a"))
    pa.update(spark, source=corpus["b1"])
    pa.update(spark, source=corpus["b2"])
    b1_files = _list_data_files(spark, corpus["b1"])
    assert pa.forget(spark, b1_files)["mode"] == "subtract"

    pb = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "b"))
    pb.update(spark, source=corpus["b1"])
    pb.update(spark, source=corpus["b2"])
    assert pb.forget(spark, b1_files, refold=True)["mode"] == "refold"
    assert _state_set(pa.states(spark)) == _state_set(pb.states(spark))

    pc = IncrementalProfile(_specs(), ["source"], str(tmp_path / "c"))
    pc.update(spark, source=corpus["b1"])
    pc.update(spark, source=corpus["b2"])
    assert pc.forget(spark, b1_files)["mode"] == "refold"
    want = _state_set(
        profile_by_key(spark.read.parquet(corpus["b2"]), ["source"], _specs())
    )
    assert _state_set(pc.states(spark)) == want


def test_forgotten_file_refolds_on_next_update(spark, corpus, tmp_path):
    """update() diffs against the FOLDED set, not every lineage path: a
    file forgotten and later re-presented folds again, restoring the
    full-rebuild states; a no-op update right after the forget does not
    resurrect it."""
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    inc.update(spark, source=corpus["b2"])
    b1_files = _list_data_files(spark, corpus["b1"])
    inc.forget(spark, b1_files)
    # committed gen is defined by the UNION of both lineage tables
    m0 = inc.update(spark, source=corpus["b2"])
    assert m0 == {"gen": 3, "new_files": 0, "rows": 0}
    m = inc.update(spark, source=corpus["b1"])
    assert m["gen"] == 4 and m["new_files"] == 2
    want = _state_set(
        profile_by_key(corpus["full"], ["source"], _cms_specs())
    )
    assert _state_set(inc.states(spark)) == want


def test_forget_contract_errors(spark, corpus, tmp_path):
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    with pytest.raises(ValueError, match="nothing to forget"):
        inc.forget(spark, ["file:///nope.parquet"])
    inc.update(spark, source=corpus["b1"])
    with pytest.raises(ValueError, match="at least one file"):
        inc.forget(spark, [])
    with pytest.raises(ValueError, match="not currently folded"):
        inc.forget(spark, ["file:///never/folded.parquet"])
    b1_files = _list_data_files(spark, corpus["b1"])
    inc.forget(spark, b1_files)
    # already forgotten -> no longer folded
    with pytest.raises(ValueError, match="not currently folded"):
        inc.forget(spark, b1_files[:1])


def test_bare_local_paths_qualify_to_lineage_identity(spark, corpus, tmp_path):
    """Caller-supplied scheme-less paths (``/tmp/x.parquet``) must match
    the fully-qualified ``file:///...`` lineage identity that --source
    listing writes: forget() accepts them, and update(files=[bare])
    records the qualified form (so the same file later listed via
    --source is NOT double-folded)."""
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, source=corpus["b1"])
    b2_bare = [
        f[len("file://"):] for f in _list_data_files(spark, corpus["b2"])
    ]
    assert all(f.startswith("/") and ":" not in f for f in b2_bare)
    m = inc.update(spark, files=b2_bare)
    assert m["new_files"] == len(b2_bare)
    # recorded qualified: a --source pass over b2 sees nothing new
    m2 = inc.update(spark, source=corpus["b2"])
    assert m2["new_files"] == 0
    # forget with bare paths resolves against the qualified lineage
    b1_bare = [
        f[len("file://"):] for f in _list_data_files(spark, corpus["b1"])
    ]
    fm = inc.forget(spark, b1_bare)
    assert fm["forgotten_files"] == len(b1_bare) and fm["mode"] == "subtract"
    want = _state_set(
        profile_by_key(
            spark.read.parquet(corpus["b2"]), ["source"], _cms_specs()
        )
    )
    assert _state_set(inc.states(spark)) == want


def test_generation_algebra_refuses_straddling_forget(spark, tmp_path):
    """Deltas/added-samples are defined by state monotonicity under
    appends; a forget breaks it, so any range straddling a forget
    generation must refuse (while ranges on either side still work)."""
    from pyspark.sql import functions as F

    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _write_batch(spark, 0, 120, p1, parts=1)
    _write_batch(spark, 120, 320, p2, parts=1)
    specs = [
        SketchSpec("toks", CountMinSketch(eps=1e-3, delta=1e-3), "n_tok")
    ]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=p1)
    inc.update(spark, source=p2)
    inc.forget(spark, _list_data_files(spark, p1))  # gen 3
    _write_batch(spark, 320, 400, str(tmp_path / "b3"), parts=1)
    inc.update(spark, source=str(tmp_path / "b3"))  # gen 4
    # pre-forget range still fine
    assert inc.cms_generation_delta(spark, "toks", [30], 1, 2).count() >= 0
    # post-forget range still fine
    assert inc.cms_generation_delta(spark, "toks", [30], 3, 4).count() >= 0
    for lo, hi in [(1, 3), (2, 4), (1, 4), (2, 3)]:
        with pytest.raises(ValueError, match="straddles"):
            inc.cms_generation_delta(spark, "toks", [30], lo, hi)


def test_forget_heavy_ngrams_resolves_folded_set_only(spark, tmp_path):
    """After forgetting batch 1, heavy_ngrams at the committed gen must
    not contain batch-1's planted gram (the refolded states no longer
    retain it AND the resolve scan reads only the surviving folded
    files); time-traveling to the pre-forget gen still resolves it."""
    from recsplit_spark.sketches.mg import MisraGries

    A, B = _GRAM_A, _GRAM_B
    p1, p2 = _planted_batches(spark, tmp_path)
    specs = [SketchSpec("hg3", MisraGries(k=16384), "tokens", ngram=3)]
    inc = IncrementalProfile(specs, ["source"], str(tmp_path / "prof"))
    inc.update(spark, source=p1)
    inc.update(spark, source=p2)
    m = inc.forget(spark, _list_data_files(spark, p1))
    assert m["mode"] == "refold"
    g = inc.heavy_ngrams(spark, "hg3", top=5).collect()
    grams = {tuple(r["gram"]) for r in g}
    assert B in grams and A not in grams
    pre = inc.heavy_ngrams(spark, "hg3", top=5, gen=2).collect()
    assert A in {tuple(r["gram"]) for r in pre}
    # forget everything: committed states are empty, resolve never runs
    inc.forget(spark, _list_data_files(spark, p2))
    assert inc.heavy_ngrams(spark, "hg3", top=5).count() == 0


def test_forget_subtract_detects_changed_file_content(spark, tmp_path):
    """The subtract path re-reads the forgotten file; if its CONTENT
    changed since it was folded the partial no longer matches what went
    in — detected (counters would go negative or hit unseen keys) and
    surfaced with a refold=True escape hatch, which rebuilds from the
    true survivors."""
    import glob
    import shutil as _sh

    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    _write_batch(spark, 0, 100, small, parts=1)
    _write_batch(spark, 0, 300, big, parts=1)
    data = tmp_path / "data"
    data.mkdir()
    f = str(data / "a.parquet")
    _sh.copy(glob.glob(f"{small}/part-*.parquet")[0], f)
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, files=[f])
    # swap in different content at the SAME path
    _sh.copy(glob.glob(f"{big}/part-*.parquet")[0], f)
    with pytest.raises(Exception, match="file content changed"):
        inc.forget(spark, [f])
    m = inc.forget(spark, [f], refold=True)
    assert m["mode"] == "refold"
    assert inc.states(spark).count() == 0


def test_forget_subtract_detects_shrunk_file_content(spark, tmp_path):
    """The shrink direction of content drift: a forgotten file whose
    content LOST rows since folding subtracts cleanly (no negative
    counters), silently leaving the missing rows' counts attributed to
    nothing — the row-count-vs-lineage guard must refuse it too, not
    just the grown direction the negative-counter check happens to
    catch."""
    import glob
    import shutil as _sh

    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    _write_batch(spark, 0, 100, small, parts=1)
    _write_batch(spark, 0, 300, big, parts=1)
    data = tmp_path / "data"
    data.mkdir()
    f = str(data / "a.parquet")
    _sh.copy(glob.glob(f"{big}/part-*.parquet")[0], f)  # fold the BIG one
    inc = IncrementalProfile(_cms_specs(), ["source"], str(tmp_path / "p"))
    inc.update(spark, files=[f])
    # swap in SMALLER content at the same path
    _sh.copy(glob.glob(f"{small}/part-*.parquet")[0], f)
    with pytest.raises(Exception, match="content changed"):
        inc.forget(spark, [f])
    m = inc.forget(spark, [f], refold=True)
    assert m["mode"] == "refold"
    assert inc.states(spark).count() == 0


def test_legacy_bare_lineage_paths_not_refolded_by_source_update(
    spark, tmp_path
):
    """Back-compat both directions: lineage rows recorded as BARE local
    paths (pre-qualification runs) must match the qualified
    file:///... forms a later update(source=...) lists — a raw string
    comparison would silently re-fold (double-count) every
    legacy-recorded file."""
    import pyspark.sql.functions as F

    src = tmp_path / "src"
    _write_batch(spark, 0, 200, str(src), parts=1)
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "p"))
    m1 = inc.update(spark, source=str(src))
    assert m1["new_files"] == 1
    before = _state_set(inc.states(spark))
    # rewrite the lineage rows into the legacy bare form (strip scheme)
    lineage_dir = f"{tmp_path}/p/lineage"
    rows = spark.read.parquet(lineage_dir).withColumn(
        "file", F.regexp_replace("file", "^file://", "")
    )
    pdf = rows.toPandas()
    import shutil as _sh

    _sh.rmtree(lineage_dir)
    spark.createDataFrame(pdf).write.parquet(lineage_dir)
    # the same source must now be a NO-OP, not a double fold
    m2 = inc.update(spark, source=str(src))
    assert m2["new_files"] == 0
    assert _state_set(inc.states(spark)) == before


def test_literal_percent_escape_filename_folds(spark, tmp_path):
    """A file literally named with a %XX sequence must still be
    READABLE by update(): the canonical lineage identity percent-
    decodes, but the reader has to get the raw path (the decoded one
    does not exist on disk)."""
    import glob
    import shutil as _sh

    staged = str(tmp_path / "staged")
    _write_batch(spark, 0, 150, staged, parts=1)
    src = tmp_path / "src"
    src.mkdir()
    _sh.copy(
        glob.glob(f"{staged}/part-*.parquet")[0],
        str(src / "a%20weird.parquet"),
    )
    inc = IncrementalProfile(_specs()[:1], ["source"], str(tmp_path / "p"))
    m = inc.update(spark, source=str(src))
    assert m["new_files"] == 1
    # the data actually folded: per-source distinct-doc estimates exist
    assert inc.states(spark).count() > 0
    # and the diff still recognizes the file as processed on replay
    m2 = inc.update(spark, source=str(src))
    assert m2["new_files"] == 0
