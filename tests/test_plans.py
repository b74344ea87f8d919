"""Physical-plan regression tests: the scale properties PLANS.md documents
(pruning, pushdown, broadcast, partial aggregation, single-shuffle build)
must stay visible in the optimized plans — a silent regression here is a
100-TB problem long before it is a local failure."""

import contextlib
import io

import pyspark.sql.functions as F
import pytest


@pytest.fixture(autouse=True)
def _uncached_catalog(spark):
    """Plan-shape assertions inspect parquet ReadSchema/pushdown nodes; a
    cached relation left behind by an earlier test (Spark's cache manager
    substitutes InMemoryRelation for ANY later scan of the same plan)
    silently replaces the scan under test. Clear before every plan test."""
    spark.catalog.clearCache()
    yield


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _nodes(plan: str, op: str) -> int:
    """Count physical-plan nodes by their detail headers ("(5) Exchange") —
    the formatted output lists every node twice (tree + detail)."""
    import re

    return len(re.findall(rf"^\(\d+\) {op}", plan, re.MULTILINE))


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_distinct_prunes_columns_and_partial_aggregates(li):
    plan = _formatted_plan(
        li.select(
            F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("pk")
        ).distinct()
    )
    # column pruning reaches the scan: only the two key columns are read
    assert "l_orderkey" in plan and "l_linenumber" in plan
    assert "l_extendedprice" not in plan
    # map-side combine before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_semi_join_broadcasts_small_side(spark, sf_dir, li):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = _formatted_plan(
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
            "left_semi",
        )
    )
    assert "BroadcastHashJoin" in plan
    # the big side never shuffles: no Exchange on the orders branch
    assert "BroadcastExchange" in plan


def test_filter_pushdown_reaches_parquet(li):
    plan = _formatted_plan(
        li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    )
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan


def test_mphf_build_is_single_shuffle(spark, sf_dir, tmp_path):
    """The distributed build plan, from the builder's own kernel frame:
    one hash-partitioning exchange on the bucket id, then the Arrow
    kernel — no second Exchange after the shuffle. A checkpoint resume
    adds only a broadcast left-anti join against the committed bucket
    ids: no second shuffle and no Python membership UDF."""
    from recsplit_spark.mphf import _BLOCK_SCHEMA, _kernel_blocks, _make_kernel

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = li.select(F.col("l_orderkey").cast("long").alias("__key"))
    kernel = _make_kernel(8, 128)

    plain = _formatted_plan(_kernel_blocks(keys, 0, 9, 8, kernel))
    assert _nodes(plain, "Exchange") == 1, plain
    assert "hashpartitioning(shiftrightunsigned(sig" in plain, plain
    assert _nodes(plain, "MapInPandas") == 1, plain
    assert "BroadcastExchange" not in plain

    path = str(tmp_path / "salt=0")
    spark.createDataFrame(
        [(3, 3, 7, 10, 0, [3, 7], [4, 6], [1, 1], b"ab")], _BLOCK_SCHEMA
    ).write.parquet(path)
    committed = spark.read.schema(_BLOCK_SCHEMA).parquet(path)
    resume = _formatted_plan(_kernel_blocks(keys, 0, 9, 8, kernel, committed))
    assert _nodes(resume, "Exchange") == 1, resume
    assert _nodes(resume, "BroadcastExchange") == 1, resume
    assert "LeftAnti" in resume, resume
    assert _nodes(resume, "MapInPandas") == 1, resume
    assert "ArrowEvalPython" not in resume, resume


def test_sketch_partials_single_scan_no_shuffle(spark, li):
    """Stage-1 sketch fold: one pruned scan -> project -> mapInPandas.
    Zero exchanges — the shuffle (if any) belongs to the final merge.
    (Round 6 kept partials floor-free on purpose: a sketch fold is ~1
    cheap numpy op per row, so a parallelism-floor shuffle costs more
    than the fold it parallelizes — measured on 6M-row lineitem.)"""
    from recsplit_spark.sketches import HyperLogLog

    plan = _formatted_plan(HyperLogLog(p=12).partials(li, "l_orderkey"))
    assert "Exchange" not in plan
    assert _nodes(plan, "Scan parquet") == 1
    # column pruning reaches the scan
    assert "l_extendedprice" not in plan


def test_sketch_aggregate_single_shuffle_of_states(spark, li):
    """Per-group sketch aggregate: exactly one exchange, and it carries
    serialized states (post-mapInPandas), not data rows."""
    from recsplit_spark.sketches import HyperLogLog

    plan = _formatted_plan(
        HyperLogLog(p=12).aggregate(li, "l_orderkey", ["l_returnflag"])
    )
    assert _nodes(plan, "Exchange") == 1
    # the exchange hashes the group key of the states relation
    assert "hashpartitioning(l_returnflag" in plan


def test_theta_pairwise_single_shuffle(spark, sf_dir):
    """All-pairs group overlap: the only exchange is the per-group state
    merge; the pair loop itself is driver-side on collected states."""
    from recsplit_spark.sketches import ThetaSketch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = ThetaSketch(k=64)
    parts = sk.states_by_key(orders, "o_custkey", ("o_orderpriority",))
    plan = _formatted_plan(parts)
    assert _nodes(plan, "Exchange") == 1


def test_mphf_eval_is_arrow_native_and_jvm_hashed(spark, li):
    """The eval stage must plan as ArrowEvalPython (SQL_SCALAR_ARROW_UDF —
    the round-3 pyarrow-native path), with xxhash64 hashing staying
    JVM-side and only the signature column crossing into Python; a
    regression to BatchEvalPython (row-at-a-time) or to hashing inside
    the UDF is a 100-TB problem."""
    from recsplit_spark.mphf import RecSplitBuilder
    from recsplit_spark.session import ship_package

    ship_package(spark)
    keys = li.select(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")).alias("pk")
    ).distinct()
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=128).build(keys, "pk")
    plan = _formatted_plan(desc.evaluate(keys, "pk"))
    assert _nodes(plan, "ArrowEvalPython") == 1
    assert _nodes(plan, "BatchEvalPython") == 0
    assert "xxhash64" in plan  # hashing is a JVM expression, not in the UDF

    # coalesce='auto' (the library-side eval partition discipline) must add
    # a narrow Coalesce node and NOTHING else — the same shuffle count as
    # the bare plan; a shuffle here would cost more than the task-overhead
    # saving it exists to buy (round-3 BASELINE.md controls)
    plan_auto = _formatted_plan(desc.evaluate(keys, "pk", coalesce="auto"))
    assert _nodes(plan_auto, "Coalesce") == 1
    assert _nodes(plan_auto, "Exchange") == _nodes(plan, "Exchange")
    assert _nodes(plan_auto, "ArrowEvalPython") == 1


def test_ivf_assign_is_arrow_native(spark, sf_dir):
    """The IVF assign scan — at 100 TB, the whole table — must plan as
    ArrowEvalPython (zero-copy list flatten), not BatchEvalPython, with
    only the vector column crossing into Python."""
    from recsplit_spark.pipeline.ann import IVFIndex
    from recsplit_spark.session import ship_package

    ship_package(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = IVFIndex(n_centroids=4, iters=2).fit(emb, "embedding")
    plan = _formatted_plan(idx.assign(emb, "embedding"))
    assert _nodes(plan, "ArrowEvalPython") == 1
    assert _nodes(plan, "BatchEvalPython") == 0


def test_register_sql_uses_int32_return_leg(spark, li):
    """register_sql mirrors evaluate's narrow return leg: when n < 2^31
    the Arrow walk UDF returns int32 (halving the return-leg payload) and
    the SQL wrapper casts to BIGINT JVM-side — visible in the plan as a
    cast of the Python UDF output. The function's observable result type
    stays BIGINT (test_register_sql_function checks values)."""
    from recsplit_spark.mphf import RecSplitBuilder
    from recsplit_spark.session import ship_package

    ship_package(spark)
    keys = li.select(F.col("l_orderkey").cast("long").alias("k")).distinct()
    desc = RecSplitBuilder(leaf_size=8, avg_bucket_size=64).build(keys, "k")
    desc.register_sql(spark, "mphf_eval_plan_t")
    keys.createOrReplaceTempView("plan_t_keys")
    out = spark.sql("SELECT mphf_eval_plan_t(k) AS idx FROM plan_t_keys")
    assert out.schema["idx"].dataType.typeName() == "long"
    plan = _formatted_plan(out)
    assert _nodes(plan, "ArrowEvalPython") == 1
    # the int32 UDF output is cast to bigint by the SQL wrapper
    assert "cast(pythonUDF" in plan and "as bigint" in plan


def test_generation_analytics_resolve_plans(spark, tmp_path_factory):
    """The added-sample resolve is a BROADCAST semi-join on (keys, hash)
    and the heavy-gram resolve a BROADCAST join on gram_hash — the
    driver-sized hash relations must never trigger a sort-merge join,
    which at 10^12 rows would shuffle the whole resolve scan."""
    from recsplit_spark.data import sequences
    from recsplit_spark.sketches import heavy_ngrams_by_key
    from recsplit_spark.sketches.incremental import IncrementalProfile
    from recsplit_spark.sketches.multi import SketchSpec
    from recsplit_spark.sketches.theta import ThetaSketch

    root = tmp_path_factory.mktemp("plans_inc")
    base = sequences(spark, 80, partitions=2)
    split = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1
    base.filter(~split).write.parquet(str(root / "b1"))
    base.filter(split).write.parquet(str(root / "b2"))
    inc = IncrementalProfile(
        [SketchSpec("ids", ThetaSketch(k=4096), "doc_id")],
        ["source"],
        str(root / "prof"),
    )
    inc.update(spark, source=str(root / "b1"))
    inc.update(spark, source=str(root / "b2"))
    plan = _formatted_plan(inc.generation_sample_added(spark, "ids", 1))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # truncated tokens -> distinct grams below k, so MG retains items
    # and the resolve join actually appears in the plan
    short = base.withColumn("tokens", F.slice("tokens", 1, 10))
    rows_plan = _formatted_plan(
        heavy_ngrams_by_key(short, "tokens", 3, ["source"], k=512, top=3)
    )
    assert "BroadcastHashJoin" in rows_plan
    assert "SortMergeJoin" not in rows_plan


def test_incremental_mphf_lookup_plans(spark, tmp_path_factory):
    """Generational-MPHF lookups must stay narrow: evaluate is a pure
    projection (no join, no Exchange — the evaluators ride a broadcast
    variable, not a plan node), and route adds at most one BROADCAST
    hash join for the tiny exception relation — never a sort-merge join,
    which would shuffle the whole probe scan at 10^12 rows."""
    from recsplit_spark.incremental_mphf import IncrementalMPHF

    root = tmp_path_factory.mktemp("plans_incmphf")
    inc = IncrementalMPHF(str(root / "inc"), fp_bits=4)
    b0 = spark.range(0, 3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    b1 = spark.range(3000, 5000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    inc.append(b0, "k")
    m1 = inc.append(b1, "k")
    assert m1["n_exceptions"] > 0  # fp_bits=4 makes the exception join real

    union = b0.withColumn("g", F.lit(0)).unionByName(
        b1.withColumn("g", F.lit(1))
    )
    eval_plan = _formatted_plan(inc.evaluate(union, "k", "g"))
    assert _nodes(eval_plan, "Exchange") == 0
    assert "Join" not in eval_plan

    route_plan = _formatted_plan(inc.route(union, "k"))
    assert "BroadcastHashJoin" in route_plan
    assert "SortMergeJoin" not in route_plan
    # the probed side itself is never exchanged (only the broadcast build
    # side of the exception join may show its own exchange)
    assert "Exchange hashpartitioning" not in route_plan


def test_incremental_dedup_verification_is_jvm_side(spark, tmp_path_factory):
    """Candidate verification (signature-agreement Jaccard) must stay
    Column exprs: the ONLY Python in an append's new-vs-old path is the
    one Arrow/pandas signature kernel over the NEW batch. A zip_with
    regressing to a row-at-a-time Python UDF is the 100-TB candidate
    verify bill."""
    from recsplit_spark.pipeline.incremental_dedup import IncrementalDedup
    from recsplit_spark.session import ship_package

    ship_package(spark)
    tmp = tmp_path_factory.mktemp("incdd")
    inc = IncrementalDedup(f"{tmp}/dd", threshold=0.8, num_hashes=64,
                           bands=32)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 31 + j) % 500}" for j in range(80)))
         for i in range(50)],
        "doc_id long, text string",
    )
    inc.append(docs, "doc_id", "text")

    batch = spark.createDataFrame(
        [(100 + i, " ".join(f"w{(i * 37 + j) % 500}" for j in range(80)))
         for i in range(20)],
        "doc_id long, text string",
    )
    sig = inc._signatures(batch, "doc_id", "text").withColumnRenamed(
        "doc_id", "id"
    ).persist()
    sig.count()  # the real append materializes the persist the same way
    from recsplit_spark.pipeline.dedup import _band_rows

    cand = (
        _band_rows(sig, "id", 64, 32)
        .withColumnRenamed("id", "id_a")
        .join(
            spark.read.parquet(f"{tmp}/dd/gen=0/bands")
            .withColumnRenamed("id", "id_b"),
            ["band", "band_key"],
        )
        .select("id_a", "id_b")
        .distinct()
    )
    old_sigs = spark.read.parquet(f"{tmp}/dd/gen=0/sigs")
    plan = _formatted_plan(inc._verified(cand, sig, old_sigs))
    sig.unpersist()
    # no executed Python stage in the verify plan: the batch signatures
    # come from the materialized cache (InMemoryTableScan — the lone
    # map node is the InMemoryRelation's cached-plan provenance, not an
    # execution stage; round 6 moved the signature kernel from
    # MapInPandas to mapInArrow, so the provenance node is now
    # PythonMapInArrow), the state side from parquet, and the agreement
    # filter is Column exprs
    n_py = _nodes(plan, "BatchEvalPython") + _nodes(plan, "ArrowEvalPython")
    assert n_py == 0, plan
    n_prov = (
        _nodes(plan, "MapInPandas")
        + _nodes(plan, "MapInArrow")
        + _nodes(plan, "PythonMapInArrow")
    )
    assert n_prov <= 1, plan
    assert _nodes(plan, "InMemoryTableScan") >= 2
    # the persisted state side is a pure parquet scan feeding the joins
    assert _nodes(plan, "Scan parquet") >= 2


def test_contamination_is_broadcast_probe(spark, tmp_path_factory):
    """Decontamination: the corpus side is ONE scan into the membership
    kernel with zero shuffle exchanges — the benchmark set broadcasts
    (driver pandas), and the contaminated-id join back is a broadcast
    hash join, never a sort-merge (a corpus-wide shuffle here would be
    the 100-TB bug)."""
    import pandas as pd

    from recsplit_spark.pipeline.decontaminate import contamination

    path = tmp_path_factory.mktemp("decon") / "seq.parquet"
    spark.createDataFrame(
        [(f"d{i}", list(range(i, i + 20))) for i in range(50)],
        "doc_id string, tokens array<int>",
    ).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    bw = pd.DataFrame({"h1": [1, 2], "h2": [3, 4]})
    plan = _formatted_plan(contamination(df, bw, n=5))
    assert "SortMergeJoin" not in plan
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "hashpartitioning" not in plan  # zero shuffle exchanges
    assert _nodes(plan, "Scan parquet") == 2  # corpus scan + join-back scan


def test_pack_bins_plan_shapes(spark, tmp_path_factory):
    """Packing: deterministic mode = exactly ONE exchange (the
    value-defined group co-location — the op's defining shuffle);
    deterministic=False = zero exchanges (pack partitions in place)."""
    from recsplit_spark.pipeline.packing import pack_bins

    path = tmp_path_factory.mktemp("pack") / "seq.parquet"
    spark.createDataFrame(
        [(f"d{i}", list(range(i, i + 20))) for i in range(50)],
        "doc_id string, tokens array<int>",
    ).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    det = _formatted_plan(pack_bins(df, 64, partitions=4))
    assert _nodes(det, "Exchange") == 1
    assert "hashpartitioning(__b" in det  # the value-defined group key
    free = _formatted_plan(pack_bins(df, 64, deterministic=False))
    assert _nodes(free, "Exchange") == 0


def test_gopher_quality_stays_jvm_side(spark, sf_dir):
    """The Gopher rules must compile to pure Column expressions: one scan,
    no Python eval node, partial aggregation before the single exchange."""
    from recsplit_spark.pipeline.text import with_gopher_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = with_gopher_quality(docs, "text").agg(
        F.sum(F.col("gopher_pass").cast("long")).alias("n_pass")
    )
    plan = _formatted_plan(agg)
    assert _nodes(plan, "ArrowEvalPython") == 0
    assert _nodes(plan, "BatchEvalPython") == 0
    assert plan.count("HashAggregate") >= 2  # map-side partials
    # only the text column is read from parquet
    assert "ReadSchema" in plan and "doc_id" not in plan.split("ReadSchema")[1]


def test_dsir_plan_shapes(spark, tmp_path_factory):
    """DSIR scale contract: the histogram is ONE scan whose shuffle is the
    <= B-row bucket reduce (mapInArrow partials + single Exchange); the
    scoring pass is a pure arrow_udf projection with NO shuffle; the
    Gumbel top-k plans as TakeOrderedAndProject (no global sort)."""
    import numpy as np

    from recsplit_spark.pipeline import dsir

    path = tmp_path_factory.mktemp("dsir") / "seq.parquet"
    spark.createDataFrame(
        [(f"d{i}", list(range(i, i + 12))) for i in range(200)],
        "doc_id string, tokens array<int>",
    ).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    hist = _formatted_plan(dsir.hashed_window_counts(df, "tokens", buckets=64, n=2))
    assert _nodes(hist, "Exchange") == 1  # only the B-row bucket reduce
    scored = dsir.importance_scores(df, "tokens", np.zeros(64, np.int64), n=2)
    splan = _formatted_plan(scored)
    assert _nodes(splan, "Exchange") == 0  # projection only
    top = _formatted_plan(dsir.gumbel_topk(scored, 10))
    assert "TakeOrderedAndProject" in top
    assert _nodes(top, "Sort") == 0  # no full sort for a global top-k


def test_prefiltered_join_probe_sits_below_the_join(spark, sf_dir, li):
    """Semi-join reduction (filters.prefiltered_join): the broadcast
    filter probe must run on the big side BEFORE the join — at 100 TB
    the whole point is that only might-contain survivors enter the join
    exchange. Node ids are post-order, so probe-below-join means a
    smaller id."""
    import re

    from recsplit_spark.filters import prefiltered_join

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_totalprice >= 150000.0")
        .select("o_orderkey", "o_orderstatus")
    )
    big = li.select("l_orderkey", "l_quantity")
    j = prefiltered_join(big, orders, "o_orderkey", big_key_col="l_orderkey")
    plan = _formatted_plan(j)
    # one probe on the big side; Catalyst's infer-filter-from-join-keys may
    # copy it to the dim side (benign: members always pass; dim is small)
    assert _nodes(plan, "ArrowEvalPython") in (1, 2), plan
    probe_id = int(re.search(r"^\((\d+)\) ArrowEvalPython", plan, re.M).group(1))
    join_id = int(re.search(r"^\((\d+)\) \w*Join", plan, re.M).group(1))
    assert probe_id < join_id, plan


def test_prefiltered_anti_join_two_branch_shape(spark, li):
    """prefiltered_anti_join's documented trade: two probe branches (the
    definite-miss branch is join-free) unioned, exactly one exact anti
    join for the survivors."""
    import re

    from recsplit_spark.filters import prefiltered_anti_join

    big = li.select("l_orderkey", "l_quantity")
    keys = li.select("l_orderkey").filter("l_orderkey % 7 = 0").distinct()
    out = prefiltered_anti_join(big, keys, "l_orderkey")
    plan = _formatted_plan(out)
    # two probe branches; +1 if Catalyst copies the probe to the keys side
    assert _nodes(plan, "ArrowEvalPython") in (2, 3), plan
    assert _nodes(plan, "Union") == 1
    assert len(re.findall(r"^\(\d+\) \w*Join", plan, re.M)) == 1, plan


def test_quality_classifier_score_is_pure_column_expr(spark, sf_dir):
    """The fitted model's score must be a whole-stage-codegen Column
    expression — no Python evaluation node, no exchange: at 100 TB the
    scorer rides the same scan as the other quality filters."""
    import numpy as np

    from recsplit_spark.pipeline.classifier import LogisticQualityModel

    m = LogisticQualityModel(
        ["n_chars"], np.array([100.0]), np.array([50.0]),
        np.array([0.8]), -0.2, [],
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _formatted_plan(m.with_score(docs).select("doc_id", "quality_score"))
    assert "EvalPython" not in plan, plan
    assert _nodes(plan, "Exchange") == 0, plan
    assert "WholeStageCodegen" in plan or "Project" in plan
