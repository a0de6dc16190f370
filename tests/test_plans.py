"""Scale-critical plan assertions (SURVEY.md §4): pushdown reaches the
parquet scan, small dims broadcast, hot paths stay in whole-stage codegen,
the as-of join produces a single shuffle (no range-join blow-up).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    codegen_stage_count,
    formatted_plan,
)


def test_filter_pushdown_to_parquet(spark, sf_smoke):
    li = t(spark, sf_smoke, "lineitem")
    q = li.where(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    assert_pushed_filter(q, "l_orderkey")
    # column pruning: scan schema is just the 2 projected columns
    plan = formatted_plan(q)
    assert "ReadSchema" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read


def test_small_dim_join_broadcasts(spark, sf_smoke):
    li = t(spark, sf_smoke, "lineitem")
    n = t(spark, sf_smoke, "nation")
    s = t(spark, sf_smoke, "supplier")
    q = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .count()
    )
    assert_broadcast_join(q)


def test_agg_uses_whole_stage_codegen(spark, sf_smoke):
    li = t(spark, sf_smoke, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert codegen_stage_count(q) >= 1


def test_asof_join_single_shuffle(spark, sf_smoke):
    """The union+window as-of plan must contain exactly one exchange on the
    key — not a nested-loop join (the naive plan)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.joins import asof_join

    e = t(spark, sf_smoke, "events")
    left = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    q = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts", right_cols=["pv"])
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert plan.count("Exchange") <= 2  # union-side exchange + window partitioning


def test_partitioned_write_prunes(spark, tmp_path):
    import json

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.plans import assert_partition_pruned

    rows = [
        (f"t{i % 3}", json.dumps({"Data": {"device": "TV", "event": "e", "region": "US"}}))
        for i in range(30)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    root = str(tmp_path / "lake")
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    scan = spark.read.parquet(root).where(F.col("tenant") == "t1")
    assert_partition_pruned(scan, "tenant", "t1")


def test_bucketed_join_avoids_shuffle(spark, sf_smoke, tmp_path):
    """bucketBy co-located join: no Exchange on the bucketed key (the
    SURVEY §2 B3 bucketing path for repeated big-big joins)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t

    import shutil

    li = t(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, sf_smoke, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    # a previous session may have left orphaned managed-table dirs behind
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").replace("file:", "")
    for tbl in ("li_b", "o_b"):
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_dynamic_partition_pruning_on_lake(spark, tmp_path):
    """A dim-filtered join against the partitioned lake prunes partitions
    dynamically (SURVEY §4: dynamicPartitionPruning)."""
    import json

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    rows = [
        (f"t{i % 4}", json.dumps({"Data": {"device": "TV", "event": "e", "region": "US"}}))
        for i in range(100)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    root = str(tmp_path / "dpp_lake")
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    fact = read_lake(spark, root)
    dim = spark.createDataFrame([("t1", "gold")], "tenant string, tier string")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        j = fact.join(dim.where(F.col("tier") == "gold"), "tenant")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(tenant" in plan, plan[:500]
        assert j.count() == 25
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_aqe_splits_skewed_join(spark):
    """One giant tenant (the realistic skew case, SURVEY §4): AQE must mark
    and split the skewed partitions of a sort-merge join at runtime."""
    from pyspark.sql import functions as F2

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # tenant 'hot' has 200k rows; 49 tenants share 10k
        fact = spark.range(0, 210_000).select(
            F2.when(F2.col("id") < 200_000, "hot")
            .otherwise(F2.concat(F2.lit("t"), (F2.col("id") % 49).cast("string")))
            .alias("tenant"),
            F2.col("id").alias("v"),
            F2.sha2(F2.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.createDataFrame(
            [("hot", 1)] + [(f"t{i}", i) for i in range(49)], "tenant string, tier int"
        )
        # user-specified repartition would pin the dim's partitioning and
        # block OptimizeSkewedJoin (it only rewrites ENSURE_REQUIREMENTS
        # shuffles) — let the join plan its own exchanges
        j = fact.join(dim, "tenant")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_tpch_q1_is_single_scan_partial_agg(spark, sf_smoke):
    """Q1 must stay a scan → partial agg → exchange → final agg: exactly one
    shuffle (plus the orderBy's range exchange), no join anywhere — the shape
    that scales linearly to 100 TB."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    q = load_all()["agg_pricing_summary"].spark_fn(spark, sf_smoke)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert_pushed_filter(q, "l_shipdate")


def _read_table_effects(spark, sf_dir, name):
    """``read_table`` under its own job group: (frame, jobs it launched,
    session conf keys it changed)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_table

    sc = spark.sparkContext
    before = dict(spark.conf.getAll)
    group = f"read_table {sf_dir} {name}"
    sc.setJobGroup(group, group)
    try:
        df = read_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    after = dict(spark.conf.getAll)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    return df, list(sc.statusTracker().getJobIdsForGroup(group)), changed


def test_read_table_takes_footer_schema(spark, sf_smoke):
    """A table read plans from the parquet footer: no schema-inference job,
    no session conf written (one session serves every tenant), and
    untagged timestamp[us] still reads as TIMESTAMP, also in a session
    that keeps Spark's default inferTimestampNTZ."""
    from pyspark.sql import types as T

    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import (
        TESTDATA_TABLES,
        read_table,
    )

    for name in TESTDATA_TABLES:
        _, jobs, changed = _read_table_effects(spark, sf_smoke, name)
        assert (jobs, changed) == ([], []), name
    fresh = spark.newSession()
    fresh.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
    li = read_table(fresh, sf_smoke, "lineitem")
    assert isinstance(li.schema["l_shipdate"].dataType, T.TimestampType)


def test_read_table_nanos_ts_reads_as_micros(spark, tmp_path):
    """A timestamp[ns] ``ts`` comes back as a microsecond TIMESTAMP without
    the legacy nanosAsLong conf and without a job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_001_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    df, jobs, changed = _read_table_effects(spark, str(tmp_path), "events")
    assert (jobs, changed) == ([], [])
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = [r.us for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()]
    assert got == [v // 1000 for v in ns]


def test_tpch_q5_broadcasts_all_dims(spark, sf_smoke):
    """Q5's nation/region (and at smoke scale every dim) must come in as
    broadcast hash joins — no sort-merge on the dimension legs."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    q = load_all()["tpch_q5_local_supplier_volume"].spark_fn(spark, sf_smoke)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_reduces_probe_side(spark, sf_smoke):
    """When the dim side is too big to broadcast, Catalyst should inject a
    runtime bloom filter (might_contain on xxhash64 of the join key) on the
    fact scan — the semi-join reduction that saves shuffling non-matching
    fact rows at 100 TB."""
    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        o = t(spark, sf_smoke, "orders").where(F.col("o_orderpriority") == "1-URGENT")
        li = t(spark, sf_smoke, "lineitem")
        q = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _last_sql_execution(spark) -> int:
    """Id of the newest execution in the SQL status store (-1 if none)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _sql_plans_after(spark, last: int) -> list[str]:
    """Physical plan descriptions of the SQL executions newer than ``last``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    found = [execs.apply(i) for i in range(execs.size())]
    return [e.physicalPlanDescription() for e in found if e.executionId() > last]


def test_minhash_persist_once_shingle_reuse(spark, sf_smoke):
    """Both the signature pipeline and the exact-Jaccard verification must
    scan the SAME persisted (id, shingles) frame instead of re-running
    the normalize/tokenize/shingle pipeline twice: the plan of the job
    that materializes the returned pairs, read from the SQL status store,
    holds at least two InMemoryTableScans."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_smoke, "documents")
    last = _last_sql_execution(spark)
    minhash_near_duplicates(docs)
    plans = _sql_plans_after(spark, last)
    assert plans, "the pairs were not materialized by a SQL execution"
    # cached frame feeds >= 2 consumers: signatures + both verify joins
    assert max(p.count("InMemoryTableScan") for p in plans) >= 2, plans


def test_llm_corpus_prep_shuffle_budget(spark, sf_smoke):
    """The corpus-prep flagship must stay at one file scan and at most
    three exchanges (dedup hash key, per-source packing window, final
    ordered aggregate) — the shuffle budget that makes it 100 TB-viable."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    df = load_all()["llm_corpus_prep"].spark_fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan[:1500]
    assert plan.count("Exchange") <= 3, plan[:1500]


def test_tpch_plans_no_red_flags(spark, sf_smoke):
    """Every TPC-H-shaped query must plan with hash joins — no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only where a
    single-row scalar subquery makes it the right plan (q22's avg-acctbal
    comparison)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    reg = load_all()
    allowed_bnlj = {
        # 1-row scalar-subquery broadcasts into a filter — the right plan:
        # q22's avg-acctbal comparison, q11's HAVING value threshold.
        "tpch_q22_global_sales": 1,
        "tpch_q11_important_stock": 1,
    }
    for name in [n for n in reg if n.startswith("tpch_")]:
        plan = (
            reg[name].spark_fn(spark, sf_smoke)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= allowed_bnlj.get(name, 0), name


def test_join_bucketed_colocated_query_no_key_shuffle(spark, sf_smoke):
    """The registered join_bucketed_colocated corpus query must keep its
    no-shuffle-on-the-join-key property: the SortMergeJoin consumes the
    bucketed layout directly; the only Exchanges are for the tiny
    post-join aggregate/sort."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import REGISTRY, load_all

    load_all()
    q = REGISTRY["join_bucketed_colocated"].spark_fn(spark, sf_smoke)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "custkey" not in [ln for ln in plan.splitlines() if "Exchange" in ln].__str__(), plan


def test_strict_ingest_parses_json_once(spark):
    """The strict type gate (A8) must parse each raw record's JSON at most
    twice end-to-end: once as from_json (the value path) and once as a
    variant (the token-type path). Round 2 shipped a condition with
    try_parse_json ×3 + from_json ×4 inlined into the Filter by predicate
    pushdown — a 6× scan-cost regression. The fix binds the variant to a
    single-element transform() lambda variable; this pins that shape."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch

    # Non-foldable JSON: every field depends on the row id, so Catalyst
    # cannot constant-fold the parse out of the plan (a literal payload
    # made this test vacuous — both counts folded to 0).
    raw = spark.range(100).select(
        F.lit("t0").alias("tenant_id"),
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(F.lit("d"), F.col("id").cast("string")).alias("device"),
                    F.concat(F.lit("e"), F.col("id").cast("string")).alias("event"),
                    F.concat(F.lit("r"), F.col("id").cast("string")).alias("region"),
                ).alias("Data")
            )
        ).alias("raw"),
    )
    res = ingest_batch(raw, ingest_ts=1700000000)
    valid_plan = res.valid._jdf.queryExecution().executedPlan().toString()
    quar_plan = res.quarantine._jdf.queryExecution().executedPlan().toString()
    # valid branch: one value parse (from_json) + one type-gate parse (variant)
    assert valid_plan.count("from_json") == 1, valid_plan[:2000]
    assert valid_plan.count("parseJson") == 1, valid_plan[:2000]
    # quarantine branch: the gate's single variant parse only
    assert quar_plan.count("from_json") == 0, quar_plan[:2000]
    assert quar_plan.count("parseJson") == 1, quar_plan[:2000]


def test_constraints_single_scan(spark, sf_oracle):
    """All row-level rules + row_count share ONE scan; each unique() adds
    exactly one more — a 5-rule report must read the table twice, not 6+
    times (union branches do NOT dedupe repeated aggregates)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.constraints import (
        accepted_values,
        check_constraints,
        in_range,
        not_null,
        row_count,
        unique,
    )

    o = t(spark, sf_oracle, "orders")
    rep = check_constraints(
        o,
        [
            not_null("o_custkey"),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            in_range("o_totalprice", 0, 600000),
            row_count(min_rows=1),
            unique(["o_orderkey"]),
        ],
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 2, f"expected 2 scans (shared row-level + unique), got {n_scans}:\n{plan[:3000]}"


def test_join_hints_respected(spark):
    """The engine exposes Spark's join-strategy hints as its control
    surface: a merge hint must override the default broadcast choice, a
    shuffle_hash hint must pick ShuffledHashJoin, and broadcast must
    produce BroadcastHashJoin — the knobs a 100 TB operator reaches for
    when the optimizer's size estimates are wrong."""
    a = spark.range(0, 50000).withColumnRenamed("id", "k")
    b = spark.range(0, 5000).withColumnRenamed("id", "k")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merged = a.join(b.hint("merge"), "k")
    assert "SortMergeJoin" in plan_of(merged)
    hashed = a.join(b.hint("shuffle_hash"), "k")
    assert "ShuffledHashJoin" in plan_of(hashed)
    bcast = a.join(b.hint("broadcast"), "k")
    assert "BroadcastHashJoin" in plan_of(bcast)


def test_bm25_tokenizes_corpus_once(spark, sf_smoke):
    """bm25_rank must read its checkpointed compact token frame, never
    re-run the regex tokenizer per consumer: after the checkpoint, the
    executed plan contains no RegExpReplace (the tokenizer's signature
    expression) anywhere — the round-5 fix for the 3× re-tokenization."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import REGISTRY, load_all
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t as tt
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ranking import bm25_rank

    load_all()
    docs = tt(spark, sf_smoke, "documents")
    q = bm25_rank(docs, ["data", "model", "the"], k=10)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in plan.lower(), plan[:2000]
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan  # the checkpoint


def test_tfidf_prunes_scored_slice_at_scan(spark, sf_smoke):
    """text_tfidf_top_terms (r15 opt): the doc_id < 50 output slice must
    be pushed into its own parquet scan, and the corpus-wide by-term
    Window (the old df formulation, which sorted the ENTIRE tf frame by
    term) must be gone — corpus-global work is only the map-side-combined
    df aggregation; the rank window runs on the pruned slice."""
    import re

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    registry = load_all()
    q = registry["text_tfidf_top_terms"].spark_fn(spark, sf_smoke)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    assert "LessThan(doc_id,50)" in plan, plan[:2000]  # pushed slice filter
    # exactly ONE Window operator (the per-doc rank); the by-term df
    # window would be a second one partitioned by term
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan[:2000]


def test_kmeans_assignment_zero_shuffle(spark, sf_smoke):
    """assign_clusters is a narrow projection: the corpus side must show
    no shuffle Exchange and no C-times candidate explosion — only the
    single-row collapsed-centroid broadcast."""
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t as tt
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.clustering import (
        assign_clusters,
        seed_centroids,
    )

    emb = tt(spark, sf_smoke, "embeddings")
    cents = seed_centroids(emb, 8)
    q = assign_clusters(emb, cents)
    q.collect()
    # AQE's toString renders Final Plan + Initial Plan; pin the final one
    plan = q._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side, corpus_side[:1500]
    assert "Generate" not in plan  # no explode of candidates anywhere
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row centroid array


def test_ahash_band_join_is_equi_join(spark):
    """Image near-dup candidates must come from a hash-partitioned
    equi-join on (band, value) — never a cartesian/all-pairs plan."""
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        ahash_near_duplicates,
    )

    df = spark.range(500).select(
        F.col("id").alias("media_id"), (F.col("id") * 2654435761 % (1 << 62)).alias("ahash")
    )
    q = ahash_near_duplicates(df)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan  # the join key is the band struct fields


def test_pagerank_iteration_never_moves_edges(spark):
    """The claim behind the broadcast-rank PageRank loop (r16): each
    round's contribution sums aggregate IN PLACE on the __dst-partitioned
    edge cache — the captured iteration body (the sums executedPlan down
    to the cache scan) contains NO shuffle exchange at all: the rank
    frame arrives by broadcast and the groupBy(__dst) pipelines over the
    InMemoryTableScan's preserved hashpartitioning. Regression pins: a
    localCheckpoint instead of persist loses outputPartitioning (Scan
    ExistingRDD → Unknown) and re-shuffles the partial sums every round;
    a shuffle-hash rank join (the r15 shape) re-introduces an
    edge-cardinality partial-sum exchange per round.
    """
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    edges = spark.range(4000).select(
        (F.col("id") % 131).alias("src"), ((F.col("id") * 13) % 131).alias("dst")
    )
    probe: list = []
    pagerank(edges, iters=3, plan_probe=probe).count()
    assert len(probe) == 3
    for i, plan in enumerate(probe):
        final = plan.split("== Initial Plan ==")[0]
        # the probe holds the rank-update frame: its join against the
        # contribution sums must be a broadcast too (the sums are
        # node-sized), so the round pays no rank-sized shuffle either
        joins = [ln for ln in final.splitlines() if "Join" in ln]
        assert joins and "BroadcastHashJoin" in joins[0] and "LeftOuter" in joins[0], (
            f"iter {i}: rank update join not broadcast\n{final[:2000]}"
        )
        assert sum("BroadcastHashJoin" in ln for ln in joins) >= 2, (
            f"iter {i}: broadcast rank join missing\n{final[:2000]}"
        )
        # the streamed side must be the cache scan, and NOTHING between
        # the update root and the cache scan may shuffle: the body
        # (everything before the InMemoryRelation detail dump) must be
        # exchange-free apart from the two broadcasts
        body = final.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in body, f"iter {i}:\n{body}"
        assert "Exchange hashpartitioning" not in body, (
            f"iter {i}: iteration body shuffles\n{body}"
        )
        assert "ShuffledHashJoin" not in body and "SortMergeJoin" not in body, (
            f"iter {i}: rank frame not broadcast\n{body}"
        )


def test_pagerank_loop_leaves_session_adaptive(spark):
    """One long-lived session serves every tenant's queries, so an
    operator must not change how OTHER queries plan while it runs: a
    query planned inside pagerank's loop (here, from the plan_probe hook
    every round) still gets an AdaptiveSparkPlan, with AQE's skew-join
    splitting and runtime join selection."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import (
        pagerank,
    )

    class _OtherQueryProbe(list):
        def __init__(self):
            super().__init__()
            self.planned: list[str] = []

        def append(self, plan):
            super().append(plan)
            other = spark.range(64).groupBy((F.col("id") % 5).alias("k")).count()
            self.planned.append(
                other._jdf.queryExecution().executedPlan().getClass().getSimpleName()
            )

    edges = spark.range(400).select(
        (F.col("id") % 37).alias("src"), ((F.col("id") * 7) % 37).alias("dst")
    )
    probe = _OtherQueryProbe()
    pagerank(edges, iters=3, plan_probe=probe).count()
    assert probe.planned == ["AdaptiveSparkPlanExec"] * 3, probe.planned


def _former_aqe_off_runs() -> dict:
    """Every operator that once scoped an AQE-off region, each run to
    completion on small inputs: name -> fn(spark, sf_dir, emb, tmp_path)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.clustering import (
        build_ivf_index,
        ivf_topk_portable,
        kmeans_portable,
        semantic_dedup,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import pagerank
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.pq import pq_train

    def edges(spark):
        return spark.range(200).select(
            (F.col("id") % 23).alias("src"), ((F.col("id") * 5) % 23).alias("dst")
        )

    def queries(emb):
        return emb.where(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")

    return {
        "pagerank": lambda spark, sf, emb, tmp: pagerank(edges(spark), iters=2).count(),
        "kmeans_portable": lambda spark, sf, emb, tmp: kmeans_portable(
            emb, n_clusters=3, iterations=2
        ).count(),
        "semantic_dedup": lambda spark, sf, emb, tmp: semantic_dedup(emb, n_clusters=3).count(),
        "ivf_topk_portable": lambda spark, sf, emb, tmp: ivf_topk_portable(
            emb, queries(emb), n_clusters=3
        ).count(),
        "build_ivf_index": lambda spark, sf, emb, tmp: build_ivf_index(
            emb, str(tmp / "ivf"), n_clusters=3
        ),
        "pq_train": lambda spark, sf, emb, tmp: pq_train(emb, m=4, k=3, iterations=2).count(),
        "lake_branch_wap_roundtrip": lambda spark, sf, emb, tmp: load_all()[
            "lake_branch_wap_roundtrip"
        ].spark_fn(spark, sf).collect(),
    }


@pytest.mark.parametrize(
    "name",
    [
        "pagerank",
        "kmeans_portable",
        "semantic_dedup",
        "ivf_topk_portable",
        "build_ivf_index",
        "pq_train",
        "lake_branch_wap_roundtrip",
    ],
)
def test_operator_sets_no_aqe_conf(spark, sf_smoke, tmp_path, monkeypatch, name):
    """The session's AQE settings belong to the session (session.get_spark):
    no operator may set a ``spark.sql.adaptive.*`` key, not even
    temporarily — a scoped flip is still session-global while it lasts
    and reaches every concurrent query."""
    from pyspark.sql.conf import RuntimeConfig

    keys: list[str] = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    emb = t(spark, sf_smoke, "embeddings").where(F.col("vec_id") < 64)
    _former_aqe_off_runs()[name](spark, sf_smoke, emb, tmp_path)
    assert [k for k in keys if k.startswith("spark.sql.adaptive.")] == []


def _persisting_runs() -> dict:
    """Every operator that persists an intermediate, each run to
    completion on small inputs: name -> fn(spark, sf_dir, tmp_path)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import upsert_partitioned
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators import dedup
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.bpe import learn_merges
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import pagerank
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.pq import pq_train
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        budget_select,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.similarity import (
        bitext_mine,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
        frequent_ngrams,
    )

    def docs(spark, sf):
        return t(spark, sf, "documents").where(F.col("doc_id") < 150)

    def emb(spark, sf, lo, hi):
        return t(spark, sf, "embeddings").where(F.col("vec_id").between(lo, hi - 1))

    def scored(spark, score):
        return spark.range(600).select(
            F.col("id").alias("doc_id"),
            score.alias("quality_score"),
            ((F.col("id") * 7) % 40 + 5).alias("n_tokens"),
        )

    def upsert(spark, tmp):
        root = str(tmp / "upsert_lake")
        spark.createDataFrame([(1, "a", "p1"), (2, "b", "p2")], "id long, v string, part string")\
            .write.partitionBy("part").parquet(root)
        changes = spark.createDataFrame([(2, "b2", "p2")], "id long, v string, part string")
        upsert_partitioned(spark, root, changes, key_cols=["id"], partition_cols=["part"])

    pairs = lambda spark: spark.createDataFrame(  # noqa: E731
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    return {
        "minhash_near_duplicates": lambda spark, sf, tmp: dedup.minhash_near_duplicates(
            docs(spark, sf)
        ).count(),
        "ngram_jaccard_pairs": lambda spark, sf, tmp: dedup.ngram_jaccard_pairs(
            docs(spark, sf), threshold=0.2
        ).count(),
        "ngram_jaccard_pairs_prefix": lambda spark, sf, tmp: dedup.ngram_jaccard_pairs_prefix(
            docs(spark, sf)
        ).count(),
        "containment_pairs": lambda spark, sf, tmp: dedup.containment_pairs(
            docs(spark, sf), max_df=0.5
        ).count(),
        "containment_pairs_prefix": lambda spark, sf, tmp: dedup.containment_pairs_prefix(
            docs(spark, sf), max_df=0.5
        ).count(),
        "duplicated_spans": lambda spark, sf, tmp: dedup.duplicated_spans(
            docs(spark, sf), k=8
        ).count(),
        "remove_duplicated_spans_keep_first": lambda spark, sf, tmp: (
            dedup.remove_duplicated_spans_keep_first(docs(spark, sf), k=8).count()
        ),
        "dedup_clusters": lambda spark, sf, tmp: dedup.dedup_clusters(pairs(spark)).count(),
        "frequent_ngrams": lambda spark, sf, tmp: frequent_ngrams(docs(spark, sf)).count(),
        "learn_merges": lambda spark, sf, tmp: learn_merges(spark, docs(spark, sf), 3).count(),
        "pq_train": lambda spark, sf, tmp: pq_train(
            emb(spark, sf, 0, 64), m=4, k=3, iterations=2
        ).count(),
        "pagerank": lambda spark, sf, tmp: pagerank(
            spark.range(200).select(
                (F.col("id") % 23).alias("src"), ((F.col("id") * 5) % 23).alias("dst")
            ),
            iters=2,
        ).count(),
        "budget_select": lambda spark, sf, tmp: budget_select(
            scored(spark, (F.col("id") % 97) / 97.0), 3_000, n_bins=16
        ).count(),
        "budget_select_rebin": lambda spark, sf, tmp: budget_select(
            scored(spark, F.lit(0.5)), 3_000, n_bins=16
        ).count(),
        "bitext_mine": lambda spark, sf, tmp: bitext_mine(
            emb(spark, sf, 0, 24), emb(spark, sf, 24, 48), k=2
        ).count(),
        "upsert_partitioned": lambda spark, sf, tmp: upsert(spark, tmp),
    }


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name",
    [
        "minhash_near_duplicates",
        "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_prefix",
        "containment_pairs",
        "containment_pairs_prefix",
        "duplicated_spans",
        "remove_duplicated_spans_keep_first",
        "dedup_clusters",
        "frequent_ngrams",
        "learn_merges",
        "pq_train",
        "pagerank",
        "budget_select",
        "budget_select_rebin",
        "bitext_mine",
        "upsert_partitioned",
    ],
)
def test_operator_leaves_no_cached_relation(spark, sf_smoke, tmp_path, name):
    """One long-lived session serves every tenant, so an operator must
    leave the session's cache as it found it: whatever it persists is
    released before it returns, and its result no longer reads it."""
    spark.catalog.clearCache()
    _persisting_runs()[name](spark, sf_smoke, tmp_path)
    assert _cache_is_empty(spark)


def test_operator_keeps_a_caller_cached_input_cached(spark):
    """A frame the caller cached is the caller's: an operator that would
    persist it uses that cache and leaves it in place."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        budget_select,
    )

    spark.catalog.clearCache()
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") % 89) / 89.0).alias("quality_score"),
        F.lit(10).alias("n_tokens"),
    )
    df.persist()
    try:
        assert budget_select(df, 1_000, n_bins=16).where("is_selected").count() == 100
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()
    assert _cache_is_empty(spark)


@pytest.mark.parametrize("name", ["pagerank", "dedup_clusters"])
def test_operator_releases_its_cache_when_the_loop_raises(spark, name):
    """An exception mid-loop must not leave the loop's edge cache behind:
    the plan_probe hook raises in the first round."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import pagerank

    class _Crash(list):
        def append(self, plan):
            raise RuntimeError("injected mid-loop failure")

    spark.catalog.clearCache()
    pairs = spark.range(60).select(
        (F.col("id") % 23).alias("id_a"), ((F.col("id") * 5) % 23).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="injected"):
        if name == "pagerank":
            pagerank(pairs, src="id_a", dst="id_b", iters=2, plan_probe=_Crash())
        else:
            dedup_clusters(pairs, plan_probe=_Crash())
    assert _cache_is_empty(spark)


def test_dedup_clusters_iterations_never_move_edges(spark):
    """Same pin as PageRank for label propagation: the symmetrized edge
    list is read from cache already partitioned on the join key; each
    iteration shuffles only the node-sized label frame."""
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
    )

    pairs = spark.range(300).select(
        (F.col("id") % 40).alias("id_a"), ((F.col("id") * 3) % 40 + 40).alias("id_b")
    )
    probe: list = []
    dedup_clusters(pairs, max_iters=4, plan_probe=probe).count()
    assert probe, "iteration plans not captured"
    for i, plan in enumerate(probe):
        final = plan.split("== Initial Plan ==")[0]
        join_at = final.find("ShuffledHashJoin")
        assert join_at >= 0, f"iter {i}: shuffle-hash join missing\n{final[:2000]}"
        lines = final[join_at:].splitlines()
        edge_branch = [ln for ln in lines[1:6] if ln.strip().startswith(":")]
        branch_text = "\n".join(edge_branch)
        assert "InMemoryTableScan" in branch_text, f"iter {i}:\n{branch_text}"
        pre_scan = branch_text.split("InMemoryTableScan")[0]
        assert "Exchange" not in pre_scan, (
            f"iter {i}: edge list re-shuffled\n{branch_text}"
        )


def test_tar_shard_writer_single_shuffle_no_sort(spark, tmp_path):
    """write_tar_shards is hash bucketing, NOT a global sort: the plan
    must contain exactly ONE exchange (hashpartitioning on shard_id for
    the per-shard applyInPandas) and no Sort exchange — the shape that
    keeps the writer one-shuffle at any corpus size (r7 verdict #5)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.archives import (
        write_tar_shards,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    rows = [
        (i, "image", bytearray(b"x" * 64), (None,) * 4 + ("image/png",))
        for i in range(32)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    manifest = write_tar_shards(media, str(tmp_path), n_shards=4)
    plan = formatted_plan(manifest)
    # formatted plans list each node twice (tree + numbered detail):
    # count the numbered detail entries only
    exchanges = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith("(") and ") Exchange" in ln
    ]
    assert len(exchanges) == 1, exchanges
    detail = plan[plan.index("Arguments") :] if "Arguments" in plan else plan
    assert "hashpartitioning(shard_id" in detail or "hashpartitioning(shard_id" in plan
    # no GLOBAL ordering anywhere in the write path. Spark's grouped-map
    # (FlatMapGroupsInPandas) machinery inserts one partition-LOCAL sort
    # on the grouping key after the hash exchange — that's inherent to
    # applyInPandas and costs O(partition log partition) locally, not a
    # rangepartitioning shuffle. Pin: no rangepartitioning, and the only
    # Sort is that local one on shard_id (global=false).
    assert "rangepartitioning" not in plan
    import re as _re

    # word-bounded: '(n) Sort' / '(n) Sort [codegen...]' but NOT
    # '(n) SortMergeJoin' or '(n) SortAggregate'
    sort_details = [
        ln
        for ln in plan.splitlines()
        if _re.match(r"^\(\d+\) Sort( |\[|$)", ln.strip())
    ]
    assert len(sort_details) <= 1, sort_details
    if sort_details:
        num = sort_details[0].strip().split(")")[0].lstrip("(")
        block = plan[plan.index(f"({num}) Sort") :]
        block = block[: block.index("\n\n")] if "\n\n" in block else block
        assert "shard_id" in block and "false" in block.lower(), block


def test_headline_audit_allowlist_covers_all_red_flags(spark, sf_smoke):
    """The full bench headline must plan with ZERO red flags beyond
    tools/explain_audit.py's justified EXPECTED_FLAGS allowlist (r9
    verdict: the list rotted when the ANN queries landed — this pins it).
    Plan-string check only (no execution beyond each query's own eager
    setup), so the whole headline stays cheap at sf0.001."""
    import importlib.util
    import os as _os

    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

    def load(mod, rel):
        spec = importlib.util.spec_from_file_location(mod, _os.path.join(root, rel))
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    bench = load("bench_for_audit", "bench.py")
    audit_mod = load("explain_audit_for_test", "tools/explain_audit.py")
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

    reg = load_all()
    # the allowlist may only name real queries (stale keys are rot too)
    stale = [n for n in audit_mod.EXPECTED_FLAGS if n not in reg]
    assert stale == [], f"EXPECTED_FLAGS names unknown queries: {stale}"

    offenders = {}
    for name in [n for n in bench.HEADLINE if n in reg]:
        plan = (
            reg[name].spark_fn(spark, sf_smoke)
            ._jdf.queryExecution().executedPlan().toString()
        )
        allowed = audit_mod.EXPECTED_FLAGS.get(name, set())
        flags = [f for f in audit_mod.RED_FLAGS if f in plan and f not in allowed]
        if flags:
            offenders[name] = flags
    assert offenders == {}, f"unexpected red-flag plans: {offenders}"
