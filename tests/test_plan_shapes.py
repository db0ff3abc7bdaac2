"""Physical-plan audits: the shapes that matter at 100 TB.

These assert optimizer behavior — pushdown reaching the scan, small
sides broadcast, column pruning — not results. A refactor that silently
turns a broadcast join into a shuffled sort-merge, or lifts a filter off
the scan, fails here long before anyone notices it on a cluster.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_fuel_priceguide_ec2_spark import registry
from etl_fuel_priceguide_ec2_spark.operators import asof, projections
from etl_fuel_priceguide_ec2_spark.sources import rest
from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_point_lookup_predicates_pushed_to_scan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    df = asof.latest_for_key(ev, "user_id", 7, "ts", "2024-01-20 00:00:00", ["event_id"])
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the key equality must reach the parquet reader, not sit in a
    # post-scan Filter only
    assert "IsNotNull(user_id)" in plan or "EqualTo(user_id,7)" in plan
    # top-1 executes as TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_rest_list_is_local_relation_and_detail_is_pinned(spark):
    """S2's rows live in the plan (no Python worker re-reads them per
    scan, and the null filter folds into the scan); S3's responses are
    pinned at call time, so no consumer's plan re-runs the fan-out."""

    def fetcher(url: str) -> str:
        if url.endswith("/list"):
            return json.dumps({"resultado": [{"Id": i, "Nome": f"s{i}"} for i in range(8)]})
        return json.dumps({"Codigo": int(url.rsplit("/", 1)[1])})

    listed = rest.read_list_endpoint(spark, "u/list", fetcher, "Id bigint, Nome string")
    for df in (listed, projections.reject_nulls(listed, ["Nome"])):
        plan = _plan(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
    detail = rest.enrich_from_detail_endpoint(listed, "Id", "u/", fetcher, "Codigo bigint")
    assert "MapInPandas" not in _plan(detail)


def test_enrichment_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(registry.queries()["enrichment_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(registry.queries()["revenue_by_nation"](spark, sf_dir))
    # customer/nation/region all broadcast; only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_pricing_summary_prunes_columns(spark, sf_dir):
    plan = _plan(registry.queries()["pricing_summary"](spark, sf_dir))
    start = plan.index("ReadSchema")
    read_schema = plan[start : plan.index("\n", start)]
    # 11-column table; the query needs exactly 6
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema
    assert "l_shipdate" in read_schema


def test_asof_cutoff_filters_before_window(spark, sf_dir):
    plan = _plan(registry.queries()["asof_latest_per_key"](spark, sf_dir))
    # events.ts is converted from nanos (fixture artifact) so the bound
    # can't reach the parquet reader itself — but Catalyst must rewrite
    # it onto the raw long column DIRECTLY above the scan, i.e. node (2)
    # in the formatted tree, before any shuffle/sort
    node2 = plan.split("(2) Filter", 1)[1].split("(3)", 1)[0]
    assert "2024-01-20" in node2
    # and the top-1-per-key must run map-side before the exchange
    # (WindowGroupLimit Partial), so the shuffle carries at most one row
    # per (key, map partition), not the whole fact table
    assert "Partial" in plan.split("(5) WindowGroupLimit", 1)[1].split("(6)", 1)[0]


def test_fact_table_partition_pruning(spark, sf_dir, tmp_path):
    """The engine's own fact table (sinks.append_fact) is partitioned by
    run_date; a dated as-of query must prune partitions at the source —
    at 100 TB this is the difference between scanning one day and the
    whole table."""
    from etl_fuel_priceguide_ec2_spark import sinks
    from etl_fuel_priceguide_ec2_spark.plans import pipeline

    path = str(tmp_path / "fact")
    ev = load_table(spark, sf_dir, "events")
    for run in ["2024-02-01 00:00:00", "2024-02-02 00:00:00", "2024-02-03 00:00:00"]:
        sinks.append_fact(pipeline.build_fact_append(ev, run), path)

    fact = sinks.read_fact(spark, path).filter(F.col("run_date") == "2024-02-02")
    plan = _plan(fact)
    assert "PartitionFilters" in plan
    assert "run_date" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    # only 1 of 3 partitions scanned
    assert fact.count() == ev.count()


def test_upsert_anti_join_is_broadcast(spark, sf_dir):
    plan = _plan(registry.queries()["upsert_new_keys"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_whole_stage_codegen_active_on_scalar_battery(spark, sf_dir):
    # formatted explain marks codegen stages with a leading '*'
    plan = _plan(registry.queries()["scalar_battery"](spark, sf_dir))
    assert "* Project" in plan or "* ColumnarToRow" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing = pre-shuffled storage: two tables bucketed on the join
    key co-locate, so the join runs with ZERO Exchange nodes. At 100 TB
    this turns every repeated fact⋈fact / fact⋈big-dim join from a
    full-table shuffle into a local merge — the single biggest repeated-
    query win Spark offers."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for name, df, key in [("b_orders", orders, "o_orderkey"), ("b_lineitem", li, "l_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, key).sortBy(key).format("parquet").saveAsTable(name)

    # at fixture scale the planner would broadcast instead (correct for
    # tiny tables); disable it to expose the big-table bucketed path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ["b_orders", "b_lineitem"]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime row-group pruning: a selective dim filter injects a bloom
    filter (might_contain) into the fact scan side of the join — at
    100 TB this skips most of the fact table's rows before the shuffle,
    the row-level analogue of partition pruning."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).count()
        assert "might_contain" in _plan(j).lower()
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL top-k subquery must decorrelate to the
    set-based WindowGroupLimit + equi-join — if Catalyst ever planned
    the nested loop the SQL literally describes, per-customer subquery
    execution would be O(customers × orders) at scale."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["lateral_topk_orders"](spark, sf_dir)
    plan = _plan(df)
    assert "windowgrouplimit" in plan.lower()
    assert "broadcastnestedloopjoin" not in plan.lower()
    assert "cartesianproduct" not in plan.lower()


def test_join_strategy_hints_respected(spark, sf_dir):
    """Join hints steer the planner: merge() forces sort-merge even
    under broadcast thresholds; broadcast() forces BHJ on the hinted
    side; shuffle_hash() forces a hash join build. Hints are the
    per-query escape hatch when stats mislead the planner at scale."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cond = cust.c_nationkey == nat.n_nationkey

    merged = cust.join(nat.hint("merge"), cond)
    assert "sortmergejoin" in _plan(merged).lower()

    bcast = cust.join(nat.hint("broadcast"), cond)
    assert "broadcasthashjoin" in _plan(bcast).lower()

    shashed = cust.join(nat.hint("shuffle_hash"), cond)
    assert "shuffledhashjoin" in _plan(shashed).lower()


def test_simhash_signature_build_is_shuffle_free(spark, sf_dir):
    """Round-2 regression: the simhash signature fold must stay per-row
    (one aggregate over the token array) — the round-1 posexplode
    formulation pushed tokens x 64 rows through two keyed shuffles. The
    full signature relation must plan with ZERO Exchange operators."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dedup.simhash(docs, "doc_id", "text"))
    # fan_out's round-robin repartition is allowed (parallelism floor);
    # what must NOT appear is a hash-partitioned aggregation shuffle
    assert "hashpartitioning" not in plan.lower()
    assert "HashAggregate" not in plan
    # and near-pair mining adds only the block-join shuffles, no
    # per-token aggregation stages
    pairs_plan = _plan(dedup.simhash_near_pairs(docs, "doc_id", "text"))
    assert "posexplode" not in pairs_plan.lower()


def test_tpch_star_shapes_broadcast_all_dims(spark, sf_dir):
    """Round-2 TPC-H battery: every dimension join must plan as
    BroadcastHashJoin — a silent fallback to sort-merge on
    supplier/customer/nation would shuffle the fact table once per dim
    at scale. The only tolerated nested-loop is the 1-row scalar
    broadcast (Q22's global average)."""
    from etl_fuel_priceguide_ec2_spark import registry

    qs = registry.queries()
    for name in ("q7_volume_shipping", "q8_market_share", "q10_returned_top_customers"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 2, name

    q22 = _plan(qs["q22_idle_customers"](spark, sf_dir))
    assert "SortMergeJoin" not in q22
    # anti-join on the key column, scalar avg as broadcast nested loop
    assert "LeftAnti" in q22


def test_kmeans_final_assignment_is_map_only(spark, sf_dir):
    """The k-means ASSIGNMENT (the per-row hot path at 100 TB) must be
    a pure map over the scan — centroids ride along as a literal array,
    so no Exchange appears in the returned plan."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    df = clustering.kmeans_assign(emb, "vec_id", "embedding", k=4, iters=1)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_semantic_pairs_never_cartesian(spark, sf_dir):
    """Multi-probe blocking must execute as an equi-join on the block
    id, never a cartesian/broadcast-nested-loop over all pairs."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    df = clustering.semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=4, iters=1, threshold=1.2, probes=2
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_uses_window_group_limit(spark, sf_dir):
    """Global top-n by the E-S key must run as WindowGroupLimit
    (per-partition partial top-n before the single final sort), not a
    full global sort of every row."""
    docs = load_table(spark, sf_dir, "documents")
    from etl_fuel_priceguide_ec2_spark.operators import sampling

    df = sampling.weighted_sample_topk(docs, "doc_id", "n_chars", 100)
    plan = _plan(df)
    # Spark pushes the rank<=n through the empty-partition window as
    # TakeOrderedAndProject (per-partition top-n + merge); on plans
    # where that rewrite doesn't fire, WindowGroupLimit is the
    # acceptable fallback. Either way: never a full global sort.
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_two_level_pairs_never_cartesian(spark, sf_dir):
    """Two-level blocking must also execute as an equi-join on the
    composite block id — never a cartesian over all pairs."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    df = clustering.semantic_dedup_pairs_two_level(
        emb, "vec_id", "embedding", k1=4, k2=4, iters=1, threshold=1.2, probes=2
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round4_tpch_shapes_plan_audit(spark, sf_dir):
    """Round-4 TPC-H completions: the plan patterns each query exists to
    pin. Q4 must stay a LEFT SEMI (never widen rows); Q9 broadcasts all
    three dims; Q18/Q21 top-k must cut as TakeOrderedAndProject, never a
    full global sort; Q16's distinct-count bridge and Q2's correlated
    min must never fall into a cartesian."""
    from etl_fuel_priceguide_ec2_spark import registry

    qs = registry.queries()

    q4 = _plan(qs["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in q4
    assert "CartesianProduct" not in q4

    q9 = _plan(qs["q9_product_type_profit"](spark, sf_dir))
    assert q9.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in q9

    for name in ("q18_large_volume_customers", "q21_waiting_suppliers"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name

    for name in ("q2_min_balance_supplier", "q16_part_supplier_variety",
                 "q20_dominant_shippers"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    # Q6 is the pushdown probe: every scan-level predicate must reach
    # the parquet reader
    q6 = _plan(qs["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters: [" in q6
    assert "l_discount" in q6.split("PushedFilters")[1][:300]


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join evidence: on a join whose left side is dominated by
    one hot key, adaptive execution must mark the sort-merge join as
    skew-handled (`isSkewJoin=true` / skew=true in the final plan) once
    the skew thresholds are crossed — the runtime complement to the
    manual salting operator (salted_join_skewed_flag). Two sizing facts
    this test pins: (a) skew stats are COMPRESSED map-output bytes, so
    the small parquet fixtures compress below any workable threshold —
    the input here is a 200k-row synthetic range; (b) OptimizeSkewedJoin
    only matches SMJ(Sort(Stage), Sort(Stage)) — an aggregate or limit
    between a Sort and its shuffle stage disables the rule entirely, so
    both inputs are plain projections."""
    # hot side: 99% of rows keyed to ONE value plus a long uniform tail
    hot = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("value"),
    )
    right = spark.range(0, 5_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("x")
    )
    prev = {
        c: spark.conf.get(c, None)
        for c in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        joined = hot.join(right, "k")
        # execute THIS DataFrame's own QueryExecution (a sink write runs
        # a separate one whose adaptive plan we can't read back)
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final or "isSkewJoin=true" in final, final[:2000]
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_bloom_probe_broadcasts_word_table(spark, sf_dir):
    """X6 membership: the probe side must test against a BROADCAST of
    the 260-word filter — a shuffled join of probe bits vs words would
    re-introduce the probe-side shuffle the sketch exists to avoid."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    df = sketches.bloom_membership_report(
        orders.filter(F.col("o_totalprice") > 400000),
        lineitem,
        "o_orderkey",
        "l_orderkey",
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hll_register_aggregate_is_two_level(spark, sf_dir):
    """X6 cardinality: the register build must partial-aggregate
    map-side (partial_max per (group, bucket) BEFORE the exchange) so
    the shuffle carries O(groups * 2^b) register rows, not input rows."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    df = sketches.hll_registers(events, "user_id", ["event_type"], b=8)
    plan = _plan(df)
    first_partial = plan.find("partial_max")
    first_exchange = plan.find("Exchange")
    assert first_partial != -1 and first_exchange != -1
    # formatted plans list operators leaf-first under the header; the
    # partial aggregate must be attached to the scan stage (present at
    # all), and no Python/HOF interpreter node may appear in the build
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_plan_no_cartesian_postings_stream(spark, sf_dir):
    """Lexical retrieval audit (VERDICT r05 item 5): with auto-
    broadcast disabled, the ONLY broadcast sides are the explicitly
    hinted tiny relations (query terms, per-term df/idf, the 1-row
    avgdl, the query map) — the corpus-sized postings/doclens sides
    join by shuffle, and nothing is cartesian (the single BNLJ is the
    1-row avgdl cross join)."""
    from etl_fuel_priceguide_ec2_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(1, "spark"), (1, "query"), (2, "hash")], "query_id int, token string"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = retrieval.bm25_topk(docs, queries, "doc_id", "text", topk=5)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    # exactly one BNLJ — the 1-row avgdl cross join (the formatted
    # explain prints each node twice: tree + details section)
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1
    # the postings -> doclens join must be shuffle-side (SMJ/SHJ), not
    # a broadcast of a corpus-sized relation
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    # the explicit hints are present
    assert "BroadcastExchange" in plan


def test_kmv_set_algebra_joins_are_broadcast(spark, sf_dir):
    """X6 KMV: every set-algebra join (union sketch vs side sketches,
    the stats cross joins) runs against <= k-row broadcast relations —
    nothing in the report should shuffle-join, and the only
    corpus-sized work is the distinct-hash scan feeding the min-k
    windows."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "click")
    b = events.filter(F.col("event_type") == "view")
    df = sketches.kmv_intersection_report(a, b, "user_id", "user_id", k=64)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the two-level min-k: per-split partitioned windows exist (the
    # parallel reducers), not only the final single-partition rank
    assert "Window" in plan
    # broadcast set-algebra: at least the semi/anti rho joins and the
    # stats crosses are broadcast-side
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_buckets_are_tight_on_both_columns(spark, sf_dir):
    """The reason to z-order a write: per-curve-prefix buckets bound
    BOTH clustered columns' min/max spans simultaneously (the row-group
    stats that let predicates on either column prune), where
    natural-order buckets of the same size span ~the full domain of
    each. Assert the mean z-bucket span is under half the natural-order
    span on both columns."""
    from etl_fuel_priceguide_ec2_spark.operators import layout

    li = load_table(spark, sf_dir, "lineitem")
    z = layout.zorder_value(li, ["l_partkey", "l_suppkey"], bits=8)

    def spans(df, bucket_col):
        rows = (
            df.groupBy(bucket_col)
            .agg(
                (F.max("l_partkey") - F.min("l_partkey")).alias("sp"),
                (F.max("l_suppkey") - F.min("l_suppkey")).alias("ss"),
            )
            .collect()
        )
        n = len(rows)
        return sum(r.sp for r in rows) / n, sum(r.ss for r in rows) / n

    zp, zs = spans(
        li.withColumn("z", z).withColumn("b", F.shiftright("z", 12)), "b"
    )
    # natural order: bucket by orderkey ranges (what an unsorted write
    # would co-locate)
    nmax = li.agg(F.max("l_orderkey")).collect()[0][0]
    np_, ns = spans(
        li.withColumn("b", (F.col("l_orderkey") * 16 / (nmax + 1)).cast("long")),
        "b",
    )
    assert zp < np_ / 2, (zp, np_)
    assert zs < ns / 2, (zs, ns)


def test_zorder_write_prunes_parquet_row_groups(spark, sf_dir, tmp_path):
    """End-to-end layout payoff: write lineitem z-ordered vs natural
    order with small row groups, then read back the parquet footer
    stats (pyarrow) and count row groups a selective point predicate
    could skip via min/max. The z-ordered layout must let BOTH
    clustered columns prune a majority of row groups; natural order
    prunes almost nothing."""
    import pyarrow.parquet as pq

    from etl_fuel_priceguide_ec2_spark.operators import layout

    # sf0.01 explicitly: the sf0.001 fixture yields too few row groups
    # for footer-stat pruning to be observable
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )

    def write_and_stats(df, path):
        (
            df.coalesce(1)
            .write.option("parquet.block.size", 32 * 1024)
            .mode("overwrite")
            .parquet(path)
        )
        import glob

        f = glob.glob(f"{path}/*.parquet")[0]
        md = pq.ParquetFile(f).metadata
        stats = []
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            row = {}
            for c in ("l_partkey", "l_suppkey"):
                s = md.row_group(rg).column(idx[c]).statistics
                row[c] = (s.min, s.max)
            stats.append(row)
        return stats

    z = layout.zorder_sort(li, ["l_partkey", "l_suppkey"], bits=8)
    zstats = write_and_stats(z, str(tmp_path / "zsorted"))
    nstats = write_and_stats(
        li.orderBy("l_orderkey"), str(tmp_path / "natural")
    )
    assert len(zstats) >= 4, "need multiple row groups for the test to mean anything"

    bounds = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]

    def prune_fraction(stats, col, probes):
        skipped = 0
        for p in probes:
            skipped += sum(1 for r in stats if not (r[col][0] <= p <= r[col][1]))
        return skipped / (len(probes) * len(stats))

    import random

    rnd = random.Random(7)
    p_probes = [rnd.randint(bounds[0], bounds[1]) for _ in range(20)]
    s_probes = [rnd.randint(bounds[2], bounds[3]) for _ in range(20)]
    for col, probes in (("l_partkey", p_probes), ("l_suppkey", s_probes)):
        zf = prune_fraction(zstats, col, probes)
        nf = prune_fraction(nstats, col, probes)
        assert zf > 0.5, (col, zf, "z-order must skip most row groups")
        assert zf > nf, (col, zf, nf)


def test_triangle_wedge_join_is_keyed_not_cartesian(spark, sf_dir):
    """The wedge self-join and the closing pair join must both be
    keyed equi-joins (on the shared source u, then on the (v, w)
    pair); a CartesianProduct/BNLJ here would be the all-pairs plan
    the degree orientation exists to avoid."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["triangle_counts_part_graph"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_r16_pinned_miners_run_their_expensive_subtree_once(spark, sf_dir):
    """The round-16 subtree pins' load-bearing property, pinned on the
    FINAL plan: after the one eager materialization of the shared
    relation (gram index / featurization / mined pairs), the query's
    final plan must contain ZERO parquet scans — i.e. the tokenize/
    explode/mining chain that used to re-expand under every consumer
    (24/22/12/4 scans in plans/r16/*_before.txt) executes exactly once.
    The triangle plan must additionally produce corners via ONE
    explode (Generate) instead of the 3-branch union that re-ran the
    wedge join per branch."""
    from etl_fuel_priceguide_ec2_spark import registry

    import re

    qs = registry.queries()
    for name in (
        "exact_substring_spans",
        "exact_substring_incremental_spans",
        "winnow_candidate_pairs",
        "triangle_counts_part_graph",
        "domain_classifier_labels",
    ):
        plan = _plan(qs[name](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, name
        assert "Scan ExistingRDD" in plan, name
    tri_plan = _plan(qs["triangle_counts_part_graph"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Generate", tri_plan)) == 1
    # the only remaining Union is the cheap two-projection `ends`
    # relation feeding the degree aggregate; the 3-branch corners
    # union (which re-ran the wedge join per branch) is gone
    assert len(re.findall(r"\(\d+\) Union", tri_plan)) == 1


def test_affinity_pair_join_keyed_and_total_broadcast(spark, sf_dir):
    """The pair-generating self-join must be a keyed equi-join on the
    basket (never cartesian), and the ONLY nested-loop join allowed is
    the sanctioned broadcast of the 1-row basket-total aggregate."""
    from etl_fuel_priceguide_ec2_spark import registry

    import re

    df = registry.queries()["part_affinity_lift"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # one (n) BroadcastNestedLoopJoin node in the detail section: the
    # broadcast 1-row total; the formatted plan prints it again in the
    # tree, so count distinct node headers, not substring occurrences
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_quality_classifier_broadcasts_model_never_corpus(spark, sf_dir):
    """The classifier's only join must be a BroadcastHashJoin building
    the (feature_id, weight) model side; the corpus is never sort-merge
    joined or re-joined on doc_id (explode_outer keeps featureless docs
    without a spine join)."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["quality_classifier_scores"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" not in plan


def test_exact_substring_islands_share_one_exchange(spark, sf_dir):
    """After the gram self-join, the islands window and the run
    aggregate must share the (doc_a, doc_b, diag) partitioning — one
    exchange, not two — and nothing in the plan is cartesian."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["exact_substring_spans"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges feeding the window/aggregate on the islands keys: the
    # hashpartitioning on (doc_a, doc_b, diag) must appear exactly once
    n_diag_exchanges = len(
        re.findall(r"hashpartitioning\(doc_a[^)]*diag", plan)
    )
    assert n_diag_exchanges == 1, plan[:2000]


def test_domain_classifier_grid_is_the_only_nested_loop(spark, sf_dir):
    """The multiclass grid is a broadcast cross with the |classes|-row
    relation (3 rows here) — the sanctioned BroadcastNestedLoopJoin
    shape; the model join itself must be a BroadcastHashJoin and
    nothing may be cartesian."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["domain_classifier_labels"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_curation_decision_plan_no_cartesian_single_shingle_scan(spark, sf_dir):
    """The capstone's load-bearing shapes (round 9): nothing in the
    composed plan is a cartesian product; the only tolerated
    BroadcastNestedLoopJoin is the domain classifier's |classes|-row
    grid; and the two set-similarity miners consume the SAME
    checkpointed shingle relation (one tokenize+shingle scan — the
    shared-state contract ngram_jaccard_pairs/containment_pairs expose
    via ``shingle_sets``).

    Since the registry query reads its signals from the per-corpus
    state store, the MINING shapes are pinned on the signal pipelines
    themselves (pre-checkpoint plans) and the registry query's plan is
    checked as the decision layer it now is."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry
    from etl_fuel_priceguide_ec2_spark.registry.curation import (
        _mine_capstone_signals,
    )

    # the 'single shingle scan' claim, pinned directly on construction:
    # both set-similarity miners must consume ONE _shingle_array
    # relation (the shingle_sets contract) — count invocations
    from etl_fuel_priceguide_ec2_spark.operators import dedup as _dedup

    calls = []
    real_shingle = _dedup._shingle_array

    def _counting(*a, **kw):
        calls.append(1)
        return real_shingle(*a, **kw)

    _dedup._shingle_array = _counting
    try:
        sigs = _mine_capstone_signals(spark, sf_dir, materialize=False)
    finally:
        _dedup._shingle_array = real_shingle
    assert len(calls) == 1, "miners must share one tokenize+shingle scan"
    # pair/span mining: keyed joins, never cartesian; the classifier
    # grid BNLJ lives in quality/domain (one per model). Since the r16
    # gram-relation pin, the span miner's diagonal self-join runs over
    # the pinned (ExistingRDD) gram relation, where Spark has no stats
    # and picks SortMergeJoin — still a keyed equi-join on _h, which is
    # the load-bearing property (never all-pairs).
    for name in ("jaccard_pairs", "containment_pairs", "spans"):
        plan = _plan(sigs[name])
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, name
    for name in ("quality", "domain"):
        plan = _plan(sigs[name])
        assert "CartesianProduct" not in plan, name
        assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1

    # the registry query = the id-scale decision layer over stored
    # signals: still no cartesian, and the lone tolerated BNLJ is gone
    # (classifier inference happened at mining time)
    df = registry.queries()["corpus_curation_decision"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_export_sharder_no_per_shard_data_window(spark, sf_dir):
    """The sharder's load-bearing shape: positions come from the
    two-pass global rank (ONE range exchange over the data) plus the
    broadcast n_shards-row min-rank join — never a per-shard window
    over the data (corpus/n_shards rows through single tasks at 100
    TB), never a sort-merge join, never a cartesian."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["training_export_shards"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the min-rank join
    # exactly one range repartition of the data (global_row_number's);
    # every Window node must partition on the tiny __pid relation, not
    # on the shard column over the corpus
    assert len(re.findall(r"\(\d+\) Exchange rangepartitioning", plan)) <= 1
    for m in re.finditer(r"Window \[[^\]]*partitionBy=\[([^\]]*)\]", plan):
        assert "shard" not in m.group(1)


def test_zca_projection_is_map_only(spark, sf_dir):
    """After the driver-side fit, the emitted plan must be a pure
    map-only projection over one scan — no join, no exchange, no
    window (the whitener rides as literals)."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["zca_whitened_scores"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Join", "Exchange", "Window", "Generate"):
        assert node not in plan, node


def test_upsample_plan_is_map_and_bounded_explode_only(spark, sf_dir):
    """mixture_upsample's load-bearing shape: membership, multiplicity,
    and copy_idx are pure per-row codegen + ONE Generate (the bounded
    explode) — no join, no exchange, no window, no RNG."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["mixture_upsample_epochs"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Join", "Exchange", "Window"):
        assert node not in plan, node
    # count in the tree summary only (the details section repeats the
    # node header once per node)
    assert plan.split("\n\n")[0].count("Generate") == 1
    assert "rand(" not in plan.lower()


def test_mix_manifest_plan_has_no_rank_exchange(spark, sf_dir):
    """The per-(shard, lang) mix manifest needs shard MEMBERSHIP only:
    its plan must be map keys + a partial-aggregated exchange — no
    range repartition (that's the position path), no window, no join."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["training_mix_shard_manifest"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Join", "Window", "Generate"):
        assert node not in plan, node
    assert "rangepartitioning" not in plan
    # one hash exchange for the (shard, lang) aggregate, partials map-side
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "HashAggregate" in plan


def test_upsampled_manifest_inherits_the_sharder_shape(spark, sf_dir):
    """The replica-keyed export manifest composes upsample (map +
    bounded explode) with the sharder: still at most ONE range exchange
    over the data, the min-rank join still broadcast, no per-shard data
    window, no cartesian."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["training_export_upsampled_manifest"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange rangepartitioning", plan)) <= 1
    for m in re.finditer(r"Window \[[^\]]*partitionBy=\[([^\]]*)\]", plan):
        assert "shard" not in m.group(1)
    # (the upsampler's explode runs before global_row_number's
    # materialization point, so it does not appear in this plan)


def test_plan_barrier_prevents_duplicate_fold_evaluation(spark):
    """util.plan_barrier (VERDICT r13 item 5) must actually stop
    CollapseProject / join-side expression generation from re-expanding
    an expensive projected fold into every downstream reference — the
    reason the idiom exists at the IVF/PQ/simhash assignment sites.
    Without the barrier the join key + output project each inline the
    aggregate fold (2 copies in the physical plan); with it the fold is
    computed once and the barrier changes no rows."""
    from etl_fuel_priceguide_ec2_spark.operators.util import plan_barrier

    base = spark.range(100).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(9)), lambda i: F.col("id") + i
        ).alias("arr"),
    )
    fold = F.aggregate("arr", F.lit(0).cast("long"), lambda a, x: a + x).alias("s")
    other = spark.range(50).select((F.col("id") * 11).alias("k"))

    plain = (
        base.select("id", fold)
        .join(other, F.col("s") == F.col("k"))
        .select("id", "s")
    )
    barred = (
        plan_barrier(base.select("id", fold))
        .join(other, F.col("s") == F.col("k"))
        .select("id", "s")
    )
    n_plain = _plan(plain).count("aggregate(")
    n_barred = _plan(barred).count("aggregate(")
    assert n_plain >= 2, f"expected the unbarred fold duplicated, saw {n_plain}"
    assert n_barred == 1, f"barrier failed: fold appears {n_barred}x"
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, barred.collect())
    )
    # a pre-existing _plan_barrier column would be silently overwritten
    # and dropped — must collide loudly instead (code-review r14)
    with pytest.raises(ValueError, match="_plan_barrier"):
        plan_barrier(base.withColumn("_plan_barrier", F.lit(1)))


def test_ann_recall_exact_side_broadcasts_queries_never_corpus(spark, sf_dir):
    """The recall harness's exact pass is a broadcast of the BOUNDED
    query sample across one corpus scan (the sanctioned
    BroadcastNestedLoopJoin — the query_id != neighbor_id condition is
    non-equi by design); the corpus side must never broadcast and
    nothing may plan as a CartesianProduct. The join back to the
    approximate relation is keyed."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["ann_recall_ivf_pq"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # exactly one nested loop (the exact brute-force pass), with the
    # broadcast side present
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "BroadcastExchange" in plan


def test_snapshot_drift_is_two_scans_into_tiny_aggregate(spark, sf_dir):
    """The drift monitor's contract shape: per-snapshot map + d-row
    aggregate, then a d-row join — no window, no cartesian, no range
    exchange; the only join is the per-dim merge (broadcast or hash on
    64 rows, never nested-loop)."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["embedding_snapshot_drift"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert "rangepartitioning" not in plan
    assert "HashAggregate" in plan


def test_kfold_assignment_is_pure_map(spark, sf_dir):
    """k-fold membership is a pure per-row function of the id: the
    plan must contain no Exchange, no Join, no Window, no aggregate —
    a scan and a project, nothing else."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["kfold_assignments"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Exchange", "Join", "Window", "HashAggregate", "Sort"):
        assert node not in plan, node


def test_ann_codes_store_scan_prunes_to_probed_cells(spark, sf_dir, tmp_path):
    """The streaming ANN serving path's scale claim made checkable
    (VERDICT r14 item 5): with the pq_encode store written
    partitionBy("cell"), pruning it to a query batch's probed cells
    must appear as a STATIC PartitionFilters IN-predicate on the codes
    scan (never relying on runtime DPP), and the pruned search must
    return exactly the unpruned search's rows — the equi-join on cell
    makes out-of-probe rows unreachable either way."""
    from etl_fuel_priceguide_ec2_spark.operators import clustering, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = clustering.fit_centroids(emb, "vec_id", "embedding", k=4, iters=1)
    books = clustering.fit_pq_codebooks(
        emb, "vec_id", "embedding", m=8, ks=8, iters=1
    )
    path = str(tmp_path / "codes_by_cell")
    similarity.pq_encode(
        emb, "vec_id", "embedding", cents, books
    ).write.partitionBy("cell").parquet(path)
    stored = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 3)

    pruned = similarity.prune_codes_to_probed_cells(
        stored, queries, "vec_id", "embedding", cents, nprobe=2
    )
    search = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=3, nprobe=2, rerank_m=10, m=8, ks=8,
        centroids=cents, pq_codebooks=books, codes=pruned,
    )
    plan = _plan(search)
    # the IN filter must reach the partitioned scan as a partition
    # filter (first line after PartitionFilters names the cell column)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower()), pf

    full = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=3, nprobe=2, rerank_m=10, m=8, ks=8,
        centroids=cents, pq_codebooks=books, codes=stored,
    )
    got = sorted(map(tuple, search.collect()))
    assert got == sorted(map(tuple, full.collect())) and got
    # a second nprobe configuration (the search and the pruner now fold
    # ONE shared ranked_probe_cells expression — ADVICE r15 — so a
    # ranking divergence is structurally impossible; this pins it
    # end-to-end at a config the first check doesn't cover)
    pruned1 = similarity.prune_codes_to_probed_cells(
        stored, queries, "vec_id", "embedding", cents, nprobe=1
    )
    s1 = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=3, nprobe=1, rerank_m=10, m=8, ks=8,
        centroids=cents, pq_codebooks=books, codes=pruned1,
    )
    f1 = similarity.topk_ivf_pq(
        emb, queries, "vec_id", "embedding",
        k=3, nprobe=1, rerank_m=10, m=8, ks=8,
        centroids=cents, pq_codebooks=books, codes=stored,
    )
    got1 = sorted(map(tuple, s1.collect()))
    assert got1 == sorted(map(tuple, f1.collect())) and got1


def test_pq_staleness_report_is_two_scans_into_cells_aggregate(spark, sf_dir):
    """The codebook-staleness monitor's contract shape (the drift
    monitor's sibling): per-snapshot map work (codebooks ride as
    literals) into a cells-row aggregate, then a cells-row join — no
    window, no cartesian, no range exchange; nothing wider than
    (cell, error) ever shuffles."""
    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["pq_codebook_staleness"](spark, sf_dir)
    plan = _plan(df)
    for node in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert "rangepartitioning" not in plan
    assert "HashAggregate" in plan


def test_kfold_manifest_inherits_the_sharder_shape(spark, sf_dir):
    """The CV manifest composes kfold_assign (pure map) onto the
    sharder: the plan must keep the sharder's invariants — ONE range
    exchange, the broadcast min-rank join, no per-shard data window,
    no sort-merge join — with the fold adding zero exchanges."""
    import re

    from etl_fuel_priceguide_ec2_spark import registry

    df = registry.queries()["kfold_shard_manifest"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the min-rank join
    assert len(re.findall(r"\(\d+\) Exchange rangepartitioning", plan)) <= 1
    for m in re.finditer(r"Window \[[^\]]*partitionBy=\[([^\]]*)\]", plan):
        assert "shard" not in m.group(1) and "fold" not in m.group(1)


def test_graph_driver_caps_follow_broadcast_threshold(spark):
    """One size gate for the graph operators' driver-resident relations
    (pagerank/hits score broadcasts, the CC driver finish):
    util.broadcast_row_cap is autoBroadcastJoinThreshold over a per-row
    byte estimate, and -1 (broadcasting off) turns the gate off — so
    pagerank's node-sized score side is no longer broadcast-hinted."""
    from etl_fuel_priceguide_ec2_spark.operators import graph
    from etl_fuel_priceguide_ec2_spark.operators.util import broadcast_row_cap

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "10MB")
        assert broadcast_row_cap(spark, 16) == 655_360
        assert "BroadcastHashJoin" in _plan(graph.pagerank(edges, iters=1))
        spark.conf.set(key, "-1")
        assert broadcast_row_cap(spark, 16) == 0
        assert "BroadcastHashJoin" not in _plan(graph.pagerank(edges, iters=1))
    finally:
        spark.conf.set(key, prev)
