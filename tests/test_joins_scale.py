"""Join- and aggregate-scale tests: salting, approximate aggregates,
as-of and interval joins, AQE and pruning plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.operators.joins import salted_join
from salesforce_prefect_etl_pipeline_spark.plans import load_table

from tests.conftest import SF_SMALL


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, "o_custkey").groupBy("o_custkey").count()
    salted = salted_join(orders, cust, "o_custkey", salt=4).groupBy("o_custkey").count()
    a = {(r.o_custkey, r["count"]) for r in plain.collect()}
    b = {(r.o_custkey, r["count"]) for r in salted.collect()}
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    # one pathological key with 10k rows + a small build side
    probe = spark.range(10_000).select(F.lit(7).alias("k"), F.col("id"))
    build = spark.createDataFrame([(7, "hot")], ["k", "v"])
    out = salted_join(probe, build, "k", salt=8)
    assert out.count() == 10_000
    # the physical join key includes the salt -> 8 distinct salt groups
    n_salts = (
        probe.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("k"), F.monotonically_increasing_id()), F.lit(8)),
        )
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_approx_distinct_accuracy(spark):
    from salesforce_prefect_etl_pipeline_spark.queries_ext import (
        agg_distinct_suppliers_per_flag,
        approx_distinct_sketch,
    )

    exact = {
        r.l_returnflag: (r.n_suppliers, r.n_parts)
        for r in agg_distinct_suppliers_per_flag(spark, SF_SMALL).collect()
    }
    approx = {
        r.l_returnflag: (r.approx_suppliers, r.approx_parts)
        for r in approx_distinct_sketch(spark, SF_SMALL).collect()
    }
    for flag, (es, ep) in exact.items():
        as_, ap = approx[flag]
        assert abs(as_ - es) / es < 0.05
        assert abs(ap - ep) / ep < 0.05


def test_approx_percentile_accuracy(spark):
    import duckdb

    from salesforce_prefect_etl_pipeline_spark.queries_ext import (
        approx_percentile_sketch,
    )

    approx = {
        r.o_orderstatus: (r.p50, r.p95)
        for r in approx_percentile_sketch(spark, SF_SMALL).collect()
    }
    con = duckdb.connect()
    exact = {
        s: (p50, p95)
        for s, p50, p95 in con.sql(
            "SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5),"
            " quantile_cont(o_totalprice, 0.95) FROM"
            f" read_parquet('{SF_SMALL}/orders.parquet') GROUP BY 1"
        ).fetchall()
    }
    con.close()
    for status, (e50, e95) in exact.items():
        a50, a95 = approx[status]
        assert abs(a50 - e50) / e50 < 0.02
        assert abs(a95 - e95) / e95 < 0.02


def test_asof_join_semantics(spark):
    from salesforce_prefect_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 100, "a"), ("u1", 200, "b"), ("u2", 50, "c")],
        ["k", "lts", "tag"],
    )
    right = spark.createDataFrame(
        [("u1", 100, 1.0), ("u1", 150, 2.0), ("u2", 60, 3.0)],
        ["k", "rts", "rv"],
    )
    out = {
        (r.k, r.lts): (r.rts, r.rv)
        for r in asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_value_cols=["rts", "rv"],
        ).collect()
    }
    assert out[("u1", 100)] == (100, 1.0)  # tie at equal ts matches
    assert out[("u1", 200)] == (150, 2.0)  # most recent prior
    assert out[("u2", 50)] == (None, None)  # no right row at-or-before


def test_interval_join_exact(spark):
    from salesforce_prefect_etl_pipeline_spark.operators.rangejoin import interval_join

    intervals = spark.createDataFrame(
        [("k1", 10, 20), ("k1", 100, 200), ("k2", 0, 5)], ["k", "lo", "hi"]
    )
    points = spark.createDataFrame(
        [("k1", 10), ("k1", 20), ("k1", 21), ("k1", 150), ("k2", 5), ("k2", 6)],
        ["k", "p"],
    )
    got = {
        (r.k, r.lo, r.p)
        for r in interval_join(
            intervals, points, key="k", lo="lo", hi="hi", point="p", bin_width=7
        ).collect()
    }
    # inclusive bounds; no duplicates despite multi-bin intervals
    assert got == {("k1", 10, 10), ("k1", 10, 20), ("k1", 100, 150), ("k2", 0, 5)}


def test_asof_join_null_in_matched_row_not_backfilled(spark):
    """All value columns must come from the SAME matched right row: a NULL
    in the most recent right row stays NULL (no leak from an older row),
    matching DuckDB's ASOF JOIN."""
    from salesforce_prefect_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u1", 200, "a")], ["k", "lts", "tag"])
    right = spark.createDataFrame(
        [("u1", 100, 1.0, "old"), ("u1", 150, None, "new")],
        ["k", "rts", "rv", "label"],
    )
    rows = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        right_value_cols=["rv", "label"],
    ).collect()
    assert len(rows) == 1
    assert rows[0].label == "new"
    assert rows[0].rv is None  # matched row's NULL, not old row's 1.0


def test_pagerank_exact_invariants(spark):
    """Integer-exact PageRank: total rank mass stays below SCALE (floor
    losses only shrink it), every node gets at least the base mass, a
    heavier-in-degree hub outranks a leaf, and reruns are bit-identical."""
    from salesforce_prefect_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (2, 3, 5), (3, 1, 5), (4, 3, 2)],
        "src int, dst int, weight long",
    )
    out = graph.pagerank_exact(edges, n_nodes=4, iters=5).collect()
    ranks = {r.node: r.rank_scaled for r in out}
    assert set(ranks) == {1, 2, 3, 4}
    base = (graph.SCALE * 15) // (100 * 4)
    assert all(v >= base for v in ranks.values())
    assert sum(ranks.values()) <= graph.SCALE
    # node 3 receives from three sources; node 4 receives nothing
    assert ranks[3] > ranks[4] and ranks[3] == max(ranks.values())
    again = {r.node: r.rank_scaled for r in graph.pagerank_exact(edges, 4, 5).collect()}
    assert again == ranks


def test_pagerank_exact_survives_huge_weights(spark):
    """Per-edge products run in DECIMAL(38,0): with rank approaching
    SCALE and a weight of ~1e11 a bigint product would exceed 2^63 and
    wrap (or raise under ANSI), breaking the integer-exactness contract
    at exactly the 1e9+-edge scale the module advertises. The engine
    must match DuckDB's HUGEINT replay on an overflow-forcing graph."""
    import duckdb

    from salesforce_prefect_etl_pipeline_spark.operators import graph

    # Star: 10 spokes feed hub 0 (raising hub rank well above base),
    # hub's single out-edge carries w=9e10 -> rank*w ~ 1.2e19 > 2^63.
    w_huge = 90_000_000_000
    rows = [(s, 0, 1) for s in range(1, 11)] + [(0, 1, w_huge)]
    edges = spark.createDataFrame(rows, "src int, dst int, weight long")
    out = {
        r.node: r.rank_scaled
        for r in graph.pagerank_exact(edges, n_nodes=11, iters=5).collect()
    }
    assert all(v >= 0 for v in out.values())  # no silent wrap to negative

    edges_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({s}, {d}, CAST({w} AS BIGINT))" for s, d, w in rows
    ) + ") AS t(src, dst, w)"
    oracle = dict(
        duckdb.sql(
            graph.pagerank_sql(edges_sql, "11", iters=5)
        ).fetchall()
    )
    assert out == oracle


def test_pagerank_lineage_bounded_at_high_iters(spark):
    """iters=20 must complete with a BOUNDED plan: periodic
    localCheckpoint truncates the per-iteration join+agg chain (the
    same discipline as connected_components), so the analyzed plan
    covers at most `checkpoint_every` iterations, not all 20. Also a
    correctness check: checkpointing must not change the numbers
    (checkpoint_every=1000 disables it)."""
    from salesforce_prefect_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 1), (2, 3, 5), (3, 1, 5), (4, 3, 2)],
        "src int, dst int, weight long",
    )
    out = graph.pagerank_exact(edges, n_nodes=4, iters=20)
    plan = out._jdf.queryExecution().analyzed().toString()
    # each iteration contributes ~5 Join nodes to the analyzed plan;
    # after the last checkpoint only <= checkpoint_every iterations'
    # worth survives (~25), vs ~100 for the unchecked 20-iteration chain
    n_joins = plan.count("Join")
    unchecked_df = graph.pagerank_exact(
        edges, n_nodes=4, iters=20, checkpoint_every=1000
    )
    unchecked_plan = unchecked_df._jdf.queryExecution().analyzed().toString()
    assert n_joins <= 30, n_joins
    assert unchecked_plan.count("Join") >= 3 * n_joins
    ranks = {r.node: r.rank_scaled for r in out.collect()}
    unchecked = {r.node: r.rank_scaled for r in unchecked_df.collect()}
    assert ranks == unchecked


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100x-scale skew claim, test-enforced instead of
    comment-enforced: under AQE with skew-join splitting, a sort-merge
    join whose shuffle has one pathological key must show
    ``skew=true`` reader specs in the EXECUTED plan — i.e. Spark
    actually split the oversized partition at runtime. Thresholds are
    scaled down so local[32] data exercises the same code path a
    1000-executor cluster relies on; salting (salted_join) remains the
    documented escape hatch for keys AQE cannot split."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        # force SMJ (broadcast would bypass the shuffle entirely)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.shuffle.partitions", "8")

        # key 7 carries 200k rows with a fat payload; keys 0..99 are tiny
        probe = spark.range(200_000).select(
            F.lit(7).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
        ).unionAll(
            spark.range(100).select(
                F.col("id").cast("int").alias("k"),
                F.col("id").cast("string").alias("pay"),
            )
        )
        build = spark.range(100).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("string").alias("v"),
        )
        joined = probe.join(build, "k")
        # collect() (not count()) so the AQE final plan belongs to THIS
        # QueryExecution — count() wraps the join in a new execution and
        # leaves this one's plan isFinalPlan=false.
        assert len(joined.collect()) == 200_000 + 100

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"no skew split in executed plan:\n{plan}"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """The other runtime-pruning pillar next to AQE skew splitting:
    joining a hive-partitioned fact (write_partitioned) to a SELECTIVE
    dim on the partition column must plant a dynamicpruning subquery in
    the fact scan — at 100 TB that is the difference between scanning
    every partition and only the dim-selected ones. Enforced on the
    plan, not assumed from config."""
    from salesforce_prefect_etl_pipeline_spark.operators.joins import (  # noqa: F401
        salted_join,
    )
    from salesforce_prefect_etl_pipeline_spark.sources.io import write_partitioned

    fact_path = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    write_partitioned(ev, fact_path, ["event_type"])

    dim = spark.createDataFrame(
        [("click", 1.5), ("purchase", 3.0), ("view", 0.5)],
        ["event_type", "weight"],
    ).filter(F.col("weight") > 2.0)  # selective: only 'purchase'

    fact = spark.read.parquet(fact_path)
    joined = fact.join(dim, "event_type")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan}"

    n_purchase = ev.filter(F.col("event_type") == "purchase").count()
    assert joined.count() == n_purchase


def test_asof_join_directions_and_ties(spark):
    """Direction semantics on constructed data: ties match in BOTH
    directions; nearest picks the closer side and resolves an exact
    equidistant pair to the backward row."""
    from pyspark.sql import functions as F

    from salesforce_prefect_etl_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 1, 100),  # tie with right at 100
            (2, 1, 55),   # backward 50 (d=5), forward 100 (d=45)
            (3, 1, 75),   # equidistant: 50 (d=25) vs 100 (d=25) -> backward
            (4, 1, 10),   # nothing before -> forward only
            (5, 2, 10),   # key with no right rows at all
        ],
        "event_id long, k long, lts long",
    )
    right = spark.createDataFrame(
        [(1, 50, 500), (1, 100, 1000)], "k long, rts long, v long"
    )

    def run(direction):
        out = asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            right_value_cols=["rts", "v"], direction=direction,
        )
        return {r.event_id: (r.rts, r.v) for r in out.collect()}

    b = run("backward")
    assert b[1] == (100, 1000)  # tie matches backward
    assert b[2] == (50, 500)
    assert b[4] == (None, None)
    assert b[5] == (None, None)

    f = run("forward")
    assert f[1] == (100, 1000)  # tie matches forward too
    assert f[2] == (100, 1000)
    assert f[4] == (50, 500)
    assert f[5] == (None, None)

    n = run("nearest")
    assert n[1] == (100, 1000)  # distance 0
    assert n[2] == (50, 500)    # closer backward
    assert n[3] == (50, 500)    # equidistant -> backward
    assert n[4] == (50, 500)    # only forward exists
    assert n[5] == (None, None)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, "k", "lts", "rts", ["v"], direction="sideways")


def test_triangle_counts_exact_on_known_graph(spark):
    """K4 plus a pendant: each K4 vertex sits in C(3,2)=3 triangles, the
    pendant in none; direction/duplicates/self-loops must not distort."""
    from salesforce_prefect_etl_pipeline_spark.operators import graph

    edges = [(a, b) for a in range(4) for b in range(4) if a != b]  # K4 both dirs
    edges += [(3, 4), (2, 2), (0, 1)]  # pendant, self-loop, duplicate
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r.node: r.n_triangles for r in graph.triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_results_invariant_under_aqe_and_partitioning(spark):
    """The determinism contract, enforced: representative queries from
    the agg/join/window/dedup families must produce IDENTICAL rows with
    AQE disabled and a hostile shuffle-partition count — no result may
    depend on the physical plan or parallelism."""
    from salesforce_prefect_etl_pipeline_spark import queries_all as qa

    names = [
        "q1_pricing_summary",
        "join_revenue_by_region",
        "window_top3_orders_per_customer",
        "corpus_weighted_sample",
        "agg_binned_percentiles",
    ]
    baseline = {
        n: [tuple(r) for r in qa.QUERIES[n](spark, SF_SMALL).collect()]
        for n in names
    }
    conf = spark.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    prev_sp = conf.get("spark.sql.shuffle.partitions")
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            again = [tuple(r) for r in qa.QUERIES[n](spark, SF_SMALL).collect()]
            assert again == baseline[n], n
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
        conf.set("spark.sql.shuffle.partitions", prev_sp)


def test_runtime_bloom_filter_join_injection(spark):
    """The third runtime-pruning pillar (next to AQE skew splitting and
    DPP): a shuffle join against a SELECTIVE build side must inject a
    bloom_filter_agg on the probe side so fact rows that cannot match
    die at the scan instead of crossing the exchange. Spark gates the
    injection on the probe scan exceeding ~10 GB — trivially true at
    100 TB, lowered here so the tiny test corpus exercises the same
    plan. Result equality is asserted against the un-filtered join."""
    o = (
        load_table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    baseline = li.join(o, li.l_orderkey == o.o_orderkey).count()

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_en = spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, f"no runtime bloom filter in plan:\n{plan}"
        assert joined.count() == baseline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", old_en)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """Statistics-only queries (count/min/max with no filter) can be
    answered from parquet FOOTER statistics without decoding a single
    page — at 100 TB that is the difference between a metadata read
    and a full scan. Needs the V2 parquet source; asserted on the plan
    (PushedAggregation in the BatchScan) and on result equality with
    the conventional scan."""
    li = load_table(spark, SF_SMALL, "lineitem")
    expected = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("lo"),
        F.max("l_quantity").alias("hi"),
    ).collect()[0]

    old_pd = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        import os

        df = spark.read.parquet(os.path.join(SF_SMALL, "lineitem.parquet"))
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("lo"),
            F.max("l_quantity").alias("hi"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan, f"no aggregate pushdown:\n{plan}"
        assert agg.collect()[0] == expected
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_pd)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
