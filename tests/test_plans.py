"""Physical-plan assertions — the 100 TB posture, checked in CI.

These tests pin the plan properties that make the engine viable at
scale, so a refactor that silently regresses them fails loudly:
- time predicates must reach the parquet reader as PushedFilters
  (row-group min/max skipping = the reference's chunk-time pruning),
- matcher semi-joins against the series dimension must broadcast
  (never shuffle the fact table),
- the block store must partition-prune on block_id (the reference's
  block skip, agni querier.go:25-46).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agni_spark import datamodel as dm
from agni_spark.matchers import eq
from agni_spark.querier import Querier
from agni_spark.sources import layout

SF = "/root/testdata/sf0.001"
T1, T2 = 1704844800000, 1705708799999


def _formatted(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def querier(spark):
    t = dm.derive_tsdb(spark, SF)
    return Querier(t.samples, t.series, t.series_labels, t.blocks)


def test_time_bounds_are_pushed_filters(spark, querier):
    df = querier.select([eq("job", "api")], mint_ms=T1, maxt_ms=T2)
    plan = _formatted(df)
    # raw-column bounds reach the parquet reader, whatever physical
    # type the driver shipped ts as (int64 nanos or timestamp[us])
    ts_type = dict(dm.load(spark, SF, "events").dtypes)["ts"]
    if ts_type == "bigint":
        assert f"GreaterThanOrEqual(ts,{T1 * 1_000_000})" in plan
        assert f"LessThan(ts,{(T2 + 1) * 1_000_000})" in plan
    else:
        assert "GreaterThanOrEqual(ts," in plan
        assert "LessThan(ts," in plan


def test_matcher_join_broadcasts_not_shuffles(querier):
    df = querier.select([eq("job", "api"), eq("env", "prod")], mint_ms=T1, maxt_ms=T2)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the fact table shuffles only for the final ORDER BY, never for
    # the matcher evaluation
    assert plan.count("LeftSemi") >= 1


def test_select_output_schema_is_stable(querier):
    # the hidden raw-ts pushdown column must never leak to results
    df = querier.select([eq("job", "api")], mint_ms=T1, maxt_ms=T2)
    assert df.columns == ["series_id", "ts_ms", "value"]


def test_block_store_partition_prunes(spark, tmp_path):
    samples = spark.createDataFrame(
        [(1, t * 7_200_000 + 10, float(t)) for t in range(6)],
        "series_id long, ts_ms long, value double",
    )
    path = str(tmp_path / "store")
    layout.write_blocks(samples, path)
    df = layout.time_pruned(
        layout.read_samples(spark, path), 7_200_000, 15_000_000
    )
    plan = _formatted(df)
    # partition filters on block_id prune whole 2h blocks at planning
    # time; ts_ms bounds are pushed into surviving files
    assert "PartitionFilters" in plan
    assert "block_id" in plan.split("PartitionFilters", 1)[1][:300]
    assert "GreaterThanOrEqual(ts_ms,7200000)" in plan
    assert df.count() == 2  # t=1 and t=2 only


def test_promql_aggregate_by_broadcasts_dim(spark, querier):
    from agni_spark.functions import promql

    t = dm.derive_tsdb(spark, SF)
    df = promql.aggregate_by(t.samples, t.series, ["job"], 86_400_000)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_literal_regex_rewrite_avoids_rlike(querier):
    from agni_spark.matchers import re_match

    # =~"prod-.*" simplifies to a prefix matcher: the plan evaluates
    # StartsWith, never a regex (and StartsWith pushes to parquet when
    # the postings table is stored columnar)
    df = querier.select_series([re_match("instance", "prod-.*")])
    plan = _formatted(df)
    assert "StartsWith(" in plan
    assert "rlike" not in plan.lower()
    # =~"api|web" simplifies to a set-membership test, not a regex
    df2 = querier.select_series([re_match("job", "api|web")])
    plan2 = _formatted(df2)
    assert " IN (" in plan2 or "In(" in plan2
    assert "rlike" not in plan2.lower()
    # a true regex stays a regex
    df3 = querier.select_series([re_match("job", "a.c+")])
    assert "rlike" in _formatted(df3).lower()


def test_tpch_no_fact_sized_broadcast(spark):
    # Q3/Q5/Q7: no FORCED broadcast whose build side derives from
    # orders or lineitem (the optimizer may still size-broadcast at
    # tiny SF, but the plan must not carry a broadcast hint on a fact).
    from agni_spark.functions import relational

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (
            relational.q3_shipping_priority,
            relational.q5_local_supplier_volume,
            relational.q7_volume_shipping,
        ):
            df = fn(spark, SF)
            # with auto-broadcast off, only the EXPLICIT broadcast
            # hints remain (the dims); the fact-fact join must plan as
            # a non-broadcast join
            plan = _formatted(df)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, fn
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q18_and_topk_take_ordered(spark, querier):
    from agni_spark.functions import promql, relational

    plan = _formatted(relational.q18_large_volume_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan
    plan2 = _formatted(promql.topk(querier.samples, 5))
    assert "TakeOrderedAndProject" in plan2
    # the rank window must sit ABOVE the take-ordered (operates on <=k
    # rows), not below it as a global sort
    assert plan2.index("Window") < plan2.index("TakeOrderedAndProject")


def test_parser_selector_skips_output_sort(querier):
    # sort=False path: a parsed range-func query plans no Sort below
    # the window's own partition-local sort (no global range exchange
    # from the selector contract)
    from agni_spark import promql_parser as pql

    df = pql.query(querier, "rate(event_click[1d])")
    plan = _formatted(df)
    import re

    # exactly one Exchange feeding the window (hashpartitioning on
    # series_id), no rangepartitioning anywhere
    assert "rangepartitioning" not in plan.lower()


def test_no_sf_scaling_forced_broadcasts(spark):
    # customer (150k x SF), supplier (10k x SF), part (200k x SF) and
    # every doc-cardinality dedup relation must NOT carry a broadcast
    # hint: a forced broadcast of an SF-scaling table OOMs at cluster
    # scale. With auto-broadcast and AQE off, the only remaining
    # BroadcastExchanges are the explicit hints on bounded dims
    # (nation/region/aggregate scalars) — so an upper bound on the
    # exchange count pins exactly that set.
    from agni_spark.functions import dedup, relational

    prev_b = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_a = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cases = [
            (lambda: relational.q3_shipping_priority(spark, SF), 0),
            (lambda: relational.q5_local_supplier_volume(spark, SF), 2),
            (lambda: relational.q7_volume_shipping(spark, SF), 2),
            (lambda: relational.q8_market_share(spark, SF), 3),
            (lambda: relational.q10_returned_items(spark, SF), 1),
            (lambda: relational.q18_large_volume_customers(spark, SF), 1),
            # round-4 additions: hints only on nation/region/1-row
            # scalar aggregates, never customer/supplier/part/lineitem
            # q2: nation+region hints appear twice in the printed tree
            # (the persisted cost table feeds both the min subquery and
            # the join-back) — still only bounded-dim hints
            (lambda: relational.q2_min_cost_supplier(spark, SF), 4),
            (lambda: relational.q11_important_flow(spark, SF), 2),
            (lambda: relational.q12_late_shipments(spark, SF), 0),
            (lambda: relational.q15_top_supplier(spark, SF), 1),
            (lambda: relational.q16_supplier_counts(spark, SF), 0),
            (lambda: relational.q19_discounted_revenue(spark, SF), 0),
            (lambda: relational.q20_excess_shippers(spark, SF), 1),
            (lambda: relational.q21_lone_late_supplier(spark, SF), 0),
        ]
        docs = dm.load(spark, SF, "documents")
        cases += [
            (lambda: dedup.jaccard_pairs(docs), 0),
            (lambda: dedup.jaccard_pairs_prefix(docs), 0),
            # max_df set -> exactly the bounded hot-shingle list hint
            (lambda: dedup.jaccard_pairs(docs, max_df=50), 1),
            (lambda: dedup.minhash_dedup_pairs(docs), 0),
        ]
        import re

        for mk, n_ok in cases:
            plan = _formatted(mk())
            # formatted explain prints each node once in the tree
            # ("BroadcastExchange (12)") and once in the detail section
            # ("(12) BroadcastExchange"); count tree nodes only, and a
            # ReusedExchange of a broadcast does not re-broadcast.
            n = len(re.findall(r"BroadcastExchange \(\d+\)", plan))
            assert n <= n_ok, (mk, n, n_ok)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_b)
        spark.conf.set("spark.sql.adaptive.enabled", prev_a)


def test_parsed_rollup_binop_single_fact_pass(querier):
    """Share-of-total binop (`sum by (L)(X) / ignoring(..) group_left
    sum by (R)(X)`, R ⊂ L): the right side must be DERIVED from the
    left aggregate (one scan+window+agg over the fact table, plus a
    tiny rollup), not compiled as a second full pipeline. The logical
    plan therefore contains exactly ONE Window operator."""
    from agni_spark import promql_parser as pql

    df = pql.query(
        querier,
        "sum by (job, env) (increase(event_error[1d]))"
        " / ignoring(env) group_left"
        " sum by (job) (increase(event_error[1d]))",
    )
    # the shared left subtree prints twice in the logical TREE but
    # executes once: AQE's stage reuse materializes it a single time,
    # so the FINAL adaptive plan contains exactly one Window pipeline
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("Window") == 1


def test_asof_join_plans_no_join_operator(spark):
    # as-of = union + carry-forward window: the plan must contain NO
    # join at all (a range/theta join here would be the 100 TB killer)
    from agni_spark.functions.relational import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, ts_ms long, t string")
    right = spark.createDataFrame([(1, 5, 2.0)], "k long, r_ts long, v double")
    plan = _formatted(
        asof_join(left, right, on=["k"], left_ts="ts_ms", right_ts="r_ts")
    )
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
              "CartesianProduct"):
        assert j not in plan
    assert "Window" in plan


def test_interval_join_is_equi_not_nested_loop(spark):
    # bucketed interval join must plan an EQUI join (hash/sort-merge on
    # key+bucket), never BroadcastNestedLoop/cartesian
    from agni_spark.functions.relational import interval_join

    pts = spark.createDataFrame([(1, 10)], "k long, ts_ms long")
    ivs = spark.createDataFrame(
        [(1, 0, 100)], "k long, start_ms long, end_ms long"
    )
    plan = _formatted(interval_join(pts, ivs, on=["k"], bucket_ms=50))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
