"""Physical-plan shape assertions (the 100 TB design checks):
pushdown reaches the parquet scan, small sides broadcast, grid joins
stay equi-join (no cartesian), top-k fuses, window limits push down.

These are the properties that keep the operators viable at 1000
executors — a regression here is a performance bug even when results
stay correct."""

from __future__ import annotations

import contextlib
import io

from glonassdatamining_spark import registry
from tests.conftest import SF_DIR


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = registry.get(name).builder(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_projection_prunes_columns(spark):
    plan = plan_of(spark, "a2_projection_pushdown")
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema, "scan reads columns the query never uses"


def test_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "a3_predicate_pushdown")
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed, f"filter not pushed: {pushed}"


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "c1_broadcast_join")
    assert "BroadcastHashJoin" in plan, "dimension join must broadcast, not shuffle"


def test_grid_distance_join_is_equi_join(spark):
    """The ε-join must plan as a hash/sort-merge equi-join on cell keys
    — BroadcastNestedLoop/Cartesian here would be O(n²) at scale."""
    plan = plan_of(spark, "i3_distance_self_join", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_interval_join_is_equi_join(spark):
    plan = plan_of(spark, "c8_interval_join", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_topk_fuses(spark):
    plan = plan_of(spark, "f3_global_topk", mode="simple")
    assert "TakeOrderedAndProject" in plan, "orderBy+limit should fuse (no global sort)"


def test_topk_per_group_pushes_window_limit(spark):
    plan = plan_of(spark, "e7_topk_per_group", mode="simple")
    assert "WindowGroupLimit" in plan, "rank filter should push a per-partition limit"


def test_flagship_has_partial_aggregation(spark):
    plan = plan_of(spark, "q1_pricing_summary", mode="simple")
    assert plan.count("HashAggregate") >= 2, "partial+final agg expected"


def test_whole_stage_codegen_covers_flagship(spark):
    # AQE wraps the plan and reports 0 codegen subtrees before
    # execution — disable it for the static codegen inspection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "q1_pricing_summary", mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    n = int(plan.split(" WholeStageCodegen subtrees.")[0].split("Found ")[-1].strip())
    assert n >= 2, f"scan+partial-agg and final-agg spans expected, found {n}"


def test_no_python_udfs_in_relational_core(spark):
    """B-H queries must stay JVM-side: no Arrow/Python eval nodes."""
    for name in ["b1_project_compute", "d1_groupby_standard_aggs", "h5_array_funcs",
                 "e8_sessionization", "c12_knn_join", "i11_trajectory_similarity"]:
        plan = plan_of(spark, name, mode="simple")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_sessionization_reuses_single_shuffle(spark):
    """lag + running-sum + groupBy all partition on user_id — the plan
    must contain exactly one exchange for them."""
    plan = plan_of(spark, "e8_sessionization", mode="simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan}"


def test_funnel_reuses_single_shuffle(spark):
    """e9's three chained conditional-min windows all partition on
    user_id — one exchange total."""
    plan = plan_of(spark, "e9_funnel_detection", mode="simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan}"


def test_asof_nearest_reuses_single_shuffle(spark):
    """c9c runs both directional scans over the same user_id
    partitioning — the union-tagged input must shuffle once."""
    plan = plan_of(spark, "c9c_asof_nearest", mode="simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 shuffles, got {n_exchanges}:\n{plan}"


def test_dynamic_partition_pruning_inserted(spark):
    """a9: the selective dimension filter must reach the partitioned
    fact scan as a runtime DPP subquery, not a full-scan join."""
    plan = plan_of(spark, "a9_dynamic_partition_pruning", mode="extended")
    assert "dynamicpruning" in plan, f"no DPP subquery in plan:\n{plan[:2000]}"


def test_runtime_bloom_filter_injected(spark):
    """c15: with broadcast off and demo thresholds, Catalyst must
    inject a runtime bloom filter (might_contain on the fact side's
    join key, built from the filtered dimension side)."""
    import contextlib
    import io

    from conftest import SF_DIR
    from glonassdatamining_spark.operators.joins import (
        _runtime_filter_join_plan,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = _runtime_filter_join_plan(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="extended")
        plan = buf.getvalue()
        assert "might_contain" in plan, f"no runtime bloom filter:\n{plan[:2000]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_scan_prunes_partitions(spark):
    """a24: the o_orderstatus='F' filter must land in the scan's
    PartitionFilters (directory-level pruning of the Hive layout) —
    the other two status directories are never read."""
    plan = plan_of(spark, "a24_partitioned_scan", mode="formatted")
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_orderstatus" in pf.group(1), (
        f"status filter not pushed to partition pruning:\n{plan[:1500]}"
    )


def test_i59_barrier_bounds_plan_size(spark):
    """i59's clip chain guards a 6^5 expression blowup behind two
    DISK_ONLY persist barriers (round-7 verdict ask #7 swapped them in
    for localCheckpoint). Cache substitution must replace the persisted
    subtrees with InMemoryRelation leaves BEFORE the optimizer runs, so
    the optimized plan stays small and planning completes at all — an
    unbarriered build OOMs the driver while planning. Assert both: the
    barrier is visible in the plan and the plan text stays bounded."""
    from glonassdatamining_spark.operators import spatiotemporal as st

    plan = plan_of(spark, "i59_polygon_overlay_join", mode="extended")
    assert "InMemoryRelation" in plan, "persist barrier not substituted into the plan"
    assert len(plan) < 400_000, f"i59 plan blew up: {len(plan)} chars"
    st._i59_release_barriers()


def test_barrier_generations_keep_two(spark):
    """Barrier generations are a keep-2 FIFO: a handle one build old
    keeps its DISK_ONLY cache through one rotation (bench warm-up
    loops and two-scale tests hold such handles) and expires after
    two, so repeated builds never hold more than two generations."""
    from pyspark import StorageLevel

    from glonassdatamining_spark.operators import spatiotemporal as st

    st._i59_release_barriers()
    held = st._i59_barrier(spark.range(3))
    held.count()  # materialize the DISK_ONLY cache
    assert held.storageLevel == StorageLevel.DISK_ONLY
    st._i59_release_barriers()
    st._i59_barrier(spark.range(2)).count()
    assert held.storageLevel == StorageLevel.DISK_ONLY, (
        "one rotation expired a handle one build old"
    )
    st._i59_release_barriers()
    assert held.storageLevel != StorageLevel.DISK_ONLY
    st._i59_release_barriers()
