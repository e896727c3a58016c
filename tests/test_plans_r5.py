"""Plan-shape pins for the round-5 operators (same charter as
tests/test_plans.py: the scale properties the docstrings claim,
asserted mechanically)."""

from __future__ import annotations

import pytest

from confluent_example_firehose_spark.plans.inspect import executed_plan
from confluent_example_firehose_spark.registry import query_fns


@pytest.fixture(scope="module")
def fns():
    return query_fns()


def _plan(fns, name, spark, sf_dir):
    return executed_plan(fns[name](spark, sf_dir))


def test_split_assign_one_shuffle_no_python(spark, sf_dir, fns):
    plan = _plan(fns, "q_split_assign", spark, sf_dir)
    # md5 bucketing is a narrow JVM projection; the only exchange is
    # the 15-key final agg
    assert plan.count("Exchange") == 1
    assert "Python" not in plan
    assert "Window" not in plan


def test_split_leakage_no_pair_join_blowup(spark, sf_dir, fns):
    plan = _plan(fns, "q_split_leakage", spark, sf_dir)
    # candidates come from the banded bucket shuffle, never an O(n^2)
    # pair theta-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_mergeable_sketch_aggs_no_blowup(spark, sf_dir, fns):
    plan = _plan(fns, "q_hll_mergeable", spark, sf_dir)
    low = plan.lower()
    assert "hll_union_agg" in low  # the merge path is really exercised
    assert "hll_sketch_agg" in low
    assert "CartesianProduct" not in plan


def test_compaction_coalesce_is_narrow(spark, sf_dir, tmp_path):
    """The compaction rewrite must be shuffle-free: coalesce(n) over a
    parquet scan plans as Coalesce, never Exchange (repartition would
    shuffle every byte — the thing compaction exists to avoid)."""
    from confluent_example_firehose_spark.catalog import load_table

    frag = str(tmp_path / "frag")
    load_table(spark, sf_dir, "events").limit(1000).repartition(
        8
    ).write.mode("overwrite").parquet(frag)
    compacted = spark.read.parquet(frag).coalesce(2)
    plan = executed_plan(compacted)
    assert "Coalesce" in plan
    assert "Exchange" not in plan


def test_stream_restart_uses_idempotent_batch_dirs(spark, sf_dir, fns):
    """Each restart-phase batch lands in its own batch_id=N dir with
    overwrite mode — re-running the query function twice must keep the
    aggregate identical (the idempotency the docstring claims)."""
    a = {
        (r["event_type"]): (r["n"], r["sum_id"])
        for r in fns["q_stream_restart"](spark, sf_dir).collect()
    }
    b = {
        (r["event_type"]): (r["n"], r["sum_id"])
        for r in fns["q_stream_restart"](spark, sf_dir).collect()
    }
    assert a == b


def test_cdc_materialize_is_hash_agg_not_window(spark, sf_dir, fns):
    plan = _plan(fns, "q_cdc_materialize", spark, sf_dir)
    # last-writer-wins resolves as a partial+final max_by aggregate
    # (struct-keyed max_by plans as SortAggregate, but the partial
    # before the exchange IS the map-side combine — each input split
    # collapses to <= n_keys rows pre-shuffle), never the oracle's
    # global window formulation
    assert "partial_max_by" in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # below it
    assert "Window" not in plan
    assert "Python" not in plan


def test_quantile_mergeable_single_raw_pass(spark, sf_dir, fns):
    plan = _plan(fns, "q_quantile_mergeable", spark, sf_dir)
    # one scan of events (daily partials), everything downstream runs
    # on bins x groups
    assert plan.count("FileScan") == 1
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_graph_pagerank_topk_is_take_ordered(spark, sf_dir, fns):
    plan = _plan(fns, "q_graph_pagerank", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """The engine supports Spark's runtime bloom-filter semi-join
    pruning: a selective dim-side filter injects might_contain() into
    the fact scan when broadcast is off (the 100 TB shuffle-join case —
    rows that cannot match are dropped BEFORE the exchange). AQE/CBO
    thresholds make it size-gated in production; the test pins that the
    rewrite fires under the thresholds scaled to test data."""
    from pyspark.sql import functions as F

    from confluent_example_firehose_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        sel = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = executed_plan(j)
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_entity_resolution_blocked_no_cross_join(spark, sf_dir, fns):
    plan = _plan(fns, "q_entity_resolution", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_nested_analytics_single_shuffle(spark, sf_dir, fns):
    plan = _plan(fns, "q_nested_analytics", spark, sf_dir)
    # one shuffle builds the nests; every metric is a narrow array
    # expression after it
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan  # no re-explode
    assert "Python" not in plan


def test_graph_triangles_bounded_projection(spark, sf_dir, fns):
    plan = _plan(fns, "q_graph_triangles", spark, sf_dir)
    # projection + ordered triangle join: equi-joins only, never a
    # cartesian exploration, top-N via TakeOrdered
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_execution_metrics_report_rows_and_shuffle(spark, sf_dir):
    """The observability surface must report real per-operator
    numbers: aggregate output rows and nonzero shuffle traffic for a
    groupBy over events."""
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.plans.inspect import (
        execution_metrics,
    )
    from pyspark.sql import functions as F

    df = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    metrics = execution_metrics(df)
    assert metrics, "no metrics collected"
    agg_rows = [
        v
        for node, key, v in metrics
        if "Aggregate" in node and key == "numOutputRows"
    ]
    assert agg_rows and max(agg_rows) >= 5  # 5 event types
    shuffle_bytes = [
        v
        for node, key, v in metrics
        if "Exchange" in node and key == "shuffleBytesWritten"
    ]
    assert shuffle_bytes and max(shuffle_bytes) > 0


def test_arrow_udf_uses_arrow_eval_path(spark, sf_dir, fns):
    plan = _plan(fns, "q_arrow_udf", spark, sf_dir)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # not the pickled-row path


def test_session_shuffle_totals_delta(spark, sf_dir):
    """The session-delta instrument must charge a shuffling action its
    own nonzero stages. Asserted on the per-stage form
    (session_shuffle_stages): in this long shared test session the
    AppStatusStore evicts old stages (spark.ui.retainedStages), so
    raw cumulative totals can legally DECREASE between snapshots —
    the r7 sign-off caught exactly that once the suite crossed ~1000
    stages. Stage-key set diffs are eviction-proof; the audits that
    subtract totals run in dedicated short sessions."""
    from confluent_example_firehose_spark.catalog import load_table
    from confluent_example_firehose_spark.plans.inspect import (
        session_shuffle_stages,
        session_shuffle_totals,
    )
    from pyspark.sql import functions as F

    totals = session_shuffle_totals(spark)
    assert set(totals) == {"shuffle_bytes", "shuffle_records", "spill_bytes"}
    assert all(v >= 0 for v in totals.values())
    before = session_shuffle_stages(spark)
    (
        load_table(spark, sf_dir, "events")
        .repartition("event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    after = session_shuffle_stages(spark)
    new = {k: v for k, v in after.items() if k not in before}
    assert new, "the action produced no new stages"
    assert sum(v[0] for v in new.values()) > 0  # its shuffle bytes
    assert sum(v[1] for v in new.values()) > 0  # its shuffle records
