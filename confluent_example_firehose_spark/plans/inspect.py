"""Physical-plan introspection helpers.

Used by tests/test_plans.py (plan-shape regression guards) and
tools/gen_plans_md.py (PLANS.md evidence). The engine adds no custom
Catalyst rules anywhere (SURVEY.md §4.2 — a deliberate property:
anything seemingly needing one becomes foreachBatch/pandas_udf user
code); this module only OBSERVES plans, it never rewrites them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
PYTHON_KINDS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "BatchEvalPython",
    "FlatMapCoGroupsInPandas",
    "PythonUDTF",
)


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan as text (pre-AQE final plan; AQE
    re-optimizations show up as AdaptiveSparkPlan nodes)."""
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanSummary:
    joins: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    python_stages: list[str] = field(default_factory=list)
    has_pushed_filters: bool = False
    has_bucketed_scan: bool = False

    @property
    def jvm_only(self) -> bool:
        return not self.python_stages


def summarize(df: DataFrame) -> PlanSummary:
    plan = executed_plan(df)
    return PlanSummary(
        joins=[k for k in JOIN_KINDS for _ in range(plan.count(k))],
        n_exchanges=len(re.findall(r"\bExchange\b", plan)),
        python_stages=sorted({k for k in PYTHON_KINDS if k in plan}),
        has_pushed_filters=bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        has_bucketed_scan=(
            "SelectedBucketsCount" in plan or "Bucketed: true" in plan
        ),
    )


def execution_metrics(df: DataFrame) -> list[tuple[str, str, int]]:
    """Per-operator SQL metrics from the EXECUTED plan — (node,
    metric, value) triples for every populated metric (output rows,
    shuffle bytes/records, spill sizes, scan rows...). This is the
    observability surface a pipeline operator tunes skew and spill
    with, read straight from the same metric registry the Spark UI
    shows; no listener plumbing, works after any action on the frame.

    Executes the frame via collect() — the SAME Dataset's query
    execution, so its metric registry is the one populated (count()
    would build and execute a different plan and leave these metrics
    zero). Diagnostics tool: collect() materializes the result on the
    driver, so profile a .limit()'d or aggregated frame, not a raw
    100 TB scan. Metric keys are Spark's INTERNAL names (numOutputRows,
    shuffleBytesWritten, ...). AQE-wrapped and query-stage nodes are
    unwrapped so the FINAL adaptive plan's metrics are reported."""
    df.collect()
    out: list[tuple[str, str, int]] = []
    seen: set[int] = set()

    def walk(node) -> None:
        if node is None or id(node) in seen:
            return
        seen.add(id(node))
        name = node.nodeName()
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                try:
                    out.append((name, kv._1(), kv._2().value()))
                except Exception:
                    pass
        except Exception:
            pass
        # unwrap adaptive / query-stage / cached-relation nests
        for accessor in ("executedPlan", "plan"):
            try:
                walk(getattr(node, accessor)())
            except Exception:
                pass
        try:
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
        except Exception:
            pass

    walk(df._jdf.queryExecution().executedPlan())
    return out


def session_shuffle_totals(spark) -> dict[str, int]:
    """Cumulative shuffle-write bytes/records and spill across EVERY
    stage the session has run, read from the AppStatusStore (the
    store behind the Spark UI's stage table).

    Complements execution_metrics, which walks one frame's FINAL
    executed plan: iterative operators (connected components, the
    graph fixed-point loops) do their shuffling in construction-time
    jobs against eagerly-checkpointed intermediates, which the final
    plan — a scan over the last checkpoint — never shows. Diffing
    these totals around a query captures every round's traffic:

        before = session_shuffle_totals(spark)
        fn(spark, sf_dir).count()
        after = session_shuffle_totals(spark)   # subtract per key

    Local-mode caveat: the store is per-SparkContext, so deltas from
    a shared session include any concurrent queries' stages, and it
    keeps a bounded number of stages, so in a long session use the
    stage-key diff of session_shuffle_stages instead."""
    stages = session_shuffle_stages(spark).values()
    keys = ("shuffle_bytes", "shuffle_records", "spill_bytes")
    return {k: sum(s[i] for s in stages) for i, k in enumerate(keys)}


def session_shuffle_stages(
    spark,
) -> dict[tuple[int, int], tuple[int, int, int]]:
    """Per-stage (shuffle_bytes, shuffle_records, spill_bytes) keyed
    by (stage_id, attempt_id) — the eviction-proof form of
    session_shuffle_totals: the AppStatusStore retains a BOUNDED
    number of stages (spark.ui.retainedStages), so in a long shared
    session cumulative totals can DECREASE when old stages are
    evicted between two snapshots (observed in the r7 sign-off after
    ~1000 test stages). Diffing stage-key SETS instead of totals
    charges a query exactly its own new stages regardless of what the
    store forgot. The audits (tools/shuffle_audit.py --session-delta)
    run in dedicated short sessions where totals are safe; use this
    form when the session is long-lived."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    # full 5-arg signature (statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus) — py4j can't fill Scala defaults
    seq = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out: dict[tuple[int, int], tuple[int, int, int]] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        out[(s.stageId(), s.attemptId())] = (
            s.shuffleWriteBytes(),
            s.shuffleWriteRecords(),
            s.diskBytesSpilled() + s.memoryBytesSpilled(),
        )
    return out
