"""Physical-plan inspection helpers.

The reference pins plan shapes with golden files
(dbms/src/Flash/tests/gtest_planner_interpreter.out,
gtest_pipeline_interpreter.out — SURVEY.md §5). Our analogue: assertions
over Catalyst's formatted explain output — pushdown reached the scan,
column pruning took effect, the intended join strategy was chosen, shuffle
counts are bounded. These are the properties that decide 100 TB viability,
so they're tested, not hoped for.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def count_operator(df: DataFrame, name: str) -> int:
    """Occurrences of a physical operator (e.g. 'BroadcastHashJoin',
    'SortMergeJoin', 'Exchange', 'HashAggregate') in the plan tree."""
    plan = formatted_plan(df)
    return len(re.findall(rf"\b{re.escape(name)}\b", plan.split("\n\n")[0]))


def exchange_count(df: DataFrame) -> int:
    """Number of DISTINCT shuffle exchanges (excludes broadcast
    exchanges).

    `\\bExchange\\b` alone already cannot match inside `BroadcastExchange`
    (preceded by a word char) or `ReusedExchange` (no word boundary), so
    count it once — subtracting broadcast matches on top of that
    double-counts them and can go negative.

    Counted by node id, not by line: a cached subtree (InMemoryRelation)
    is re-printed under every InMemoryTableScan that references it with
    the SAME node ids, so line-counting would charge the one-time cache
    build exchange once per use — and make the count depend on whether
    an earlier query in the session already materialized the cache. A
    node id appears without parentheses only in non-formatted modes,
    where ids are absent entirely; count raw occurrences then."""
    plan = formatted_plan(df).split("\n\n")[0]
    ids = re.findall(r"(?<!Broadcast)\bExchange\b(?: \((\d+)\))?", plan)
    if any(i for i in ids):
        return len({i for i in ids if i}) + sum(1 for i in ids if not i)
    return len(ids)


def has_filter_pushdown(df: DataFrame) -> bool:
    return any(f.strip() for f in pushed_filters(df))


def execution_profile(df: DataFrame) -> list[dict]:
    """Per-operator runtime metrics after executing ``df`` — the engine's
    ExecutionSummary surface (reference dbms/src/Flash/Statistics/:
    ExecutionSummaryHelper.cpp collects per-executor rows/bytes/time and
    ships them back to TiDB for EXPLAIN ANALYZE). Spark records the same
    numbers as SQLMetrics on every physical node; this walks the executed
    plan (inside AQE's final plan) and surfaces them as
    [{node, metrics: {name: value}}, ...] in pre-order.

    Triggers execution via collect() — metrics exist only after THIS
    query execution ran (count() would execute a different, rewritten
    plan and leave these nodes' metrics empty)."""
    df.collect()
    jplan = df._jdf.queryExecution().executedPlan()
    # unwrap AdaptiveSparkPlanExec to its final physical plan
    if jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jplan = jplan.executedPlan()

    out: list[dict] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName().removesuffix("Exec")
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            metrics[kv._1()] = metric.value()
        out.append({"node": name, "metrics": metrics})
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))
        # follow reused/inner plans of query-stage wrappers (AQE)
        simple = node.getClass().getSimpleName()
        if simple in ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                      "TableCacheQueryStageExec", "ResultQueryStageExec"):
            walk(node.plan())

    walk(jplan)
    return out
