"""Provenance *query* operators (SURVEY.md §2.2) — the analytical surface
the reference serves over REST (SAMbA/WebApplication/.../ExecutionAPICtrl.kt,
TaskAPICtrl.kt, DataElementAPICtrl.kt:42-320). The table queries are plain
Spark SQL over the provenance tables, so they distribute. Transitive lineage
is one min-hop BFS in driver memory over the run's element_deps, read with
pyarrow (``lineage_walk``), as the reference walks it in the web server's
memory (DataElementAPICtrl.kt:140-179); ``prov.webapi`` serves it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samba_spark.operators.guards import tiny_df
from samba_spark.operators.wrapper import DROP_SENTINEL_PREFIX


def list_executions(store) -> DataFrame:
    """reference ExecutionAPICtrl.kt:20-26."""
    return store.table("executions")


def task_dag(store, run_id: str) -> DataFrame:
    """Task vertices + edges of one run (reference TaskAPICtrl.kt:22-35)."""
    tasks = store.table("tasks").where(F.col("run_id") == run_id)
    deps = store.table("task_deps").where(F.col("run_id") == run_id)
    return tasks.alias("t").join(
        deps.alias("d"), F.col("t.task_id") == F.col("d.task_id"), "left"
    ).select(
        "t.task_id",
        "t.transformation_type",
        "t.description",
        F.col("d.dep_task_id").alias("upstream_task_id"),
    )


def element_graph(store, run_id: str, include_dropped: bool = False) -> DataFrame:
    """Full element lineage graph (reference DataElementAPICtrl.kt:42-103).
    Drop-sentinel elements are hidden by default, matching the web UI's
    substring filter (DataElementAPICtrl.kt:80)."""
    deps = store.table("element_deps").where(F.col("run_id") == run_id)
    if not include_dropped:
        deps = deps.where(~F.col("element_id").startswith(DROP_SENTINEL_PREFIX))
    return deps.select(
        F.col("dep_element_id").alias("source"),
        F.col("element_id").alias("target"),
        F.col("task_id").alias("task"),
    )


def elements_of_task(store, run_id: str, task_id: str) -> DataFrame:
    """Elements produced by a task (reference DataElementAPICtrl.kt:106-179)."""
    return (
        store.table("elements")
        .where((F.col("run_id") == run_id) & (F.col("task_id") == task_id))
    )


def elements_consumed_by_task(store, run_id: str, task_id: str) -> DataFrame:
    deps = store.table("element_deps").where(
        (F.col("run_id") == run_id) & (F.col("task_id") == task_id)
    )
    elements = store.table("elements").where(F.col("run_id") == run_id)
    return (
        deps.select(F.col("dep_element_id").alias("element_id"))
        .distinct()
        .join(elements, "element_id", "inner")
    )


def lineage_walk(
    store, run_id: str, element_ids, direction: str = "up", max_hops: int = 50
) -> dict[str, int]:
    """Min-hop BFS from ``element_ids`` over the run's element_deps, in
    driver memory: element_id → hop, roots at hop 0, nothing beyond
    ``max_hops``. direction: 'up' = ancestors, 'down' = descendants.

    The two id columns are read with ``store.read_arrow``: no Spark job
    and no flush, so the walk sees the flushed store only."""
    src, dst = ("element_id", "dep_element_id") if direction == "up" else (
        "dep_element_id", "element_id"
    )
    edges = store.read_arrow("element_deps", [src, dst], run_id=run_id)
    adjacent: dict[str, list[str]] = {}
    for s, d in zip(edges[src].to_pylist(), edges[dst].to_pylist()):
        adjacent.setdefault(s, []).append(d)
    hops = dict.fromkeys(element_ids, 0)
    frontier = list(hops)
    for hop in range(1, max_hops + 1):
        nxt = []
        for e in frontier:
            for n in adjacent.get(e, ()):
                if n not in hops:
                    hops[n] = hop
                    nxt.append(n)
        if not nxt:
            break
        frontier = nxt
    return hops


def transitive_lineage(
    store, run_id: str, element_ids: list[str], direction: str = "up", max_hops: int = 50
) -> DataFrame:
    """Transitive closure from a set of elements as an (element_id, hop)
    DataFrame: ``lineage_walk``'s result, after a flush so the caller's
    own captures are included. direction: 'up' = ancestors, 'down' =
    descendants."""
    store.flush()
    hops = lineage_walk(store, run_id, element_ids, direction, max_hops)
    return tiny_df(store.spark, list(hops.items()), "element_id string, hop int")
