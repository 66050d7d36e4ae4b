"""Scan-source fingerprinting of physical plans.

The reference walks each job's RDD DAG to its leaf RDDs and keys
sharing on the leaf's input-source string
(``SRV/detector/rules/ScanSharing.scala:58-74`` — ``getInput`` takes
``rdd.toString.split(" "){0}`` of each leaf). Ours walks a DataFrame's
*physical plan* to its file scans over py4j (:func:`scan_nodes`),
reading Spark's plan objects, never their printed text.

This is plan-level Python inspection above Catalyst, exactly where the
reference sat above the DAG scheduler (SURVEY.md §4.1): cross-query
concerns don't belong inside the per-query optimizer.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from sparksql_server_spark.plans.catalyst import kind, pylist


def source_path(path: str) -> str:
    """``path`` in fingerprint form: ``file:`` URIs become bare paths."""
    if path.startswith("file:"):
        return "/" + path.removeprefix("file:").lstrip("/")
    return path


class Scan(tuple):
    """``(root, width, format)`` of one file scan: a :func:`source_path`,
    the number of top-level columns read, the file format. A ``cached``
    scan sits behind an in-memory relation and reads memory."""

    cached = False


def scan_nodes(df: DataFrame) -> list[Scan]:
    """Every file scan of ``df``'s executed plan, one per root path
    (``read.parquet(a, b)`` gives two): the leaves of an adaptive
    plan's input plan and of its subquery plans, and of the plan behind
    each in-memory scan. Planning only, no execution."""
    out: list[Scan] = []

    def visit(plan: Any, cached: bool) -> None:
        if kind(plan) == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
        for tree in [plan, *pylist(plan.subqueriesAll())]:
            for leaf in pylist(tree.collectLeaves()):
                name = kind(leaf)
                if name == "AdaptiveSparkPlanExec":  # a subquery's plan
                    visit(leaf, cached)
                elif name == "InMemoryTableScanExec":
                    visit(leaf.relation().cachedPlan(), True)
                elif name == "FileSourceScanExec":
                    relation = leaf.relation()
                    width, fmt = leaf.requiredSchema().size(), relation.toString()
                    for root in pylist(relation.location().rootPaths()):
                        out.append(Scan((source_path(root.toString()), width, fmt)))
                        out[-1].cached = cached

    visit(df._jdf.queryExecution().executedPlan(), False)
    return out


def scan_fingerprints(scans: list[Scan]) -> frozenset[str]:
    """The input sources of a plan: the roots of its :func:`scan_nodes`
    that read files."""
    return frozenset(s[0] for s in scans if not s.cached)
