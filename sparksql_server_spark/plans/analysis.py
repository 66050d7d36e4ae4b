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

from typing import Any, NamedTuple

from pyspark.sql import DataFrame

from sparksql_server_spark.plans.catalyst import kind, pylist


def source_path(path: str) -> str:
    """``path`` in fingerprint form: ``file:`` URIs become bare paths."""
    if path.startswith("file:"):
        return "/" + path.removeprefix("file:").lstrip("/")
    return path


class Scan(NamedTuple):
    """One root of a file scan, with what Spark's planning already knows
    of it: the top-level columns the scan reads (``cols``, the pruned
    ReadSchema), the relation's full ``width``, its file ``format`` and
    the ``bytes`` of the files Spark listed for it. A ``cached`` scan
    sits behind an in-memory relation and reads memory."""

    root: str
    cols: int
    width: int
    format: str
    bytes: int
    cached: bool = False


def scan_nodes(df: DataFrame) -> list[Scan]:
    """Every file scan of ``df``'s executed plan, one per root path:
    the leaves of an adaptive plan's input plan and of its subquery
    plans, and of the plan behind each in-memory scan. Planning only, no
    execution. The bytes come from the scan's own file index, one call
    for every filesystem scheme Spark can scan: a cluster URI (hdfs://,
    s3a://, …) is priced like a local path, never sized 0, which would
    decline every merge and cache over it. A relation over several
    roots (``read.parquet(a, b)``) prices each root at the relation's
    total, because a merge or a cache shares the whole scan."""
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
                    index = relation.location()
                    facts = (
                        leaf.requiredSchema().size(),
                        relation.schema().size(),
                        relation.toString(),
                        int(index.sizeInBytes()),
                        cached,
                    )
                    for root in pylist(index.rootPaths()):
                        out.append(Scan(source_path(root.toString()), *facts))

    visit(df._jdf.queryExecution().executedPlan(), False)
    return out


def scan_fingerprints(scans: list[Scan]) -> frozenset[str]:
    """The input sources of a plan: the roots of its :func:`scan_nodes`
    that read files."""
    return frozenset(s.root for s in scans if not s.cached)
