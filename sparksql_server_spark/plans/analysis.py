"""Scan-source fingerprinting of physical plans.

The reference walks each job's RDD DAG to its leaf RDDs and keys
sharing on the leaf's input-source string
(``SRV/detector/rules/ScanSharing.scala:58-74`` — ``getInput`` takes
``rdd.toString.split(" "){0}`` of each leaf). Ours walks a DataFrame's
*physical plan* to its file scans over py4j (:func:`scan_nodes`); the
observer, which sees only plan text, parses it (:func:`parse_scans`).

This is plan-level Python inspection above Catalyst, exactly where the
reference sat above the DAG scheduler (SURVEY.md §4.1): cross-query
concerns don't belong inside the per-query optimizer.
"""

from __future__ import annotations

import re
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


def _top_level_fields(struct_body: str) -> int:
    """Count top-level fields of a ``struct<...>`` body (commas inside
    nested ``<>`` don't count)."""
    if not struct_body.strip():
        return 0
    depth = 0
    n = 1
    for ch in struct_body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


# one file-scan block of a formatted (or extended) plan description:
#   (1) Scan parquet ...
#   Location: InMemoryFileIndex [file:/x/y, ... 2 entries]
#   ReadSchema: struct<a:int,b:array<int>,c:int>
# The schema capture runs to END OF LINE (ReadSchema prints last on its
# line in both plan styles), so a nested type's '>' never cuts the
# field count short. The explain renderer may still truncate very wide
# schemas ("... N more fields") — then the count is a lower bound and
# read fractions err toward declining, never over-admitting. Both gaps
# are tempered — no line may open another scan node ("(3) Scan csv",
# "+- Scan ExistingRDD", "(4) LocalTableScan") between the format and
# its Location, or between Location and ReadSchema — so a scan node
# that prints no Location (Scan ExistingRDD) fails to match instead of
# pairing with the NEXT file scan's Location (ADVICE r5 #1). Only a
# node header tempers: a pushed literal such as 'Scan x' in the
# PushedFilters line between Location and ReadSchema does not.
_NEXT_SCAN_NODE = r"(?!\n[ \t:|+\-*()\d]*\w*Scan\s)"
_SCAN_BLOCK = re.compile(
    rf"Scan\s+(\w+)\s(?:{_NEXT_SCAN_NODE}.)*?Location:[^\[\n]*\[([^\]]*)\]"
    rf"(?:{_NEXT_SCAN_NODE}.)*?ReadSchema:\s*struct<([^\n]*)",
    re.S,
)


def parse_scans(plan_text: str) -> list[tuple[str, int, str]]:
    """(source root, pruned-ReadSchema width, file format) per file
    scan in a plan description, paths in :func:`source_path` form: the
    observer's :func:`scan_nodes`, for plans it sees only as text.

    A multi-path Location prints comma-separated and every printed path
    is a source. Honest cap of the text: Spark 4.1 elides a multi-root
    index to its FIRST root plus "... N entries" regardless of
    maxMetadataStringLength, so the observer misses the extra roots of
    a read.parquet(p1, p2) scan; :func:`scan_nodes` sees them all."""
    out: list[tuple[str, int, str]] = []
    for m in _SCAN_BLOCK.finditer(plan_text):
        fmt, location, schema = m.group(1).lower(), m.group(2), m.group(3)
        width = _top_level_fields(schema.rstrip().rsplit(">", 1)[0])
        for p in location.split(","):
            p = p.strip()
            if not p or p.startswith("..."):
                continue
            out.append((source_path(p), width, fmt))
    return out
