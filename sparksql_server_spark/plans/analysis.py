"""Scan-source fingerprinting of analyzed plans.

The reference walks each job's RDD DAG to its leaf RDDs and keys
sharing on the leaf's input-source string
(``SRV/detector/rules/ScanSharing.scala:58-74`` — ``getInput`` takes
``rdd.toString.split(" "){0}`` of each leaf). Our equivalent walks the
*analyzed logical plan* of a DataFrame and fingerprints its leaf
relations — file-source leaves by their root file paths, view/table
leaves by catalog name.

This is plan-level Python inspection above Catalyst, exactly where the
reference sat above the DAG scheduler (SURVEY.md §4.1): cross-query
concerns don't belong inside the per-query optimizer.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def scan_fingerprints(df: DataFrame) -> frozenset[str]:
    """Return the set of input-source identifiers feeding ``df``.

    Uses ``df.inputFiles()`` (public API; resolves file-source leaves
    after view expansion). Fingerprints are scheme-normalized data-file
    paths: two queries over the same table list the same files, so
    their sets overlap regardless of whether the table is a single
    parquet file or a directory of part-files; part-files of a
    directory table additionally collapse to the table root so the
    fingerprint matches the catalog's source path.
    """
    roots: set[str] = set()
    for f in df.inputFiles():
        path = f
        if path.startswith("file:"):  # file:///x -> /x
            path = "/" + path.removeprefix("file:").lstrip("/")
        base = path.rsplit("/", 1)[-1]
        if base.startswith("part-"):  # directory table -> table root
            path = path.rsplit("/", 1)[0]
        roots.add(path)
    return frozenset(roots)


def shares_scan(a: frozenset[str], b: frozenset[str]) -> bool:
    """True when two fingerprint sets overlap (reference:
    ``ScanSharing.check``, ScanSharing.scala:84-92)."""
    return not a.isdisjoint(b)


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
    scan in a plan description, paths normalized to the
    ``scan_fingerprints`` form.

    A multi-path Location prints comma-separated and every printed path
    is a source. Honest cap: Spark 4.1 elides a multi-root index to its
    FIRST root plus "... N entries" regardless of
    maxMetadataStringLength, so extra roots of a read.parquet(p1, p2)
    scan are unrecoverable here — the width/format maps are a
    cost-model heuristic keyed by what the plan shows, while DETECTION
    correctness rests on ``scan_fingerprints`` (df.inputFiles), which
    sees every root."""
    out: list[tuple[str, int, str]] = []
    for m in _SCAN_BLOCK.finditer(plan_text):
        fmt, location, schema = m.group(1).lower(), m.group(2), m.group(3)
        width = _top_level_fields(schema.rstrip().rsplit(">", 1)[0])
        for p in location.split(","):
            p = p.strip()
            if not p or p.startswith("..."):
                continue
            if p.startswith("file:"):
                p = "/" + p.removeprefix("file:").lstrip("/")
            out.append((p, width, fmt))
    return out


def scan_nodes(df: DataFrame) -> list[tuple[str, int, str]]:
    """All file-scan nodes of ``df``'s formatted physical plan, as
    (source root, pruned-ReadSchema width, file format) tuples.
    Planning only, no execution."""
    jvm = df.sparkSession._jvm
    return parse_scans(
        df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
