"""MRShare-style multi-aggregation merge — the work-sharing rewrite the
reference designed but could not make profitable.

Reference parity: ``MRShareOptimizer``
(SRV/optimizer/optimizers/MRShareOptimizer.scala:32-150) implements the
MRShare paper's greedy job-grouping (Nykiel et al., VLDB 2010): jobs
reading the same input are merged into ONE job whose map output carries
a per-job tag. It grouped jobs by the input their DAGs read and never
compared query text. The thesis measured the merged job SLOWER than the
caching rewrite on Spark 1.3.1 (report.pdf ch.5 Table 5.1) and the
strategy was dropped from the shipped pipeline.

This module re-expresses the idea on Catalyst plans. It reads each
member's analyzed plan (the one ``session.sql()`` already built) as

    post( Aggregate(keys, aggs, [Filter(where)] R) )

where ``post`` is any chain of the HAVING ``Filter``, the select-list
``Project``, ``Sort`` and ``Limit`` above the aggregate. Members of one
session whose ``R`` are the same result (``sameResult``) and whose key
sets are equal merge into ONE aggregate over the first member's ``R``:

- every member aggregate carries Catalyst's ``FILTER (WHERE where)``,
  and a presence count (``count(1) FILTER (WHERE where)``) marks which
  groups a grouped member matched — one scan and one shuffle replace N;
- when every member has a ``where``, their disjunction filters ``R``
  below the aggregate, so scans prune and comma-join conditions still
  reach the join;
- each member is demuxed by re-applying its own ``post`` chain over the
  persisted merged relation (behind its presence filter). No SQL text
  is generated or parsed.

Differing key sets do not merge: the GROUPING SETS form (an Expand
replicating every input row per set) measured wall-clock parity with
concurrent unmerged runs and was retired.

:func:`read_plan` declines with a short reason (``subquery``,
``nondeterministic``, ``window``, ``no aggregate``, …) and
:func:`plan_merges` records it on the job as ``QueryJob.merge_declined``
(``relation differs`` for a member with no partner). A declined merge
costs nothing: the member runs unchanged.

100 TB notes: the merged aggregate is still partial+final (map-side
combine), the scan is read ONCE instead of N times, and the demux runs
against the persisted merged aggregate — a relation the size of the
result set, not the input. The scheduler prices the shared source
against its byte floor before any plan is read, and unpersists the
merged relation when the batch completes, so it cannot leak into the
CacheManager's budget.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from sparksql_server_spark.plans.catalyst import (
    PRESENTATION,
    analyzed,
    jvm,
    kind,
    normalize,
    pattern,
    pylist,
    seq,
    to_df,
)
from sparksql_server_spark.server.model import QueryJob

_E = "org.apache.spark.sql.catalyst.expressions."
_L = "org.apache.spark.sql.catalyst.plans.logical."


@dataclass
class AggShape:
    """One member read as ``post(Aggregate(keys, aggs, [Filter(where)] rel))``."""

    post: list  # plan nodes above the Aggregate, top first
    agg: Any
    where: Any  # the Filter condition right under the Aggregate, or None
    rel: Any
    n_distinct_aggs: int

    @property
    def grouped(self) -> bool:
        return not self.agg.groupingExpressions().isEmpty()


def _agg_calls(expr: Any, agg_pattern: Any) -> list:
    """The AggregateExpression nodes inside ``expr``."""
    if kind(expr) == "AggregateExpression":
        return [expr]
    if not expr.containsPattern(agg_pattern):
        return []
    return [a for c in pylist(expr.children()) for a in _agg_calls(c, agg_pattern)]


def read_plan(plan: Any) -> Union[AggShape, str]:
    """The mergeable shape of an analyzed plan, or why it declines."""
    if plan.containsPattern(pattern("PLAN_EXPRESSION")):
        return "subquery"
    if not plan.deterministic():
        # a FILTER-folded rewrite evaluates a member's predicate once
        # per aggregate: independent rand() draws would split group
        # membership from values
        return "nondeterministic"
    post, node = [], normalize(plan)
    while kind(node) in PRESENTATION:  # re-applied per member at demux
        post.append(node)
        node = node.child()
    node_kind = kind(node)
    if node_kind != "Aggregate":
        if node_kind == "Window":
            return "window"
        if not node.containsPattern(pattern("AGGREGATE")):
            return "no aggregate"
        return f"{node_kind.lower()} over the aggregate"
    rel, where = node.child(), None
    if kind(rel) == "Filter":
        where, rel = rel.condition(), rel.child()
    agg_pattern = pattern("AGGREGATE_EXPRESSION")
    calls = [
        a
        for e in pylist(node.aggregateExpressions())
        for a in _agg_calls(e, agg_pattern)
    ]
    return AggShape(post, node, where, rel, sum(1 for a in calls if a.isDistinct()))


def _attr_map(base_rel: Any, rel: Any) -> dict[int, Any]:
    """exprId of each ``rel`` output column -> the ``base_rel`` column at
    the same ordinal (empty when both read one view's attributes)."""
    a, b = base_rel.output(), rel.output()
    if a.equals(b):
        return {}
    return {
        y.exprId().id(): x
        for x, y in zip(pylist(a), pylist(b))
        if x.exprId().id() != y.exprId().id()
    }


def _remap(expr: Any, mapping: dict[int, Any]) -> Any:
    """``expr`` reading ``mapping``'s base columns instead of its own."""
    if not mapping:
        return expr
    if kind(expr) == "AttributeReference":
        return mapping.get(expr.exprId().id(), expr)
    kids = pylist(expr.children())
    if not kids:
        return expr
    return expr.withNewChildren(seq(_remap(c, mapping) for c in kids))


def _same_keys(a: AggShape, b: AggShape) -> bool:
    mapping = _attr_map(a.rel, b.rel)
    ka = pylist(a.agg.groupingExpressions())
    kb = [_remap(k, mapping) for k in pylist(b.agg.groupingExpressions())]

    def covered(xs: list, ys: list) -> bool:
        return all(any(x.semanticEquals(y) for y in ys) for x in xs)

    return covered(ka, kb) and covered(kb, ka)


def _mergeable(a: tuple[QueryJob, AggShape], b: tuple[QueryJob, AggShape]) -> bool:
    return (
        a[0].session is b[0].session
        and a[1].grouped == b[1].grouped
        and bool(a[1].rel.sameResult(b[1].rel))
        and _same_keys(a[1], b[1])
    )


@dataclass
class MergePlan:
    """One merged job standing in for N member jobs."""

    jobs: list[QueryJob]
    session: Any = None  # the member jobs' shared session (None = root)
    df: Any = None  # persisted merged DataFrame, set at materialize time


def _with_filter(expr: Any, where: Any, agg_pattern: Any) -> Any:
    """``expr`` with every aggregate restricted to rows where ``where``."""
    if kind(expr) == "AggregateExpression":
        old = expr.filter()
        cond = where if old.isEmpty() else jvm(_E + "And")(where, old.get())
        return expr.copy(
            expr.aggregateFunction(),
            expr.mode(),
            expr.isDistinct(),
            jvm("scala.Option.apply")(cond),
            expr.resultId(),
        )
    if not expr.containsPattern(agg_pattern):
        return expr
    return expr.withNewChildren(
        seq(_with_filter(c, where, agg_pattern) for c in pylist(expr.children()))
    )


def build_merge(
    session: SparkSession, shapes: list[AggShape]
) -> tuple[DataFrame, list[DataFrame]]:
    """The merged aggregate over the first member's relation (not yet
    persisted) and, per member, a DataFrame of that member's rows read
    from it."""
    alias, literal = jvm(_E + "Alias"), jvm(_E + "Literal")
    int_type = jvm("org.apache.spark.sql.types.DataTypes.IntegerType")
    none = jvm("scala.Option.empty")()
    agg_pattern = pattern("AGGREGATE_EXPRESSION")
    base = shapes[0]
    outputs: list = []
    seen: set[int] = set()
    wheres: list = []
    presence: list = []
    for i, s in enumerate(shapes):
        mapping = _attr_map(base.rel, s.rel)
        where = None if s.where is None else _remap(s.where, mapping)
        wheres.append(where)
        for ne in pylist(s.agg.aggregateExpressions()):
            eid = ne.exprId()
            if eid.id() in seen:
                continue  # a key column two members read through one view
            seen.add(eid.id())
            e = _remap(ne, mapping)
            if where is not None:
                e = _with_filter(e, where, agg_pattern)
            if kind(e) == "AttributeReference" and e.exprId().id() != eid.id():
                e = alias(e, ne.name(), eid, seq([]), none, seq([]))
            outputs.append(e)
        count = None
        if where is not None and s.grouped:
            # a grouped member's result holds a group only if a row
            # matched its predicate; a global aggregate always returns
            # its one row, so it needs no presence count
            call = jvm(_E + "aggregate.Count")(seq([literal(1, int_type)]))
            count_alias = alias(
                call.toAggregateExpression(False, jvm("scala.Option.apply")(where)),
                f"__m{i}",
                jvm(_E + "NamedExpression.newExprId")(),
                seq([]),
                none,
                seq([]),
            )
            outputs.append(count_alias)
            count = count_alias.toAttribute()
        presence.append(count)
    child = base.rel
    if all(w is not None for w in wheres):
        child = jvm(_L + "Filter")(functools.reduce(jvm(_E + "Or"), wheres), child)
    merged = to_df(
        session,
        jvm(_L + "Aggregate")(base.agg.groupingExpressions(), seq(outputs), child, none),
    )
    mplan = analyzed(merged)
    demux = []
    for s, count in zip(shapes, presence):
        node = mplan
        if count is not None:
            matched = jvm(_E + "GreaterThan")(count, literal(0, int_type))
            node = jvm(_L + "Filter")(matched, node)
        node = jvm(_L + "Project")(s.agg.output(), node)
        for above in reversed(s.post):
            node = above.withNewChildren(seq([node]))
        demux.append(to_df(session, node))
    return merged, demux


def reread(mp: MergePlan, session: SparkSession) -> Optional[list[AggShape]]:
    """Members re-analyzed now, or None when they no longer merge. The
    merged plan is built from these, not from the admission-time plans,
    so DDL landing between admission and the shared pass is seen by
    every member alike; a statement that stopped resolving raises."""
    shapes = []
    for job in mp.jobs:
        shape = read_plan(analyzed(session.sql(job.sql)))
        if isinstance(shape, str):
            return None
        shapes.append(shape)
    first = (mp.jobs[0], shapes[0])
    if not all(_mergeable(first, (job, s)) for job, s in zip(mp.jobs[1:], shapes[1:])):
        return None
    return shapes


# modeled cost of reading+decoding the shared source once, in units of
# one Expand pass over the same rows. Any value > 1 yields the same
# decisions under the once-per-group Expand charge (see _split_members:
# the maximum Expand saving from splitting a feasible group is 2, an
# extra group always costs a scan); 2.0 is kept explicit so the model
# stays a cost model rather than a boolean. The reference hardcoded its
# analogous constants outright (fileSize=9800, B, m —
# MRShareOptimizer.scala:36-40).
_SCAN_WEIGHT = 2.0


def _split_members(
    members: list[tuple[QueryJob, AggShape]],
    max_distinct_aggs: int,
    max_members: int,
) -> list[list[tuple[QueryJob, AggShape]]]:
    """The reference's ``SplitMRShareJobs`` dynamic program
    (MRShareOptimizer.scala:48-116), re-derived for Spark's cost
    asymmetry. MRShare sorted jobs by sorting passes p_i and chose
    consecutive groups maximizing GAIN = scan savings minus the extra
    shuffle the slowest member imposes on the rest (MRShareCM.GS). In
    Spark there are no multi-pass sorts; the asymmetric cost is the
    DISTINCT-aggregate Expand: a merged plan whose members fold D >= 2
    distinct aggregates (each restricted by its member's FILTER, so same-column
    distincts across members still form separate distinct groups)
    replicates EVERY input row x(D+1) through Expand — taxing every
    co-merged light member with D extra passes of input volume.

    Model, in input-relation-volume units (all members share one
    signature, hence one source and one row count):
        cost(group) = scan_weight + expand_factor
        expand_factor = 1 if D <= 1 else D + 1
    The Expand factor charges ONCE per group, not per member — this is
    MEASURED, not assumed: on the admitted regime (sources past the
    64 MiB floor, e.g. the bench's 8x CSV fact), a 12-member bag with
    two single-distinct carriers ran 1.86 s merged flat vs 2.22 s as
    [lights]+[distincts] vs 3.49 s unmerged. Per-member CASE-folded
    aggregate columns (the retired SQL-text merge's form, which the
    measurement used) are whole-stage-codegen-fused and essentially
    free next to a source scan, so an earlier per-member multiplier
    (which made the DP split that bag) charged merging for work the
    engine doesn't do. Under this calibration flat always wins within
    feasibility, and the DP's remaining — and real — job is
    CONSTRAINT-DRIVEN packing: a group is infeasible as a merge when
    D > max_distinct_aggs (Expand blowup cap, as before) or |group| >
    max_members (bounds aggregate columns per row and demux round-trips per
    plan — previously unbounded within a bag). Where the pre-DP
    planner declined an over-cap bag WHOLESALE (all members unmerged),
    the DP packs maximal feasible groups: members sort by distinct
    count (the reference sorted by p_i), so consecutive splits
    suffice."""
    ms = sorted(members, key=lambda jp: (jp[1].n_distinct_aggs, jp[0].job_id))
    n = len(ms)
    d = [p.n_distinct_aggs for _, p in ms]
    inf = float("inf")

    def group_cost(i: int, j: int) -> float:  # members i..j as one plan
        k = j - i + 1
        big_d = sum(d[i : j + 1])
        if k > 1 and (big_d > max_distinct_aggs or k > max_members):
            return inf
        factor = 1.0 if big_d <= 1 else big_d + 1.0
        return _SCAN_WEIGHT + factor

    dp = [0.0] + [inf] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        for i in range(j):
            c = dp[i] + group_cost(i, j - 1)
            if c < dp[j] - 1e-12:
                dp[j] = c
                back[j] = i
    groups: list[list[tuple[QueryJob, AggShape]]] = []
    j = n
    while j > 0:
        i = back[j]
        groups.append(ms[i:j])
        j = i
    return list(reversed(groups))


def _place(job: QueryJob, groups: dict) -> None:
    """Put ``job`` in the group it merges with, from the plan analyze()
    resolved at batch time, or record why it declines."""
    shape = "not analyzed" if job.plan is None else read_plan(job.plan)
    if isinstance(shape, str):
        job.merge_declined = shape
        return
    member = (job, shape)
    bucket = groups.setdefault(
        (id(job.session), shape.grouped, shape.rel.semanticHash()), []
    )
    for group in bucket:
        if _mergeable(group[0], member):
            group.append(member)
            return
    bucket.append([member])


def plan_merges(
    jobs: list[QueryJob],
    *,
    max_distinct_aggs: int = 2,
    max_members_per_merge: int = 32,
    cost_split: bool = True,
) -> list[MergePlan]:
    """Group a batch's mergeable jobs into MergePlans.

    Members merge when they share a session, an input relation
    (``sameResult``) and a key set; the ``_split_members`` DP (reference
    ``SplitMRShareJobs`` analog) decides WHICH consecutive cost-sorted
    members of such a group merge together. ``max_distinct_aggs`` bounds
    DISTINCT aggregates per merged plan — each adds its own Expand in
    Spark. A job that does not merge gets a ``merge_declined`` reason."""
    groups: dict[tuple, list[list[tuple[QueryJob, AggShape]]]] = {}
    for job in jobs:
        try:
            _place(job, groups)
        except Exception as exc:  # a plan the reader cannot walk never merges
            job.merge_declined = f"unreadable plan ({type(exc).__name__})"

    plans: list[MergePlan] = []
    for members in sorted(
        (g for bucket in groups.values() for g in bucket),
        key=lambda g: g[0][0].job_id,
    ):
        # cost_split=False bypasses the DP (flat one-plan-per-group
        # merge) — a semantics-testing hook: the demux equivalence must
        # hold for EVERY admissible grouping, not only the cost-optimal one
        split = (
            _split_members(members, max_distinct_aggs, max_members_per_merge)
            if cost_split
            else [members]
        )
        for group in split:
            if len(group) >= 2:
                plans.append(
                    MergePlan(jobs=[j for j, _ in group], session=group[0][0].session)
                )
            else:
                group[0][0].merge_declined = "relation differs"
    return plans
