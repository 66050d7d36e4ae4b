"""Reading and rebuilding Catalyst plans from Python, over py4j.

The merge planner (server/mrshare.py) and the result cache
(server/results.py) both work on the analyzed logical plan that
``session.sql()`` already produced, and let Catalyst decide equivalence:
``canonicalized`` erases expression ids and alias names and puts
commutative operands, comparisons and IN lists in one order, so
``sameResult`` unifies conjunct order, ``a < b`` vs ``b > a`` and IN-list
permutations. :func:`normalize` adds five more erasures before the
comparison: three of Catalyst's own optimizer rules (CTE inlining, the
replacement of runtime-replaceable expressions such as BETWEEN, and the
collapse of adjacent windows over one window spec), a fixed item order
in each window (:func:`order_windows`) and a fixed operand order for
commutative joins (:func:`order_joins`).
"""

from __future__ import annotations

import functools
import json
from typing import Any, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


@functools.lru_cache(maxsize=None)
def jvm(name: str) -> Any:
    """The JVM class, static member or object at the fully qualified
    ``name``. Each dotted component costs a gateway round trip, so a
    name is resolved once per process."""
    node = SparkContext._jvm
    for part in name.split("."):
        node = getattr(node, part)
    return node


def seq(items) -> Any:
    """A Scala ``Seq`` of the given JVM objects."""
    return jvm("org.apache.spark.api.python.PythonUtils.toSeq")(list(items))


def pylist(scala_seq: Any) -> list:
    """The elements of a Scala ``Seq``, by index: iterating a Java
    collection over py4j ends in a converted exception that costs tens
    of milliseconds."""
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def kind(node: Any) -> str:
    """Simple class name of a plan node or expression."""
    return node.getClass().getSimpleName()


def statement(plan: Any) -> tuple[Any, str]:
    """The statement node of a parsed plan and its simple class name,
    looking through CTE nodes (``WITH s AS (...) INSERT INTO ...`` is
    an INSERT) and through a constant ``IDENTIFIER(...)`` clause
    (:func:`built`). A clause naming a variable or parameter stays a
    ``PlanWithUnresolvedIdentifier``: only analysis binds it."""
    node, name = plan, kind(plan)
    while name in ("UnresolvedWith", "WithCTE", "PlanWithUnresolvedIdentifier"):
        if name == "PlanWithUnresolvedIdentifier":
            inner = built(node)
            if inner is None:
                break
            node = inner
        else:
            node = node.children().head()
        name = kind(node)
    return node, name


def built(node: Any) -> Optional[Any]:
    """The plan a parsed ``IDENTIFIER(...)`` clause
    (``PlanWithUnresolvedIdentifier``) stands for, named as the
    analyzer will name it, or None when the clause's argument is not a
    constant string or names nothing the statement accepts."""
    expr = node.identifierExpr()
    if not expr.foldable():
        return None
    try:
        parts = jvm(
            "org.apache.spark.sql.catalyst.analysis.IdentifierResolution"
            ".evalIdentifierExpr"
        )(expr)
        return node.planBuilder().apply(parts, node.children())
    except Exception:  # Spark's own error surfaces when sql() runs it
        return None


@functools.lru_cache(maxsize=None)
def pattern(name: str) -> Any:
    return jvm(f"org.apache.spark.sql.catalyst.trees.TreePattern.{name}")()


def analyzed(df: DataFrame) -> Any:
    return df._jdf.queryExecution().analyzed()


def to_df(session: SparkSession, plan: Any) -> DataFrame:
    """A DataFrame over a logical plan (analyzed and checked here)."""
    jdf = jvm("org.apache.spark.sql.classic.Dataset.ofRows")(
        session._jsparkSession, plan
    )
    return DataFrame(jdf, session)


# join types whose operands commute; RIGHT mirrors to LEFT
_SWAPPABLE = ("Inner", "Cross", "FullOuter")
# nodes that keep a plan-dependent subset of their input's rows
_ROW_SUBSET = ("GlobalLimit", "LocalLimit", "Offset", "Tail", "Sample")
# the nodes a query may carry above its own relation: LIMIT, ORDER BY,
# the select list and HAVING
PRESENTATION = ("GlobalLimit", "LocalLimit", "Sort", "Project", "Filter")


def order_joins(plan: Any) -> Any:
    """``plan`` with every commutative join's operands in a fixed order
    (by ``semanticHash``) and every RIGHT join mirrored to a LEFT one,
    so ``a JOIN b`` and ``b JOIN a`` canonicalize alike. Parents
    reference join output by expression id, not by position, so the
    swap keeps the plan's meaning; the root is never swapped because its
    column order is the result's. Joins under a LIMIT (or OFFSET,
    TABLESAMPLE) inside the query keep their order: which rows such a
    node keeps depends on the plan below it. The query's own top LIMIT
    does not count — any n rows of its relation are a valid answer.
    Plans without a join come back untouched after one call."""
    join = pattern("JOIN")

    def walk(node: Any, top: bool, root: bool) -> tuple[Any, bool]:
        if not node.containsPattern(join):
            return node, False
        node_kind = kind(node)
        if node_kind in _ROW_SUBSET and not top:
            return node, False
        kids, changed = [], False
        for child in pylist(node.children()):
            new, ch = walk(child, top and node_kind in PRESENTATION, False)
            kids.append(new)
            changed |= ch
        if not root and node_kind == "Join":
            how = node.joinType().toString()
            if how == "RightOuter":
                left_outer = jvm("org.apache.spark.sql.catalyst.plans.LeftOuter$.MODULE$")
                return node.copy(
                    kids[1], kids[0], left_outer, node.condition(), node.hint()
                ), True
            if how in _SWAPPABLE and kids[0].semanticHash() > kids[1].semanticHash():
                kids.reverse()
                changed = True
        return (node.withNewChildren(seq(kids)) if changed else node), changed

    return walk(plan, True, True)[0]


def normalize(plan: Any) -> Any:
    """An analyzed plan with the spellings Catalyst's canonical form
    keeps apart erased: a CTE and the derived table it names, BETWEEN
    and its two comparisons, the operand order of commutative joins, and
    the split of one window spec into stacked windows and the item order
    that split leaves in the collapsed window. (The analyzer
    groups window items by spec with name-sensitive equality, so
    ``OVER (ORDER BY a)`` next to ``OVER (ORDER BY A)`` becomes two
    windows; ``CollapseWindow`` compares specs semantically.)"""
    rules = "org.apache.spark.sql.catalyst.optimizer."
    plan = _inline_cte().apply(plan)
    plan = jvm(rules + "ReplaceExpressions.apply")(plan)
    plan = jvm(rules + "RewriteWithExpression.apply")(plan)
    plan = order_windows(jvm(rules + "CollapseWindow.apply")(plan))
    return order_joins(plan)


def order_windows(plan: Any) -> Any:
    """``plan`` with each window's items in expression-id order — the
    select-list order — and the projections above it collapsed.
    ``CollapseWindow`` appends one window's items to the other's, so the
    collapsed window lists the items of one spec in an order that
    depends on how the analyzer split them, and the analyzer's Project
    over the window lists the window's output in that order too. Plans
    without a window come back untouched."""
    window = pattern("WINDOW")
    if not plan.containsPattern(window):
        return plan

    def walk(node: Any) -> Any:
        if not node.containsPattern(window):
            return node
        node = node.withNewChildren(seq(walk(c) for c in pylist(node.children())))
        if kind(node) != "Window":
            return node
        items = sorted(pylist(node.windowExpressions()), key=lambda e: e.exprId().id())
        return node.copy(
            seq(items), node.partitionSpec(), node.orderSpec(), node.child(), node.hint()
        )

    rules = "org.apache.spark.sql.catalyst.optimizer."
    return jvm(rules + "CollapseProject.apply")(walk(plan))


@functools.lru_cache(maxsize=None)
def _inline_cte() -> Any:
    return jvm("org.apache.spark.sql.catalyst.optimizer.InlineCTE")(False, False)


def peel_limit(plan: Any) -> tuple[Any, Optional[int]]:
    """Split a top ``LIMIT n`` (literal n) off a plan: (rest, n), or
    (plan, None) when there is none."""
    if kind(plan) != "GlobalLimit":
        return plan, None
    expr, local = plan.limitExpr(), plan.child()
    if kind(expr) != "Literal" or kind(local) != "LocalLimit":
        return plan, None
    return local.child(), int(expr.value())


def output_names(plan: Any) -> tuple[str, ...]:
    """Result column names; ``canonicalized`` erases them, clients see
    them. One gateway call: the schema travels as JSON."""
    return tuple(f["name"] for f in json.loads(plan.schema().json())["fields"])


def deterministic(plan: Any) -> bool:
    """Whether re-running an analyzed plan returns the same rows: it has
    no nondeterministic expression (rand, uuid, reflect, …) and no
    ``CURRENT_LIKE`` one (current time, date, time zone, user,
    database), which the optimizer fixes once per run. Both checks
    reach into subqueries: a subquery expression is deterministic only
    when its plan is, and it carries its plan's tree-pattern bits."""
    return bool(plan.deterministic()) and not plan.containsPattern(
        pattern("CURRENT_LIKE")
    )
