"""Generative gate for MRShare merges and plan-keyed result caching.

Two properties, both checked on Spark at sf0.001 (lineitem and friends)
and on two tiny NULL-bearing views, ``t1``/``t2``:

- merged == direct: a Hypothesis-drawn batch of aggregations over one
  relation merges into ONE plan (server/mrshare.py), and every member's
  demuxed rows equal its standalone run;
- equal key => equal result: respellings Catalyst proves equivalent
  (conjunct and disjunct order, mirrored comparisons, IN-list order,
  BETWEEN vs its range, CTE vs derived table) share a result-cache key
  (server/results.py) and compute the same rows, and two independently
  drawn statements whose keys collide compute the same rows.

Example counts are bounded so the whole file stays a few minutes of
tier-1 time: each example analyzes and runs real Spark queries.
"""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.plans.catalyst import analyzed
from sparksql_server_spark.server.model import QueryJob
from sparksql_server_spark.server.mrshare import (
    AggShape,
    build_merge,
    plan_merges,
    read_plan,
    reread,
)
from sparksql_server_spark.server.results import ResultCache
from tests.conftest import SF_DIR, analyzed_plan

EXAMPLES = 25

KEYS = ["l_returnflag", "l_linestatus", "l_linenumber"]
PREDS = [
    None,
    "l_discount > 0.02",
    "l_quantity >= 25",
    "l_tax < 0.05 AND l_discount > 0.01",
    "l_quantity < -1",  # matches nothing: exercises presence counters
    "l_returnflag = 'A' OR l_linenumber = 1",
]
AGGS = [
    "count(*)",
    "sum(l_quantity)",
    "min(l_shipdate)",
    "max(l_extendedprice)",
    "avg(l_discount)",
    "count(DISTINCT l_suppkey)",
    "sum(l_extendedprice * (1 - l_discount))",
    "CAST(sum(l_tax) AS DOUBLE) / count(*)",
]


# post-aggregation predicates: HAVING is re-applied per member at demux
HAVINGS = [
    None,
    "count(*) > 2",
    "sum(l_quantity) > 100",
    "max(l_extendedprice) >= 1000 AND count(*) > 1",
    "count(*) < 0",  # filters every group (and the global mandatory row)
]


@st.composite
def agg_query(draw, keys):
    n_aggs = draw(st.integers(1, 3))
    aggs = draw(
        st.lists(st.sampled_from(AGGS), min_size=n_aggs, max_size=n_aggs, unique=True)
    )
    pred = draw(st.sampled_from(PREDS))
    sel_aggs = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
    sel = ", ".join(keys + [sel_aggs]) if keys else sel_aggs
    where = f" WHERE {pred}" if pred else ""
    group = f" GROUP BY {', '.join(keys)}" if keys else ""  # [] = global agg
    having = draw(st.sampled_from(HAVINGS))
    having_clause = f" HAVING {having}" if having else ""
    # ORDER BY over ALL keys = total order on grouped rows, which makes
    # LIMIT deterministic (a partial order would compare row SETS that
    # legitimately differ between merged and direct under ties)
    order_clause = ""
    limit_clause = ""
    if keys and draw(st.booleans()):
        dirs = [draw(st.sampled_from(["", " DESC"])) for _ in keys]
        order_clause = " ORDER BY " + ", ".join(k + d for k, d in zip(keys, dirs))
        limit = draw(st.sampled_from([None, 2, 5]))
        if limit is not None:
            limit_clause = f" LIMIT {limit}"
    elif not keys and draw(st.booleans()):
        limit_clause = " LIMIT 1"  # global agg: at most one row anyway
    return (
        f"SELECT {sel} FROM lineitem{where}{group}"
        f"{having_clause}{order_clause}{limit_clause}"
    )


@st.composite
def merge_batch(draw):
    keys = draw(
        st.lists(st.sampled_from(KEYS), min_size=0, max_size=2, unique=True)
    )
    n = draw(st.integers(2, 4))
    return [draw(agg_query(keys)) for _ in range(n)]


@pytest.fixture(scope="module")
def tables(spark):
    """The sf0.001 views plus two tiny join tables with NULLs in every
    column — the regime where a rewrite that is only sound under
    2-valued logic would diverge."""
    register_tables(spark, SF_DIR)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW t1 AS SELECT * FROM VALUES"
        " (0, 1), (1, NULL), (2, 2), (NULL, 0), (1, 1) AS v(a, b)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW t2 AS SELECT * FROM VALUES"
        " (0, NULL), (1, 2), (NULL, NULL), (2, 1), (1, 0) AS v(a, b)"
    )
    yield spark
    spark.catalog.dropTempView("t1")
    spark.catalog.dropTempView("t2")


def _norm(row):
    return tuple(float(f"{v:.12g}") if isinstance(v, float) else v for v in row)


def _rows(df):
    """Sorted rows; floats to 12 significant digits (double aggregation
    is summation-order-dependent in the last ulps)."""
    return sorted((_norm(row) for row in df.collect()), key=repr)


def _same_rows(got, want) -> bool:
    """``got`` and ``want`` collect the same rows, floats within 1e-12
    relative of each other: double aggregation is summation-order-
    dependent in the last ulps. Rounding both sides to 12 digits, as
    :func:`_rows` does, splits a pair that straddles a rounding boundary
    (110608522.7475 vs 110608522.74750008), so the merge property
    compares unrounded values."""

    def ordered(df):
        return sorted((tuple(row) for row in df.collect()), key=lambda r: repr(_norm(r)))

    def close(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-12)
        return a == b

    got, want = ordered(got), ordered(want)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(close, g, w)) for g, w in zip(got, want)
    )


def _merged_equals_direct(spark, sqls):
    """All of ``sqls`` merge into ONE plan, and each member's demuxed
    rows equal its standalone run."""
    jobs = [
        QueryJob(job_id=i, sql=q, plan=analyzed(spark.sql(q)))
        for i, q in enumerate(sqls)
    ]
    for j in jobs:
        assert isinstance(read_plan(j.plan), AggShape), j.sql
    plans = plan_merges(jobs, max_distinct_aggs=10, cost_split=False)
    assert len(plans) == 1 and len(plans[0].jobs) == len(jobs), sqls
    _, demux = build_merge(spark, reread(plans[0], spark))
    for job, rows in zip(plans[0].jobs, demux):
        direct = spark.sql(job.sql)
        assert _same_rows(rows, direct), (
            f"divergence for {job.sql!r}: {rows.collect()} vs {direct.collect()}"
        )


def _key(spark, sql):
    return ResultCache.key(None, analyzed_plan(spark, sql))


def _join_sql(cond):
    return "SELECT t1.a, t1.b, t2.a, t2.b FROM t1 JOIN t2 ON " + cond


def _same_key_and_rows(spark, q1, q2):
    k1, k2 = _key(spark, q1), _key(spark, q2)
    assert k1 is not None and k1 == k2, f"{q1!r} vs {q2!r}"
    assert _rows(spark.sql(q1)) == _rows(spark.sql(q2)), f"{q1!r} vs {q2!r}"


def _key_equal_implies_rows_equal(spark, q1, q2):
    """Vacuous for most draws by design: collisions are exactly what the
    key claims equivalent."""
    k1, k2 = _key(spark, q1), _key(spark, q2)
    assert k1 is not None and k2 is not None
    if k1 == k2:
        assert _rows(spark.sql(q1)) == _rows(spark.sql(q2)), (
            f"key-equal but result-different: {q1!r} vs {q2!r}"
        )



@settings(max_examples=EXAMPLES, deadline=None)
@given(batch=merge_batch())
def test_merged_demux_equals_direct_on_duckdb(tables, batch):
    """Named for the engine the direct runs used before the merge moved
    onto Catalyst plans; both sides now run on Spark."""
    _merged_equals_direct(tables, batch)


JOIN_POOLS = [
    (  # inner star: operand order, INNER keyword, aliases, ON spelling
        [
            "lineitem JOIN orders ON l_orderkey = o_orderkey",
            "orders JOIN lineitem ON o_orderkey = l_orderkey",
            "orders o INNER JOIN lineitem l ON l.l_orderkey = o.o_orderkey",
        ],
        ["o_orderpriority", "o_orderstatus", "l_returnflag"],
        ["count(*)", "sum(l_quantity)", "max(o_totalprice)", "avg(l_discount)",
         "count(DISTINCT l_suppkey)"],
        [None, "l_discount > 0.02", "o_totalprice > 100000", "l_quantity < -1"],
    ),
    (  # LEFT chain with real null extension, and its RIGHT mirror
        [
            "customer LEFT JOIN orders ON c_custkey = o_custkey",
            "orders RIGHT JOIN customer ON o_custkey = c_custkey",
            "customer c LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey",
        ],
        ["c_mktsegment", "o_orderpriority"],
        ["count(*)", "count(o_orderkey)", "sum(o_totalprice)", "max(c_acctbal)"],
        [None, "c_acctbal > 0", "o_totalprice > 100000"],
    ),
    (  # FULL join, either operand order
        [
            "customer FULL JOIN orders ON c_custkey = o_custkey AND o_totalprice > 150000",
            "orders FULL JOIN customer ON o_totalprice > 150000 AND o_custkey = c_custkey",
        ],
        ["c_mktsegment", "o_orderstatus"],
        ["count(*)", "count(o_orderkey)", "sum(o_totalprice)"],
        [None, "c_acctbal > 0"],
    ),
]


@st.composite
def join_batch(draw):
    variants, key_pool, agg_pool, pred_pool = draw(st.sampled_from(JOIN_POOLS))
    keys = draw(
        st.lists(st.sampled_from(key_pool), min_size=0,
                 max_size=min(2, len(key_pool)), unique=True)
    )
    n = draw(st.integers(2, 4))
    out = []
    for _ in range(n):
        frm = draw(st.sampled_from(variants))
        n_aggs = draw(st.integers(1, 2))
        aggs = draw(st.lists(st.sampled_from(agg_pool), min_size=n_aggs,
                             max_size=n_aggs, unique=True))
        pred = draw(st.sampled_from(pred_pool))
        sel_aggs = ", ".join(f"{a} AS a{i}" for i, a in enumerate(aggs))
        sel = ", ".join(keys + [sel_aggs]) if keys else sel_aggs
        where = f" WHERE {pred}" if pred else ""
        group = f" GROUP BY {', '.join(keys)}" if keys else ""
        out.append(f"SELECT {sel} FROM {frm}{where}{group}")
    return out


@settings(max_examples=EXAMPLES, deadline=None)
@given(batch=join_batch())
def test_join_chain_merged_demux_equals_direct_on_duckdb(tables, batch):
    _merged_equals_direct(tables, batch)


def test_natural_join_merged_demux_equals_direct_on_duckdb(tables):
    """NATURAL members and their USING respellings merge into one plan
    whose demux equals the standalone runs (swapped NATURAL operands are
    a different relation — drop list)."""
    spark = tables
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_a AS SELECT l_orderkey AS k,"
        " l_quantity AS qa, l_discount AS da FROM lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_b AS SELECT o_orderkey AS k,"
        " o_totalprice AS pb, o_orderpriority AS pri FROM orders"
    )
    try:
        _merged_equals_direct(
            spark,
            [
                "SELECT pri, sum(qa) AS s FROM nat_a NATURAL JOIN nat_b"
                " WHERE da > 0.02 GROUP BY pri",
                "SELECT pri, count(*) AS n FROM nat_a JOIN nat_b USING (k)"
                " GROUP BY pri",
                "SELECT pri, min(qa) AS mn FROM nat_a JOIN nat_b USING (k)"
                " WHERE pb > 1000 GROUP BY pri",
            ],
        )
    finally:
        spark.catalog.dropTempView("nat_a")
        spark.catalog.dropTempView("nat_b")


# ---------------------------------------------------------------------------
# equal key => equal result over random ON conditions. Each condition is
# rendered twice — plainly, and re-spelled by rewrites Catalyst's
# canonical form erases (conjunct/disjunct order, operand swap of
# symmetric operators, inequality mirroring, != <-> <>) — and both
# directions are asserted on the NULL-bearing t1/t2.

_COLS = ["t1.a", "t1.b", "t2.a", "t2.b"]
_CONSTS = ["0", "1", "2", "NULL"]
_OPS = ["=", "<", ">", "<=", ">=", "<>", "!="]


@st.composite
def _atom(draw):
    # a column compared with itself is degenerate: Catalyst orders
    # comparison operands by hash, and equal operands cannot be ordered
    lhs = draw(st.sampled_from(_COLS))
    rhs = draw(st.sampled_from([c for c in _COLS + _CONSTS if c != lhs]))
    op = draw(st.sampled_from(_OPS))
    return (lhs, op, rhs)


@st.composite
def _cond_tree(draw):
    """[conjunct, ...] where a conjunct is an atom or a pure OR-group
    (list of atoms)."""
    n = draw(st.integers(1, 3))
    out = []
    for _ in range(n):
        if draw(st.booleans()):
            out.append(draw(_atom()))
        else:
            k = draw(st.integers(2, 3))
            out.append([draw(_atom()) for _ in range(k)])
    return out


_MIRROR = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _render_atom(a, respell, draw):
    lhs, op, rhs = a
    if not respell:
        return f"{lhs} {op} {rhs}"
    if op == "!=" and draw(st.booleans()):
        op = "<>"
    elif op == "<>" and draw(st.booleans()):
        op = "!="
    if op in ("=", "<>", "!=") and draw(st.booleans()):
        lhs, rhs = rhs, lhs
    elif op in _MIRROR and draw(st.booleans()):
        op, lhs, rhs = _MIRROR[op], rhs, lhs
    return f"{lhs} {op} {rhs}"


@st.composite
def _render(draw, tree, respell):
    parts = []
    for conj in tree:
        if isinstance(conj, tuple):
            parts.append(_render_atom(conj, respell, draw))
        else:
            atoms = list(conj)
            if respell:
                atoms = draw(st.permutations(atoms))
            body = " OR ".join(_render_atom(a, respell, draw) for a in atoms)
            parts.append(f"({body})")
    if respell:
        parts = list(draw(st.permutations(parts)))
    return " AND ".join(parts)


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_condition_respellings_share_signature_and_relation(tables, data):
    tree = data.draw(_cond_tree())
    c1 = data.draw(_render(tree, False))
    c2 = data.draw(_render(tree, True))
    _same_key_and_rows(tables, _join_sql(c1), _join_sql(c2))


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_sig_equal_random_conditions_compute_equal_relations(tables, data):
    c1 = data.draw(_render(data.draw(_cond_tree()), True))
    c2 = data.draw(_render(data.draw(_cond_tree()), True))
    _key_equal_implies_rows_equal(tables, _join_sql(c1), _join_sql(c2))


# nested AND/OR trees under SQL precedence: children permute at every
# node, same-operator nesting flattens or re-parenthesizes

@st.composite
def _bool_tree_node(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        return draw(_atom())
    op = draw(st.sampled_from(["AND", "OR"]))
    k = draw(st.integers(2, 3))
    return (op, [draw(_bool_tree_node(depth + 1)) for _ in range(k)])


def _render_btree(draw, node, respell, parent_op=None):
    if not (isinstance(node, tuple) and node[0] in ("AND", "OR")):
        return _render_atom(node, respell, draw)
    op, kids = node
    kids = list(kids)
    if respell:
        kids = list(draw(st.permutations(kids)))
    body = f" {op} ".join(_render_btree(draw, k, respell, op) for k in kids)
    # parens are REQUIRED for an OR under an AND (precedence would
    # rebind otherwise); everywhere else they are optional no-ops —
    # draw them sometimes to exercise unwrap/flatten
    must = parent_op == "AND" and op == "OR"
    if must or draw(st.booleans()):
        return f"({body})"
    return body


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_nested_tree_respellings_share_signature_and_relation(tables, data):
    tree = data.draw(_bool_tree_node())
    c1 = _render_btree(data.draw, tree, False)
    c2 = _render_btree(data.draw, tree, True)
    _same_key_and_rows(tables, _join_sql(c1), _join_sql(c2))


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_sig_equal_random_nested_trees_compute_equal_relations(tables, data):
    c1 = _render_btree(data.draw, data.draw(_bool_tree_node()), True)
    c2 = _render_btree(data.draw, data.draw(_bool_tree_node()), True)
    _key_equal_implies_rows_equal(tables, _join_sql(c1), _join_sql(c2))


def test_mixed_precedence_known_pairs(tables):
    """The round-10 wrong-merge pair keys apart while its parenthesized
    disambiguation keys together."""
    spark = tables
    a = _join_sql("t1.a = t2.a OR t1.b = t2.b AND t1.a = 0")
    b = _join_sql("t1.b = t2.b AND t1.a = t2.a OR t1.a = 0")
    assert _key(spark, a) != _key(spark, b)
    assert _rows(spark.sql(a)) != _rows(spark.sql(b))
    _same_key_and_rows(spark, a, _join_sql("(t1.b = t2.b AND t1.a = 0) OR t1.a = t2.a"))
    _same_key_and_rows(
        spark,
        _join_sql("(t1.a = t2.a AND t1.b = t2.b)"),
        _join_sql("t1.b = t2.b AND t1.a = t2.a"),
    )


# widened leaves: IN lists (item order), NOT IN, BETWEEN (vs its spelled
# range), NOT BETWEEN, IS [NOT] NULL, IS [NOT] DISTINCT FROM. An IN list
# and its OR chain are NOT respellings here: Catalyst keeps In and Or
# apart (drop list in CHANGES.md).

@st.composite
def _pred_atom(draw):
    kind = draw(
        st.sampled_from(["cmp", "cmp", "in", "between", "isnull", "isdist"])
    )
    if kind == "cmp":
        return ("cmp", draw(_atom()))
    if kind == "isdist":
        return (
            "isdist",
            draw(st.sampled_from(_COLS)),
            draw(st.sampled_from(_COLS + _CONSTS)),
            draw(st.booleans()),
        )
    if kind == "in":
        lhs = draw(st.sampled_from(_COLS))
        items = tuple(
            draw(
                st.lists(
                    st.sampled_from(_COLS + _CONSTS),
                    min_size=1,
                    max_size=3,
                )
            )
        )
        return ("in", lhs, items, draw(st.booleans()))
    if kind == "between":
        lhs = draw(st.sampled_from(_COLS))
        bounds = [c for c in _COLS + _CONSTS if c != lhs]
        lo = draw(st.sampled_from(bounds))
        hi = draw(st.sampled_from(bounds))
        return ("between", lhs, lo, hi, draw(st.booleans()))
    return ("isnull", draw(st.sampled_from(_COLS)), draw(st.booleans()))


def _render_pred(draw, a, respell):
    if a[0] == "cmp":
        return _render_atom(a[1], respell, draw)
    if a[0] == "isnull":
        _, col, neg = a
        mid = "IS NOT" if neg else "IS"
        if respell and draw(st.booleans()):
            mid = mid.lower().replace(" ", "  ")
        return f"{col} {mid} NULL"
    if a[0] == "isdist":
        _, lhs, rhs, neg = a
        if respell and draw(st.booleans()):
            lhs, rhs = rhs, lhs  # symmetric either way
        mid = "IS NOT DISTINCT FROM" if neg else "IS DISTINCT FROM"
        return f"{lhs} {mid} {rhs}"
    if a[0] == "between":
        _, lhs, lo, hi, neg = a
        if neg or not respell or draw(st.booleans()):
            return f"{lhs} {'NOT ' if neg else ''}BETWEEN {lo} AND {hi}"
        # spell the range out (the equivalence under test)
        parts = list(draw(st.permutations([(lhs, ">=", lo), (lhs, "<=", hi)])))
        body = " AND ".join(_render_atom(p, True, draw) for p in parts)
        return f"({body})"
    _, lhs, items, neg = a
    items = list(items)
    if respell:
        items = list(draw(st.permutations(items)))
    return f"{lhs} {'NOT ' if neg else ''}IN ({', '.join(items)})"


@st.composite
def _pred_tree_node(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        return draw(_pred_atom())
    op = draw(st.sampled_from(["AND", "OR"]))
    k = draw(st.integers(2, 3))
    return (op, [draw(_pred_tree_node(depth + 1)) for _ in range(k)])


def _render_ptree(draw, node, respell, parent_op=None):
    if not (isinstance(node, tuple) and node[0] in ("AND", "OR")):
        return _render_pred(draw, node, respell)
    op, kids = node
    kids = list(kids)
    if respell:
        kids = list(draw(st.permutations(kids)))
    body = f" {op} ".join(_render_ptree(draw, k, respell, op) for k in kids)
    must = parent_op == "AND" and op == "OR"
    if must or draw(st.booleans()):
        return f"({body})"
    return body


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_widened_leaf_respellings_share_signature_and_relation(tables, data):
    tree = data.draw(_pred_tree_node())
    c1 = _render_ptree(data.draw, tree, False)
    c2 = _render_ptree(data.draw, tree, True)
    _same_key_and_rows(tables, _join_sql(c1), _join_sql(c2))


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_sig_equal_widened_leaf_trees_compute_equal_relations(tables, data):
    c1 = _render_ptree(data.draw, data.draw(_pred_tree_node()), True)
    c2 = _render_ptree(data.draw, data.draw(_pred_tree_node()), True)
    _key_equal_implies_rows_equal(tables, _join_sql(c1), _join_sql(c2))


# projection/selection keys: values AND column names must agree for
# equal keys. Random selects over t1 are drawn as a structure and
# rendered twice — plainly and re-spelled (keyword case, qualified vs
# bare columns, expression case/whitespace, WHERE respelling, trailing
# ASC, CTE vs derived table).

_SEL_ITEMS = [
    ("col", "a"),
    ("col", "b"),
    ("expr", "a + b", "s"),
    ("expr", "a * 2", "d2"),
    ("expr", "coalesce(b, 0)", "cb"),
    # window item over a TOTAL order (t1's (a, b) pairs are unique), so
    # both renderings are deterministic
    ("expr", "row_number() over (order by a, b)", "rn"),
]


def _no_self_compare_on_t1(tree) -> bool:
    """Selects read t1 only (t2 columns are renamed to t1's): keep the
    atoms whose sides stay distinct after the rename."""
    atoms = [c for conj in tree for c in ([conj] if isinstance(conj, tuple) else conj)]
    t1 = lambda side: side.replace("t2.", "t1.")  # noqa: E731
    return all(t1(lhs) != t1(rhs) for lhs, _op, rhs in atoms)


@st.composite
def _sel_struct(draw):
    items = draw(
        st.lists(st.sampled_from(_SEL_ITEMS), min_size=1, max_size=3)
    )
    where = draw(st.none() | _cond_tree().filter(_no_self_compare_on_t1))
    order = draw(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]), st.sampled_from(["", " DESC"])
            ),
            max_size=2,
        )
    )
    # wrap=True renders the FROM as a CTE or derived-table spelling of
    # the same inner select — key-equal once Catalyst inlines the CTE
    wrap = draw(st.booleans())
    return items, where, order, wrap


def _sel_render(struct, respell, draw):
    items, where, order, wrap = struct
    rel = "w" if wrap else "t1"

    def qual(col):
        # rel.a and a resolve to one attribute on the single-relation
        # shape (a qualified select item would be observable-equal too)
        return f"{rel}.{col}" if respell and draw(st.booleans()) else col

    rendered = []
    for it in items:
        if it[0] == "col":
            rendered.append(it[1])  # verbatim: name case is observable
        else:
            expr = it[1]
            if respell:
                if draw(st.booleans()):
                    # tighten whitespace around punctuation only — a
                    # blanket strip would fuse keywords ("order by" ->
                    # "orderby") in window items
                    expr = re.sub(r"\s*([(),*+])\s*", r"\1", expr)
                if draw(st.booleans()):
                    expr = expr.upper()  # identifiers are case-insensitive
            kw_as = "AS" if not respell or draw(st.booleans()) else "as"
            rendered.append(f"{expr} {kw_as} {it[2]}")
    if wrap:
        inner = "SELECT a, b FROM t1"
        if draw(st.booleans()):
            prefix, from_clause = f"WITH w AS ({inner}) ", "w"
        else:
            prefix, from_clause = "", f"({inner}) w"
    else:
        prefix, from_clause = "", "t1"
    sql = prefix + "SELECT " + ", ".join(rendered) + " FROM " + from_clause
    if where is not None:
        # reuse the condition renderer; leaves are t1/t2-qualified in
        # _atom, so restrict to t1 by textual rewrite of t2 -> t1
        cond = draw(_render(where, respell)).replace("t2.", "t1.")
        if wrap:
            cond = cond.replace(
                "t1.",
                "w." if (respell and draw(st.booleans())) else "",
            )
        elif not respell:
            cond = cond.replace("t1.", "")
        sql += " WHERE " + cond
    if order:
        parts = []
        for col, direction in order:
            suffix = direction
            if respell and direction == "" and draw(st.booleans()):
                suffix = " ASC"  # the grammar default — key-invisible
            parts.append(qual(col) + suffix)
        sql += " ORDER BY " + ", ".join(parts)
    return sql


def _sel_result(spark, sql):
    df = spark.sql(sql)
    return list(df.columns), _rows(df)


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_select_respellings_share_key_and_result(tables, data):
    struct = data.draw(_sel_struct())
    q1 = _sel_render(struct, False, data.draw)
    q2 = _sel_render(struct, True, data.draw)
    k1, k2 = _key(tables, q1), _key(tables, q2)
    assert k1 is not None and k1 == k2, f"{q1!r} vs {q2!r}"
    assert _sel_result(tables, q1) == _sel_result(tables, q2), f"{q1!r} vs {q2!r}"


@settings(max_examples=EXAMPLES, deadline=None)
@given(data=st.data())
def test_key_equal_random_selects_compute_equal_results(tables, data):
    """Two independently drawn selects whose keys collide must compute
    the same result — values AND column names."""
    q1 = _sel_render(data.draw(_sel_struct()), True, data.draw)
    q2 = _sel_render(data.draw(_sel_struct()), True, data.draw)
    k1, k2 = _key(tables, q1), _key(tables, q2)
    assert k1 is not None and k2 is not None
    if k1 == k2:
        assert _sel_result(tables, q1) == _sel_result(tables, q2), (
            f"key-equal but result-different: {q1!r} vs {q2!r}"
        )
