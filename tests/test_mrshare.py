"""MRShare merge tests (server/mrshare.py ≙ SURVEY §2 B8).

Reference parity: MRShareOptimizer.scala:32-150 merged same-scan jobs
into one tagged job; its own evaluation measured a regression
(report.pdf ch.5 Table 5.1) and it was dropped from the shipped
pipeline. Our declarative rebuild must therefore prove BOTH halves:
(a) merged results are EXACTLY the per-query results (every test here
compares against independent unmerged runs), and (b) the merge only
fires in regimes where it cannot lose (same-signature always; grouping
sets under the Expand bound).
"""

from __future__ import annotations

import pytest

import bench
from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.operators.scratch import persistent_rdd_ids
from sparksql_server_spark.server import (
    BatchExecutor,
    CacheManager,
    JobStatus,
    QueryJob,
    RewriteKind,
)
from sparksql_server_spark.server.mrshare import parse_agg_query, plan_merges
from sparksql_server_spark.server.server import source_view_map
from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# parser: accepted shape


def test_parse_canonical_shape():
    p = parse_agg_query(
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq, "
        "count(*) AS n, count(DISTINCT l_suppkey) AS ns "
        "FROM lineitem WHERE l_discount > 0.02 "
        "GROUP BY l_returnflag, l_linestatus"
    )
    assert p is not None
    assert p.table == "lineitem"
    assert p.where == "l_discount > 0.02"
    assert p.group_canon == ("l_linestatus", "l_returnflag")
    kinds = [it[0] for it in p.items]
    assert kinds == ["key", "key", "agg", "agg", "agg"]
    assert [c[2:] for c in p.items[2][2]] == [("sum", "l_quantity", False)]
    assert [c[2:] for c in p.items[3][2]] == [("count", None, False)]
    assert [c[2:] for c in p.items[4][2]] == [("count", "l_suppkey", True)]
    assert p.n_distinct_aggs == 1


def test_parse_expression_wrapped_aggregates():
    """The TPC-H q1 shape: scalar computation AROUND aggregate calls
    must parse (CAST, arithmetic over two sums) — round-4 fix: these
    previously declined, silently shrinking every merge."""
    p = parse_agg_query(
        "SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q,"
        " sum(l_extendedprice * (1 - l_discount)) / count(*) AS avg_net"
        " FROM lineitem GROUP BY l_returnflag"
    )
    assert p is not None
    aggs = [it for it in p.items if it[0] == "agg"]
    assert len(aggs) == 2
    assert [c[2] for c in aggs[0][2]] == ["sum"]
    assert [c[2] for c in aggs[1][2]] == ["sum", "count"]
    # nested aggregates still decline
    assert (
        parse_agg_query(
            "SELECT l_returnflag, sum(count(l_tax)) AS s FROM lineitem GROUP BY l_returnflag"
        )
        is None
    )


def test_parse_expression_key_and_case_folding():
    a = parse_agg_query(
        "SELECT substr(l_shipmode, 1, 2) AS m, max(l_tax) AS t "
        "FROM lineitem GROUP BY substr(l_shipmode, 1, 2)"
    )
    b = parse_agg_query(
        "SELECT SUBSTR(l_shipmode,1,2) AS m, max(l_tax) AS t "
        "FROM lineitem GROUP BY SUBSTR(l_shipmode,  1,2)"
    )
    assert a is not None and b is not None
    assert a.group_canon == b.group_canon  # whitespace/case-insensitive
    # ...but string literals must stay case-SENSITIVE
    c = parse_agg_query(
        "SELECT l_shipmode AS m, count(*) AS n FROM lineitem "
        "WHERE l_returnflag = 'A' GROUP BY l_shipmode"
    )
    d = parse_agg_query(
        "SELECT l_shipmode AS m, count(*) AS n FROM lineitem "
        "WHERE l_returnflag = 'a' GROUP BY l_shipmode"
    )
    assert c.where != d.where


@pytest.mark.parametrize(
    "sql",
    [
        # non-admissible joins, set ops, sorts, windows — not the
        # mergeable shape (inner chains are since round 6, LEFT chains
        # since round 7, two-table RIGHT + USING since round 8,
        # FULL/SEMI/ANTI/CROSS since round 8b)
        "SELECT c_name, count(*) AS n FROM customer c NATURAL JOIN orders o GROUP BY c_name",  # NATURAL needs schema knowledge
        "SELECT l_orderkey, count(*) AS n FROM lineitem a JOIN lineitem b USING (l_orderkey + 1) GROUP BY l_orderkey",  # USING list must be plain columns
        # (comma-FROM of bare tables ADMITS since round 12 — see
        # test_comma_from_normalizes_to_join_chain; a comma whose
        # operand is not a bare table still declines)
        "SELECT c_name, count(*) AS n FROM customer c, (SELECT 1 AS x) t WHERE c_custkey = x GROUP BY c_name",
        # subquery operands admit since round 9b — but only ALIASED
        # and DETERMINISTIC ones
        "SELECT c_name, count(*) AS n FROM customer c JOIN (SELECT c_custkey FROM orders) ON c_custkey = c_custkey GROUP BY c_name",  # unaliased
        "SELECT c_name, count(*) AS n FROM customer c JOIN (SELECT o_custkey, rand() AS r FROM orders) o2 ON c_custkey = o2.o_custkey GROUP BY c_name",  # nondeterministic
        "SELECT c_name, count(*) AS n FROM customer c CROSS JOIN orders o ON c_custkey = o_custkey GROUP BY c_name",  # CROSS takes no condition
        # presentation clauses outside the provably-rewritable surface
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_tax",  # non-key raw column
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag LIMIT ALL",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag LIMIT 5 + 1",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag HAVING n IN (SELECT 1)",  # subquery
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag HAVING sum(count(*)) > 5",  # nested agg
        "SELECT l_returnflag, count(*) AS `n` FROM lineitem GROUP BY l_returnflag ORDER BY `n`",  # backticks
        "SELECT l_returnflag, count(*) AS __m0_1 FROM lineitem GROUP BY l_returnflag",  # reserved namespace
        # clause sequence violations
        "SELECT l_returnflag, count(*) AS n FROM lineitem ORDER BY n GROUP BY l_returnflag",
        "SELECT DISTINCT l_returnflag FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, sum(sum(l_quantity)) OVER () AS s FROM lineitem GROUP BY l_returnflag",
        # subquery in predicate
        "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders) GROUP BY l_returnflag",
        # ordinal / ALL group by
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY ALL",
        # agg without alias — no stable demux name
        "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag",
        # computed key without alias
        "SELECT substr(l_shipmode,1,2), count(*) AS n FROM lineitem GROUP BY substr(l_shipmode,1,2)",
        # non-key non-agg select item
        "SELECT l_returnflag, l_tax, count(*) AS n FROM lineitem GROUP BY l_returnflag",
        # scalar subquery in a select item (round-12 wrong-merge repro:
        # the embedded max() belongs to the SUBQUERY — classifying it
        # as an outer aggregate merged this N-row projection into a
        # 1-row global aggregation)
        "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region",
        "SELECT (SELECT max(r_regionkey) FROM nation) AS m, count(*) AS n FROM region",
        # subquery as a grouping expression — same conservative bar
        "SELECT (SELECT 1) AS g, count(*) AS n FROM region GROUP BY (SELECT 1)",
        # no GROUP BY and a bare (non-aggregate) column
        "SELECT l_returnflag FROM lineitem",
        # commands
        "CACHE TABLE lineitem",
    ],
)
def test_parse_declines(sql):
    assert parse_agg_query(sql) is None


def test_parse_global_aggregate():
    """No GROUP BY = global aggregation (GROUP BY ()): pure-aggregate
    selects parse with an empty signature — round-4 extension."""
    p = parse_agg_query(
        "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.02"
    )
    assert p is not None and p.group_canon == ()
    assert all(it[0] == "agg" for it in p.items)


def test_keyword_inside_string_literal_is_not_structural():
    p = parse_agg_query(
        "SELECT l_shipmode AS m, count(*) AS n FROM lineitem "
        "WHERE l_comment LIKE '%order by%' GROUP BY l_shipmode"
    )
    assert p is not None and "order by" in p.where


def test_backslash_escaped_quote_does_not_flip_string_state():
    """ADVICE r4 medium: Spark's default lexer treats backslash as a
    C-style escape inside literals, so ``'don\\'t group by'`` is ONE
    literal — the keyword inside it must not be read as structural,
    and the clause slicing after it must stay correct."""
    p = parse_agg_query(
        r"SELECT l_shipmode AS m, count(*) AS n FROM lineitem "
        r"WHERE l_comment LIKE '%don\'t group by%' GROUP BY l_shipmode"
    )
    assert p is not None
    assert p.where == r"l_comment LIKE '%don\'t group by%'"
    assert p.group_canon == ("l_shipmode",)
    # same with a structural keyword after an escaped backslash at the
    # literal's end: '...\\' closes the string, WHERE must slice clean
    p2 = parse_agg_query(
        "SELECT l_shipmode AS m, count(*) AS n FROM lineitem "
        "WHERE l_comment = 'x\\\\' GROUP BY l_shipmode"
    )
    assert p2 is not None and p2.where == "l_comment = 'x\\\\'"


# ---------------------------------------------------------------------------
# executor integration


@pytest.fixture()
def executor(spark):
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        # sf0.001 tables sit under the production 64 MiB merge floor;
        # tests exercise the merge machinery itself (admission has its
        # own gate below)
        mrshare_min_bytes=0,
        # cross-signature GROUPING SETS merging declines by default
        # since round 9 (measured wall-clock coin flip — see
        # scheduler.py); the machinery tests opt in here so the Expand
        # path stays fully exercised for deployments that enable it
        mrshare_max_grouping_sets=8,
    )
    yield ex
    ex.cache.clear()


def _rows_equal(got, exp):
    """Exact equality, except float cells compare to 1e-9 relative —
    double aggregation is summation-order-dependent in ANY Spark plan
    (a repartition alone changes the last ulps), and the merged plan
    legitimately aggregates in a different order."""
    import math

    if len(got) != len(exp):
        return False
    for rg, re_ in zip(got, exp):
        if len(rg) != len(re_):
            return False
        for a, b in zip(rg, re_):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True


def _null_safe(rows):
    # FULL-join members produce real NULL group keys; plain sorted()
    # cannot order None against str
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))


def _run_and_compare(spark, executor, sqls, expect_merged_ids):
    expected = [
        _null_safe(tuple(r) for r in spark.sql(q).collect()) for q in sqls
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    bags = executor.run_batch(jobs)
    merged = {j.job_id for b in bags for mp in b.merges for j in mp.jobs}
    assert merged == set(expect_merged_ids)
    for job, exp in zip(jobs, expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(_null_safe(job.rows), exp), f"job {job.job_id} rows diverge"
    return jobs, bags


SAME_SIG = [
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq, avg(l_extendedprice) AS ap"
    " FROM lineitem WHERE l_discount > 0.02 GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, l_linestatus, count(*) AS n"
    " FROM lineitem WHERE l_linenumber = 1 GROUP BY l_returnflag, l_linestatus",
    # key order flipped + key renamed + DISTINCT agg + no predicate
    "SELECT l_linestatus AS ls, l_returnflag AS rf, count(DISTINCT l_suppkey) AS ns,"
    " max(l_tax) AS mt FROM lineitem GROUP BY l_linestatus, l_returnflag",
    "SELECT l_returnflag, l_linestatus, min(l_shipdate) AS first_ship"
    " FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag, l_linestatus",
]


def test_same_signature_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, SAME_SIG, {0, 1, 2, 3})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.merges[0].grouping_sets == 1
    assert bag.rewrite is RewriteKind.MRSHARE
    for j in jobs:
        assert j.props["rewritten_sql"].lstrip().upper().startswith("SELECT")


def test_expression_wrapped_aggs_merge_matches_independent(spark, executor):
    sqls = [
        "SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q"
        " FROM lineitem WHERE l_discount > 0.03 GROUP BY l_returnflag",
        "SELECT l_returnflag, sum(l_extendedprice * (1 - l_discount)) / count(*) AS avg_net"
        " FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag",
        "SELECT l_returnflag, round(avg(l_tax) * 100, 3) AS tax_pct"
        " FROM lineitem GROUP BY l_returnflag",
    ]
    _run_and_compare(spark, executor, sqls, {0, 1, 2})


def test_predicate_matching_nothing_yields_empty_result(spark, executor):
    sqls = [
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " WHERE l_quantity < -1 GROUP BY l_returnflag",
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " GROUP BY l_returnflag",
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1})
    assert jobs[0].rows == [] and len(jobs[1].rows) > 0


GLOBALS = [
    "SELECT count(*) AS n, max(l_extendedprice) AS mx FROM lineitem WHERE l_discount > 0.03",
    "SELECT sum(l_quantity) AS q FROM lineitem WHERE l_linenumber = 2",
    # matches nothing: must STILL return exactly one row (count=0, NULL sum)
    "SELECT count(*) AS n, sum(l_tax) AS t FROM lineitem WHERE l_quantity < -5",
    "SELECT avg(l_extendedprice) AS a FROM lineitem",
]


def test_global_aggregates_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, GLOBALS, {0, 1, 2, 3})
    (bag,) = [b for b in bags if b.merges]
    assert bag.merges[0].grouping_sets == 1
    # the match-nothing job returned its one row, not zero rows
    assert len(jobs[2].rows) == 1 and jobs[2].rows[0][0] == 0


def test_global_and_grouped_mix_does_not_merge(spark, executor):
    """A GLOBAL aggregate must never join a GROUPING SETS merge: over
    EMPTY merged input (every member predicated, none matching) the
    grouping-sets aggregation yields zero groups, but a true global
    aggregate returns exactly one mandatory row (ADVICE r4 medium).
    The mix now runs unmerged — correctness over sharing."""
    sqls = [
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > 1000",
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, set())


def test_global_aggregate_mandatory_row_on_empty_merged_input(spark, executor):
    """The ADVICE r4 failure shape head-on: all members carry
    never-matching predicates, so a merged input would be EMPTY. The
    global member must still return its one count=0 row."""
    sqls = [
        "SELECT count(*) AS n FROM orders WHERE o_totalprice < -1",
        "SELECT o_orderstatus, count(*) AS n FROM orders"
        " WHERE o_totalprice < -2 GROUP BY o_orderstatus",
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, set())
    assert len(jobs[0].rows) == 1 and jobs[0].rows[0][0] == 0
    assert jobs[1].rows == []


# ---------------------------------------------------------------------------
# round-5 widening: HAVING / ORDER BY / LIMIT / aliased tables
# (demux-safe presentation clauses — reapplied over the merged view)


def test_parse_presentation_clauses():
    p = parse_agg_query(
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.01 GROUP BY l_returnflag"
        " HAVING sum(l_quantity) > 10 ORDER BY q DESC, l_returnflag LIMIT 3"
    )
    assert p is not None
    assert p.having_seg is not None
    assert len(p.order_seg) == 2 and p.limit == 3
    # presentation clauses do NOT change the merge signature
    q = parse_agg_query(
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.01 GROUP BY l_returnflag"
    )
    assert p.signature == q.signature


def test_parse_aliased_table_strips_qualifier():
    """FROM lineitem l / FROM lineitem AS l: qualifiers are stripped so
    differently-aliased members share one signature and re-emit under
    the merged plain FROM."""
    a = parse_agg_query(
        "SELECT l.l_returnflag, sum(l.l_quantity) AS q FROM lineitem l"
        " WHERE l.l_discount > 0.02 GROUP BY l.l_returnflag"
    )
    b = parse_agg_query(
        "SELECT li.l_returnflag, sum(li.l_quantity) AS q FROM lineitem AS li"
        " WHERE li.l_discount > 0.02 GROUP BY li.l_returnflag"
    )
    c = parse_agg_query(
        "SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.02 GROUP BY l_returnflag"
    )
    assert a is not None and b is not None and c is not None
    assert a.signature == b.signature == c.signature
    assert a.where == b.where == c.where == "l_discount > 0.02"


PRESENTATION = [
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq FROM lineitem"
    " WHERE l_discount > 0.02 GROUP BY l_returnflag, l_linestatus"
    " HAVING sum(l_quantity) > 100 ORDER BY sq DESC, l_returnflag, l_linestatus LIMIT 3",
    "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem"
    " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT l_linestatus AS ls, l_returnflag AS rf, avg(l_tax) AS at FROM lineitem"
    " WHERE l_quantity > 10 GROUP BY l_linestatus, l_returnflag HAVING count(*) > 5",
    # ordinal ORDER BY: demux select preserves item order, so ordinals
    # stay valid over the view
    "SELECT l_returnflag, l_linestatus, max(l_extendedprice) AS mx FROM lineitem"
    " GROUP BY l_returnflag, l_linestatus ORDER BY 3 DESC, 1, 2 LIMIT 2",
]


def test_presentation_clauses_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, PRESENTATION, {0, 1, 2, 3})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1
    assert bag.merges[0].grouping_sets == 1  # same signature throughout
    assert executor.stats["mrshare_demux_fallbacks"] == 0
    # LIMIT respected through the demux
    assert len(jobs[0].rows) <= 3 and len(jobs[3].rows) <= 2


def test_aliased_members_merge_with_unaliased(spark, executor):
    sqls = [
        "SELECT l.l_returnflag, sum(l.l_quantity) AS q FROM lineitem l"
        " GROUP BY l.l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1})
    assert executor.stats["mrshare_demux_fallbacks"] == 0


def test_having_filters_global_aggregate_row(spark, executor):
    """HAVING without GROUP BY filters the single global row — and can
    legitimately eliminate it (unlike the presence counter, which must
    never drop a global row)."""
    sqls = [
        "SELECT count(*) AS n FROM lineitem HAVING count(*) > 5",
        "SELECT count(*) AS n FROM lineitem HAVING count(*) < 0",
        "SELECT sum(l_quantity) AS q FROM lineitem",
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    assert len(jobs[0].rows) == 1 and jobs[1].rows == [] and len(jobs[2].rows) == 1


def test_presentation_clauses_with_grouping_sets(spark, executor):
    sqls = [
        "SELECT o_orderstatus, count(*) AS n FROM orders"
        " GROUP BY o_orderstatus HAVING count(*) > 1 ORDER BY n DESC, o_orderstatus LIMIT 2",
        "SELECT o_orderpriority, sum(o_totalprice) AS s FROM orders"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.merges[0].grouping_sets == 2
    assert executor.stats["mrshare_demux_fallbacks"] == 0


def test_order_by_alias_shadowing_group_key_resolves_output_first(spark, executor):
    """Spark resolves ORDER BY against the SELECT OUTPUT first: when an
    aggregate alias shadows a group-key name, the sort is by the
    aggregate. The demux must do the same (code-review r5 finding: the
    old key-first lookup silently inverted the order, and with a LIMIT
    returned entirely different rows)."""
    sqls = [
        "SELECT l_returnflag AS rf, count(*) AS l_returnflag FROM lineitem"
        " GROUP BY l_returnflag ORDER BY l_returnflag DESC LIMIT 2",
        "SELECT l_returnflag AS rf, sum(l_quantity) AS q FROM lineitem"
        " GROUP BY l_returnflag",
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1})
    # ordered comparison too: the demux's ORDER BY must match Spark's
    exp = [tuple(r) for r in spark.sql(sqls[0]).collect()]
    assert jobs[0].rows == exp


def test_having_alias_reference_declines(spark, executor):
    """HAVING's resolution order differs from ORDER BY's (child
    attributes vs output aliases), so bare alias references in HAVING
    keep the statement off the merge path rather than risk a
    divergence."""
    from sparksql_server_spark.server.mrshare import parse_agg_query

    assert (
        parse_agg_query(
            "SELECT l_returnflag, count(*) AS n FROM lineitem"
            " GROUP BY l_returnflag HAVING n > 5"
        )
        is None
    )
    # ...but group-key references in HAVING stay mergeable
    sqls = [
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " GROUP BY l_returnflag HAVING l_returnflag <> 'N'",
        "SELECT l_returnflag, max(l_tax) AS t FROM lineitem GROUP BY l_returnflag",
    ]
    _run_and_compare(spark, executor, sqls, {0, 1})


def test_having_reuses_selected_aggregate_column(spark):
    """HAVING count(*) > 5 with count(*) AS n selected must NOT widen
    the merged aggregate with a duplicate hidden column."""
    jobs = [
        QueryJob(
            job_id=0,
            sql="SELECT l_returnflag, count(*) AS n FROM lineitem"
            " GROUP BY l_returnflag HAVING count(*) > 5",
        ),
        QueryJob(
            job_id=1,
            sql="SELECT l_returnflag, sum(l_tax) AS t FROM lineitem"
            " GROUP BY l_returnflag",
        ),
    ]
    (mp,) = plan_merges(jobs)
    assert "__m0_h" not in mp.merged_sql  # reused __m0_1, no hidden col
    assert "__m0_1 > 5" in mp.demux_sql[0]


GROUPING_SETS = [
    # three signatures over orders, deliberately interleaved widths so
    # the grouping_id bit order (first-appearance across sets) is
    # exercised on a non-trivial permutation
    "SELECT o_orderstatus, count(*) AS n FROM orders"
    " WHERE o_totalprice > 1000 GROUP BY o_orderstatus",
    "SELECT o_orderpriority, o_orderstatus, sum(o_totalprice) AS s FROM orders"
    " GROUP BY o_orderpriority, o_orderstatus",
    "SELECT o_orderpriority, avg(o_totalprice) AS a, count(*) AS n FROM orders"
    " WHERE o_orderstatus = 'F' GROUP BY o_orderpriority",
]


def test_grouping_sets_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, GROUPING_SETS, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert bag.merges[0].grouping_sets == 3


@pytest.fixture()
def lineitem_big(spark, executor):
    """bench.py's MRShare batches at test scale: ``lineitem_big``
    aliased to ``lineitem``. The executor fixture already runs with
    mrshare_min_bytes=0 and the gsets leg's mrshare_max_grouping_sets=8."""
    spark.table("lineitem").createOrReplaceTempView("lineitem_big")
    yield
    spark.catalog.dropTempView("lineitem_big")


def test_bench_mrshare_batch_forms_one_merged_plan(spark, executor, lineitem_big):
    """The batch bench.py's mrshare_* legs time: all 10 members land in
    ONE same-signature merged plan, each equal to its standalone run."""
    _, bags = _run_and_compare(
        spark, executor, bench.mrshare_queries(10), set(range(10))
    )
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.merges[0].grouping_sets == 1


def test_bench_gsets_batch_forms_one_grouping_sets_plan(
    spark, executor, lineitem_big
):
    """The batch bench.py's mrshare_gsets_* legs time: the four grouped
    members merge into ONE GROUPING SETS plan, while the global
    aggregate runs unmerged (its mandatory row)."""
    _, bags = _run_and_compare(spark, executor, bench.gs_queries, {0, 1, 2, 3})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.merges[0].grouping_sets == 4


def test_grouping_sets_bound_declines(spark):
    """5 distinct signatures with max_grouping_sets=4 → Expand factor
    too high, no merge; everything still answers correctly unmerged."""
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        mrshare_max_grouping_sets=4,
        mrshare_min_bytes=0,  # isolate the grouping-sets bound from size admission
    )
    cols = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey", "o_orderkey"]
    sqls = [
        f"SELECT {c} AS k, count(*) AS n FROM orders GROUP BY {c}" for c in cols
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    bags = ex.run_batch(jobs)
    assert all(not b.merges for b in bags)
    for job, q in zip(jobs, sqls):
        assert job.status is JobStatus.DONE
        assert sorted(job.rows) == sorted(tuple(r) for r in spark.sql(q).collect())


def test_multi_distinct_bound_packs_within_cap(spark, executor):
    """Three single-distinct members: D=3 exceeds the Expand cap flat,
    so the DP packs a feasible pair (D=2) and leaves the third —
    pre-DP this bag was declined WHOLESALE (nothing merged)."""
    sqls = [
        f"SELECT l_returnflag, count(DISTINCT {c}) AS d{i} FROM lineitem"
        " GROUP BY l_returnflag"
        for i, c in enumerate(["l_suppkey", "l_partkey", "l_orderkey"])
    ]
    expected = [
        sorted(tuple(r) for r in spark.sql(q).collect()) for q in sqls
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    bags = executor.run_batch(jobs)
    merged = {j.job_id for b in bags for mp in b.merges for j in mp.jobs}
    assert len(merged) == 2, "a feasible D=2 pair merges; the third runs alone"
    for job, exp in zip(jobs, expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(sorted(job.rows), exp)


def test_over_budget_leftover_does_not_block_gsets_merge():
    """Review r7: a single over-budget member landing in the (table,
    session) leftovers (e.g. a DP singleton carrying several DISTINCT
    aggregates) must not cost every OTHER leftover its GROUPING SETS
    merge — the budget packs cheapest-first and the over-budget job
    simply runs unmerged."""
    from sparksql_server_spark.server.mrshare import plan_merges

    sqls = [
        "SELECT o_orderstatus AS k, count(*) AS n FROM orders"
        " GROUP BY o_orderstatus",
        "SELECT o_orderpriority AS k, count(*) AS n FROM orders"
        " GROUP BY o_orderpriority",
        "SELECT o_orderdate AS k, count(DISTINCT o_custkey) AS a,"
        " count(DISTINCT o_orderkey) AS b, count(DISTINCT o_totalprice) AS c"
        " FROM orders GROUP BY o_orderdate",
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs, max_distinct_aggs=2)
    assert len(plans) == 1
    assert {j.job_id for j in plans[0].jobs} == {0, 1}
    assert plans[0].grouping_sets == 2


def test_unmergeable_shapes_run_normal_path(spark, executor):
    sqls = [
        SAME_SIG[0],
        SAME_SIG[1],
        "SELECT l_returnflag, count(*) AS n, sum(sum(l_quantity)) OVER () AS tot"
        " FROM lineitem GROUP BY l_returnflag",  # window function — declined
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1})
    assert "rewritten_sql" not in jobs[2].props


def test_merged_sink_output(tmp_path, spark, executor):
    out = str(tmp_path / "merged_sink.parquet")
    jobs = [
        QueryJob(job_id=0, sql=SAME_SIG[0], props={"output": out}),
        QueryJob(job_id=1, sql=SAME_SIG[1]),
    ]
    bags = executor.run_batch(jobs)
    assert any(b.merges for b in bags)
    assert jobs[0].status is JobStatus.DONE, jobs[0].error
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert _rows_equal(got, sorted(tuple(r) for r in spark.sql(SAME_SIG[0]).collect()))


def test_sessions_do_not_cross_merge(spark, executor):
    other = spark.newSession()
    register_tables(other, SF_DIR)
    jobs = [
        QueryJob(job_id=0, sql=SAME_SIG[0]),
        QueryJob(job_id=1, sql=SAME_SIG[1], session=other),
    ]
    bags = executor.run_batch(jobs)
    assert all(not b.merges for b in bags)
    for job in jobs:
        assert job.status is JobStatus.DONE, job.error


def test_merged_relation_released_after_batch(spark, executor):
    """Hygiene gate: the persisted merged aggregate must not survive
    the batch (it would bypass the CacheManager budget — VERDICT r3
    wrong #1 applies to the server itself too)."""
    before = persistent_rdd_ids(spark)
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    executor.run_batch(jobs)
    assert all(j.status is JobStatus.DONE for j in jobs)
    leaked = persistent_rdd_ids(spark) - before
    assert leaked == set(), f"merge leaked persistent RDDs: {leaked}"
    # and the temp view is gone
    views = {t.name for t in spark.catalog.listTables() if t.tableType == "TEMPORARY"}
    assert not any(v.startswith("mrshare_") for v in views)


def test_small_scans_not_merged_by_default(spark):
    """Production admission: merging tiny scans LOSES (the blocking
    materialize + demux round-trips are a fixed cost — measured ~2x
    slower on a 19 MB parquet batch), so the default byte floor must
    decline sf0.001 tables, leaving the jobs on the normal path."""
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),  # default mrshare_min_bytes
    )
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG[:2])]
    bags = ex.run_batch(jobs)
    assert all(not b.merges for b in bags)
    for job in jobs:
        assert job.status is JobStatus.DONE and "rewritten_sql" not in job.props


def test_disabled_flag_runs_unmerged(spark):
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        enable_mrshare=False,
    )
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG[:2])]
    bags = ex.run_batch(jobs)
    assert all(not b.merges for b in bags)
    for job, q in zip(jobs, SAME_SIG[:2]):
        assert job.status is JobStatus.DONE
        assert sorted(job.rows) == sorted(tuple(r) for r in spark.sql(q).collect())


def test_cross_client_merge_through_tcp_server(spark):
    """The reference's headline story end-to-end: two INDEPENDENT TCP
    clients land in one window, their same-signature aggregations merge
    into one plan, and each gets its own exact result back."""
    import threading

    from sparksql_server_spark.server import WorkSharingServer, client_request

    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=1.0).start()
    srv.executor.mrshare_min_bytes = 0  # sf0.001 sits under the prod floor
    try:
        # the count/min members of the group: exact integer/date
        # results, so the JSON round-trip comparison cannot flake on
        # double ulps
        sqls = [SAME_SIG[1], SAME_SIG[3]]
        results: list = [None, None]

        def client(i: int) -> None:
            results[i] = client_request(srv.address, {"sql": sqls[i]})

        threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
        [t.start() for t in threads]
        [t.join() for t in threads]
        stats = client_request(srv.address, {"server_stats": True})["stats"]
        assert stats["mrshare_merged_jobs"] >= 2, stats
        for i, r in enumerate(results):
            assert r["status"] == "done", r
            exp = sorted(tuple(x) for x in spark.sql(sqls[i]).collect())
            got = sorted(tuple(x) for x in r["rows"])
            # JSON round-trip stringifies dates; compare stringified
            assert [tuple(str(c) for c in row) for row in got] == [
                tuple(str(c) for c in row) for row in exp
            ]
    finally:
        srv.shutdown()
        srv.executor.cache.clear()


def test_merged_plan_scans_table_once(spark, executor):
    """The point of the merge: the merged SQL's physical plan contains
    exactly ONE scan of the shared table, and demux queries scan only
    the in-memory merged view (no file scan at all)."""
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 4
    merged = spark.sql(plans[0].merged_sql)
    physical = merged._jdf.queryExecution().executedPlan().toString()
    assert physical.count("FileScan") + physical.count("Scan parquet") >= 1
    # exactly one leaf scan node feeding everything
    import re as _re

    leaves = _re.findall(r"FileScan|BatchScan", physical)
    assert len(leaves) == 1


# ---------------------------------------------------------------------------
# round-6 widening: join-shaped members (VERDICT r5 ask #2)


STAR_JOIN = [
    "SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sq"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE l_discount > 0.02 GROUP BY o_orderpriority",
    "SELECT o_orderpriority, avg(l_extendedprice) AS ap"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE l_quantity >= 25 GROUP BY o_orderpriority",
]


def test_parse_join_chain_shapes():
    p0 = parse_agg_query(STAR_JOIN[0])
    p1 = parse_agg_query(STAR_JOIN[1])
    assert p0 is not None and p0.table.startswith("join:")
    assert p0.table == p1.table  # identical chain -> shared signature
    # INNER JOIN spells the same signature
    alt = STAR_JOIN[0].replace("JOIN orders", "INNER JOIN orders")
    assert parse_agg_query(alt).table == p0.table
    # a different ON condition is a different signature
    other = STAR_JOIN[0].replace(
        "ON l_orderkey = o_orderkey", "ON l_orderkey = o_orderkey AND l_tax > 0"
    )
    po = parse_agg_query(other)
    assert po is not None and po.table != p0.table


def test_star_join_members_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, STAR_JOIN, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.merges[0].grouping_sets == 1
    assert bag.rewrite is RewriteKind.MRSHARE


def test_aliased_star_join_members_merge_matches_independent(spark, executor):
    sqls = [
        "SELECT o.o_orderpriority AS pri, sum(l.l_quantity) AS sq"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " WHERE l.l_discount > 0.02 GROUP BY o.o_orderpriority",
        "SELECT o.o_orderpriority AS pri, count(*) AS n"
        " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
        " GROUP BY o.o_orderpriority",
    ]
    _run_and_compare(spark, executor, sqls, {0, 1})


def test_star_join_grouping_sets_merge_matches_independent(spark, executor):
    sqls = [
        STAR_JOIN[0],
        "SELECT o_orderstatus, count(*) AS n"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " GROUP BY o_orderstatus",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.merges[0].grouping_sets == 2


def test_join_and_single_table_members_do_not_cross_merge(spark, executor):
    """A join chain over orders and a bare orders aggregation share a
    base table but NOT an input relation — merging them would change
    row multiplicity. They must stay separate signatures."""
    sqls = [
        STAR_JOIN[0],
        "SELECT o_orderpriority, count(*) AS n FROM orders"
        " GROUP BY o_orderpriority",
    ]
    _run_and_compare(spark, executor, sqls, set())


# round-7: the SplitMRShareJobs-analog grouping DP (VERDICT r6 ask #6)


def _light_member(i: int) -> str:
    return (
        f"SELECT l_returnflag, l_linestatus, max(l_tax) AS m{i}"
        f" FROM lineitem WHERE l_linenumber = {i % 7} "
        "GROUP BY l_returnflag, l_linestatus"
    )


def _distinct_member(i: int, col: str) -> str:
    return (
        f"SELECT l_returnflag, l_linestatus, count(DISTINCT {col}) AS nd{i}"
        f" FROM lineitem WHERE l_linenumber = {i % 7} "
        "GROUP BY l_returnflag, l_linestatus"
    )


def _two_distinct_member(i: int) -> str:
    return (
        f"SELECT l_returnflag, l_linestatus,"
        f" count(DISTINCT l_suppkey) AS nda{i},"
        f" count(DISTINCT l_partkey) AS ndb{i}"
        f" FROM lineitem WHERE l_linenumber = {i % 7} "
        "GROUP BY l_returnflag, l_linestatus"
    )


def test_dp_splits_overcap_bag_instead_of_declining(spark, executor):
    """12 same-signature members, 10 light + 2 carrying TWO distinct
    aggregates each. Merged flat the bag is infeasible (D=4 past the
    Expand cap); the pre-DP planner declined the WHOLE bag (all 12 ran
    unmerged — measured 3.49 s vs 1.86 s merged on the bench CSV). The
    DP must instead pack maximal feasible groups: the lights plus one
    carrier (D=2, within cap) merge as one plan, the second carrier
    runs alone."""
    sqls = [_light_member(i) for i in range(10)] + [
        _two_distinct_member(10),
        _two_distinct_member(11),
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs)
    merged_ids = sorted(j.job_id for mp in plans for j in mp.jobs)
    assert merged_ids == list(range(11)), (
        "lights + one carrier merge; the over-cap second stays out"
    )
    assert len(plans) == 1 and len(plans[0].jobs) == 11
    # end-to-end: merged == independent, the unmerged member still correct
    _run_and_compare(spark, executor, sqls, set(range(11)))


def test_dp_feasible_mixed_bag_merges_flat(spark, executor):
    """Within feasibility flat always wins (measured: 1.86 s flat vs
    2.22 s split vs 3.49 s unmerged — CASE columns are codegen-fused,
    nearly free next to a source scan): lights + two single-distinct
    carriers (D=2, within cap) merge as ONE plan; the DP must not
    over-split."""
    sqls = [_light_member(i) for i in range(4)] + [
        _distinct_member(4, "l_suppkey"),
        _distinct_member(5, "l_partkey"),
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 6
    _run_and_compare(spark, executor, sqls, {0, 1, 2, 3, 4, 5})


def test_dp_member_cap_bounds_plan_width():
    """|group| > max_members_per_merge is infeasible as one plan: 12
    members under a cap of 5 split into ceil(12/5)-ish merged plans,
    every one within the cap, all members still merged somewhere."""
    sqls = [_light_member(i) for i in range(12)]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs, max_members_per_merge=5)
    assert all(len(mp.jobs) <= 5 for mp in plans)
    assert sorted(j.job_id for mp in plans for j in mp.jobs) == list(range(12))
    assert len(plans) == 3


def test_dp_all_light_bag_still_merges_flat():
    sqls = [_light_member(i) for i in range(10)]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 10


def test_nondeterministic_member_never_merges():
    """A member whose text draws randomness must not merge (round 12):
    the CASE-folded rewrite re-evaluates the member's predicate once
    per aggregate, so `rand() < 0.5` would sample independently for
    `sum(...)` and the presence counter — membership and values
    disagreeing in a way no standalone run produces. The gate is the
    result-cache's nondeterminism scanner over the FULL member text
    (previously only derived-table inner text was gated). Deterministic
    same-signature members in the same batch still merge."""
    nondet = (
        "SELECT l_returnflag, sum(l_quantity) AS s, count(*) AS n "
        "FROM lineitem WHERE rand() < 0.5 GROUP BY l_returnflag"
    )
    det = [_light_member(i) for i in range(2)]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate([nondet, nondet, *det])]
    plans = plan_merges(jobs)
    merged_ids = sorted(j.job_id for mp in plans for j in mp.jobs)
    assert merged_ids == [2, 3], "rand() members stay out; the rest merge"


# round-7 widening: LEFT-join star members (VERDICT r6 ask #5) — the
# default shape of dashboard SQL generators. Orders without lineitems
# don't exist in TPC-H, so the LEFT side here is orders LEFT JOIN a
# FILTERED-by-nothing lineitem — null extension exercised through
# customer, where customers without orders DO exist.


LEFT_STAR = [
    "SELECT c_mktsegment, count(*) AS n, count(o_orderkey) AS no"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    " WHERE c_acctbal > 0 GROUP BY c_mktsegment",
    "SELECT c_mktsegment, sum(o_totalprice) AS st"
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    " WHERE c_acctbal <= 0 GROUP BY c_mktsegment",
]


def test_parse_left_join_chain_shapes():
    p0 = parse_agg_query(LEFT_STAR[0])
    p1 = parse_agg_query(LEFT_STAR[1])
    assert p0 is not None and p0.table.startswith("join:")
    assert p0.table == p1.table  # identical LEFT chain -> shared signature
    # LEFT OUTER JOIN spells the same signature
    alt = LEFT_STAR[0].replace("LEFT JOIN", "LEFT OUTER JOIN")
    assert parse_agg_query(alt).table == p0.table
    # join TYPE is part of the signature: the inner chain never merges
    # with the left chain (different row multiplicity for unmatched rows)
    inner = LEFT_STAR[0].replace("LEFT JOIN", "JOIN")
    pi = parse_agg_query(inner)
    assert pi is not None and pi.table != p0.table
    # FULL admits under its own token (round 8b) — never merging with
    # LEFT; two-table RIGHT normalizes (see below)
    pf = parse_agg_query(LEFT_STAR[0].replace("LEFT", "FULL OUTER"))
    assert pf is not None and pf.table != p0.table
    pr = parse_agg_query(LEFT_STAR[0].replace("LEFT", "RIGHT"))
    assert pr is not None and pr.table != p0.table  # keeps-orders ≠ keeps-customers


def test_parse_right_join_normalizes_to_left():
    """Round-8 (VERDICT r7 ask #3): a two-table RIGHT chain is the
    mirrored LEFT chain — same signature AND same emitted FROM text,
    so RIGHT members ride the r7 LEFT machinery unchanged."""
    r = parse_agg_query(
        "SELECT c_mktsegment, count(o_orderkey) AS n FROM orders o"
        " RIGHT JOIN customer c ON c_custkey = o_custkey GROUP BY c_mktsegment"
    )
    l = parse_agg_query(
        "SELECT c_mktsegment, count(o_orderkey) AS n FROM customer c"
        " LEFT JOIN orders o ON c_custkey = o_custkey GROUP BY c_mktsegment"
    )
    assert r is not None and l is not None
    assert r.table == l.table and r.table.startswith("join:")
    assert r.from_raw == l.from_raw
    # RIGHT OUTER spells the same signature
    r2 = parse_agg_query(
        "SELECT c_mktsegment, count(o_orderkey) AS n FROM orders o"
        " RIGHT OUTER JOIN customer c ON c_custkey = o_custkey"
        " GROUP BY c_mktsegment"
    )
    assert r2.table == r.table
    # RIGHT deeper in a chain admits since r8c: the preceding chain
    # re-associates into a parenthesized LEFT-operand
    deep = parse_agg_query(
        "SELECT c_name, count(*) AS n FROM customer c"
        " JOIN nation n ON c_nationkey = n_nationkey"
        " RIGHT JOIN orders o ON c_custkey = o_custkey GROUP BY c_name"
    )
    assert (
        deep is not None
        and deep.from_raw.startswith("orders o LEFT JOIN (customer c")
    )


def test_parse_using_join_admitted():
    """Round-8 (VERDICT r7 ask #3): USING joins are admitted natively —
    the USING text is part of the signature and re-emitted verbatim, so
    the coalesced bare column resolves in the merged statement exactly
    as it did standalone; ON members never cross-merge with USING."""
    u1 = parse_agg_query(
        "SELECT l_orderkey, count(*) AS n FROM lineitem a"
        " JOIN lineitem b USING (l_orderkey) GROUP BY l_orderkey"
    )
    u2 = parse_agg_query(
        "SELECT l_orderkey, max(b.l_tax) AS mt FROM lineitem a"
        " JOIN lineitem b USING ( L_ORDERKEY ) GROUP BY l_orderkey"
    )
    assert u1 is not None and u2 is not None
    assert u1.table == u2.table  # case/space variants share the signature
    on_eq = parse_agg_query(
        "SELECT a.l_orderkey AS l_orderkey, count(*) AS n FROM lineitem a"
        " JOIN lineitem b ON a.l_orderkey = b.l_orderkey GROUP BY a.l_orderkey"
    )
    assert on_eq is not None and on_eq.table != u1.table
    # LEFT ... USING and RIGHT ... USING both admit (RIGHT normalized;
    # the USING column's null-extension side is preserved by the swap)
    lu = parse_agg_query(
        "SELECT l_orderkey, count(*) AS n FROM lineitem a"
        " LEFT JOIN lineitem b USING (l_orderkey) GROUP BY l_orderkey"
    )
    ru = parse_agg_query(
        "SELECT l_orderkey, count(*) AS n FROM lineitem b"
        " RIGHT JOIN lineitem a USING (l_orderkey) GROUP BY l_orderkey"
    )
    assert lu is not None and ru is not None
    assert ru.table == lu.table and ru.from_raw == lu.from_raw


def test_left_join_members_merge_matches_independent(spark, executor):
    """Merged == independent over a LEFT chain whose null-extended rows
    are REAL (customers without orders): the shared relation includes
    them once, and each member's CASE-folded predicate/aggregate sees
    exactly what its standalone run would."""
    jobs, bags = _run_and_compare(spark, executor, LEFT_STAR, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_left_and_inner_join_members_do_not_cross_merge(spark, executor):
    sqls = [
        LEFT_STAR[0],
        LEFT_STAR[0].replace("LEFT JOIN", "JOIN"),
    ]
    _run_and_compare(spark, executor, sqls, set())


def test_merged_left_join_plan_scans_each_table_once(spark, executor):
    import re as _re

    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(LEFT_STAR)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    merged = spark.sql(plans[0].merged_sql)
    physical = merged._jdf.queryExecution().executedPlan().toString()
    assert physical.count("customer.parquet") == 1
    assert physical.count("orders.parquet") == 1


def test_right_join_member_merges_with_equivalent_left(spark, executor):
    """The round-8 promise end-to-end: a RIGHT-spelled member and the
    mirrored LEFT-spelled member land in ONE merged execution, and
    each job's rows equal its standalone run (null-extended customers
    included on both spellings)."""
    sqls = [
        "SELECT c_mktsegment, count(o_orderkey) AS no FROM orders o"
        " RIGHT JOIN customer c ON c_custkey = o_custkey"
        " WHERE c_acctbal > 0 GROUP BY c_mktsegment",
        "SELECT c_mktsegment, sum(o_totalprice) AS st FROM customer c"
        " LEFT JOIN orders o ON c_custkey = o_custkey"
        " WHERE c_acctbal <= 0 GROUP BY c_mktsegment",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_using_join_members_merge_matches_independent(spark, executor):
    """USING members (self-join on the coalesced key) merge and match
    their standalone runs; bare-column references resolve in the
    merged statement because the USING join is re-emitted verbatim."""
    sqls = [
        "SELECT l_orderkey, count(*) AS n FROM lineitem a"
        " JOIN lineitem b USING (l_orderkey)"
        " WHERE a.l_linenumber = 1 GROUP BY l_orderkey",
        "SELECT l_orderkey, max(b.l_tax) AS mt FROM lineitem a"
        " JOIN lineitem b USING (l_orderkey)"
        " WHERE b.l_quantity > 10 GROUP BY l_orderkey",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.rewrite is RewriteKind.MRSHARE


def test_merged_join_plan_scans_each_table_once(spark, executor):
    """The merged star-join plan reads each base table exactly once —
    one lineitem scan + one orders scan feed both members (vs 2+2
    unmerged)."""
    import re as _re

    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(STAR_JOIN)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    merged = spark.sql(plans[0].merged_sql)
    physical = merged._jdf.queryExecution().executedPlan().toString()
    leaves = _re.findall(r"FileScan|BatchScan", physical)
    assert len(leaves) == 2
    assert physical.count("lineitem.parquet") == 1
    assert physical.count("orders.parquet") == 1


# ---------------------------------------------------------------------------
# round-8b widening: FULL / SEMI / ANTI / CROSS admission


def test_parse_full_semi_anti_cross_join_shapes():
    """Each spelling normalizes to its own signature token (so types
    never cross-merge) and re-emits canonical Spark SQL; NATURAL and
    comma joins still decline."""
    f1 = parse_agg_query(
        "SELECT c_mktsegment, count(*) AS n FROM customer c"
        " FULL OUTER JOIN orders o ON c_custkey = o_custkey"
        " GROUP BY c_mktsegment"
    )
    f2 = parse_agg_query(
        "SELECT c_mktsegment, count(*) AS n FROM customer c"
        " full join orders o ON c_custkey = o_custkey"
        " GROUP BY c_mktsegment"
    )
    assert f1 is not None and f1.table == f2.table
    assert "FULL JOIN" in f1.from_raw
    l1 = parse_agg_query(
        "SELECT c_mktsegment, count(*) AS n FROM customer c"
        " LEFT JOIN orders o ON c_custkey = o_custkey GROUP BY c_mktsegment"
    )
    assert l1 is not None and l1.table != f1.table  # FULL never merges with LEFT

    s1 = parse_agg_query(
        "SELECT o_orderpriority, count(*) AS n FROM orders o"
        " LEFT SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o_orderpriority"
    )
    s2 = parse_agg_query(
        "SELECT o_orderpriority, count(*) AS n FROM orders o"
        " SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o_orderpriority"
    )
    a1 = parse_agg_query(
        "SELECT o_orderpriority, count(*) AS n FROM orders o"
        " ANTI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o_orderpriority"
    )
    assert s1 is not None and s1.table == s2.table  # bare SEMI == LEFT SEMI
    assert a1 is not None and a1.table != s1.table  # ANTI never merges with SEMI
    assert "LEFT SEMI JOIN" in s1.from_raw and "LEFT ANTI JOIN" in a1.from_raw

    x1 = parse_agg_query(
        "SELECT r_name, count(*) AS n FROM region r CROSS JOIN nation n"
        " GROUP BY r_name"
    )
    assert x1 is not None and "CROSS JOIN" in x1.from_raw
    # a conditioned CROSS segment is not SQL — decline, as Spark would
    assert (
        parse_agg_query(
            "SELECT r_name, count(*) AS n FROM region r"
            " CROSS JOIN nation n ON n_regionkey = r_regionkey GROUP BY r_name"
        )
        is None
    )
    assert (
        parse_agg_query(
            "SELECT r_name, count(*) AS n FROM region r"
            " NATURAL JOIN nation n GROUP BY r_name"
        )
        is None
    )
    # round 12: comma-FROM no longer declines — it normalizes to the
    # explicit inner chain and shares with the JOIN spelling
    comma = parse_agg_query(
        "SELECT r_name, count(*) AS n FROM region r, nation n"
        " WHERE n_regionkey = r_regionkey GROUP BY r_name"
    )
    explicit = parse_agg_query(
        "SELECT r_name, count(*) AS n FROM region r"
        " JOIN nation n ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert comma is not None and explicit is not None
    assert comma.table == explicit.table and comma.where is None
    # RIGHT inside a longer chain (here alongside FULL) admits since
    # r8c: the accumulated prefix parenthesizes into the LEFT operand
    deep = parse_agg_query(
        "SELECT r_name, count(*) AS n FROM region r"
        " FULL JOIN nation n ON n_regionkey = r_regionkey"
        " RIGHT JOIN nation m ON m.n_nationkey = n.n_nationkey"
        " GROUP BY r_name"
    )
    assert deep is not None
    assert "LEFT JOIN (" in deep.from_raw and "FULL JOIN" in deep.from_raw


def test_join_keywords_inside_literals_survive():
    """Keyword rewrites and whitespace collapse are literal-aware: a
    quoted ON literal containing 'inner join' / 'right join' / runs of
    spaces must emit byte-for-byte and must NOT fold into the token a
    real keyword folds into (else members differing only inside a
    literal would share a signature and falsely merge)."""
    cases = {
        "customer c JOIN orders o ON o_comment = 'a right join b'"
        " AND c_custkey = o_custkey": "'a right join b'",
        "customer c JOIN orders o ON o_comment = 'use inner join here'"
        " AND c_custkey = o_custkey": "'use inner join here'",
        "customer c JOIN orders o ON o_comment = 'left_join me'"
        " AND c_custkey = o_custkey": "'left_join me'",
        "customer c JOIN orders o ON o_comment = 'two  spaces'"
        " AND c_custkey = o_custkey": "'two  spaces'",
    }
    from sparksql_server_spark.server.mrshare import _parse_join_from

    for frm, literal in cases.items():
        sig_emit = _parse_join_from(frm)
        assert sig_emit is not None and literal in sig_emit[1], (frm, sig_emit)
    # a literal spelling of the internal token never collides with the
    # real keyword's signature
    s_lit = _parse_join_from("a JOIN b ON c = 'x right_join y'")
    s_kw = _parse_join_from("a JOIN b ON c = 'x right join y'")
    assert s_lit is not None and s_kw is not None and s_lit[0] != s_kw[0]
    # literal whitespace is signature-distinguishing end to end
    q1 = parse_agg_query(
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_comment = 'a b' AND c_custkey = o_custkey"
    )
    q2 = parse_agg_query(
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_comment = 'a  b' AND c_custkey = o_custkey"
    )
    assert q1 is not None and q2 is not None and q1.table != q2.table


def test_signature_token_in_member_text_declines():
    """Member text that literally spells an internal signature token
    outside a string (``a left_join b on ...`` — a syntax error
    standalone, or a table NAMED like the token) must decline, never
    parse as a cut and silently share the valid spelling's signature
    and merged emission (ADVICE r8 low)."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    bad = [
        "a left_join b on a.x = b.x",
        "a right_join b on a.x = b.x",
        "a full_join b on a.x = b.x",
        "a semi_join b on a.x = b.x",
        "a anti_join b on a.x = b.x",
        "a cross_join b",
        # token anywhere in the chain, not just as the first cut
        "a JOIN b ON a.x = b.x left_join c on b.y = c.y",
        # token as a table name reference
        "left_join JOIN b ON left_join.x = b.x",
    ]
    for frm in bad:
        assert _parse_join_from(frm) is None, frm
    # inside a string literal the token is data, not a cut — still parses
    ok = _parse_join_from("a JOIN b ON c = 'left_join' AND a.x = b.x")
    assert ok is not None and "'left_join'" in ok[1]


FULL_STAR = [
    # the ON's extra conjunct makes null-extension REAL on both sides:
    # customers whose orders are all <= the price bound (left rows,
    # right-nulled) AND orders below the bound (right rows, left-nulled
    # -> NULL group key)
    "SELECT c_mktsegment, count(o_orderkey) AS no"
    " FROM customer c FULL JOIN orders o"
    " ON c_custkey = o_custkey AND o_totalprice > 150000"
    " GROUP BY c_mktsegment",
    "SELECT c_mktsegment, sum(o_totalprice) AS st"
    " FROM customer c FULL JOIN orders o"
    " ON c_custkey = o_custkey AND o_totalprice > 150000"
    " GROUP BY c_mktsegment",
]


def test_full_join_members_merge_matches_independent(spark, executor):
    """Merged == independent over a FULL chain with real null-extension
    in BOTH directions (including the NULL group from left-nulled
    order rows): the shared relation is identical for all members, so
    the CASE-fold computes exactly the standalone results."""
    jobs, bags = _run_and_compare(spark, executor, FULL_STAR, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


SEMI_STAR = [
    "SELECT o_orderpriority, count(*) AS n FROM orders o"
    " LEFT SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    " WHERE o_totalprice > 50000 GROUP BY o_orderpriority",
    "SELECT o_orderpriority, max(o_totalprice) AS mx FROM orders o"
    " LEFT SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    " WHERE o_totalprice <= 50000 GROUP BY o_orderpriority",
]


def test_semi_join_members_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, SEMI_STAR, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.rewrite is RewriteKind.MRSHARE


def test_anti_join_members_merge_matches_independent(spark, executor):
    sqls = [q.replace("LEFT SEMI JOIN", "LEFT ANTI JOIN") for q in SEMI_STAR]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.rewrite is RewriteKind.MRSHARE


def test_cross_join_members_merge_matches_independent(spark, executor):
    """CROSS members share ONE evaluation of the product — including a
    member whose WHERE carries an equi-predicate (the comma-join
    semantics users actually write, admitted here because the member
    spelled the product explicitly)."""
    sqls = [
        "SELECT r_name, count(*) AS n FROM region r CROSS JOIN nation n"
        " WHERE n_regionkey = r_regionkey GROUP BY r_name",
        "SELECT r_name, count(*) AS pairs FROM region r CROSS JOIN nation n"
        " WHERE n_name < r_name GROUP BY r_name",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.rewrite is RewriteKind.MRSHARE


def test_merged_full_join_plan_scans_each_table_once(spark, executor):
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(FULL_STAR)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    merged = spark.sql(plans[0].merged_sql)
    physical = merged._jdf.queryExecution().executedPlan().toString()
    assert physical.count("customer.parquet") == 1
    assert physical.count("orders.parquet") == 1


DEEP_RIGHT = [
    # 3-table chain with RIGHT in the middle position: the normalized
    # form is orders LEFT JOIN (customer JOIN nation ...) — customers
    # joined to nations first, then every order kept (null-extending
    # the customer side where no match)
    "SELECT c_mktsegment, count(*) AS n FROM customer c"
    " JOIN nation nt ON c.c_nationkey = nt.n_nationkey"
    " RIGHT JOIN orders o ON c.c_custkey = o.o_custkey"
    " WHERE o_totalprice > 50000 GROUP BY c_mktsegment",
    "SELECT c_mktsegment, sum(o_totalprice) AS st FROM customer c"
    " JOIN nation nt ON c.c_nationkey = nt.n_nationkey"
    " RIGHT JOIN orders o ON c.c_custkey = o.o_custkey"
    " WHERE o_totalprice <= 50000 GROUP BY c_mktsegment",
]


def test_deep_right_join_members_merge_matches_independent(spark, executor):
    """Round-8c: RIGHT at any chain position normalizes via a
    parenthesized prefix operand; both members land in one merged
    plan and each equals its standalone run."""
    jobs, bags = _run_and_compare(spark, executor, DEEP_RIGHT, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert bag.rewrite is RewriteKind.MRSHARE


# round-9: order-insensitive signatures within maximal inner-join
# segments (VERDICT r8 ask #1 — ORM/BI SQL varies join order freely)


def test_inner_join_order_canonicalization_signatures():
    from sparksql_server_spark.server.mrshare import _parse_join_from

    # permuted 3-table inner chains share one signature
    a = _parse_join_from(
        "customer c JOIN orders o ON c_custkey = o_custkey"
        " JOIN nation n ON c.c_nationkey = n.n_nationkey"
    )
    b = _parse_join_from(
        "customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"
        " JOIN orders o ON c_custkey = o_custkey"
    )
    assert a is not None and b is not None and a[0] == b[0]
    # the EMISSION stays each member's own (valid) spelling
    assert a[1] != b[1]
    # two-table head swap shares; AS-fold shares
    c1 = _parse_join_from("customer c JOIN orders o ON c_custkey = o_custkey")
    c2 = _parse_join_from("orders o JOIN customer c ON c_custkey = o_custkey")
    c3 = _parse_join_from("customer AS c JOIN orders o ON c_custkey = o_custkey")
    assert c1[0] == c2[0] == c3[0]
    # different alias = different signature (member refs would not resolve)
    c4 = _parse_join_from("customer x JOIN orders o ON x.c_custkey = o_custkey")
    assert c4[0] != c1[0]
    # differing ON conditions never share
    d2 = _parse_join_from(
        "customer c JOIN orders o ON c_custkey = o_custkey AND o_totalprice > 5"
    )
    assert d2[0] != c1[0]
    # LEFT/FULL/SEMI/ANTI boundaries do NOT commute
    x = _parse_join_from("customer c LEFT JOIN orders o ON c_custkey = o_custkey")
    y = _parse_join_from("orders o LEFT JOIN customer c ON c_custkey = o_custkey")
    assert x[0] != y[0]
    # FULL is symmetric as a bag of named tuples — mirror spellings share
    f1 = _parse_join_from("customer c FULL JOIN orders o ON c_custkey = o_custkey")
    f2 = _parse_join_from("orders o FULL JOIN customer c ON c_custkey = o_custkey")
    assert f1[0] == f2[0]
    # ...but SEMI/ANTI (and LEFT, above) stay ordered
    s1 = _parse_join_from("orders o SEMI JOIN lineitem l ON o_orderkey = l_orderkey")
    s2 = _parse_join_from("lineitem l SEMI JOIN orders o ON o_orderkey = l_orderkey")
    assert s1[0] != s2[0]
    # permutations must not cross a boundary: moving a table from the
    # post-LEFT segment into the pre-LEFT segment changes semantics
    p = _parse_join_from(
        "customer c JOIN orders o ON c1 = c1"
        " LEFT JOIN nation n ON c2 = c2 JOIN region r ON c3 = c3"
    )
    q = _parse_join_from(
        "customer c JOIN region r ON c3 = c3 JOIN orders o ON c1 = c1"
        " LEFT JOIN nation n ON c2 = c2"
    )
    assert p[0] != q[0]
    # ...but permuting WITHIN the post-boundary segment shares
    p2 = _parse_join_from(
        "customer c LEFT JOIN nation n ON c2 = c2"
        " JOIN region r ON c3 = c3 JOIN orders o ON c1 = c1"
    )
    q2 = _parse_join_from(
        "customer c LEFT JOIN nation n ON c2 = c2"
        " JOIN orders o ON c1 = c1 JOIN region r ON c3 = c3"
    )
    assert p2[0] == q2[0]
    # the r8 two-table RIGHT/LEFT mirror still shares structurally
    r = _parse_join_from("orders o RIGHT JOIN customer c ON c_custkey = o_custkey")
    left = _parse_join_from("customer c LEFT JOIN orders o ON c_custkey = o_custkey")
    assert r[0] == left[0]
    # USING vs ON never share; permuted USING chains do share
    u1 = _parse_join_from("lineitem a JOIN lineitem b USING (l_orderkey)")
    u2 = _parse_join_from("lineitem b JOIN lineitem a USING (l_orderkey)")
    assert u1[0] == u2[0]
    on_eq = _parse_join_from("lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey")
    assert on_eq[0] != u1[0]


def test_parse_derived_table_from_member():
    """Round-9 (VERDICT r8 ask #2): ``FROM (SELECT …) t`` is admitted
    as one opaque signature token — identical inner text modulo
    case/whitespace shares; alias is stripped like a single-table
    alias; joined/nondeterministic/non-SELECT derived text declines."""
    base = (
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k,"
        " l_quantity FROM lineitem WHERE l_discount > 0.01) t GROUP BY k"
    )
    p = parse_agg_query(base)
    assert p is not None and p.table.startswith("derived:")
    # case/whitespace/alias variations share the signature
    q = parse_agg_query(
        "SELECT k, sum(l_quantity) AS s FROM (select l_returnflag as K,"
        "   l_quantity from LINEITEM where l_discount > 0.01) x GROUP BY k"
    )
    assert q is not None and q.table == p.table
    # differing inner text (predicate, literal case) never shares
    assert parse_agg_query(base.replace("0.01", "0.02")).table != p.table
    l1 = parse_agg_query(
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k FROM"
        " lineitem WHERE l_returnflag = 'A') t GROUP BY k"
    )
    l2 = parse_agg_query(
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k FROM"
        " lineitem WHERE l_returnflag = 'a') t GROUP BY k"
    )
    assert l1.table != l2.table
    # alias qualifiers strip so differently-aliased members share
    aq = parse_agg_query(
        "SELECT t.k AS k, count(*) AS n FROM (SELECT l_returnflag AS k"
        " FROM lineitem) t WHERE t.k > 'A' GROUP BY t.k"
    )
    assert aq is not None and aq.where == "k > 'A'"
    # declines: nondeterministic inner, derived joined to anything,
    # non-SELECT parenthesized member
    assert parse_agg_query(
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k, rand()"
        " AS r FROM lineitem) t GROUP BY k"
    ) is None
    # two derived operands JOINED is no longer a derived-FROM member —
    # it parses as a join-shaped member since round 9b
    joined = parse_agg_query(
        "SELECT k, count(*) AS n FROM (SELECT 1 AS k) a JOIN"
        " (SELECT 2 AS j) b ON k = j GROUP BY k"
    )
    assert joined is not None and joined.table.startswith("join:")
    assert parse_agg_query(
        "SELECT c1, count(*) AS n FROM (VALUES (1)) t(c1) GROUP BY c1"
    ) is None


DERIVED_MEMBERS = [
    # the dashboard shape: one generated subselect, per-member outer
    # predicates/aggregates — inner text identical modulo case/ws/alias
    "SELECT rf, count(*) AS n FROM (SELECT l_returnflag AS rf,"
    " l_quantity AS qty, l_discount AS disc FROM lineitem"
    " WHERE l_linenumber <= 5) t WHERE disc > 0.02 GROUP BY rf",
    "SELECT rf, sum(qty) AS sq FROM (select l_returnflag AS rf,"
    "  l_quantity AS qty, l_discount AS disc from lineitem"
    " where l_linenumber <= 5) u GROUP BY rf",
    "SELECT rf, max(disc) AS md FROM (SELECT l_returnflag AS rf,"
    " l_quantity AS qty, l_discount AS disc FROM LINEITEM"
    " WHERE l_linenumber <= 5) v WHERE qty >= 25 GROUP BY rf",
]


def test_derived_table_members_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, DERIVED_MEMBERS, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_derived_and_bare_table_members_do_not_cross_merge(spark, executor):
    """A derived table selecting from lineitem and a bare lineitem
    aggregation share scan fingerprints (same bag) but not an input
    relation — they must keep separate signatures."""
    sqls = [
        DERIVED_MEMBERS[0],
        "SELECT l_returnflag AS rf, count(*) AS n FROM lineitem"
        " GROUP BY l_returnflag",
    ]
    _run_and_compare(spark, executor, sqls, set())


def test_merged_derived_plan_scans_inner_table_once(spark, executor):
    """The merge's whole point: the derived relation is evaluated once
    — the merged job's plan contains exactly ONE lineitem scan where
    the unmerged batch would run three."""
    jobs = [QueryJob(job_id=900 + i, sql=q) for i, q in enumerate(DERIVED_MEMBERS)]
    bags = executor.run_batch(jobs)
    (mp,) = [mp for b in bags for mp in b.merges]
    plan = spark.sql(mp.merged_sql)._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("lineitem.parquet") == 1, plan


def test_parse_derived_join_operand():
    """Round-9b: a parenthesized derived table may be a JOIN OPERAND
    (head or cut side) — one opaque signature token, alias REQUIRED,
    deterministic inner only; identical inner text modulo case/ws
    shares, and inner-segment order-insensitivity includes derived
    operands."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    base = (
        "(SELECT l_orderkey, l_quantity FROM lineitem WHERE"
        " l_discount > 0.01) t JOIN orders o ON t.l_orderkey = o.o_orderkey"
    )
    a = _parse_join_from(base)
    assert a is not None
    # case/ws inner variants share; operand-order permutation shares
    b = _parse_join_from(
        "(select L_ORDERKEY,  l_quantity from lineitem where"
        " l_discount > 0.01) t JOIN orders o ON t.l_orderkey = o.o_orderkey"
    )
    c = _parse_join_from(
        "orders o JOIN (SELECT l_orderkey, l_quantity FROM lineitem WHERE"
        " l_discount > 0.01) t ON t.l_orderkey = o.o_orderkey"
    )
    assert b[0] == a[0] and c[0] == a[0]
    # differing inner text / alias never share
    assert _parse_join_from(base.replace("0.01", "0.02"))[0] != a[0]
    assert (
        _parse_join_from(base.replace(") t ", ") u ").replace("t.", "u."))[0]
        != a[0]
    )
    # unaliased / nondeterministic derived operands decline
    assert _parse_join_from("(SELECT 1 AS x) JOIN orders o ON x = o_orderkey") is None
    assert _parse_join_from(
        "(SELECT rand() AS x FROM lineitem) t JOIN orders o ON t.x = o_orderkey"
    ) is None
    # joins INSIDE the subquery round-trip through the keyword rewrites
    f = _parse_join_from(
        "(SELECT c_custkey FROM nation n RIGHT JOIN customer c"
        " ON c.c_nationkey = n.n_nationkey) t"
        " JOIN orders o ON t.c_custkey = o.o_custkey"
    )
    assert f is not None and "RIGHT JOIN customer" in f[1]
    # top-level RIGHT with a derived operand mirrors to the plain LEFT
    h = _parse_join_from(
        "orders o RIGHT JOIN (SELECT l_orderkey FROM lineitem) t"
        " ON t.l_orderkey = o.o_orderkey"
    )
    i = _parse_join_from(
        "(SELECT l_orderkey FROM lineitem) t LEFT JOIN orders o"
        " ON t.l_orderkey = o.o_orderkey"
    )
    assert h[0] == i[0]


def test_derived_join_operand_members_merge_matches_independent(spark, executor):
    sqls = [
        "SELECT o_orderpriority, count(*) AS n"
        " FROM (SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1) t"
        " JOIN orders o ON t.l_orderkey = o.o_orderkey"
        " WHERE o.o_totalprice > 1000 GROUP BY o_orderpriority",
        # same logical chain, operand order permuted, inner case varies
        "SELECT o_orderpriority, sum(o_totalprice) AS s"
        " FROM orders o JOIN (select l_orderkey from lineitem"
        " where l_linenumber = 1) t ON t.l_orderkey = o.o_orderkey"
        " GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


# round-9 (VERDICT r8 ask #8): merge-vs-DDL interleaving. The window
# between admission and merged execution is hooked DETERMINISTICALLY
# (the hook runs at the exact interleaving point inside run_batch —
# no sleeps, no schedulers): a member table dropped or swapped there
# must yield loud per-member failures or a CONSISTENT snapshot for
# every member, never stale-mixed-with-fresh demux results.


def _hook_materialize(executor, when, action):
    """Wrap _materialize_merge so ``action()`` fires deterministically
    'before' (admission happened, merged execution has not) or 'after'
    (merged relation persisted, demux not yet run)."""
    orig = executor._materialize_merge
    fired = []

    def hooked(mp):
        if when == "before" and not fired:
            fired.append(1)
            action()
        ok = orig(mp)
        if when == "after" and ok and len(fired) == 0:
            fired.append(1)
            action()
        return ok

    executor._materialize_merge = hooked
    return fired


def test_member_table_dropped_between_admission_and_merge(spark, executor):
    """DROP lands after window admission, before the merged execution:
    the merge must roll back and EVERY member must fail loudly with
    the resolution error it would hit standalone — no member may be
    served rows from a relation that no longer exists."""
    fired = _hook_materialize(
        executor, "before", lambda: spark.catalog.dropTempView("lineitem")
    )
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    try:
        bags = executor.run_batch(jobs)
    finally:
        register_tables(spark, SF_DIR)  # restore for later tests
    assert fired  # the interleaving actually exercised
    assert all(not b.merges for b in bags)  # merge rolled back
    for job in jobs:
        assert job.status is JobStatus.ERROR, f"job {job.job_id} not failed"
        assert "TABLE_OR_VIEW_NOT_FOUND" in (job.error or "") or "lineitem" in (
            job.error or ""
        )
        assert job.rows is None  # never partial/stale rows


def test_member_table_dropped_after_merge_serves_one_snapshot(spark, executor):
    """DROP lands after the merged relation is persisted, before any
    demux runs: every member must be served from the ONE pre-drop
    snapshot (the valid serialization: members admitted before the
    DDL), with zero demux fallbacks — a fallback would re-run a
    member's original SQL against the post-drop catalog and mix
    states."""
    expected = [
        _null_safe(tuple(r) for r in spark.sql(q).collect()) for q in SAME_SIG
    ]
    fired = _hook_materialize(
        executor, "after", lambda: spark.catalog.dropTempView("lineitem")
    )
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    try:
        bags = executor.run_batch(jobs)
    finally:
        register_tables(spark, SF_DIR)
    assert fired
    assert any(b.merges for b in bags)
    assert executor.stats["mrshare_demux_fallbacks"] == 0
    for job, exp in zip(jobs, expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(_null_safe(job.rows), exp)


def test_member_table_swapped_between_admission_and_merge(spark, executor):
    """The table is dropped AND re-registered with different contents
    between admission and merged execution (the overwrite shape): the
    merged execution resolves the NEW relation, so every member must
    get post-swap results — consistently, all members from the same
    snapshot — never a mix of pre- and post-swap rows."""

    def swap():
        # a deterministic, different relation read straight from the
        # parquet (no self-reference through the view being replaced,
        # no LIMIT — a limit without order is a per-execution subset)
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
            "l_linenumber = 1 AND l_orderkey % 7 = 0"
        ).createOrReplaceTempView("lineitem")

    fired = _hook_materialize(executor, "before", swap)
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    try:
        bags = executor.run_batch(jobs)
        post_expected = [
            _null_safe(tuple(r) for r in spark.sql(q).collect()) for q in SAME_SIG
        ]
    finally:
        register_tables(spark, SF_DIR)
    assert fired
    assert any(b.merges for b in bags)  # merged against the new relation
    for job, exp in zip(jobs, post_expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(_null_safe(job.rows), exp)


def test_permuted_inner_join_members_merge_matches_independent(spark, executor):
    """Order-permuted but logically-identical inner chains land in ONE
    merged plan (emission = first member's spelling) and each member's
    demux result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " WHERE l_discount > 0.02 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        # head swap too
        "SELECT o_orderpriority, max(c_acctbal) AS mb"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " WHERE c_acctbal > 0 GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_on_condition_canonicalization_signatures():
    """Round 10 (VERDICT r9 ask #1): condition SPELLING canonicalizes —
    sorted AND-conjuncts, symmetric-operator operand order, inequality
    mirroring, != ≡ <>, sorted USING lists, segment-pooled conjuncts —
    while precedence-ambiguous shapes stay opaque and literals stay
    load-bearing."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    # conjunct permutation + operand swap share
    a = _parse_join_from(
        "orders o JOIN lineitem l"
        " ON o.o_orderkey = l.l_orderkey AND o.o_custkey = l.l_suppkey"
    )
    b = _parse_join_from(
        "orders o JOIN lineitem l"
        " ON l.l_suppkey = o.o_custkey AND l.l_orderkey = o.o_orderkey"
    )
    assert a is not None and b is not None and a[0] == b[0]
    # inequality mirror: a < b ≡ b > a; a <= b ≡ b >= a
    c = _parse_join_from("a x JOIN b y ON x.k < y.k")
    assert c[0] == _parse_join_from("a x JOIN b y ON y.k > x.k")[0]
    assert c[0] != _parse_join_from("a x JOIN b y ON x.k > y.k")[0]
    le = _parse_join_from("a x JOIN b y ON x.k <= y.k")
    assert le[0] == _parse_join_from("a x JOIN b y ON y.k >= x.k")[0]
    assert le[0] != c[0]
    # != folds to <>, with sorted operands
    ne = _parse_join_from("a x JOIN b y ON x.k != y.k")
    assert ne[0] == _parse_join_from("a x JOIN b y ON y.k <> x.k")[0]
    # null-safe equality is symmetric but distinct from =
    nseq = _parse_join_from("a x JOIN b y ON x.k <=> y.k")
    assert nseq[0] == _parse_join_from("a x JOIN b y ON y.k <=> x.k")[0]
    assert nseq[0] != _parse_join_from("a x JOIN b y ON x.k = y.k")[0]
    # OR-bearing operand sides stay opaque: '(x.k = y.k) or x.j' and
    # 'y.k or (x.j = x.k)' must never sort-equate
    h = _parse_join_from("a x JOIN b y ON x.k = y.k or x.j")
    i = _parse_join_from("a x JOIN b y ON y.k or x.j = x.k")
    assert h[0] != i[0]
    # BETWEEN's AND is no boundary; surrounding conjuncts still sort
    j = _parse_join_from("a x JOIN b y ON x.k = y.k AND x.v BETWEEN 1 AND 5")
    k = _parse_join_from("a x JOIN b y ON x.v BETWEEN 1 AND 5 AND y.k = x.k")
    assert j[0] == k[0]
    # a CASE arm's AND is no boundary either
    c1 = _parse_join_from(
        "a x JOIN b y ON x.k = y.k"
        " AND CASE WHEN x.u = 1 AND y.u = 2 THEN 1 ELSE 0 END = 1"
    )
    c2 = _parse_join_from(
        "a x JOIN b y ON CASE WHEN x.u = 1 AND y.u = 2 THEN 1 ELSE 0 END = 1"
        " AND y.k = x.k"
    )
    assert c1 is not None and c1[0] == c2[0]
    # conjuncts pool across the inner segment's ON clauses
    p1 = _parse_join_from(
        "a JOIN b ON a.x = b.x JOIN c ON a.z = c.z AND b.w <> 9"
    )
    p2 = _parse_join_from(
        "a JOIN c ON c.z = a.z JOIN b ON b.x = a.x AND 9 != b.w"
    )
    assert p1[0] == p2[0]
    # USING lists sort; ON never merges with USING
    u1 = _parse_join_from("a JOIN b USING (k, j)")
    u2 = _parse_join_from("a JOIN b USING (j, k)")
    assert u1[0] == u2[0]
    assert u1[0] != _parse_join_from("a JOIN b ON a.k = b.k AND a.j = b.j")[0]
    # condition text inside string literals stays load-bearing
    l1 = _parse_join_from("a JOIN b ON a.k = 'P AND Q'")
    l2 = _parse_join_from("a JOIN b ON a.k = 'Q AND P'")
    assert l1[0] != l2[0]
    # boundary joins canonicalize their own ON the same way but keep
    # position: LEFT with permuted conjuncts shares...
    b1 = _parse_join_from(
        "customer c LEFT JOIN orders o"
        " ON c.c_custkey = o.o_custkey AND o.o_totalprice > 5"
    )
    b2 = _parse_join_from(
        "customer c LEFT JOIN orders o"
        " ON 5 < o.o_totalprice AND o.o_custkey = c.c_custkey"
    )
    assert b1[0] == b2[0]
    # ...while the mirrored LEFT operand order still does not
    b3 = _parse_join_from(
        "orders o LEFT JOIN customer c"
        " ON c.c_custkey = o.o_custkey AND o.o_totalprice > 5"
    )
    assert b3[0] != b1[0]


def test_condition_spelling_variants_merge_matches_independent(spark, executor):
    """Conjunct-permuted / operand-swapped / mirrored-inequality ON
    spellings of one join land in ONE merged plan and every member's
    demux result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey AND o_totalprice > 1000"
        " WHERE l_discount > 0.02 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN lineitem"
        " ON 1000 < o_totalprice AND l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, max(l_extendedprice) AS mx"
        " FROM orders INNER JOIN lineitem"
        " ON o_totalprice > 1000 AND o_orderkey = l_orderkey"
        " WHERE l_quantity >= 25 GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_derived_inner_join_signatures():
    """Round 10 (VERDICT r9 ask #2): a derived table whose inner FROM
    is an admissible join chain signatures STRUCTURALLY — inner join
    order and condition spelling canonicalize — while non-chain or
    twice-nested inners keep the exact-text (opaque canon) bar."""
    from sparksql_server_spark.server.mrshare import (
        _parse_derived_from,
        _parse_join_from,
    )

    a = _parse_derived_from(
        "(SELECT l_returnflag AS rf FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey AND o_totalprice > 5) t"
    )
    b = _parse_derived_from(
        "(select l_returnflag as rf from orders join lineitem"
        " on 5 < o_totalprice and o_orderkey = l_orderkey) u"
    )
    assert a is not None and b is not None and a[0] == b[0]
    # differing inner WHERE / select list stay distinct
    w1 = _parse_derived_from(
        "(SELECT l_returnflag AS rf FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE l_quantity > 5) t"
    )
    w2 = _parse_derived_from(
        "(SELECT l_returnflag AS rf FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE l_quantity > 9) t"
    )
    assert w1[0] != w2[0] and w1[0] != a[0]
    s1 = _parse_derived_from(
        "(SELECT l_returnflag AS rf, l_tax AS tx FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey) t"
    )
    assert s1[0] != a[0]
    # derived JOIN OPERAND: permuted inner chain shares
    o1 = _parse_join_from(
        "(SELECT l_orderkey AS k, l_quantity AS q FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey) t JOIN customer c ON t.k = c.c_custkey"
    )
    o2 = _parse_join_from(
        "(SELECT l_orderkey AS k, l_quantity AS q FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey) t JOIN customer c ON c.c_custkey = t.k"
    )
    assert o1 is not None and o2 is not None and o1[0] == o2[0]
    # round-11 widening (VERDICT r10 ask #5): TWICE-nested structure —
    # a derived join operand inside a derived FROM — now decomposes,
    # so the inner-chain permutation shares one signature
    deep = (
        "(SELECT k FROM (SELECT l_orderkey AS k FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey) s JOIN customer ON 1 = 1) t"
    )
    deep_perm = (
        "(SELECT k FROM (SELECT l_orderkey AS k FROM orders JOIN lineitem"
        " ON l_orderkey = o_orderkey) s JOIN customer ON 1 = 1) t"
    )
    assert _parse_derived_from(deep)[0] == _parse_derived_from(deep_perm)[0]
    # round 12 (VERDICT r11 ask #4): the nest cap is lifted — depth-3
    # permutations of the innermost chain now share structurally
    t1 = (
        "(SELECT k FROM (SELECT k FROM (SELECT l_orderkey AS k"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x) y) t"
    )
    t2 = (
        "(SELECT k FROM (SELECT k FROM (SELECT l_orderkey AS k"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey) x) y) t"
    )
    assert _parse_derived_from(t1)[0] == _parse_derived_from(t1)[0]
    assert _parse_derived_from(t1)[0] == _parse_derived_from(t2)[0]


def test_derived_inner_join_members_merge_matches_independent(spark, executor):
    """Derived-table members whose inner join chains differ only in
    spelling land in ONE merged plan (inner evaluated once) and each
    demux result equals the standalone run."""
    inners = [
        "SELECT o_orderpriority AS pri, l_quantity AS qty, l_discount AS disc"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "select o_orderpriority AS pri, l_quantity AS qty, l_discount AS disc"
        " from lineitem join orders on l_orderkey = o_orderkey",
    ]
    sqls = [
        f"SELECT pri, sum(qty) AS sq FROM ({inners[0]}) t"
        " WHERE disc > 0.02 GROUP BY pri",
        f"SELECT pri, count(*) AS n FROM ({inners[1]}) u GROUP BY pri",
        f"SELECT pri, max(qty) AS mq FROM ({inners[0]}) v"
        " WHERE qty >= 25 GROUP BY pri",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_top_level_or_suppresses_conjunct_split():
    """Round-10 review wave (CONFIRMED wrong-merge repro): AND binds
    tighter than OR, so the fragments between top-level ANDs of
    ``p OR q AND r`` are NOT conjuncts — sorting them equated
    ``a=b OR c=d AND e=f`` (= ``a=b OR (c=d AND e=f)``) with
    ``e=f AND a=b OR c=d`` (= ``(e=f AND a=b) OR c=d``), which are
    different relations. Any depth-0 OR must keep the whole condition
    ONE opaque token."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    a = _parse_join_from(
        "t1 JOIN t2 ON t1.a = t2.a OR t1.b = t2.b AND t1.c = t2.c"
    )
    b = _parse_join_from(
        "t1 JOIN t2 ON t1.c = t2.c AND t1.a = t2.a OR t1.b = t2.b"
    )
    assert a is not None and b is not None
    assert a[0] != b[0]
    # byte-canon-equal OR spellings still share (the pre-round-10 bar)
    c = _parse_join_from(
        "t1 JOIN t2 ON t1.a = t2.a OR t1.b = t2.b AND t1.c = t2.c"
    )
    assert a[0] == c[0]
    # an OR inside parens is depth>0: conjuncts around it still sort
    d = _parse_join_from(
        "t1 JOIN t2 ON (t1.a = t2.a OR t1.b = t2.b) AND t1.c = t2.c"
    )
    e = _parse_join_from(
        "t1 JOIN t2 ON t1.c = t2.c AND (t1.a = t2.a OR t1.b = t2.b)"
    )
    assert d is not None and d[0] == e[0]


def test_or_disjunct_canonicalization_signatures():
    """Round 11 (VERDICT r10 ask #4): a conjunct that is a pure
    OR-chain of simple binary comparisons sorts its deduped disjunct
    canons — ``ON (a=b OR c=d)`` ≡ ``ON (c=d OR a=b)`` — while any
    other depth-0 keyword in the chain, a non-simple disjunct, or a
    literal difference keeps the condition opaque/load-bearing."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    # parenthesized disjunct permutation + operand swap share
    a = _parse_join_from("t1 JOIN t2 ON (t1.a = t2.a OR t1.b = t2.b)")
    b = _parse_join_from("t1 JOIN t2 ON (t2.b = t1.b OR t1.a = t2.a)")
    assert a is not None and b is not None and a[0] == b[0]
    # the bare (unparenthesized) whole-condition OR chain is the same
    # boolean term — shares with the parenthesized spelling
    c = _parse_join_from("t1 JOIN t2 ON t1.b = t2.b OR t1.a = t2.a")
    assert c[0] == a[0]
    # comparison normalization applies INSIDE disjuncts: mirror + swap
    h = _parse_join_from("t1 JOIN t2 ON (t1.a < t2.a OR t1.c = t2.c)")
    i = _parse_join_from("t1 JOIN t2 ON (t2.c = t1.c OR t2.a > t1.a)")
    assert h[0] == i[0]
    # an or-group pools with sibling conjuncts across spellings
    j = _parse_join_from(
        "t1 JOIN t2 ON (t1.a=t2.a OR t1.b=t2.b) AND t1.c=t2.c"
    )
    k = _parse_join_from(
        "t1 JOIN t2 ON t1.c=t2.c AND (t1.b=t2.b OR t1.a=t2.a)"
    )
    assert j[0] == k[0]
    # round 12: a chain whose disjuncts dedup to ONE comparison IS the
    # bare comparison — ``x OR x ≡ x`` under 3VL (UNKNOWN OR UNKNOWN is
    # UNKNOWN), so the singleton collapses and the spellings share
    m = _parse_join_from("t1 JOIN t2 ON (t1.a=t2.a OR t2.a=t1.a)")
    n = _parse_join_from("t1 JOIN t2 ON t1.a=t2.a")
    assert m[0] == n[0]
    # NOT still declines the sort (never normalized)
    f1 = _parse_join_from("t1 JOIN t2 ON (t1.a = t2.a OR NOT t1.b = t2.b)")
    f2 = _parse_join_from("t1 JOIN t2 ON (NOT t1.b = t2.b OR t1.a = t2.a)")
    assert f1[0] != f2[0]
    # round 12: parens around a LEAF disjunct are no-ops — the
    # bool-tree unwraps them and the permuted spellings share
    g1 = _parse_join_from("t1 JOIN t2 ON ((t1.a=t2.a) OR (t1.b=t2.b))")
    g2 = _parse_join_from("t1 JOIN t2 ON ((t1.b=t2.b) OR (t1.a=t2.a))")
    assert g1[0] == g2[0]
    assert g1[0] == _parse_join_from(
        "t1 JOIN t2 ON (t1.a=t2.a OR t1.b=t2.b)"
    )[0]
    # the round-10 wrong-merge pair stays DISTINCT: the precedence-
    # aware tree parses ``a OR b AND c`` as a∨(b∧c) and ``c AND a OR
    # b`` as (c∧a)∨b — different trees, different signatures (round 12
    # normalizes both rather than leaving them opaque, but never
    # equates them)
    d = _parse_join_from(
        "t1 JOIN t2 ON t1.a = t2.a OR t1.b = t2.b AND t1.c = t2.c"
    )
    e = _parse_join_from(
        "t1 JOIN t2 ON t1.c = t2.c AND t1.a = t2.a OR t1.b = t2.b"
    )
    assert d[0] != e[0]
    # ...while the precedence-faithful respelling of the SAME term
    # (disjuncts swapped, conjuncts swapped, parens added) now merges
    d2 = _parse_join_from(
        "t1 JOIN t2 ON (t1.c = t2.c AND t1.b = t2.b) OR t1.a = t2.a"
    )
    assert d2[0] == d[0]
    # string literals inside disjuncts stay load-bearing
    l1 = _parse_join_from("t1 JOIN t2 ON (t1.a = 'x OR y' OR t1.b = t2.b)")
    l2 = _parse_join_from("t1 JOIN t2 ON (t1.a = 'y OR x' OR t1.b = t2.b)")
    assert l1[0] != l2[0]


def test_or_disjunct_spelling_variants_merge_matches_independent(
    spark, executor
):
    """OR-spelled join conditions that differ only in disjunct order /
    operand order land in ONE merged plan and every member's demux
    result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey AND (l_discount > 0.05 OR l_tax < 0.03)"
        " WHERE l_quantity >= 10 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN lineitem"
        " ON (0.03 > l_tax OR l_discount > 0.05) AND l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, max(l_extendedprice) AS mx"
        " FROM orders INNER JOIN lineitem"
        " ON (l_tax < 0.03 OR l_discount > 0.05) AND o_orderkey = l_orderkey"
        " GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_predicate_leaf_spellings_share_signatures():
    """Round 12 leaf widenings: IN-lists normalize to the OR-of-
    equalities structure SQL defines them as (sorted, deduped,
    singleton folds to ``=``), BETWEEN to its range-conjunct pair,
    NOT IN / NOT BETWEEN to the De Morgan duals, and IS [NOT] NULL /
    LIKE-family predicates admit as tree leaves. Signature-only: the
    merged emission always re-uses a member's original text."""
    from sparksql_server_spark.server.mrshare import _parse_join_from as pj

    def sig(cond):
        r = pj(f"t1 JOIN t2 ON {cond}")
        assert r is not None, cond
        return r[0]

    # IN ≡ its OR-chain, item order/duplicates immaterial
    assert sig("t1.a = t2.a AND t1.b IN (1, 2, 3)") == sig(
        "(3 = t1.b OR t1.b IN (2, 1, 2)) AND t2.a = t1.a"
    )
    assert sig("t1.b IN (7)") == sig("t1.b = 7") == sig("7 = t1.b")
    # NOT IN ≡ the AND of <>, and never equals the positive form
    assert sig("t1.b NOT IN (1, 2)") == sig("t1.b <> 1 AND 2 != t1.b")
    assert sig("t1.b NOT IN (1, 2)") != sig("t1.b IN (1, 2)")
    # BETWEEN ≡ the range pair, asymmetry preserved
    assert (
        sig("t1.a BETWEEN 0 AND 2")
        == sig("t1.a >= 0 AND t1.a <= 2")
        == sig("2 >= t1.a AND 0 <= t1.a")
    )
    assert sig("t1.a BETWEEN 0 AND 2") != sig("t1.a BETWEEN 2 AND 0")
    assert sig("t1.a NOT BETWEEN 0 AND 2") == sig("t1.a < 0 OR t1.a > 2")
    # row-value IN keeps its items intact (single paren-level unwrap)
    assert sig("(t1.a, t1.b) IN ((1, 2))") != sig("(t1.a, t1.b) IN ((2, 1))")
    # subquery items never normalize — the chain parse declines the
    # member outright (stronger than opaque)
    assert pj("t1 JOIN t2 ON t1.b IN (SELECT 1)") is None
    # IS NULL / LIKE admit as tree leaves: disjunct swaps share
    assert sig("(t1.b IS NULL OR t1.a = 1)") == sig(
        "(1 = t1.a OR t1.b  is  null)"
    )
    assert sig("t1.b IS NULL") != sig("t1.b IS NOT NULL")
    assert sig("(t1.c LIKE 'a%' OR t1.a = 1)") == sig(
        "(t1.a = 1 OR t1.c like 'a%')"
    )
    assert sig("t1.c LIKE 'a%'") != sig("t1.c NOT LIKE 'a%'")
    assert sig("t1.c LIKE 'a%'") != sig("t1.c ILIKE 'a%'")
    # IS NOT DISTINCT FROM ≡ null-safe equality (Spark parses it to
    # <=>); both symmetric, so operand swaps share
    assert (
        sig("t1.a IS NOT DISTINCT FROM t2.a")
        == sig("t1.a <=> t2.a")
        == sig("t2.a <=> t1.a")
    )
    assert sig("t1.a IS DISTINCT FROM t2.a") == sig(
        "t2.a is  distinct  from t1.a"
    )
    assert sig("t1.a IS DISTINCT FROM t2.a") != sig(
        "t1.a IS NOT DISTINCT FROM t2.a"
    )


def test_in_between_members_merge_matches_independent(spark, executor):
    """End-to-end: members whose ON conditions spell the same predicate
    via IN-lists / OR-chains / BETWEEN / range pairs land in ONE merged
    plan and every demux result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey AND l_linenumber IN (1, 2, 3)"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN lineitem"
        " ON (l_linenumber = 3 OR l_linenumber IN (2, 1))"
        " AND l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, max(l_extendedprice) AS mx"
        " FROM orders INNER JOIN lineitem"
        " ON (l_linenumber = 1 OR 2 = l_linenumber OR l_linenumber = 3)"
        " AND o_orderkey = l_orderkey"
        " GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE

    sqls2 = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey AND l_quantity BETWEEN 10 AND 20"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN lineitem"
        " ON l_quantity >= 10 AND l_orderkey = o_orderkey"
        " AND l_quantity <= 20 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, min(l_discount) AS md"
        " FROM orders JOIN lineitem"
        " ON 20 >= l_quantity AND 10 <= l_quantity"
        " AND o_orderkey = l_orderkey GROUP BY o_orderpriority",
    ]
    jobs2, bags2 = _run_and_compare(spark, executor, sqls2, {0, 1, 2})
    (bag2,) = [b for b in bags2 if b.merges]
    assert len(bag2.merges) == 1


def test_nested_derived_members_merge_matches_independent(spark, executor):
    """Round 11 (VERDICT r10 ask #5): two-level derived members —
    a derived FROM whose inner FROM is itself a derived table — whose
    innermost join chains differ only in spelling land in ONE merged
    plan and each demux result equals the standalone run."""
    innermost = [
        "SELECT o_orderpriority AS pri, l_quantity AS qty, l_discount AS disc"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "select o_orderpriority as pri, l_quantity as qty, l_discount as disc"
        " from lineitem join orders on l_orderkey = o_orderkey",
    ]
    inners = [
        f"SELECT pri, qty, disc FROM ({innermost[0]}) u WHERE qty >= 5",
        f"SELECT pri, qty, disc FROM ({innermost[1]}) u WHERE qty >= 5",
    ]
    sqls = [
        f"SELECT pri, sum(qty) AS sq FROM ({inners[0]}) t"
        " WHERE disc > 0.02 GROUP BY pri",
        f"SELECT pri, count(*) AS n FROM ({inners[1]}) v GROUP BY pri",
        f"SELECT pri, max(qty) AS mq FROM ({inners[0]}) w"
        " WHERE qty >= 25 GROUP BY pri",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_nested_derived_signature_bars():
    """The round-11 recursion keeps every decline: nested alias
    mismatch, differing nested WHERE, bare star at the nested level,
    and junk after the nested alias."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    s1 = (
        "(SELECT k, q FROM (SELECT l_orderkey AS k, l_quantity AS q"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey) u"
        " WHERE q > 5) t"
    )
    s2 = (
        "(select k, q from (select l_orderkey as k, l_quantity as q"
        " from orders join lineitem on o_orderkey = l_orderkey) u"
        " where q > 5) w"
    )
    c, d = _parse_derived_from(s1), _parse_derived_from(s2)
    assert c is not None and d is not None and c[0] == d[0]
    # nested alias is part of the signature
    assert _parse_derived_from(s1.replace(") u ", ") v "))[0] != c[0]
    # nested WHERE stays load-bearing
    assert _parse_derived_from(s1.replace("q > 5", "q > 9"))[0] != c[0]
    # bare star at the NESTED level: round 11 admits the ordinal-free
    # wrapper (references by name), declines once an ordinal observes
    # the nested column order
    u1 = (
        "(SELECT k FROM (SELECT * FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey) u) t"
    )
    u2 = (
        "(SELECT k FROM (SELECT * FROM orders JOIN lineitem"
        " ON l_orderkey = o_orderkey) u) t"
    )
    assert _parse_derived_from(u1)[0] == _parse_derived_from(u2)[0]
    o1 = u1.replace(") u)", " GROUP BY 1) u)")
    o2 = u2.replace(") u)", " GROUP BY 1) u)")
    assert _parse_derived_from(o1)[0] != _parse_derived_from(o2)[0]


def test_bare_star_derived_members_merge_matches_independent(spark, executor):
    """Round 11: ordinal-free ``SELECT *`` derived wrappers whose inner
    chains differ only in operand order land in ONE merged plan and
    each demux result equals the standalone run (all outer references
    are by name, so the inner column order is unobservable)."""
    inners = [
        "SELECT * FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "select * from lineitem join orders on l_orderkey = o_orderkey",
    ]
    sqls = [
        f"SELECT o_orderpriority, sum(l_quantity) AS sq FROM ({inners[0]}) t"
        " WHERE l_discount > 0.02 GROUP BY o_orderpriority",
        f"SELECT o_orderpriority, count(*) AS n FROM ({inners[1]}) u"
        " GROUP BY o_orderpriority",
        f"SELECT o_orderpriority, max(l_extendedprice) AS mx"
        f" FROM ({inners[0]}) v WHERE l_quantity >= 25"
        " GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_derived_inner_limit_declines_structural_sharing():
    """Round-11 review wave: a depth-0 LIMIT in a derived inner's
    trailing clauses must decline STRUCTURAL sharing — LIMIT without a
    total order picks plan-dependent rows, and the structural
    signature admits members whose join-operand order (hence plan)
    differs, so one shared evaluation could feed a member a different
    row subset than its standalone run. Byte-canon-equal spellings
    (same text, same plan) still share."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    lim1 = (
        "(SELECT o_orderpriority AS pri, l_quantity AS qty"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " LIMIT 100) t"
    )
    lim_perm = (
        "(SELECT o_orderpriority AS pri, l_quantity AS qty"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " LIMIT 100) t"
    )
    a, b = _parse_derived_from(lim1), _parse_derived_from(lim_perm)
    assert a is not None and b is not None
    assert a[0] != b[0]  # permuted chain + LIMIT: no structural share
    # identical spelling still shares (modulo case/whitespace)
    assert a[0] == _parse_derived_from(lim1.replace("SELECT", "select"))[0]
    # ORDER BY + LIMIT is only total modulo ties — still declines
    ol1 = lim1.replace(" LIMIT 100", " ORDER BY qty LIMIT 100")
    ol2 = lim_perm.replace(" LIMIT 100", " ORDER BY qty LIMIT 100")
    assert _parse_derived_from(ol1)[0] != _parse_derived_from(ol2)[0]
    # a LIMIT inside a string literal is data, not a clause
    lit1 = (
        "(SELECT o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey WHERE o_comment <> 'LIMIT 5') t"
    )
    lit2 = (
        "(SELECT o_orderpriority AS pri FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE o_comment <> 'LIMIT 5') t"
    )
    assert _parse_derived_from(lit1)[0] == _parse_derived_from(lit2)[0]


def test_bare_star_derived_inner_declines_structural_sharing():
    """Round-10 review wave (CONFIRMED wrong-merge repro): ``SELECT *``
    expands in JOIN-OPERAND ORDER, which the chain signature erases —
    with an inner ``ORDER BY <ordinal> LIMIT n`` the two members'
    inner top-n row sets differ. Round 11 narrows the decline to where
    column ORDER is OBSERVABLE (a depth-0 ordinal GROUP BY/ORDER BY
    item, or any depth-0 LIMIT); the plain ``SELECT * FROM a JOIN b``
    wrapper — references by name only — is re-admitted."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    s1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k ORDER BY 2 LIMIT 10) t"
    )
    s2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON a.k = b.k ORDER BY 2 LIMIT 10) t"
    )
    assert s1 is not None and s2 is not None
    assert s1[0] != s2[0]  # operand order must stay load-bearing
    # byte-equal bare-star inners still share (exact-text bar)
    s3 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k ORDER BY 2 LIMIT 10) t"
    )
    assert s1[0] == s3[0]
    # GROUP BY ordinal observes column order even without LIMIT
    g1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k GROUP BY 1) t"
    )
    g2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON a.k = b.k GROUP BY 1) t"
    )
    assert g1[0] != g2[0]
    # round 11: the ordinal-free bare-star wrapper shares structurally
    p1 = _parse_derived_from("(SELECT * FROM a JOIN b ON a.k = b.k) t")
    p2 = _parse_derived_from("(SELECT * FROM b JOIN a ON b.k = a.k) t")
    assert p1 is not None and p1[0] == p2[0]
    # ...including with a WHERE and a NAME-based ORDER BY (no limit)
    w1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k WHERE a.v > 3 ORDER BY a.v) t"
    )
    w2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON b.k = a.k WHERE a.v > 3 ORDER BY a.v) t"
    )
    assert w1[0] == w2[0]
    # an integer CONSTANT (parenthesized) is not an ordinal
    c1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k ORDER BY (1)) t"
    )
    c2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON a.k = b.k ORDER BY (1)) t"
    )
    assert c1[0] == c2[0]
    # explicit select lists keep the structural (order-insensitive) bar
    e1 = _parse_derived_from(
        "(SELECT a.c1 AS x, b.c2 AS y FROM a JOIN b ON a.k = b.k) t"
    )
    e2 = _parse_derived_from(
        "(SELECT a.c1 AS x, b.c2 AS y FROM b JOIN a ON b.k = a.k) t"
    )
    assert e1 is not None and e1[0] == e2[0]
    # ...and with an ordinal tail, explicit heads STILL share: the
    # ordinal resolves against the same explicit list in every member
    o1 = _parse_derived_from(
        "(SELECT a.c1 AS x, b.c2 AS y FROM a JOIN b ON a.k = b.k"
        " GROUP BY 1, 2) t"
    )
    o2 = _parse_derived_from(
        "(SELECT a.c1 AS x, b.c2 AS y FROM b JOIN a ON b.k = a.k"
        " GROUP BY 1, 2) t"
    )
    assert o1 is not None and o1[0] == o2[0]
    # qualified stars expand in the OPERAND's own column order — safe,
    # still structural
    q1 = _parse_derived_from("(SELECT a.* FROM a JOIN b ON a.k = b.k) t")
    q2 = _parse_derived_from("(SELECT a.* FROM b JOIN a ON a.k = b.k) t")
    assert q1 is not None and q1[0] == q2[0]
    # a depth-0 multiplication is lexically a bare star; with an
    # ordinal-free tail it now shares — which is strictly sound here
    # (the head is an explicit named item, identical in both members)
    m1 = _parse_derived_from(
        "(SELECT a.c1 * b.c2 AS p FROM a JOIN b ON a.k = b.k) t"
    )
    m2 = _parse_derived_from(
        "(SELECT a.c1 * b.c2 AS p FROM b JOIN a ON a.k = b.k) t"
    )
    assert m1 is not None and m2 is not None and m1[0] == m2[0]


def test_derived_inner_set_operator_declines_structural_sharing():
    """Round-12 (ADVICE r11 high): UNION/INTERSECT/EXCEPT pair the two
    arms' select lists POSITIONALLY, so a bare-star head — whose
    column order the chain signature deliberately erases — feeds the
    set operator a different column order per operand spelling. A
    depth-0 set operator anywhere in the inner text must decline
    structural sharing (for every head shape: the keyword-swallowing
    spellings ``… ON k UNION TABLE t`` / ``WHERE p UNION VALUES (1)``
    land the arm inside clauses this grammar never modeled). The
    byte-canon exact-text bar still applies."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    u1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k WHERE a.v > 0"
        " UNION SELECT 1, 2) t"
    )
    u2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON a.k = b.k WHERE a.v > 0"
        " UNION SELECT 1, 2) t"
    )
    assert u1 is not None and u2 is not None
    assert u1[0] != u2[0]  # operand order stays load-bearing
    # byte-equal spellings (modulo case/whitespace) still share
    u3 = _parse_derived_from(
        "(select * FROM a JOIN b ON a.k = b.k WHERE a.v > 0"
        "  UNION SELECT 1, 2) t"
    )
    assert u3 is not None and u1[0] == u3[0]
    # the arm can hide where the grammar reads an ON condition
    # (single-column arm: no comma, no SELECT keyword after UNION)
    k1 = _parse_derived_from("(SELECT * FROM a JOIN b ON k UNION TABLE t) t")
    k2 = _parse_derived_from("(SELECT * FROM b JOIN a ON k UNION TABLE t) t")
    assert k1 is not None and k2 is not None and k1[0] != k2[0]
    # ... or inside the trailing clauses as a VALUES arm
    v1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k WHERE a.v > 0"
        " UNION VALUES (1)) t"
    )
    v2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON a.k = b.k WHERE a.v > 0"
        " UNION VALUES (1)) t"
    )
    assert v1 is not None and v2 is not None and v1[0] != v2[0]
    # INTERSECT / EXCEPT / MINUS all pair positionally — same decline
    for op in ("INTERSECT", "EXCEPT", "MINUS"):
        x1 = _parse_derived_from(
            f"(SELECT * FROM a JOIN b ON a.k = b.k {op} SELECT 1, 2) t"
        )
        x2 = _parse_derived_from(
            f"(SELECT * FROM b JOIN a ON a.k = b.k {op} SELECT 1, 2) t"
        )
        assert x1 is not None and x2 is not None and x1[0] != x2[0]
    # a set-op keyword inside a string literal is data, not a clause
    l1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k WHERE a.c <> 'UNION x') t"
    )
    l2 = _parse_derived_from(
        "(SELECT * FROM b JOIN a ON b.k = a.k WHERE a.c <> 'UNION x') t"
    )
    assert l1 is not None and l2 is not None and l1[0] == l2[0]
    # ... and inside a deeper paren level (a subquery's own UNION is
    # that level's business — here depth>0 means not this SELECT's)
    d1 = _parse_derived_from(
        "(SELECT * FROM a JOIN b ON a.k = b.k"
        " WHERE a.v IN (1, 2) AND a.w > (3) OR a.u = '(union)') t"
    )
    assert d1 is not None


def test_derived_inner_offset_fetch_declines_structural_sharing():
    """Round-12 (ADVICE r11 medium): standalone OFFSET (Spark 3.4+/
    DuckDB) and FETCH select a plan-dependent row subset exactly like
    LIMIT — ``ORDER BY x OFFSET 10`` without a total order drops
    different rows per plan — so the round-11 LIMIT decline extends to
    them."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    o1 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey ORDER BY pri OFFSET 10) t"
    )
    o2 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey ORDER BY pri OFFSET 10) t"
    )
    assert o1 is not None and o2 is not None
    assert o1[0] != o2[0]
    # byte-equal spelling still shares
    assert o1[0] == _parse_derived_from(
        "(select o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey ORDER BY pri OFFSET 10) t"
    )[0]
    # FETCH FIRST spelling declines the same way
    f1 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey ORDER BY pri FETCH FIRST 5 ROWS ONLY) t"
    )
    f2 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey ORDER BY pri FETCH FIRST 5 ROWS ONLY) t"
    )
    assert f1 is not None and f2 is not None and f1[0] != f2[0]
    # an OFFSET inside a string literal stays data
    s1 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey WHERE o_comment <> 'OFFSET 9') t"
    )
    s2 = _parse_derived_from(
        "(SELECT o_orderpriority AS pri FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE o_comment <> 'OFFSET 9') t"
    )
    assert s1 is not None and s1[0] == s2[0]


def test_mixed_precedence_spelling_variants_merge_matches_independent(
    spark, executor
):
    """Round 12 (VERDICT r11 ask #3): ON conditions mixing depth-0 AND
    and OR — normalized as precedence-aware boolean trees — merge
    across disjunct/conjunct/operand respellings, and every member's
    demux result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey AND l_discount > 0.05"
        " OR o_orderkey = l_orderkey AND l_tax < 0.03"
        " WHERE l_quantity >= 10 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders JOIN lineitem"
        " ON l_tax < 0.03 AND l_orderkey = o_orderkey"
        " OR (0.05 < l_discount AND o_orderkey = l_orderkey)"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, max(l_extendedprice) AS mx"
        " FROM orders INNER JOIN lineitem"
        " ON (l_orderkey = o_orderkey AND l_discount > 0.05)"
        " OR (l_orderkey = o_orderkey AND 0.03 > l_tax)"
        " GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_deep_derived_nest_signatures():
    """Round 12 (VERDICT r11 ask #4): the derived-table recursion no
    longer caps at two structural levels — it recurses until a
    non-signaturable construct appears (pathological-input backstop at
    64), with the bare-star/LIMIT/OFFSET/set-operator guards applied
    at every level."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    def deep(inner_join, n, head="SELECT o_orderpriority AS pri"):
        t = f"{head} FROM {inner_join}"
        for i in range(n):
            t = f"SELECT pri FROM ({t}) u{i}"
        return f"({t}) t"

    for levels in (3, 5, 8):
        a = _parse_derived_from(
            deep("orders JOIN lineitem ON o_orderkey = l_orderkey", levels)
        )
        b = _parse_derived_from(
            deep("lineitem JOIN orders ON l_orderkey = o_orderkey", levels)
        )
        assert a is not None and b is not None
        assert a[0] == b[0], f"levels={levels}"
    # guards hold at depth: an innermost LIMIT keeps operand order
    # load-bearing all the way up
    l1 = _parse_derived_from(
        deep("orders JOIN lineitem ON o_orderkey = l_orderkey LIMIT 3", 4)
    )
    l2 = _parse_derived_from(
        deep("lineitem JOIN orders ON l_orderkey = o_orderkey LIMIT 3", 4)
    )
    assert l1 is not None and l2 is not None and l1[0] != l2[0]
    # ...as does an innermost bare star with an ordinal tail
    s1 = _parse_derived_from(
        deep("a JOIN b ON a.k = b.k GROUP BY 1", 3, head="SELECT *")
    )
    s2 = _parse_derived_from(
        deep("b JOIN a ON a.k = b.k GROUP BY 1", 3, head="SELECT *")
    )
    assert s1 is not None and s2 is not None and s1[0] != s2[0]
    # a DIFFERENT nested alias anywhere declines (alias is part of the
    # signature at every level)
    m1 = _parse_derived_from(
        "(SELECT pri FROM (SELECT pri FROM (SELECT o_orderpriority AS pri"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey) x) y) t"
    )
    m2 = _parse_derived_from(
        "(SELECT pri FROM (SELECT pri FROM (SELECT o_orderpriority AS pri"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey) x) z) t"
    )
    assert m1 is not None and m2 is not None and m1[0] != m2[0]


def test_three_level_derived_members_merge_matches_independent(
    spark, executor
):
    """Round 12 (VERDICT r11 ask #4): THREE-level derived members whose
    innermost join chains differ only in spelling land in ONE merged
    plan and each demux result equals the standalone run."""
    innermost = [
        "SELECT o_orderpriority AS pri, l_quantity AS qty, l_discount AS disc"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey",
        "select o_orderpriority as pri, l_quantity as qty, l_discount as disc"
        " from lineitem join orders on l_orderkey = o_orderkey",
    ]
    mids = [
        f"SELECT pri, qty, disc FROM ({innermost[0]}) u WHERE qty >= 5",
        f"SELECT pri, qty, disc FROM ({innermost[1]}) u WHERE qty >= 5",
    ]
    inners = [
        f"SELECT pri, qty, disc FROM ({mids[0]}) m",
        f"SELECT pri, qty, disc FROM ({mids[1]}) m",
    ]
    sqls = [
        f"SELECT pri, sum(qty) AS sq FROM ({inners[0]}) t"
        " WHERE disc > 0.02 GROUP BY pri",
        f"SELECT pri, count(*) AS n FROM ({inners[1]}) v GROUP BY pri",
        f"SELECT pri, max(qty) AS mq FROM ({inners[0]}) w"
        " WHERE qty >= 25 GROUP BY pri",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_comma_from_normalizes_to_join_chain():
    """Round 12 (VERDICT r11 ask #6): comma-FROM members rewrite to an
    explicit inner chain with WHERE equi-conjuncts migrated into the
    ON, sharing signatures with their explicit-JOIN spellings; CROSS
    folds into the inner segment (CROSS ≡ JOIN ON TRUE), so comma,
    CROSS, and ON TRUE spellings all signature-match."""
    from sparksql_server_spark.server.mrshare import parse_agg_query

    a = parse_agg_query(
        "SELECT o_orderpriority, sum(l_quantity) AS sq FROM orders, lineitem"
        " WHERE o_orderkey = l_orderkey AND l_quantity >= 10"
        " GROUP BY o_orderpriority"
    )
    b = parse_agg_query(
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE l_quantity >= 10 GROUP BY o_orderpriority"
    )
    assert a is not None and b is not None
    assert a.table == b.table
    assert a.where == b.where == "l_quantity >= 10"
    # operand order insensitivity carries over from the segment model
    c = parse_agg_query(
        "SELECT o_orderpriority, sum(l_quantity) AS sq FROM lineitem, orders"
        " WHERE l_orderkey = o_orderkey AND l_quantity >= 10"
        " GROUP BY o_orderpriority"
    )
    assert c is not None and c.table == a.table
    # no equi-conjunct -> pure product; comma ≡ CROSS ≡ JOIN ON TRUE
    d = parse_agg_query(
        "SELECT count(*) AS n FROM region, nation WHERE r_name <> 'ASIA'"
    )
    e = parse_agg_query(
        "SELECT count(*) AS n FROM region CROSS JOIN nation"
        " WHERE r_name <> 'ASIA'"
    )
    f = parse_agg_query(
        "SELECT count(*) AS n FROM nation CROSS JOIN region"
        " WHERE r_name <> 'ASIA'"
    )
    g = parse_agg_query(
        "SELECT count(*) AS n FROM region JOIN nation ON TRUE"
        " WHERE r_name <> 'ASIA'"
    )
    assert d is not None and d.table == e.table == f.table == g.table
    assert d.where == "r_name <> 'ASIA'"
    # a depth-0 OR keeps every conjunct in WHERE (fragments between the
    # ANDs of a mixed-precedence predicate are NOT conjuncts)
    h = parse_agg_query(
        "SELECT count(*) AS n FROM region, nation"
        " WHERE r_regionkey = n_regionkey OR r_name = 'ASIA'"
    )
    assert h is not None
    assert h.where == "r_regionkey = n_regionkey OR r_name = 'ASIA'"
    # 3-table TPC-H comma style shares with the explicit chain
    i = parse_agg_query(
        "SELECT n_name, sum(o_totalprice) AS rev FROM customer, orders, nation"
        " WHERE c_custkey = o_custkey AND c_nationkey = n_nationkey"
        " AND o_totalprice > 1000 GROUP BY n_name"
    )
    j = parse_agg_query(
        "SELECT n_name, sum(o_totalprice) AS rev"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " WHERE o_totalprice > 1000 GROUP BY n_name"
    )
    assert i is not None and j is not None and i.table == j.table
    assert i.where == j.where == "o_totalprice > 1000"
    # declines: mixed comma+JOIN, non-bare-table operand
    assert (
        parse_agg_query(
            "SELECT count(*) AS n FROM region, nation"
            " JOIN customer ON n_nationkey = c_nationkey"
        )
        is None
    )
    assert (
        parse_agg_query("SELECT count(*) AS n FROM region, (SELECT 1 AS x) t")
        is None
    )
    # a non-column operand keeps its conjunct in WHERE (only pure
    # col = col migrates)
    k = parse_agg_query(
        "SELECT count(*) AS n FROM customer, orders"
        " WHERE c_custkey = o_custkey AND o_totalprice = 1000"
    )
    assert k is not None and k.where == "o_totalprice = 1000"


def test_comma_from_members_merge_matches_independent(spark, executor):
    """Comma-FROM members and their explicit-JOIN respellings land in
    ONE merged plan and every demux result equals its standalone run."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders, lineitem"
        " WHERE o_orderkey = l_orderkey AND l_quantity >= 10"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM lineitem, orders"
        " WHERE l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, max(l_extendedprice) AS mx"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
        " WHERE l_quantity >= 25 GROUP BY o_orderpriority",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_natural_join_signatures_resolve_from_schema():
    """Round 12 (VERDICT r11 ask #6): NATURAL [INNER] JOIN normalizes
    to ``JOIN … USING (<sorted common columns>)`` via a catalog lookup
    (schema_fn); without one — or on any unresolvable operand, zero
    common columns, or a NATURAL LEFT/RIGHT — it declines exactly as
    before."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    schemas = {
        "t1": ["k", "a", "v1"],
        "t2": ["k", "b", "v2"],
        "t3": ["k", "b", "v3"],
    }
    fn = lambda t: schemas.get(t.lower())  # noqa: E731

    a = _parse_join_from("t1 NATURAL JOIN t2", schema_fn=fn)
    b = _parse_join_from("t1 JOIN t2 USING (k)", schema_fn=fn)
    c = _parse_join_from("t1 JOIN t2 USING (k)")  # USING needs no schema
    assert a is not None and a[0] == b[0] == c[0]
    assert "using (k)" in a[1]
    # NATURAL INNER JOIN folds through the inner rewrite first
    d = _parse_join_from("t1 NATURAL INNER JOIN t2", schema_fn=fn)
    assert d is not None and d[0] == a[0]
    # multi-common columns sort — both USING orders and NATURAL share
    e = _parse_join_from("t2 NATURAL JOIN t3", schema_fn=fn)
    f = _parse_join_from("t2 JOIN t3 USING (b, k)", schema_fn=fn)
    g = _parse_join_from("t2 JOIN t3 USING (k, b)", schema_fn=fn)
    assert e is not None and e[0] == f[0] == g[0]
    # the visible column set ACCUMULATES along the chain
    h = _parse_join_from("t1 JOIN t2 USING (k) NATURAL JOIN t3", schema_fn=fn)
    i = _parse_join_from(
        "t1 JOIN t2 USING (k) JOIN t3 USING (b, k)", schema_fn=fn
    )
    assert h is not None and h[0] == i[0]
    # declines
    assert _parse_join_from("t1 NATURAL JOIN t2") is None  # no schema_fn
    assert _parse_join_from("t1 NATURAL JOIN zz", schema_fn=fn) is None
    disjoint = lambda t: {"t1": ["x"], "t2": ["y"]}.get(t)  # noqa: E731
    assert _parse_join_from("t1 NATURAL JOIN t2", schema_fn=disjoint) is None
    assert _parse_join_from("t1 NATURAL LEFT JOIN t2", schema_fn=fn) is None
    assert _parse_join_from("t1 natural_join t2", schema_fn=fn) is None


def test_natural_join_members_merge_matches_independent(spark, executor):
    """NATURAL members, their USING respellings, and operand swaps land
    in ONE merged plan (schemas resolved from the live session catalog)
    and every demux result equals its standalone run."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_a AS"
        " SELECT l_orderkey AS k, l_quantity AS qa, l_discount AS da"
        " FROM lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_b AS"
        " SELECT o_orderkey AS k, o_totalprice AS pb FROM orders"
    )
    try:
        sqls = [
            "SELECT k, sum(qa) AS s FROM nat_a NATURAL JOIN nat_b"
            " WHERE da > 0.02 GROUP BY k",
            "SELECT k, count(*) AS n FROM nat_a JOIN nat_b USING (k)"
            " GROUP BY k",
            "SELECT k, max(pb) AS m FROM nat_b NATURAL JOIN nat_a"
            " GROUP BY k",
        ]
        jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
        (bag,) = [b for b in bags if b.merges]
        assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE
    finally:
        spark.catalog.dropTempView("nat_a")
        spark.catalog.dropTempView("nat_b")


def test_derived_inner_where_conjuncts_sort(spark, executor):
    """Round 12: a derived inner's WHERE conjuncts sort (σ conjunction
    commutes) with full comparison normalization, so spelling-variant
    wrappers share one merged evaluation; the clauses after WHERE stay
    load-bearing. Demux results must equal standalone runs."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    inner_a = (
        "SELECT o_orderpriority AS pri, l_quantity AS qty,"
        " l_discount AS d FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey"
    )
    inner_b = (
        "select o_orderpriority AS pri, l_quantity AS qty,"
        " l_discount AS d from lineitem join orders"
        " on l_orderkey = o_orderkey"
    )
    w1 = _parse_derived_from(
        f"(SELECT pri, qty FROM ({inner_a}) u WHERE qty >= 5 AND d > 0.01) t"
    )
    w2 = _parse_derived_from(
        f"(SELECT pri, qty FROM ({inner_b}) u WHERE 0.01 < d AND qty >= 5) t"
    )
    assert w1 is not None and w2 is not None and w1[0] == w2[0]
    # a different predicate or a different GROUP BY still declines
    w3 = _parse_derived_from(
        f"(SELECT pri, qty FROM ({inner_a}) u WHERE qty >= 6 AND d > 0.01) t"
    )
    assert w3 is not None and w3[0] != w1[0]
    # end-to-end: the spelling variants land in ONE merged plan
    sqls = [
        f"SELECT pri, sum(qty) AS sq FROM (SELECT pri, qty, d FROM"
        f" ({inner_a}) u WHERE qty >= 5 AND d > 0.01) t GROUP BY pri",
        f"SELECT pri, count(*) AS n FROM (SELECT pri, qty, d FROM"
        f" ({inner_b}) u WHERE 0.01 < d AND qty >= 5) v GROUP BY pri",
        f"SELECT pri, max(qty) AS mq FROM (SELECT pri, qty, d FROM"
        f" ({inner_a}) u WHERE d > 0.01 AND 5 <= qty) w GROUP BY pri",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_comma_from_merged_plan_is_hash_join(spark, executor):
    """The comma-FROM rewrite's merged emission (ON TRUE filler steps,
    predicates end-loaded) must optimize to the SAME pushed hash-join
    plan as the explicit spelling: one scan per base table, no
    cartesian product, no nested-loop join — the 100 TB posture the
    rewrite claims."""
    import re as _re

    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders, lineitem, customer"
        " WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey"
        " AND l_quantity >= 10 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM customer, lineitem, orders"
        " WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    assert "ON TRUE" in plans[0].merged_sql or "ON true" in plans[0].merged_sql
    merged = spark.sql(plans[0].merged_sql)
    physical = merged._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(r"(?i)cartesian|nestedloop", physical), physical
    leaves = _re.findall(r"FileScan|BatchScan", physical)
    assert len(leaves) == 3  # one scan per base table, none duplicated


def test_derived_inner_having_conjuncts_sort():
    """Round 12: HAVING is σ over the grouped relation, so a derived
    inner's HAVING conjuncts sort with the same normalization as WHERE
    and ON; surrounding clauses stay opaque and load-bearing."""
    from sparksql_server_spark.server.mrshare import _parse_derived_from

    inner_a = (
        "SELECT o_orderpriority AS pri, sum(l_quantity) AS sq,"
        " count(*) AS n FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey GROUP BY o_orderpriority"
        " HAVING sum(l_quantity) > 100 AND count(*) > 2"
    )
    inner_b = (
        "select o_orderpriority AS pri, sum(l_quantity) AS sq,"
        " count(*) AS n from lineitem join orders"
        " on l_orderkey = o_orderkey group by o_orderpriority"
        " having count(*) > 2 and 100 < sum(l_quantity)"
    )
    a = _parse_derived_from(f"({inner_a}) t")
    b = _parse_derived_from(f"({inner_b}) t")
    assert a is not None and b is not None and a[0] == b[0]
    # a different HAVING bound declines
    c = _parse_derived_from(f"({inner_a.replace('> 100', '> 101')}) t")
    assert c is not None and c[0] != a[0]
    # a different GROUP BY (before the HAVING) declines
    d = _parse_derived_from(
        f"({inner_a.replace('GROUP BY o_orderpriority', 'GROUP BY pri')}) t"
    )
    assert d is not None and d[0] != a[0]


def test_query_organization_clauses_stay_out_of_conjunct_sets():
    """Round-12 review wave (confirmed wrong-merge repro): DISTRIBUTE
    BY / SORT BY / CLUSTER BY / WINDOW / QUALIFY text must never enter
    a sorted conjunct set — ``WHERE a=1 AND p=2 DISTRIBUTE BY x`` and
    ``WHERE p=2 DISTRIBUTE BY x AND a=1`` denote different relations
    (the second's filter is only p=2; ``x AND a=1`` is the DISTRIBUTE
    expression)."""
    from sparksql_server_spark.server.mrshare import (
        _norm_simple_comparison,
        _parse_derived_from,
    )

    a = _parse_derived_from(
        "(SELECT c FROM t1 JOIN t2 ON t1.k = t2.k"
        " WHERE a=1 AND p = 2 DISTRIBUTE BY x) t"
    )
    b = _parse_derived_from(
        "(SELECT c FROM t1 JOIN t2 ON t1.k = t2.k"
        " WHERE p = 2 DISTRIBUTE BY x AND a=1) t"
    )
    assert a is not None and b is not None and a[0] != b[0]
    # ...while conjunct swaps with IDENTICAL organization tails share
    a2 = _parse_derived_from(
        "(SELECT c FROM t1 JOIN t2 ON t1.k = t2.k"
        " WHERE p = 2 AND a=1 DISTRIBUTE BY x) t"
    )
    assert a2 is not None and a2[0] == a[0]
    # SORT BY after the ON position stays out of the join condition
    c = _parse_derived_from(
        "(SELECT c FROM t1 JOIN t2 ON t1.k = t2.k SORT BY x AND a=1) t"
    )
    d = _parse_derived_from(
        "(SELECT c FROM t1 JOIN t2 ON a=1 AND t1.k = t2.k SORT BY x) t"
    )
    assert c is not None and d is not None and c[0] != d[0]
    # the clause keywords are operand-unsafe (defense in depth)
    assert _norm_simple_comparison("p = 2 distribute by x") is None
    assert _norm_simple_comparison("p = 2 sort by x") is None


def test_norm_bool_tree_depth_backstop():
    """Round-12 review wave: pathological paren nesting must fall back
    to the opaque canon (narrowing sharing), never raise RecursionError
    out of plan_merges and kill the batch."""
    from sparksql_server_spark.server.mrshare import _norm_bool_tree

    deep = "a=b"
    for _ in range(1000):
        deep = f"a=b OR ({deep})"
    assert _norm_bool_tree(deep) is None  # no RecursionError
    mod = "a=b"
    for _ in range(30):
        mod = f"c=d AND ({mod})"
    assert _norm_bool_tree(mod) is not None  # moderate depth still admits


def test_natural_join_declines_after_semi_anti():
    """Round-12 review wave: a SEMI/ANTI right side contributes no
    visible columns, so a later NATURAL step must not resolve its
    common set against them — it declines instead of emitting an
    unresolvable USING list."""
    from sparksql_server_spark.server.mrshare import _parse_join_from

    schemas = {
        "a": ["id", "x"],
        "b": ["id", "j"],
        "c": ["j", "y"],
        "t1": ["k", "a", "v1"],
        "t2": ["k", "b", "v2"],
    }
    fn = lambda t: schemas.get(t.lower())  # noqa: E731

    assert (
        _parse_join_from("a SEMI JOIN b ON a.id = b.id NATURAL JOIN c", schema_fn=fn)
        is None
    )
    assert (
        _parse_join_from("a ANTI JOIN b ON a.id = b.id NATURAL JOIN c", schema_fn=fn)
        is None
    )
    # NATURAL before the semi still resolves
    r = _parse_join_from("t1 NATURAL JOIN t2 SEMI JOIN b ON t1.k = b.id", schema_fn=fn)
    assert r is not None and "using (k)" in r[1]


def test_scalar_subquery_member_never_merges():
    """Round-12 wrong-merge regression: a member whose select item is a
    scalar subquery ``(SELECT max(..) FROM t)`` returns one value PER
    OUTER ROW (N rows), but classifying the embedded call as an outer
    aggregate merged it with true aggregations on the same table — the
    demux then read a 1-row global-agg view. The member must stay off
    the merge path entirely."""
    sub = "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region"
    agg = "SELECT count(*) AS n FROM region"
    jobs = [QueryJob(job_id=1, sql=sub), QueryJob(job_id=2, sql=agg)]
    assert plan_merges(jobs) == []
    # and the batch still merges once the offender is out
    jobs = [
        QueryJob(job_id=2, sql=agg),
        QueryJob(job_id=3, sql="SELECT sum(r_regionkey) AS s FROM region"),
    ]
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2


def test_lambda_members_decline_everywhere():
    """Round-12 review wave: a higher-order-function lambda parameter
    can shadow the table alias — stripping the qualifier rewrites
    ``x -> x.f`` to ``x -> f``, a DIFFERENT valid expression (the
    outer column). Both parsers decline any statement with a lambda
    arrow outside string literals."""
    from sparksql_server_spark.server.mrshare import (
        parse_select_query,
        semantic_result_key,
    )

    agg = (
        "SELECT sum(aggregate(arr, 0, (acc, x) -> acc + x.f)) AS s"
        " FROM t x"
    )
    assert parse_agg_query(agg) is None
    sel = "SELECT transform(arr, x -> x.f) AS r FROM t x"
    assert parse_select_query(sel) is None
    assert semantic_result_key(sel) is None
    # an arrow INSIDE a string literal is data, not a lambda
    ok = "SELECT count(*) AS n FROM t WHERE k <> 'a->b'"
    assert parse_agg_query(ok) is not None


def test_malformed_lists_decline():
    """Round-12 review wave: _split_top drops empty segments, so
    ``SELECT a, b, FROM t`` would key/merge equal to the valid
    spelling and mask the engine's ParseException."""
    from sparksql_server_spark.server.mrshare import (
        parse_select_query,
        semantic_result_key,
    )

    assert parse_agg_query(
        "SELECT l_returnflag, count(*) AS n, FROM lineitem GROUP BY l_returnflag"
    ) is None
    assert parse_agg_query(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag,"
    ) is None
    assert parse_select_query("SELECT a, b, FROM t") is None
    assert parse_select_query("SELECT a, , b FROM t") is None
    assert parse_select_query("SELECT a FROM t ORDER BY a,") is None
    k1 = semantic_result_key("SELECT a, b, FROM t")
    assert k1 is None


def test_cte_inlines_to_derived_form():
    """Round 12: a single non-recursive CTE referenced exactly once in
    relation position inlines to the derived-table form, so the CTE
    spelling shares signatures (and a merged evaluation) with the
    derived-table spellings BI tools emit interchangeably."""
    from sparksql_server_spark.server.mrshare import (
        parse_select_query,
        semantic_result_key,
    )

    cte = (
        "WITH x AS (SELECT l_orderkey, l_quantity FROM lineitem"
        " WHERE l_tax < 0.05)"
        " SELECT l_orderkey, sum(l_quantity) AS s FROM x GROUP BY l_orderkey"
    )
    der = (
        "SELECT l_orderkey, sum(l_quantity) AS s FROM"
        " (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_tax < 0.05) x"
        " GROUP BY l_orderkey"
    )
    p1, p2 = parse_agg_query(cte), parse_agg_query(der)
    assert p1 is not None and p2 is not None
    assert p1.signature == p2.signature
    # the select shape gains WITH through the same rewrite
    cs = (
        "WITH x AS (SELECT r_regionkey AS k, r_name AS n FROM region)"
        " SELECT k, n FROM x WHERE k > 1"
    )
    ds = (
        "SELECT k, n FROM"
        " (SELECT r_regionkey AS k, r_name AS n FROM region) x WHERE 1 < k"
    )
    assert semantic_result_key(cs) is not None
    assert semantic_result_key(cs) == semantic_result_key(ds)
    # CTE as a JOIN operand admits via the derived-operand machinery
    assert parse_agg_query(
        "WITH x AS (SELECT o_orderkey AS k FROM orders)"
        " SELECT count(*) AS c FROM lineitem JOIN x ON l_orderkey = x.k"
    ) is not None


def test_cte_declines():
    """Anything but the exact once-referenced single-CTE shape leaves
    the statement untouched (and the parsers then decline WITH)."""
    for sql in (
        "WITH RECURSIVE x AS (SELECT 1 AS n) SELECT count(*) AS c FROM x",
        "WITH x AS (SELECT 1 AS n), y AS (SELECT 2 AS m)"
        " SELECT count(*) AS c FROM x",
        "WITH x AS (SELECT l_orderkey AS k FROM lineitem)"
        " SELECT count(*) AS c FROM x JOIN x ON 1=1",
        "WITH x AS (SELECT k FROM x) SELECT count(*) AS c FROM x",
        # bare occurrence outside relation position (a select-list
        # column sharing the CTE name) must decline, not rewrite
        "WITH x AS (SELECT 1 AS n) SELECT x, count(*) AS c FROM x GROUP BY x",
        # nondeterministic body — the derived gate's cacheable bar
        "WITH x AS (SELECT rand() AS r FROM region)"
        " SELECT count(*) AS c FROM x",
    ):
        assert parse_agg_query(sql) is None, sql


def test_cte_members_merge_matches_independent(spark, executor):
    """CTE, derived-table, and conjunct-respelled CTE spellings of one
    aggregation land in ONE merged plan; every demux equals its
    standalone run."""
    inner = (
        "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem"
        " WHERE l_tax < 0.05"
    )
    sqls = [
        f"WITH x AS ({inner}) SELECT l_orderkey, sum(l_quantity) AS sq"
        " FROM x WHERE l_quantity >= 10 GROUP BY l_orderkey",
        f"SELECT l_orderkey, count(*) AS n FROM ({inner}) x"
        " WHERE l_quantity >= 10 GROUP BY l_orderkey",
        f"WITH x AS ({inner}) SELECT l_orderkey, max(l_extendedprice) AS mx"
        " FROM x WHERE 10 <= l_quantity GROUP BY l_orderkey",
    ]
    jobs, bags = _run_and_compare(spark, executor, sqls, {0, 1, 2})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1 and bag.rewrite is RewriteKind.MRSHARE


def test_multi_cte_inlines_chain_and_join():
    """Round 12: multiple CTEs admit when each name has exactly one
    relation use in a strictly later scope — the staged chain
    (``b`` reads ``a``) nests derived tables, the join-of-CTEs
    spelling becomes derived join operands, and both share signatures
    with their fully-inlined spellings."""
    from sparksql_server_spark.server.mrshare import _inline_single_cte

    chain = (
        "WITH a AS (SELECT l_orderkey AS k, l_quantity AS q FROM lineitem),"
        " b AS (SELECT k, q * 2 AS w FROM a)"
        " SELECT k, sum(w) AS s FROM b GROUP BY k"
    )
    inline = (
        "SELECT k, sum(w) AS s FROM"
        " (SELECT k, q * 2 AS w FROM"
        " (SELECT l_orderkey AS k, l_quantity AS q FROM lineitem) a) b"
        " GROUP BY k"
    )
    p1, p2 = parse_agg_query(chain), parse_agg_query(inline)
    assert p1 is not None and p2 is not None
    assert p1.signature == p2.signature
    # join of two CTEs -> derived join operands
    assert _inline_single_cte(
        "WITH a AS (SELECT k FROM t1), b AS (SELECT k FROM t2)"
        " SELECT count(*) AS c FROM a JOIN b ON a.k = b.k"
    ) == (
        "SELECT count(*) AS c FROM (SELECT k FROM t1) a"
        " JOIN (SELECT k FROM t2) b ON a.k = b.k"
    )
    # declines: double reference, forward reference, column-list head,
    # duplicate names, too many bodies
    for sql in (
        "WITH a AS (SELECT k FROM t), b AS (SELECT k FROM a)"
        " SELECT a.k FROM a JOIN b ON a.k = b.k",
        "WITH a AS (SELECT k FROM b), b AS (SELECT 1 AS k)"
        " SELECT k FROM a",
        "WITH a (c1) AS (SELECT 1) SELECT c1 FROM a",
        "WITH a AS (SELECT 1 AS k), a AS (SELECT 2 AS k) SELECT k FROM a",
    ):
        assert _inline_single_cte(sql) is None, sql


def test_is_distinct_from_never_misread_as_relation_use():
    """Round-12 review: `x IS [NOT] DISTINCT FROM a` is the one
    depth-0 FROM that introduces no relation — substituting there
    would rewrite a column comparison into a scalar-subquery
    comparison inside an opaque derived inner, where no downstream
    bar catches it."""
    from sparksql_server_spark.server.mrshare import (
        _inline_single_cte,
        semantic_result_key,
    )

    q = (
        "WITH a AS (SELECT 1 AS k),"
        " b AS (SELECT x FROM t WHERE x IS DISTINCT FROM a AND y = 1)"
        " SELECT x, count(*) AS c FROM b GROUP BY x"
    )
    assert _inline_single_cte(q) is None
    assert semantic_result_key(q) is None
    assert _inline_single_cte(
        "WITH a AS (SELECT 1 AS k) SELECT x, count(*) AS c FROM t"
        " WHERE x IS NOT DISTINCT FROM a GROUP BY x"
    ) is None
