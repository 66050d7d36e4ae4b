"""MRShare merge tests (server/mrshare.py ≙ SURVEY §2 B8).

Reference parity: MRShareOptimizer.scala:32-150 merged same-scan jobs
into one tagged job; its own evaluation measured a regression
(report.pdf ch.5 Table 5.1) and it was dropped from the shipped
pipeline. Our declarative rebuild must therefore prove BOTH halves:
(a) merged results are EXACTLY the per-query results (every test here
compares against independent unmerged runs), and (b) the merge only
fires in the regime where it cannot lose (same grouping signature).
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
from sparksql_server_spark.plans.catalyst import analyzed
from sparksql_server_spark.server.mrshare import (
    AggShape,
    build_merge,
    plan_merges,
    read_plan,
)
from sparksql_server_spark.server.scheduler import classify
from sparksql_server_spark.server.server import source_view_map
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _tables(spark):
    """Plan-level tests resolve statements against the sf0.001 views."""
    register_tables(spark, SF_DIR)


# ---------------------------------------------------------------------------
# parser: accepted shape


def test_parse_canonical_shape(spark):
    s = _read(
        spark,
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq, "
        "count(*) AS n, count(DISTINCT l_suppkey) AS ns "
        "FROM lineitem WHERE l_discount > 0.02 "
        "GROUP BY l_returnflag, l_linestatus",
    )
    assert isinstance(s, AggShape) and s.grouped
    assert s.post == [] and s.where is not None
    assert s.agg.groupingExpressions().size() == 2
    assert s.agg.aggregateExpressions().size() == 5
    assert s.n_distinct_aggs == 1


def test_parse_expression_wrapped_aggregates(spark):
    """The TPC-H q1 shape: scalar computation AROUND aggregate calls
    (CAST, arithmetic over two sums) reads as the mergeable shape; a
    nested aggregate is rejected by Spark's analysis before any read."""
    s = _read(
        spark,
        "SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q,"
        " sum(l_extendedprice * (1 - l_discount)) / count(*) AS avg_net"
        " FROM lineitem GROUP BY l_returnflag",
    )
    assert isinstance(s, AggShape) and s.agg.aggregateExpressions().size() == 3
    with pytest.raises(Exception):
        spark.sql(
            "SELECT l_returnflag, sum(count(l_tax)) AS s FROM lineitem GROUP BY l_returnflag"
        )


def test_parse_expression_key_and_case_folding(spark):
    a = (
        "SELECT substr(l_linestatus, 1, 2) AS m, max(l_tax) AS t "
        "FROM lineitem GROUP BY substr(l_linestatus, 1, 2)"
    )
    b = (
        "SELECT SUBSTR(l_linestatus,1,2) AS m, max(l_tax) AS t "
        "FROM lineitem GROUP BY SUBSTR(l_linestatus,  1,2)"
    )
    assert _merge_sets(spark, [a, b]) == [[0, 1]]  # keys equal as expressions
    # ...but string literals stay case-SENSITIVE
    c = _read(
        spark,
        "SELECT l_linestatus AS m, count(*) AS n FROM lineitem "
        "WHERE l_returnflag = 'A' GROUP BY l_linestatus",
    )
    d = _read(
        spark,
        "SELECT l_linestatus AS m, count(*) AS n FROM lineitem "
        "WHERE l_returnflag = 'a' GROUP BY l_linestatus",
    )
    assert not c.where.semanticEquals(d.where)


@pytest.mark.parametrize(
    "sql",
    [
        # joins, presentation clauses, subqueries, ordinal and ALL
        # grouping, unaliased items, windows and commands
        "SELECT c_name, count(*) AS n FROM customer c NATURAL JOIN orders o GROUP BY c_name",
        "SELECT l_orderkey, count(*) AS n FROM lineitem a JOIN lineitem b USING (l_orderkey + 1) GROUP BY l_orderkey",
        "SELECT c_name, count(*) AS n FROM customer c, (SELECT 1 AS x) t WHERE c_custkey = x GROUP BY c_name",
        "SELECT c_name, count(*) AS n FROM customer c JOIN (SELECT c_custkey FROM orders) ON c_custkey = c_custkey GROUP BY c_name",
        "SELECT c_name, count(*) AS n FROM customer c JOIN (SELECT o_custkey, rand() AS r FROM orders) o2 ON c_custkey = o2.o_custkey GROUP BY c_name",
        "SELECT c_name, count(*) AS n FROM customer c CROSS JOIN orders o ON c_custkey = o_custkey GROUP BY c_name",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_tax",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag LIMIT ALL",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag LIMIT 5 + 1",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag HAVING n IN (SELECT 1)",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag HAVING sum(count(*)) > 5",
        "SELECT l_returnflag, count(*) AS `n` FROM lineitem GROUP BY l_returnflag ORDER BY `n`",
        "SELECT l_returnflag, count(*) AS __m0_1 FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem ORDER BY n GROUP BY l_returnflag",
        "SELECT DISTINCT l_returnflag FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, sum(sum(l_quantity)) OVER () AS s FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders) GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY ALL",
        "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag",
        "SELECT substr(l_shipmode,1,2), count(*) AS n FROM lineitem GROUP BY substr(l_shipmode,1,2)",
        "SELECT l_returnflag, l_tax, count(*) AS n FROM lineitem GROUP BY l_returnflag",
        "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region",
        "SELECT (SELECT max(r_regionkey) FROM nation) AS m, count(*) AS n FROM region",
        "SELECT (SELECT 1) AS g, count(*) AS n FROM region GROUP BY (SELECT 1)",
        "SELECT l_returnflag FROM lineitem",
        "CACHE TABLE lineitem",
    ],
)
def test_parse_declines(spark, executor, sql):
    _never_wrong(spark, executor, sql)


def test_parse_global_aggregate(spark):
    """No GROUP BY = global aggregation: an empty key set."""
    s = _read(
        spark,
        "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.02",
    )
    assert isinstance(s, AggShape) and not s.grouped and s.where is not None


def test_keyword_inside_string_literal_is_not_structural(spark):
    s = _read(
        spark,
        "SELECT l_linestatus AS m, count(*) AS n FROM lineitem "
        "WHERE l_returnflag LIKE '%order by%' GROUP BY l_linestatus",
    )
    assert isinstance(s, AggShape) and s.post == []
    assert "%order by%" in s.where.sql()


def test_backslash_escaped_quote_does_not_flip_string_state(spark):
    """Spark's lexer reads ``'don\\'t group by'`` as ONE literal; the
    plan reader sees the lexed plan, so the keyword inside stays data."""
    s = _read(
        spark,
        r"SELECT l_linestatus AS m, count(*) AS n FROM lineitem "
        r"WHERE l_returnflag LIKE '%don\'t group by%' GROUP BY l_linestatus",
    )
    assert isinstance(s, AggShape)
    assert "t group by%" in s.where.sql()
    assert s.agg.groupingExpressions().size() == 1


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
    bags = executor.run_batch_and_wait(jobs)
    merged = {j.job_id for b in bags for mp in b.merges for j in mp.jobs}
    assert merged == set(expect_merged_ids)
    for job, exp in zip(jobs, expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(_null_safe(job.rows), exp), f"job {job.job_id} rows diverge"
    return jobs, bags


def _spellings(spark, executor, groups):
    """Run every statement of ``groups`` in one batch: each group of two
    or more merges into ONE plan, no plan spans two groups, and every
    member's rows equal its standalone run."""
    sqls = [q for g in groups for q in g]
    ids, i = [], 0
    for g in groups:
        ids.append(set(range(i, i + len(g))))
        i += len(g)
    want = [s for s in ids if len(s) > 1]
    jobs, bags = _run_and_compare(spark, executor, sqls, set().union(*want))
    got = [{j.job_id for j in mp.jobs} for b in bags for mp in b.merges]
    assert sorted(map(sorted, got)) == sorted(map(sorted, want))
    return jobs


def _read(spark, sql):
    """The plan reader's verdict on ``sql``: a shape or a decline reason."""
    return read_plan(analyzed(spark.sql(sql)))


def _analyzed_jobs(spark, sqls):
    return [
        QueryJob(job_id=i, sql=q, plan=analyzed(spark.sql(q)))
        for i, q in enumerate(sqls)
    ]


def _merged_physical(spark, sqls) -> str:
    """Executed plan of the merged aggregate over ``sqls``' members."""
    merged, _ = build_merge(spark, [_read(spark, q) for q in sqls])
    return merged._jdf.queryExecution().executedPlan().toString()


def _never_wrong(spark, executor, sql):
    """``sql`` never merges wrongly: it is a command (never read: it
    carries no plan), rejected by Spark's own analysis (the job fails
    exactly as standalone), declined by the plan reader with a reason,
    or read as the mergeable shape — and then an identical twin merges
    with it and both return the standalone rows."""
    if not classify(spark, sql)[0]:
        return
    try:
        verdict = _read(spark, sql)
    except Exception:
        return
    if isinstance(verdict, str):
        assert verdict
        return
    # only file-reading twins share a bag (and so a merge)
    reads_files = bool(spark.sql(sql).inputFiles())
    _run_and_compare(spark, executor, [sql, sql], {0, 1} if reads_files else set())


def _merge_sets(spark, sqls):
    """Member indices plan_merges puts in one plan (no cost split)."""
    plans = plan_merges(_analyzed_jobs(spark, sqls), cost_split=False)
    return sorted(sorted(j.job_id for j in mp.jobs) for mp in plans)


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
    assert len(bag.merges) == 1
    assert bag.rewrite is RewriteKind.MRSHARE
    assert executor.stats["mrshare_demux_fallbacks"] == 0


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


def test_parse_presentation_clauses(spark):
    p = (
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.01 GROUP BY l_returnflag"
        " HAVING sum(l_quantity) > 10 ORDER BY q DESC, l_returnflag LIMIT 3"
    )
    s = _read(spark, p)
    assert [n.getClass().getSimpleName() for n in s.post] == [
        "GlobalLimit", "LocalLimit", "Sort", "Filter",
    ]
    # presentation clauses do NOT change what merges
    q = (
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.01 GROUP BY l_returnflag"
    )
    assert _merge_sets(spark, [p, q]) == [[0, 1]]


def test_parse_aliased_table_strips_qualifier(spark):
    """FROM lineitem l / FROM lineitem AS l / FROM lineitem: the alias
    is a SubqueryAlias that canonicalization erases, so all three read
    one relation and merge."""
    sqls = [
        "SELECT l.l_returnflag, sum(l.l_quantity) AS q FROM lineitem l"
        " WHERE l.l_discount > 0.02 GROUP BY l.l_returnflag",
        "SELECT li.l_returnflag, sum(li.l_quantity) AS q FROM lineitem AS li"
        " WHERE li.l_discount > 0.02 GROUP BY li.l_returnflag",
        "SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem"
        " WHERE l_discount > 0.02 GROUP BY l_returnflag",
    ]
    assert _merge_sets(spark, sqls) == [[0, 1, 2]]


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
    """Presentation clauses on members with DIFFERENT grouping keys:
    they never merge (the GROUPING SETS form is retired) and each still
    equals its standalone run."""
    sqls = [
        "SELECT o_orderstatus, count(*) AS n FROM orders"
        " GROUP BY o_orderstatus HAVING count(*) > 1 ORDER BY n DESC, o_orderstatus LIMIT 2",
        "SELECT o_orderpriority, sum(o_totalprice) AS s FROM orders"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ]
    _run_and_compare(spark, executor, sqls, set())


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
    """Catalyst resolves a bare select alias in HAVING (``HAVING n > 5``)
    to the aggregate it names, so such members no longer need a text
    decline: they merge, and each returns its standalone rows; group-key
    references in HAVING merge as well."""
    sqls = [
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " GROUP BY l_returnflag HAVING n > 5",
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " GROUP BY l_returnflag HAVING l_returnflag <> 'N'",
        "SELECT l_returnflag, max(l_tax) AS t FROM lineitem GROUP BY l_returnflag",
    ]
    _run_and_compare(spark, executor, sqls, {0, 1, 2})


def test_having_reuses_selected_aggregate_column(spark):
    """HAVING count(*) > 5 with count(*) AS n selected must NOT widen
    the merged aggregate with a duplicate column: Catalyst's analyzer
    already points the HAVING at ``n``."""
    merged, _ = build_merge(
        spark,
        [
            _read(
                spark,
                "SELECT l_returnflag, count(*) AS n FROM lineitem"
                " GROUP BY l_returnflag HAVING count(*) > 5",
            ),
            _read(
                spark,
                "SELECT l_returnflag, sum(l_tax) AS t FROM lineitem"
                " GROUP BY l_returnflag",
            ),
        ],
    )
    assert merged.columns == ["l_returnflag", "n", "t"]


@pytest.fixture()
def lineitem_big(spark, executor):
    """bench.py's MRShare batches at test scale: ``lineitem_big``
    aliased to ``lineitem``. The executor fixture already runs with
    mrshare_min_bytes=0."""
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
    assert len(bag.merges) == 1


def test_grouping_sets_bound_declines(spark):
    """5 distinct grouping signatures over one table: members merge only
    on an equal signature (the GROUPING SETS form is retired), so
    nothing merges and everything answers correctly unmerged."""
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        mrshare_min_bytes=0,  # isolate the signature rule from size admission
    )
    cols = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey", "o_orderkey"]
    sqls = [
        f"SELECT {c} AS k, count(*) AS n FROM orders GROUP BY {c}" for c in cols
    ]
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
    bags = ex.run_batch_and_wait(jobs)
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
    bags = executor.run_batch_and_wait(jobs)
    merged = {j.job_id for b in bags for mp in b.merges for j in mp.jobs}
    assert len(merged) == 2, "a feasible D=2 pair merges; the third runs alone"
    for job, exp in zip(jobs, expected):
        assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert _rows_equal(sorted(job.rows), exp)


def test_unmergeable_shapes_run_normal_path(spark, executor):
    sqls = [
        SAME_SIG[0],
        SAME_SIG[1],
        "SELECT l_returnflag, count(*) AS n, sum(sum(l_quantity)) OVER () AS tot"
        " FROM lineitem GROUP BY l_returnflag",  # window function — declined
    ]
    jobs, _ = _run_and_compare(spark, executor, sqls, {0, 1})
    assert jobs[2].merge_declined == "window"


def test_merged_sink_output(tmp_path, spark, executor):
    out = str(tmp_path / "merged_sink.parquet")
    jobs = [
        QueryJob(job_id=0, sql=SAME_SIG[0], props={"output": out}),
        QueryJob(job_id=1, sql=SAME_SIG[1]),
    ]
    bags = executor.run_batch_and_wait(jobs)
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
    bags = executor.run_batch_and_wait(jobs)
    assert all(not b.merges for b in bags)
    for job in jobs:
        assert job.status is JobStatus.DONE, job.error


def test_merged_relation_released_after_batch(spark, executor):
    """Hygiene gate: the persisted merged aggregate must not survive
    the batch (it would bypass the CacheManager budget — VERDICT r3
    wrong #1 applies to the server itself too)."""
    before = persistent_rdd_ids(spark)
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    executor.run_batch_and_wait(jobs)
    assert all(j.status is JobStatus.DONE for j in jobs)
    leaked = persistent_rdd_ids(spark) - before
    assert leaked == set(), f"merge leaked persistent RDDs: {leaked}"
    # and the temp view is gone
    views = {t.name for t in spark.catalog.listTables() if t.tableType == "TEMPORARY"}
    assert not any(v.startswith("mrshare_") for v in views)


def test_merged_relation_released_by_members_under_overlap(spark, executor):
    """Batches overlap: a merge's members finish while the next batch's
    job still runs, and the last of them releases the merged relation —
    the release waits for neither the loop nor the later batch."""
    before = persistent_rdd_ids(spark)
    members = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
    # ~6k lineitem rows x 2 ms of sleep: outlives the members by far
    slow = QueryJob(
        job_id=99,
        sql="SELECT max(z) AS z"
        " FROM (SELECT sleep_ms(l_linenumber, 2) AS z FROM lineitem)",
    )
    bags = executor.run_batch(members)
    assert any(b.merges for b in bags)
    executor.run_batch([slow])
    try:
        for job in members:
            assert job.done_event.wait(120)
            assert job.status is JobStatus.DONE, f"job {job.job_id}: {job.error}"
        assert not slow.done_event.is_set()  # batch k+1 still runs
        assert persistent_rdd_ids(spark) == before
    finally:
        executor.cancel(slow)
        slow.done_event.wait(60)
    assert persistent_rdd_ids(spark) == before


def test_each_merge_released_once_by_concurrent_members():
    """Members of many merges leave from more threads than cores with a
    short switch interval: every merged relation is released exactly
    once, by the last of its members."""
    import sys
    import threading

    from sparksql_server_spark.server.mrshare import MergePlan

    class Relation:
        def __init__(self) -> None:
            self.unpersists = 0

        def unpersist(self) -> None:
            self.unpersists += 1

    ex = BatchExecutor(None, cache=CacheManager(None))
    merges = []
    for m in range(200):
        mp = MergePlan(jobs=[QueryJob(job_id=m * 4 + i, sql="") for i in range(4)])
        mp.df = Relation()
        merges.append(mp)
        for job in mp.jobs:
            ex._merge_of[id(job)] = mp
    relations = [mp.df for mp in merges]
    members = [job for mp in merges for job in mp.jobs]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda k=k: [
                ex._leave_merge(j) for j in members[k::16]
            ])
            for k in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
        ex.close()
    assert [r.unpersists for r in relations] == [1] * len(merges)
    assert not ex._merge_of and all(mp.df is None for mp in merges)


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
    bags = ex.run_batch_and_wait(jobs)
    assert all(not b.merges for b in bags)
    for job in jobs:
        # priced under the floor before any plan was read
        assert job.status is JobStatus.DONE and job.merge_declined is None


def test_disabled_flag_runs_unmerged(spark):
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        enable_mrshare=False,
    )
    jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG[:2])]
    bags = ex.run_batch_and_wait(jobs)
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


def test_merged_plan_scans_table_once(spark, executor):
    """The point of the merge: the merged aggregate's physical plan
    contains exactly ONE scan of the shared table."""
    plans = plan_merges(_analyzed_jobs(spark, SAME_SIG))
    assert len(plans) == 1 and len(plans[0].jobs) == 4
    physical = _merged_physical(spark, SAME_SIG)
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


def test_parse_join_chain_shapes(spark):
    alt = STAR_JOIN[0].replace("JOIN orders", "INNER JOIN orders")
    other = STAR_JOIN[1].replace(
        "ON l_orderkey = o_orderkey", "ON l_orderkey = o_orderkey AND l_tax > 0"
    )
    # identical chain and its INNER spelling merge; a different ON
    # condition is a different relation
    assert _merge_sets(spark, [STAR_JOIN[0], STAR_JOIN[1], alt, other]) == [[0, 1, 2]]


def test_star_join_members_merge_matches_independent(spark, executor):
    jobs, bags = _run_and_compare(spark, executor, STAR_JOIN, {0, 1})
    (bag,) = [b for b in bags if b.merges]
    assert len(bag.merges) == 1
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
    jobs = _analyzed_jobs(spark, sqls)
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
    jobs = _analyzed_jobs(spark, sqls)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 6
    _run_and_compare(spark, executor, sqls, {0, 1, 2, 3, 4, 5})


def test_dp_member_cap_bounds_plan_width(spark):
    """|group| > max_members_per_merge is infeasible as one plan: 12
    members under a cap of 5 split into ceil(12/5)-ish merged plans,
    every one within the cap, all members still merged somewhere."""
    sqls = [_light_member(i) for i in range(12)]
    jobs = _analyzed_jobs(spark, sqls)
    plans = plan_merges(jobs, max_members_per_merge=5)
    assert all(len(mp.jobs) <= 5 for mp in plans)
    assert sorted(j.job_id for mp in plans for j in mp.jobs) == list(range(12))
    assert len(plans) == 3


def test_dp_all_light_bag_still_merges_flat(spark):
    sqls = [_light_member(i) for i in range(10)]
    jobs = _analyzed_jobs(spark, sqls)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 10


def test_nondeterministic_member_never_merges(spark):
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
    jobs = _analyzed_jobs(spark, [nondet, nondet, *det])
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


def test_parse_left_join_chain_shapes(spark):
    alt = LEFT_STAR[0].replace("LEFT JOIN", "LEFT OUTER JOIN")
    inner = LEFT_STAR[0].replace("LEFT JOIN", "JOIN")
    full = LEFT_STAR[0].replace("LEFT", "FULL OUTER")
    right = LEFT_STAR[0].replace("LEFT", "RIGHT")  # keeps orders, not customers
    sqls = [LEFT_STAR[0], LEFT_STAR[1], alt, inner, full, right]
    # the join TYPE is part of the relation: only the LEFT spellings merge
    assert _merge_sets(spark, sqls) == [[0, 1, 2]]


def test_parse_right_join_normalizes_to_left(spark):
    """A RIGHT join reads as the mirrored LEFT join (plans/catalyst.py
    order_joins), so RIGHT and LEFT spellings of one relation merge."""
    sqls = [
        "SELECT c_mktsegment, count(o_orderkey) AS n FROM orders o"
        " RIGHT JOIN customer c ON c_custkey = o_custkey GROUP BY c_mktsegment",
        "SELECT c_mktsegment, sum(o_totalprice) AS s FROM customer c"
        " LEFT JOIN orders o ON c_custkey = o_custkey GROUP BY c_mktsegment",
        "SELECT c_mktsegment, count(*) AS m FROM orders o"
        " RIGHT OUTER JOIN customer c ON c_custkey = o_custkey"
        " GROUP BY c_mktsegment",
    ]
    assert _merge_sets(spark, sqls) == [[0, 1, 2]]


def test_parse_using_join_admitted(spark):
    """USING joins read as the mergeable shape; case/space variants of
    one USING list merge, while the ON spelling (whose key column is
    not the coalesced USING column) stays a different relation."""
    sqls = [
        "SELECT l_orderkey, count(*) AS n FROM lineitem a"
        " JOIN lineitem b USING (l_orderkey) GROUP BY l_orderkey",
        "SELECT l_orderkey, max(b.l_tax) AS mt FROM lineitem a"
        " JOIN lineitem b USING ( L_ORDERKEY ) GROUP BY l_orderkey",
        "SELECT a.l_orderkey AS l_orderkey, count(*) AS n FROM lineitem a"
        " JOIN lineitem b ON a.l_orderkey = b.l_orderkey GROUP BY a.l_orderkey",
    ]
    assert _merge_sets(spark, sqls) == [[0, 1]]
    lu = _read(
        spark,
        "SELECT l_orderkey, count(*) AS n FROM lineitem a"
        " LEFT JOIN lineitem b USING (l_orderkey) GROUP BY l_orderkey",
    )
    assert isinstance(lu, AggShape)


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

    jobs = _analyzed_jobs(spark, LEFT_STAR)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    physical = _merged_physical(spark, [j.sql for j in plans[0].jobs])
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

    jobs = _analyzed_jobs(spark, STAR_JOIN)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    physical = _merged_physical(spark, [j.sql for j in plans[0].jobs])
    leaves = _re.findall(r"FileScan|BatchScan", physical)
    assert len(leaves) == 2
    assert physical.count("lineitem.parquet") == 1
    assert physical.count("orders.parquet") == 1


# ---------------------------------------------------------------------------
# round-8b widening: FULL / SEMI / ANTI / CROSS admission


def test_parse_full_semi_anti_cross_join_shapes(spark):
    semi = (
        "SELECT o_orderpriority, count(*) AS n FROM orders o"
        " LEFT SEMI JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o_orderpriority"
    )
    bare_semi = semi.replace("LEFT SEMI", "SEMI")
    anti = semi.replace("LEFT SEMI", "ANTI")
    # bare SEMI == LEFT SEMI; ANTI never merges with SEMI
    assert _merge_sets(spark, [semi, bare_semi, anti]) == [[0, 1]]
    cross = (
        "SELECT r_name, count(*) AS n FROM region r CROSS JOIN nation n"
        " GROUP BY r_name"
    )
    assert isinstance(_read(spark, cross), AggShape)
    # FULL commutes: both operand orders merge
    full = [
        "SELECT r_name, count(*) AS n FROM region r"
        " FULL JOIN nation n ON n_regionkey = r_regionkey GROUP BY r_name",
        "SELECT r_name, max(n_name) AS m FROM nation n"
        " FULL JOIN region r ON n_regionkey = r_regionkey GROUP BY r_name",
    ]
    assert _merge_sets(spark, full) == [[0, 1]]


def test_join_keywords_inside_literals_survive(spark):
    """Keywords and whitespace inside literals are data: members that
    differ only inside a literal never merge."""
    sqls = [
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_orderstatus = 'a b' AND c_custkey = o_custkey",
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_orderstatus = 'a  b' AND c_custkey = o_custkey",
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_orderstatus = 'a right join b' AND c_custkey = o_custkey",
        "SELECT count(*) AS n FROM customer c JOIN orders o"
        " ON o_orderstatus = 'a right_join b' AND c_custkey = o_custkey",
    ]
    assert _merge_sets(spark, sqls) == []


def test_signature_token_in_member_text_declines(spark):
    """Text spelling a join keyword as an identifier (``a left_join b``)
    is not SQL: Spark rejects it at analysis, so the job fails as it
    would standalone and the plan reader never sees it."""
    bad = [
        "SELECT count(*) AS n FROM customer left_join orders on c_custkey = o_custkey",
        "SELECT count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey"
        " semi_join nation on c_nationkey = n_nationkey",
    ]
    for sql in bad:
        with pytest.raises(Exception):
            spark.sql(sql)


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
    jobs = _analyzed_jobs(spark, FULL_STAR)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    physical = _merged_physical(spark, [j.sql for j in plans[0].jobs])
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


def test_inner_join_order_canonicalization_signatures(spark):
    """Operand order of a two-table inner or FULL join is erased, and
    RIGHT mirrors to LEFT; LEFT, SEMI and ANTI operands stay ordered,
    and a different ON condition is a different relation."""
    head = "SELECT o_orderpriority, count(*) AS n FROM "
    tail = " GROUP BY o_orderpriority"
    froms = [
        "customer c JOIN orders o ON c_custkey = o_custkey",
        "orders o JOIN customer c ON c_custkey = o_custkey",
        "customer AS x JOIN orders o ON x.c_custkey = o_custkey",
        "customer c JOIN orders o ON c_custkey = o_custkey AND o_totalprice > 5",
    ]
    assert _merge_sets(spark, [head + f + tail for f in froms]) == [[0, 1, 2]]
    left = [
        "customer c LEFT JOIN orders o ON c_custkey = o_custkey",
        "orders o RIGHT JOIN customer c ON c_custkey = o_custkey",
        "orders o LEFT JOIN customer c ON c_custkey = o_custkey",
    ]
    assert _merge_sets(spark, [head + f + tail for f in left]) == [[0, 1]]


def test_parse_derived_table_from_member(spark):
    """``FROM (SELECT …) t``: the derived table is part of the relation
    (its alias is not), so spellings of one inner query merge and a
    different inner predicate or literal never does."""
    base = (
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k,"
        " l_quantity FROM lineitem WHERE l_discount > 0.01) t GROUP BY k"
    )
    sqls = [
        base,
        "SELECT k, sum(l_quantity) AS s FROM (select l_returnflag as K,"
        "   l_quantity from LINEITEM where l_discount > 0.01) x GROUP BY k",
        base.replace("0.01", "0.02"),
    ]
    assert _merge_sets(spark, sqls) == [[0, 1]]
    lit = [
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k FROM"
        " lineitem WHERE l_returnflag = 'A') t GROUP BY k",
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k FROM"
        " lineitem WHERE l_returnflag = 'a') t GROUP BY k",
    ]
    assert _merge_sets(spark, lit) == []
    assert _read(
        spark,
        "SELECT k, count(*) AS n FROM (SELECT l_returnflag AS k, rand()"
        " AS r FROM lineitem) t GROUP BY k",
    ) == "nondeterministic"


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
    bags = executor.run_batch_and_wait(jobs)
    (mp,) = [mp for b in bags for mp in b.merges]
    plan = _merged_physical(spark, [j.sql for j in mp.jobs])
    assert plan.lower().count("lineitem.parquet") == 1, plan


def test_parse_derived_join_operand(spark):
    """A derived table as a JOIN OPERAND: either operand order and any
    case spelling of the inner query merge; a different inner predicate
    does not."""
    head = "SELECT o_orderpriority, count(*) AS n FROM "
    tail = " GROUP BY o_orderpriority"
    froms = [
        "(SELECT l_orderkey, l_quantity FROM lineitem WHERE"
        " l_discount > 0.01) t JOIN orders o ON t.l_orderkey = o.o_orderkey",
        "(select L_ORDERKEY,  l_quantity from lineitem where"
        " l_discount > 0.01) t JOIN orders o ON t.l_orderkey = o.o_orderkey",
        "orders o JOIN (SELECT l_orderkey, l_quantity FROM lineitem WHERE"
        " l_discount > 0.01) u ON u.l_orderkey = o.o_orderkey",
        "(SELECT l_orderkey, l_quantity FROM lineitem WHERE"
        " l_discount > 0.02) t JOIN orders o ON t.l_orderkey = o.o_orderkey",
    ]
    assert _merge_sets(spark, [head + f + tail for f in froms]) == [[0, 1, 2]]


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
        bags = executor.run_batch_and_wait(jobs)
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
        bags = executor.run_batch_and_wait(jobs)
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
        bags = executor.run_batch_and_wait(jobs)
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
    """Inner chains whose joins differ only in operand order merge, and
    each demux result equals its standalone run. A chain that nests the
    same tables in a different order (permuted across levels) is a
    different analyzed relation: it runs unmerged, rows unchanged —
    on the drop list in CHANGES.md."""
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
    # members 0 and 2 differ only in the operand order of each join;
    # member 1 nests the three tables differently (drop list)
    _run_and_compare(spark, executor, sqls, {0, 2})


def test_on_condition_canonicalization_signatures(spark):
    """ON-condition spellings Catalyst canonicalizes alike — conjunct
    order, operand order of symmetric operators, mirrored inequalities,
    ``!=`` vs ``<>`` — merge; a flipped inequality or a literal that
    differs does not."""
    head = "SELECT o_orderpriority, count(*) AS n FROM orders o JOIN lineitem l ON "
    tail = " GROUP BY o_orderpriority"
    conds = [
        "o.o_orderkey = l.l_orderkey AND o.o_custkey < l.l_suppkey",
        "l.l_suppkey > o.o_custkey AND l.l_orderkey = o.o_orderkey",
        "o.o_orderkey = l.l_orderkey AND o.o_custkey > l.l_suppkey",
    ]
    assert _merge_sets(spark, [head + c + tail for c in conds]) == [[0, 1]]
    ne = [
        "o.o_orderkey = l.l_orderkey AND o.o_custkey != l.l_suppkey",
        "l.l_suppkey <> o.o_custkey AND l.l_orderkey = o.o_orderkey",
        "o.o_orderkey = l.l_orderkey AND o.o_orderstatus <> 'P AND Q'",
        "o.o_orderkey = l.l_orderkey AND o.o_orderstatus <> 'Q AND P'",
    ]
    assert _merge_sets(spark, [head + c + tail for c in ne]) == [[0, 1]]


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


def test_derived_inner_join_signatures(spark):
    """A derived table whose inner FROM is a join: operand order and
    condition spelling of the inner join are erased, an inner WHERE or
    a different select list is a different relation."""
    head = "SELECT rf, count(*) AS n FROM "
    tail = " GROUP BY rf"
    froms = [
        "(SELECT l_returnflag AS rf FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey AND o_totalprice > 5) t",
        "(select l_returnflag as rf from orders join lineitem"
        " on 5 < o_totalprice and o_orderkey = l_orderkey) u",
        "(SELECT l_returnflag AS rf FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE l_quantity > 5) t",
        "(SELECT l_returnflag AS rf, l_tax AS tx FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey) t",
    ]
    assert _merge_sets(spark, [head + f + tail for f in froms]) == [[0, 1]]


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


def test_top_level_or_suppresses_conjunct_split(spark, executor):
    """AND binds tighter than OR: ``a OR b AND c`` and ``c AND a OR b``
    are different relations and must never merge (the round-10
    wrong-merge pair). Catalyst parses precedence, so they don't."""
    head = "SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem ON "
    tail = " GROUP BY o_orderpriority"
    _spellings(
        spark,
        executor,
        [
            [head + "o_orderkey = l_orderkey OR l_linenumber = 1 AND l_tax > 0.05" + tail],
            [head + "l_tax > 0.05 AND o_orderkey = l_orderkey OR l_linenumber = 1" + tail],
        ],
    )


def test_or_disjunct_canonicalization_signatures(spark):
    """OR commutes: permuted disjuncts merge; a different disjunct does
    not."""
    head = "SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem ON "
    tail = " GROUP BY o_orderpriority"
    conds = [
        "o_orderkey = l_orderkey AND (l_linenumber = 1 OR l_tax > 0.05)",
        "(l_tax > 0.05 OR l_linenumber = 1) AND l_orderkey = o_orderkey",
        "o_orderkey = l_orderkey AND (l_linenumber = 2 OR l_tax > 0.05)",
    ]
    assert _merge_sets(spark, [head + c + tail for c in conds]) == [[0, 1]]


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


def test_predicate_leaf_spellings_share_signatures(spark):
    """Leaf spellings Catalyst unifies merge: IN-list order, BETWEEN vs
    its two comparisons, mirrored IS [NOT] NULL/LIKE conjunct orders. An
    IN list and its OR chain stay distinct (``In`` and ``Or`` are
    different expressions) — on the drop list in CHANGES.md."""
    head = "SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem ON o_orderkey = l_orderkey AND "
    tail = " GROUP BY o_orderpriority"
    leaves = [
        "l_linenumber IN (1, 2, 3)",
        "l_linenumber IN (3, 1, 2)",
        "(l_linenumber = 1 OR l_linenumber = 2 OR l_linenumber = 3)",
    ]
    assert _merge_sets(spark, [head + c + tail for c in leaves]) == [[0, 1]]
    ranges = [
        "l_quantity BETWEEN 5 AND 20",
        "l_quantity >= 5 AND l_quantity <= 20",
        "l_quantity BETWEEN 5 AND 21",
    ]
    assert _merge_sets(spark, [head + c + tail for c in ranges]) == [[0, 1]]
    others = [
        "o_orderstatus IS NOT NULL AND o_orderstatus LIKE '%a%'",
        "o_orderstatus LIKE '%a%' AND o_orderstatus IS NOT NULL",
    ]
    assert _merge_sets(spark, [head + c + tail for c in others]) == [[0, 1]]


def test_in_between_members_merge_matches_independent(spark, executor):
    """End-to-end: BETWEEN and its spelled-out range pair merge (Catalyst
    replaces BETWEEN before the comparison), and every demux result
    equals its standalone run. IN-lists vs OR-chains of the same values
    stay distinct ``In``/``Or`` expressions: they run unmerged with
    unchanged rows — on the drop list in CHANGES.md."""
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
    # an IN list and an OR chain stay distinct expressions (drop list)
    _run_and_compare(spark, executor, sqls, set())

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


def test_nested_derived_signature_bars(spark):
    """Two derived levels: the inner join's operand order and keyword
    case are erased, a different nested WHERE is not."""
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
    froms = [s1, s2, s1.replace("q > 5", "q > 9")]
    sqls = [f"SELECT k, count(*) AS n FROM {f} GROUP BY k" for f in froms]
    assert _merge_sets(spark, sqls) == [[0, 1]]


def test_bare_star_derived_members_merge_matches_independent(spark, executor):
    """``SELECT *`` derived wrappers over one inner chain merge and each
    demux result equals the standalone run. A wrapper whose inner chain
    is spelled in the other operand order expands ``*`` in another
    column order, a different analyzed relation: it runs unmerged with
    unchanged rows — on the drop list in CHANGES.md."""
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
    # the permuted inner expands * in the other column order (drop list)
    _run_and_compare(spark, executor, sqls, {0, 2})


def test_derived_inner_limit_declines_structural_sharing(spark):
    """LIMIT without a total order picks plan-dependent rows, so joins
    below a LIMIT keep their spelled operand order (plans/catalyst.py):
    a permuted chain under LIMIT never merges; the same spelling does."""
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
    froms = [lim1, lim_perm, lim1.replace("SELECT", "select")]
    sqls = [f"SELECT pri, count(*) AS n FROM {f} GROUP BY pri" for f in froms]
    assert _merge_sets(spark, sqls) == [[0, 2]]


def test_bare_star_derived_inner_declines_structural_sharing(spark):
    """``SELECT *`` expands in join-operand order, and an ordinal ORDER
    BY then sorts a different column: such spellings are different
    relations and never merge; repeating one spelling does."""
    s1 = (
        "(SELECT * FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " ORDER BY 2 LIMIT 10) t"
    )
    s2 = (
        "(SELECT * FROM lineitem JOIN orders ON o_orderkey = l_orderkey"
        " ORDER BY 2 LIMIT 10) t"
    )
    sqls = [
        f"SELECT o_orderpriority, count(*) AS n FROM {f} GROUP BY o_orderpriority"
        for f in (s1, s2, s1)
    ]
    assert _merge_sets(spark, sqls) == [[0, 2]]


def test_derived_inner_set_operator_declines_structural_sharing(spark):
    """UNION pairs its arms' columns by position, and ``SELECT *`` over a
    permuted join orders them differently: different relations, never
    merged. Whitespace and keyword case do not matter."""
    arm = "SELECT * FROM {} WHERE n_nationkey > 0"
    ab = "region JOIN nation ON r_regionkey = n_regionkey"
    ba = "nation JOIN region ON r_regionkey = n_regionkey"
    u1 = f"({arm.format(ab)} UNION {arm.format(ab)}) t"
    u2 = f"({arm.format(ba)} UNION {arm.format(ba)}) t"
    u3 = u1.replace("UNION", " union ")
    sqls = [f"SELECT count(*) AS n FROM {u}" for u in (u1, u2, u3)]
    assert _merge_sets(spark, sqls) == [[0, 2]]


def test_derived_inner_offset_fetch_declines_structural_sharing(spark):
    """OFFSET drops plan-dependent rows like LIMIT does: joins below it
    keep their operand order, so the permuted spelling never merges."""
    o1 = (
        "(SELECT o_orderpriority AS pri FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey ORDER BY pri OFFSET 10) t"
    )
    o2 = (
        "(SELECT o_orderpriority AS pri FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey ORDER BY pri OFFSET 10) t"
    )
    froms = [o1, o2, o1.replace("SELECT", "select")]
    sqls = [f"SELECT pri, count(*) AS n FROM {f} GROUP BY pri" for f in froms]
    assert _merge_sets(spark, sqls) == [[0, 2]]


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


def test_deep_derived_nest_signatures(spark):
    """Derived tables nest to any depth: the innermost join's operand
    order is erased at 3, 5 and 8 levels, and a LIMIT under the join's
    parent keeps it load-bearing."""

    def deep(inner_join, n):
        t = f"SELECT o_orderpriority AS pri FROM {inner_join}"
        for i in range(n):
            t = f"SELECT pri FROM ({t}) u{i}"
        return f"SELECT pri, count(*) AS c FROM ({t}) t GROUP BY pri"

    ab = "orders JOIN lineitem ON o_orderkey = l_orderkey"
    ba = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    for levels in (3, 5, 8):
        assert _merge_sets(spark, [deep(ab, levels), deep(ba, levels)]) == [[0, 1]]
    assert _merge_sets(spark, [deep(ab + " LIMIT 3", 4), deep(ba + " LIMIT 3", 4)]) == []


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


def test_comma_from_normalizes_to_join_chain(spark):
    """Comma-FROM members read as a condition-less inner join with the
    join predicate in WHERE, so their operand permutations merge with
    each other. The explicit ``JOIN … ON`` spelling keeps its predicate
    in the join and is a different analyzed relation — on the drop list
    in CHANGES.md (it runs unmerged, rows unchanged)."""
    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq FROM orders, lineitem"
        " WHERE o_orderkey = l_orderkey AND l_quantity >= 10"
        " GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n FROM lineitem, orders"
        " WHERE l_orderkey = o_orderkey GROUP BY o_orderpriority",
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " WHERE l_quantity >= 10 GROUP BY o_orderpriority",
    ]
    assert _merge_sets(spark, sqls) == [[0, 1]]
    cross = [
        "SELECT count(*) AS n FROM region, nation WHERE r_name <> 'ASIA'",
        "SELECT count(*) AS n FROM region CROSS JOIN nation WHERE r_name <> 'ASIA'",
        "SELECT max(n_name) AS m FROM nation CROSS JOIN region WHERE r_name <> 'ASIA'",
    ]
    # CROSS JOIN operands commute; a comma is an inner join, not a
    # CROSS one, in the analyzed plan (drop list)
    assert _merge_sets(spark, cross) == [[1, 2]]


def test_comma_from_members_merge_matches_independent(spark, executor):
    """Comma-FROM members merge across operand order and every demux
    result equals its standalone run; the explicit ``JOIN … ON``
    respelling runs unmerged with unchanged rows — on the drop list in
    CHANGES.md."""
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
    # the comma spellings merge; JOIN ... ON keeps its predicate in
    # the join, a different analyzed relation (drop list)
    _run_and_compare(spark, executor, sqls, {0, 1})


def test_natural_join_signatures_resolve_from_schema(spark):
    """Spark resolves NATURAL JOIN from the catalog into the USING form,
    so the two spellings merge; swapping NATURAL's operands reorders the
    output columns and picks the other side's key, a different relation
    (drop list in CHANGES.md)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_a AS"
        " SELECT l_orderkey AS k, l_quantity AS qa FROM lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW nat_b AS"
        " SELECT o_orderkey AS k, o_totalprice AS pb FROM orders"
    )
    try:
        sqls = [
            "SELECT k, sum(qa) AS s FROM nat_a NATURAL JOIN nat_b GROUP BY k",
            "SELECT k, count(*) AS n FROM nat_a JOIN nat_b USING (k) GROUP BY k",
            "SELECT k, max(pb) AS m FROM nat_b NATURAL JOIN nat_a GROUP BY k",
        ]
        assert _merge_sets(spark, sqls) == [[0, 1]]
    finally:
        spark.catalog.dropTempView("nat_a")
        spark.catalog.dropTempView("nat_b")


def test_natural_join_members_merge_matches_independent(spark, executor):
    """NATURAL members and their USING respellings land in ONE merged
    plan (Spark resolves NATURAL from the session catalog) and every
    demux result equals its standalone run. Swapped NATURAL operands run
    unmerged with unchanged rows — on the drop list in CHANGES.md."""
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
        # swapped NATURAL operands reorder the output and take the key
        # from the other side (drop list)
        _run_and_compare(spark, executor, sqls, {0, 1})
    finally:
        spark.catalog.dropTempView("nat_a")
        spark.catalog.dropTempView("nat_b")


def test_derived_inner_where_conjuncts_sort(spark, executor):
    """A derived inner's WHERE conjuncts commute and its comparisons
    mirror, so spelling-variant wrappers share one merged evaluation;
    demux results equal standalone runs."""
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
    """Comma-FROM members keep their join predicates in WHERE, under a
    condition-less join. The merged aggregate filters that join by the
    OR of the members' predicates, and Catalyst must still pull the
    common join conjuncts out and plan hash joins: one scan per base
    table, no cartesian product, no nested-loop join."""
    import re as _re

    sqls = [
        "SELECT o_orderpriority, sum(l_quantity) AS sq"
        " FROM orders, lineitem, customer"
        " WHERE o_orderkey = l_orderkey AND o_custkey = c_custkey"
        " AND l_quantity >= 10 GROUP BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n"
        " FROM orders, lineitem, customer"
        " WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
    ]
    jobs = _analyzed_jobs(spark, sqls)
    plans = plan_merges(jobs)
    assert len(plans) == 1 and len(plans[0].jobs) == 2
    physical = _merged_physical(spark, [j.sql for j in plans[0].jobs])
    assert not _re.search(r"(?i)cartesian|nestedloop", physical), physical
    leaves = _re.findall(r"FileScan|BatchScan", physical)
    assert len(leaves) == 3  # one scan per base table, none duplicated


def test_derived_inner_having_conjuncts_sort(spark):
    """A derived inner's HAVING conjuncts commute like WHERE's; a
    different HAVING bound does not."""
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
    inners = [inner_a, inner_b, inner_a.replace("> 100", "> 200")]
    sqls = [f"SELECT pri, max(sq) AS m FROM ({i}) t GROUP BY pri" for i in inners]
    assert _merge_sets(spark, sqls) == [[0, 1]]


def test_query_organization_clauses_stay_out_of_conjunct_sets(spark):
    """``WHERE p AND a DISTRIBUTE BY x`` and ``WHERE p DISTRIBUTE BY x
    AND a`` filter differently (the second's ``x AND a`` is the
    DISTRIBUTE expression): Catalyst parses them apart, so they never
    merge, while the conjunct swap of the first does."""
    base = "SELECT l_returnflag AS rf, l_quantity AS q FROM lineitem WHERE "
    froms = [
        base + "l_linenumber = 1 AND l_tax > 0.02 DISTRIBUTE BY l_quantity > 1",
        base + "l_linenumber = 1 DISTRIBUTE BY l_quantity > 1 AND l_tax > 0.02",
        base + "l_tax > 0.02 AND l_linenumber = 1 DISTRIBUTE BY l_quantity > 1",
    ]
    sqls = [f"SELECT rf, count(*) AS n FROM ({f}) t GROUP BY rf" for f in froms]
    assert _merge_sets(spark, sqls) == [[0, 2]]


def test_norm_bool_tree_depth_backstop(spark):
    """A deeply nested predicate must not raise out of plan_merges and
    kill the batch: two copies of it still merge."""
    deep = "l_tax > 0"
    for i in range(200):
        deep = f"l_linenumber = {i % 7} OR ({deep})"
    sql = f"SELECT l_returnflag, count(*) AS n FROM lineitem WHERE {deep} GROUP BY l_returnflag"
    assert _merge_sets(spark, [sql, sql]) == [[0, 1]]


def test_natural_join_declines_after_semi_anti(spark, executor):
    """NATURAL after SEMI/ANTI: the semi side contributes no columns;
    Spark resolves (or rejects) the statement, and it never merges
    wrongly."""
    for kind in ("SEMI", "ANTI"):
        _never_wrong(
            spark,
            executor,
            f"SELECT n_name, count(*) AS c FROM nation n {kind} JOIN region r"
            " ON n.n_regionkey = r.r_regionkey NATURAL JOIN customer"
            " GROUP BY n_name",
        )


def test_scalar_subquery_member_never_merges(spark):
    """Round-12 wrong-merge regression: a member whose select item is a
    scalar subquery ``(SELECT max(..) FROM t)`` returns one value PER
    OUTER ROW (N rows), but classifying the embedded call as an outer
    aggregate merged it with true aggregations on the same table — the
    demux then read a 1-row global-agg view. The member must stay off
    the merge path entirely."""
    sub = "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region"
    agg = "SELECT count(*) AS n FROM region"
    assert plan_merges(_analyzed_jobs(spark, [sub, agg])) == []
    # and the batch still merges once the offender is out
    plans = plan_merges(
        _analyzed_jobs(spark, [agg, "SELECT sum(r_regionkey) AS s FROM region"])
    )
    assert len(plans) == 1 and len(plans[0].jobs) == 2


def test_lambda_members_decline_everywhere(spark, executor):
    """Higher-order functions with lambdas read as ordinary expressions
    in the plan — a lambda variable never shadows a column — and such
    members never merge wrongly."""
    for sql in (
        "SELECT l_returnflag, sum(aggregate(array(l_quantity, l_tax), 0D,"
        " (acc, x) -> acc + x)) AS s FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " WHERE exists(array(l_tax), l_tax -> l_tax > 0.05) GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " WHERE l_returnflag <> 'a->b' GROUP BY l_returnflag",
    ):
        _never_wrong(spark, executor, sql)


def test_malformed_lists_decline(spark):
    """Dangling commas are parse errors for Spark itself: the job fails
    as standalone and the plan reader never sees it."""
    for sql in (
        "SELECT l_returnflag, count(*) AS n, FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag,",
    ):
        with pytest.raises(Exception):
            spark.sql(sql)


def test_cte_inlines_to_derived_form(spark):
    """A CTE referenced once inlines (Catalyst's InlineCTE) to the
    derived-table form, so the two spellings merge; a CTE in a join
    operand reads too."""
    cte = (
        "WITH x AS (SELECT l_orderkey, l_quantity FROM lineitem"
        " WHERE l_tax < 0.05)"
        " SELECT l_orderkey, sum(l_quantity) AS s FROM x GROUP BY l_orderkey"
    )
    der = (
        "SELECT l_orderkey, count(*) AS c FROM"
        " (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_tax < 0.05) x"
        " GROUP BY l_orderkey"
    )
    assert _merge_sets(spark, [cte, der]) == [[0, 1]]
    assert isinstance(
        _read(
            spark,
            "WITH x AS (SELECT o_orderkey AS k FROM orders)"
            " SELECT count(*) AS c FROM lineitem JOIN x ON l_orderkey = x.k",
        ),
        AggShape,
    )


def test_cte_declines(spark, executor):
    """Recursive, unused or twice-referenced CTE definitions,
    self-reference, a column named like the CTE, a nondeterministic
    body: Catalyst resolves each, and none of them merges wrongly."""
    for sql in (
        "WITH RECURSIVE x AS (SELECT 1 AS n) SELECT count(*) AS c FROM x",
        "WITH x AS (SELECT 1 AS n), y AS (SELECT 2 AS m)"
        " SELECT count(*) AS c FROM x",
        "WITH x AS (SELECT l_orderkey AS k FROM lineitem)"
        " SELECT count(*) AS c FROM x JOIN x ON 1=1",
        "WITH x AS (SELECT k FROM x) SELECT count(*) AS c FROM x",
        "WITH x AS (SELECT 1 AS n) SELECT x, count(*) AS c FROM x GROUP BY x",
        "WITH x AS (SELECT rand() AS r FROM region)"
        " SELECT count(*) AS c FROM x",
    ):
        _never_wrong(spark, executor, sql)


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


def test_multi_cte_inlines_chain_and_join(spark):
    """Staged CTEs (``b`` reads ``a``) inline to nested derived tables,
    and a join of two CTEs to derived join operands."""
    chain = (
        "WITH a AS (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_tax < 0.05),"
        " b AS (SELECT l_orderkey, l_quantity FROM a WHERE l_quantity > 5)"
        " SELECT l_orderkey, sum(l_quantity) AS s FROM b GROUP BY l_orderkey"
    )
    nested = (
        "SELECT l_orderkey, count(*) AS c FROM (SELECT l_orderkey, l_quantity"
        " FROM (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_tax < 0.05) a"
        " WHERE l_quantity > 5) b GROUP BY l_orderkey"
    )
    assert _merge_sets(spark, [chain, nested]) == [[0, 1]]
    joined = (
        "WITH a AS (SELECT l_orderkey FROM lineitem), b AS (SELECT o_orderkey,"
        " o_orderpriority FROM orders) SELECT o_orderpriority, count(*) AS c"
        " FROM a JOIN b ON l_orderkey = o_orderkey GROUP BY o_orderpriority"
    )
    derived = (
        "SELECT o_orderpriority, max(l_orderkey) AS m FROM (SELECT o_orderkey,"
        " o_orderpriority FROM orders) b JOIN (SELECT l_orderkey FROM lineitem) a"
        " ON l_orderkey = o_orderkey GROUP BY o_orderpriority"
    )
    assert _merge_sets(spark, [joined, derived]) == [[0, 1]]


def test_is_distinct_from_never_misread_as_relation_use(spark, executor):
    """``x IS [NOT] DISTINCT FROM a`` inside a CTE body compares a
    column, even when a CTE is named ``a``: the plan reader sees what
    Spark resolved, and the statement never merges wrongly."""
    _never_wrong(
        spark,
        executor,
        "WITH a AS (SELECT 1 AS k),"
        " b AS (SELECT l_returnflag AS x FROM lineitem"
        " WHERE l_linenumber IS DISTINCT FROM 1 AND l_tax > 0)"
        " SELECT x, count(*) AS c FROM b GROUP BY x",
    )




def test_plan_reader_decline_reasons(spark):
    """Each decline carries a short reason instead of a bare None."""
    assert _read(
        spark,
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " WHERE rand() < 0.5 GROUP BY l_returnflag",
    ) == "nondeterministic"
    assert _read(
        spark, "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region"
    ) == "subquery"
    assert _read(
        spark,
        "SELECT l_returnflag, sum(sum(l_quantity)) OVER () AS s FROM lineitem"
        " GROUP BY l_returnflag",
    ) == "window"
    assert _read(spark, "SELECT l_returnflag FROM lineitem") == "no aggregate"
    jobs = _analyzed_jobs(
        spark,
        [
            "SELECT count(*) AS n FROM region",
            "SELECT count(*) AS n FROM nation",
        ],
    )
    assert plan_merges(jobs) == []
    assert [j.merge_declined for j in jobs] == ["relation differs"] * 2


def test_under_floor_bag_reads_no_plan(spark, monkeypatch):
    """The bag is priced before any plan is read: under the byte floor
    (every sf0.001 table is) the plan reader is never called; with the
    floor at 0 the same batch reads every member."""
    from sparksql_server_spark.server import mrshare

    calls = []
    real = mrshare.read_plan
    monkeypatch.setattr(mrshare, "read_plan", lambda p: calls.append(1) or real(p))
    for floor, reads in ((64 << 20, 0), (0, len(SAME_SIG))):
        calls.clear()
        ex = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=1 << 30),
            source_views=source_view_map(SF_DIR),
            mrshare_min_bytes=floor,
        )
        jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(SAME_SIG)]
        ex.run_batch_and_wait(jobs)
        assert all(j.status is JobStatus.DONE for j in jobs)
        # the merge re-reads each member once more when it materializes
        assert len(calls) == (0 if reads == 0 else 2 * reads)
        ex.cache.clear()
