"""Gateway result cache (server/results.py): hit/miss semantics,
command invalidation, session isolation, non-determinism guard."""

from __future__ import annotations

import time

import pytest

from sparksql_server_spark.catalog import _dir_bytes, register_tables
from sparksql_server_spark.server import WorkSharingServer, client_request
from sparksql_server_spark.server.results import (
    PlanKey,
    ResultCache,
    command_write_set,
    tables_from_fingerprints,
)
from sparksql_server_spark.server.scheduler import classify
from tests.conftest import SF_DIR, analyzed_plan

Q = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"


@pytest.fixture
def K(spark):
    """Clean-namespace key of a statement, resolved in ``spark``."""
    register_tables(spark, SF_DIR)
    return lambda sql, sid=None: ResultCache.key(sid, analyzed_plan(spark, sql))


# -- unit: the cacheability guard ------------------------------------------


@pytest.mark.parametrize(
    "sql,ok",
    [
        (Q, True),
        ("SELECT rand() AS x", False),
        ("SELECT current_timestamp", False),
        ("SELECT current_date AS d", False),
        ("SELECT uuid() AS u FROM region", False),
        ("SELECT monotonically_increasing_id() FROM region", False),
        ("SELECT 'randomness' AS s FROM region", True),  # word inside a literal-ish ident is fine
        # Spark-4 random generators and the curdate alias decline too
        ("SELECT curdate() AS d", False),
        ("SELECT randstr(8) AS s FROM region", False),
        ("SELECT uniform(0, 10) AS u FROM region", False),
        # a CURRENT_LIKE call inside a scalar or IN subquery, or a
        # subquery nested in one, is still read from the analyzed plan
        (
            "SELECT o_orderkey FROM orders"
            " WHERE o_orderdate > (SELECT date_sub(current_date(), 7))",
            False,
        ),
        (
            "SELECT r_name FROM region"
            " WHERE r_regionkey < (SELECT hour(current_timestamp()))",
            False,
        ),
        (
            "SELECT r_name FROM region"
            " WHERE r_regionkey IN (SELECT day(current_date()))",
            False,
        ),
        (
            "SELECT r_name FROM region"
            " WHERE r_regionkey IN (SELECT hour(current_timestamp()))",
            False,
        ),
        (
            "SELECT r_name FROM region WHERE r_regionkey IN (SELECT n_regionkey"
            " FROM nation WHERE n_nationkey < (SELECT day(current_date())))",
            False,
        ),
        (
            "SELECT r_name FROM region"
            " WHERE r_regionkey IN (SELECT n_regionkey FROM nation)",
            True,
        ),
    ],
)
def test_cacheable_sql(K, sql, ok):
    """Eligibility is read from the analyzed plan: a nondeterministic or
    CURRENT_LIKE plan gets no key."""
    assert (K(sql) is not None) is ok


def test_key_preserves_whitespace_inside_literals(K):
    """Whitespace inside a string literal is query semantics — WHERE
    name='a  b' and WHERE name='a b' are different queries and must
    never share a key; whitespace outside literals never reaches the
    plan at all."""
    k1 = K("SELECT r_name FROM region WHERE r_name = 'a  b'")
    assert k1 != K("SELECT r_name FROM region WHERE r_name = 'a b'")
    assert K("SELECT  r_name\n FROM region  WHERE r_name = 'a  b'") == k1
    # escaped quote does not flip the in-string state
    assert K(r"SELECT 'don\'t  stop' AS s,  1 AS n") != K(
        r"SELECT 'don\'t stop' AS s, 1 AS n"
    )
    assert K('SELECT "x  y" AS v') != K('SELECT "x y" AS v')


def test_put_discards_stale_generation():
    """ADVICE r4 low: a put whose pre-submit epoch predates an
    invalidation must be discarded, not served for up to TTL."""
    rc = ResultCache()
    k = ("", "q")
    gen = rc.generation
    rc.invalidate_all()  # a command ran while the query was in flight
    rc.put(k, {"v": 1}, generation=gen)
    assert rc.get(k) is None
    rc.put(k, {"v": 2}, generation=rc.generation)  # fresh epoch → cached
    assert rc.get(k) == {"v": 2}


def _write_set(spark, sql):
    """Write set of ``sql`` read from the parse the gateway makes."""
    return command_write_set(classify(spark, sql)[1], spark)


def test_keys_intersect_directory_containment():
    """Review r7: a sink writing a directory must hit entries whose
    scan fingerprint is a child file, and vice versa."""
    from sparksql_server_spark.server.results import keys_intersect

    assert keys_intersect(frozenset({"/data/t/data.csv"}), frozenset({"/data/t"}))
    assert keys_intersect(frozenset({"/data/t"}), frozenset({"/data/t/new.csv"}))
    assert not keys_intersect(frozenset({"/data/tt/x.csv"}), frozenset({"/data/t"}))
    assert keys_intersect(frozenset({"part"}), frozenset({"part"}))
    assert not keys_intersect(frozenset({"part"}), frozenset({"orders"}))


def test_taint_refuses_overlapping_puts_until_expiry():
    rc = ResultCache()
    k1, k2 = ("", "q1"), ("", "q2")
    rc.taint_tables(frozenset({"region"}), ttl_seconds=0.4)
    rc.put(k1, {"v": 1}, tables=frozenset({"region", "/d/region.parquet"}))
    assert rc.get(k1) is None  # refused: reads the tainted table
    rc.put(k2, {"v": 2}, tables=frozenset({"nation"}))
    assert rc.get(k2) == {"v": 2}  # unrelated read set caches fine
    # unknown read set cannot prove disjointness -> refused
    rc.put(("", "q3"), {"v": 3}, tables=None)
    assert rc.get(("", "q3")) is None
    time.sleep(0.45)
    rc.put(k1, {"v": 4}, tables=frozenset({"region"}))
    assert rc.get(k1) == {"v": 4}  # taint expired


def test_invalidate_advances_generation_even_when_empty():
    rc = ResultCache()
    g0 = rc.generation
    rc.invalidate_all()  # empty cache — epoch must still advance
    assert rc.generation == g0 + 1


def test_oversized_result_not_pinned():
    rc = ResultCache(max_rows_per_entry=3)
    k = ("", "q")
    rc.put(k, {"rows": [[1]] * 4})
    assert rc.get(k) is None  # declined: re-running beats pinning RAM
    rc.put(k, {"rows": [[1]] * 3})
    assert rc.get(k) is not None


@pytest.mark.parametrize(
    "sql,expect",
    [
        ("INSERT INTO part VALUES (1)", {"part"}),
        ("INSERT OVERWRITE TABLE db.part SELECT 1", {"part", "db.part"}),
        ("UPDATE `sales`.`orders` SET x = 1", {"orders", "sales.orders"}),
        ("DELETE FROM lineitem WHERE 1=1", {"lineitem"}),
        ("MERGE INTO tgt USING src ON tgt.k = src.k WHEN MATCHED THEN DELETE",
         {"tgt"}),
        ("DROP TABLE IF EXISTS old_t", {"old_t"}),
        ("drop view v1", {"v1"}),
        ("ALTER TABLE part ADD COLUMNS (z INT)", {"part"}),
        ("TRUNCATE TABLE part", {"part"}),
        ("CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1", {"v"}),
        ("CREATE TABLE t2 AS SELECT * FROM part", {"t2"}),
        ("REFRESH TABLE part", {"part"}),
        ("CACHE TABLE part", {"part"}),
        ("UNCACHE TABLE IF EXISTS part", {"part"}),
        ("SET spark.sql.shuffle.partitions=8", None),
        ("ADD JAR /tmp/x.jar", None),
        ("BEGIN SELECT 1; END", None),
        # the parse sees through a leading CTE or comment
        ("WITH s AS (SELECT 1 AS k) INSERT INTO t SELECT k FROM s", {"t"}),
        ("/* etl */ INSERT INTO region VALUES (1)", {"region"}),
        # an aliased target parses under a SubqueryAlias
        ("MERGE INTO tgt AS t USING src s ON t.k = s.k WHEN MATCHED THEN DELETE",
         {"tgt"}),
        ("UPDATE orders o SET x = 1", {"orders"}),
        ("DELETE FROM lineitem AS l WHERE 1=1", {"lineitem"}),
        # IDENTIFIER('...') names the target the way the analyzer will;
        # a parameter or variable name is bound only by analysis
        ("INSERT INTO IDENTIFIER('db.id_t') VALUES (7)", {"id_t", "db.id_t"}),
        ("DELETE FROM IDENTIFIER('id_' || 't') AS d WHERE 1=1", {"id_t"}),
        ("CREATE TABLE IDENTIFIER('c') (x INT)", {"c"}),
        ("INSERT INTO IDENTIFIER(:p) VALUES (1)", None),
        # EXECUTE IMMEDIATE writes what its literal statement writes
        ("EXECUTE IMMEDIATE 'INSERT INTO t VALUES (1)'", {"t"}),
        ("EXECUTE IMMEDIATE 'INSERT INTO db.t VALUES (?)' USING 1", {"t", "db.t"}),
        ("EXECUTE IMMEDIATE stmt_var", None),
        # a constant string statement is evaluated, a function call
        # over constants once the analyzer has resolved it; a variable
        # inside the call is bound only by the session that runs it
        ("EXECUTE IMMEDIATE 'INSERT INTO ' || 't VALUES (1)'", {"t"}),
        ("EXECUTE IMMEDIATE concat('INSERT INTO ', 't VALUES (1)')", {"t"}),
        ("EXECUTE IMMEDIATE concat('INSERT INTO ', stmt_var)", None),
        ("EXECUTE IMMEDIATE concat('INSERT INTO t', CAST(rand() AS STRING))", None),
        # a directory write writes its path, in fingerprint form
        ("INSERT OVERWRITE DIRECTORY '/data/t' SELECT 1", {"/data/t"}),
        ("INSERT OVERWRITE LOCAL DIRECTORY '/d' SELECT 1", {"/d"}),
        ("INSERT OVERWRITE DIRECTORY USING parquet"
         " OPTIONS (path 'file:///data/o') SELECT 1", {"/data/o"}),
    ],
)
def test_command_write_set(spark, sql, expect):
    got = _write_set(spark, sql)
    assert (got if got is None else set(got)) == expect


def test_invalidate_tables_scoped_and_epoch():
    """Scoped flush removes intersecting + unknown-read-set entries,
    keeps the rest, and ALWAYS advances the put-epoch so racing
    in-flight puts are discarded (ADVICE r6 medium)."""
    from sparksql_server_spark.server.results import ResultCache

    rc = ResultCache()
    ka, kb, ku = (("", s) for s in ("qa", "qb", "qu"))
    rc.put(ka, {"v": "a"}, tables=frozenset({"part", "/x/part.parquet"}))
    rc.put(kb, {"v": "b"}, tables=frozenset({"region"}))
    rc.put(ku, {"v": "u"}, tables=None)  # unknown read set
    g0 = rc.generation
    rc.invalidate_tables(frozenset({"part"}))
    assert rc.get(ka) is None, "entry reading the written table flushes"
    assert rc.get(ku) is None, "unknown read set flushes on every scope"
    assert rc.get(kb) == {"v": "b"}, "untouched table survives"
    assert rc.generation == g0 + 1
    # an in-flight put captured before the scoped flush is discarded
    rc.put(kb, {"v": "stale"}, generation=g0, tables=frozenset({"region"}))
    assert rc.get(kb) == {"v": "b"}


def test_bump_generation_discards_puts_without_flushing():
    from sparksql_server_spark.server.results import ResultCache

    rc = ResultCache()
    k1, k2 = ("", "q1"), ("", "q2")
    rc.put(k1, {"v": 1}, tables=frozenset({"t"}))
    g0 = rc.generation
    rc.bump_generation()  # command ARRIVED (hasn't executed yet)
    assert rc.get(k1) == {"v": 1}, "existing entries predate the command"
    rc.put(k2, {"v": 2}, generation=g0)
    assert rc.get(k2) is None, "racing put must be discarded"


def test_lru_and_ttl():
    rc = ResultCache(max_entries=2, ttl_seconds=0.2)
    k1, k2, k3 = (("", s) for s in ("a", "b", "c"))
    rc.put(k1, {"v": 1})
    rc.put(k2, {"v": 2})
    rc.put(k3, {"v": 3})  # evicts k1 (LRU bound 2)
    assert rc.get(k1) is None and rc.get(k2) == {"v": 2}
    time.sleep(0.25)
    assert rc.get(k2) is None  # expired


# -- through the gateway ---------------------------------------------------


@pytest.fixture()
def server(spark):
    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=0.2).start()
    yield srv
    srv.shutdown()


def test_repeat_query_served_from_cache(server):
    first = client_request(server.address, {"sql": Q})
    assert first["status"] == "done" and "cached" not in first
    second = client_request(server.address, {"sql": Q})
    assert second["status"] == "done" and second.get("cached") is True
    assert second["rows"] == first["rows"] and second["columns"] == first["columns"]
    stats = client_request(server.address, {"server_stats": True})["stats"]
    assert stats["result_cache_hits"] >= 1


def test_semantic_keys_hit_across_spellings(K, spark):
    """Keys are Catalyst's canonical plan: conjunct order, comparison
    direction, IN-list order and join operand order hit the SAME entry.
    Anything observable (output alias spelling, select-item order, a
    LIMIT) keys apart. An IN list and its OR chain stay two keys (drop
    list in CHANGES.md)."""
    assert K(
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " WHERE l_discount > 0.02 AND l_tax < 0.05 GROUP BY l_returnflag"
    ) == K(
        "select l_returnflag, SUM( l_quantity ) as s from lineitem"
        " where l_tax < 0.05 and 0.02 < l_discount group by l_returnflag"
    )
    in_list = (
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " WHERE l_linenumber IN (1, 2) GROUP BY l_returnflag"
    )
    assert K(in_list) == K(in_list.replace("IN (1, 2)", "IN (2, 1)"))
    assert K(in_list) != K(
        in_list.replace("l_linenumber IN (1, 2)", "(l_linenumber = 2 OR l_linenumber = 1)")
    )
    assert K(
        "SELECT o_orderpriority, count(*) AS n FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey GROUP BY o_orderpriority"
    ) == K(
        "SELECT o_orderpriority, count(*) AS n FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey GROUP BY o_orderpriority"
    )
    base = (
        "SELECT l_returnflag, sum(l_quantity) AS s FROM lineitem"
        " GROUP BY l_returnflag"
    )
    assert K(base) != K(base.replace("AS s", "AS S"))  # alias case observable
    assert K(
        "SELECT l_returnflag, sum(l_quantity) AS s, count(*) AS n"
        " FROM lineitem GROUP BY l_returnflag"
    ) != K(
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS s"
        " FROM lineitem GROUP BY l_returnflag"
    )  # column order observable
    assert K(base + " LIMIT 5") != K(base + " LIMIT 6")
    # every analyzable deterministic statement keys on its plan
    assert isinstance(K("SELECT * FROM lineitem LIMIT 5"), PlanKey)
    assert K("SELECT * FROM no_such_table") is None
    assert K(base.replace("GROUP BY", "WHERE rand() < 0.5 GROUP BY")) is None
    # session namespaces stay disjoint for the same plan
    assert K(base) != K(base, "sess1")
    assert K(base) != ResultCache.key_root(analyzed_plan(spark, base))


def test_semantic_respelling_served_from_cache(server):
    """A conjunct-swapped, mirrored, IN-permuted respelling is served
    from the cache; the OR-chain spelling of the IN list is a different
    plan (drop list in CHANGES.md) and runs, with the same rows."""
    q1 = (
        "SELECT l_returnflag, sum(l_quantity) AS sq FROM lineitem"
        " WHERE l_discount > 0.02 AND l_linenumber IN (1, 2)"
        " GROUP BY l_returnflag"
    )
    q2 = (
        "select l_returnflag, sum( l_quantity ) AS sq from lineitem"
        " where l_linenumber in (2, 1)"
        " and 0.02 < l_discount group by l_returnflag"
    )
    q3 = (
        "select l_returnflag, sum( l_quantity ) AS sq from lineitem"
        " where (l_linenumber = 2 or l_linenumber = 1)"
        " and 0.02 < l_discount group by l_returnflag"
    )
    first = client_request(server.address, {"sql": q1})
    assert first["status"] == "done" and "cached" not in first
    second = client_request(server.address, {"sql": q2})
    assert second["status"] == "done" and second.get("cached") is True
    assert sorted(map(tuple, second["rows"])) == sorted(
        map(tuple, first["rows"])
    )
    assert second["columns"] == first["columns"]
    third = client_request(server.address, {"sql": q3})
    assert third["status"] == "done" and "cached" not in third
    assert sorted(map(tuple, third["rows"])) == sorted(map(tuple, first["rows"]))


def test_command_invalidation_is_write_set_scoped(server, tmp_path):
    """r6 verdict ask #4: INSERT into table A must keep cached results
    for B and invalidate A's — whole-cache flushes on every command
    zeroed the dashboard hit rate the moment a workload mixed DML."""
    out = str(tmp_path / "t_scoped")
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE rc_scope USING parquet LOCATION '{out}' "
                "AS SELECT r_regionkey AS k FROM region"},
    )
    assert mk["status"] == "done", mk
    try:
        qa = "SELECT count(*) AS n FROM rc_scope"
        a1 = client_request(server.address, {"sql": qa})
        b1 = client_request(server.address, {"sql": Q})
        assert a1["status"] == "done" and b1["status"] == "done"
        # both now cached
        assert client_request(server.address, {"sql": qa}).get("cached") is True
        assert client_request(server.address, {"sql": Q}).get("cached") is True
        # write A: only A's entry flushes; B (region) survives
        ins = client_request(
            server.address, {"sql": "INSERT INTO rc_scope VALUES (999)"}
        )
        assert ins["status"] == "done", ins
        a2 = client_request(server.address, {"sql": qa})
        assert "cached" not in a2, "entry reading the written table must flush"
        assert a2["rows"][0][0] == a1["rows"][0][0] + 1  # and see the write
        assert client_request(server.address, {"sql": Q}).get("cached") is True, (
            "entry reading an untouched table must survive the command"
        )
    finally:
        client_request(server.address, {"sql": "DROP TABLE IF EXISTS rc_scope"})


def test_cte_and_comment_led_commands_flush_only_their_target(server, tmp_path):
    """A command led by WITH or by a comment, or naming its target in
    an IDENTIFIER clause (no Command node in the parse), names that
    target just as a bare one does: it runs once, and writing rc_scope
    keeps region's cached entry."""
    out = str(tmp_path / "t_led")
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE rc_scope USING parquet LOCATION '{out}' "
                "AS SELECT r_regionkey AS k FROM region"},
    )
    assert mk["status"] == "done", mk
    try:
        qa = "SELECT count(*) AS n FROM rc_scope"
        n0 = client_request(server.address, {"sql": qa})["rows"][0][0]
        client_request(server.address, {"sql": Q})
        for i, cmd in enumerate(
            (
                "WITH s AS (SELECT 998 AS k) INSERT INTO rc_scope SELECT k FROM s",
                "/* etl */ INSERT INTO rc_scope VALUES (999)",
                "INSERT INTO IDENTIFIER('rc_scope') VALUES (1000)",
            ),
            start=1,
        ):
            assert client_request(server.address, {"sql": Q}).get("cached") is True
            ins = client_request(server.address, {"sql": cmd})
            assert ins["status"] == "done", ins
            a = client_request(server.address, {"sql": qa})
            assert "cached" not in a and a["rows"][0][0] == n0 + i, (cmd, a)
            assert client_request(server.address, {"sql": Q}).get("cached") is True, (
                f"{cmd!r} must not flush an entry over an untouched table"
            )
    finally:
        client_request(server.address, {"sql": "DROP TABLE IF EXISTS rc_scope"})


def test_insert_into_empty_table_flushes_its_entry(server, tmp_path):
    """A cached read of an empty table lists no files, only the scan's
    Location, which need not be named like the table: an INSERT into
    it must still flush that entry, and only that entry."""
    loc = tmp_path / "stored_elsewhere"
    loc.mkdir()
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE empty_t (x INT) USING parquet LOCATION '{loc}'"},
    )
    assert mk["status"] == "done", mk
    try:
        q = "SELECT count(*) AS n FROM empty_t"
        client_request(server.address, {"sql": Q})
        assert client_request(server.address, {"sql": q})["rows"] == [[0]]
        assert client_request(server.address, {"sql": q}).get("cached") is True
        ins = client_request(server.address, {"sql": "INSERT INTO empty_t VALUES (6)"})
        assert ins["status"] == "done", ins
        after = client_request(server.address, {"sql": q})
        assert "cached" not in after and after["rows"] == [[1]], after
        assert client_request(server.address, {"sql": Q}).get("cached") is True
    finally:
        client_request(server.address, {"sql": "DROP TABLE IF EXISTS empty_t"})


def test_execute_immediate_runs_once_and_flushes(server, tmp_path):
    """EXECUTE IMMEDIATE runs eagerly in Spark but parses to no Command
    node: it must still run once, as a command, and flush the cache
    (its target sits inside a string, so the whole cache)."""
    loc = tmp_path / "ei"
    loc.mkdir()
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE ei_t (x INT) USING parquet LOCATION '{loc}'"},
    )
    assert mk["status"] == "done", mk
    try:
        q = "SELECT count(*) AS n FROM ei_t"
        assert client_request(server.address, {"sql": q})["rows"] == [[0]]
        assert client_request(server.address, {"sql": q}).get("cached") is True
        ins = client_request(
            server.address, {"sql": "EXECUTE IMMEDIATE 'INSERT INTO ei_t VALUES (7)'"}
        )
        assert ins["status"] == "done", ins
        after = client_request(server.address, {"sql": q})
        assert "cached" not in after and after["rows"] == [[1]], after
        # a query through EXECUTE IMMEDIATE runs on the command path:
        # its rows come back, never from the cache
        sel = {"sql": "EXECUTE IMMEDIATE 'SELECT x FROM ei_t'"}
        for _ in range(2):
            r = client_request(server.address, sel)
            assert r["status"] == "done" and r["rows"] == [[7]], r
            assert "cached" not in r
    finally:
        client_request(server.address, {"sql": "DROP TABLE IF EXISTS ei_t"})


def test_insert_overwrite_directory_runs_once_and_flushes(server, spark, tmp_path):
    """INSERT OVERWRITE DIRECTORY writes once, like one spark.sql of the
    statement, and a cached read of the directory re-runs after it."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        ex = store.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def writes_since(low):
        """Executions after ``low`` whose plan graph runs a file write
        (collecting a command's result adds a CommandResult leaf only)."""
        ex, n = store.executionsList(), 0
        for k in range(ex.size() - 1, -1, -1):
            e = ex.apply(k)
            if e.executionId() <= low:
                break
            nodes = store.planGraph(e.executionId()).allNodes()
            n += any(
                nodes.apply(i).name() == "Execute InsertIntoHadoopFsRelationCommand"
                for i in range(nodes.size())
            )
        return n

    d = tmp_path / "iod"
    write = (
        f"INSERT OVERWRITE DIRECTORY '{d}' USING parquet"
        " SELECT r_regionkey FROM region WHERE r_regionkey < {n}"
    )
    low = last_id()
    spark.sql(write.format(n=2))
    direct = writes_since(low)
    assert direct >= 1
    low = last_id()
    r = client_request(server.address, {"sql": write.format(n=2)})
    assert r["status"] == "done", r
    assert writes_since(low) == direct
    q = {"sql": f"SELECT count(*) AS n FROM parquet.`{d}`"}
    assert client_request(server.address, q)["rows"] == [[2]]
    assert client_request(server.address, q).get("cached") is True
    r = client_request(server.address, {"sql": write.format(n=5)})
    assert r["status"] == "done", r
    again = client_request(server.address, q)
    assert "cached" not in again and again["rows"] == [[5]], again


def test_unresolvable_command_flushes_everything(server):
    """A command whose write set can't be parsed (SET changes
    evaluation semantics for anything) keeps the conservative
    whole-cache flush."""
    client_request(server.address, {"sql": Q})
    assert client_request(server.address, {"sql": Q}).get("cached") is True
    r = client_request(
        server.address, {"sql": "SET spark.sql.shuffle.partitions=32"}
    )
    assert r["status"] == "done", r
    refreshed = client_request(server.address, {"sql": Q})
    assert "cached" not in refreshed and refreshed["status"] == "done"


def test_drop_table_invalidates_its_entries(server, tmp_path):
    out = str(tmp_path / "t_drop")
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE rc_drop USING parquet LOCATION '{out}' "
                "AS SELECT 1 AS one"},
    )
    assert mk["status"] == "done", mk
    qa = "SELECT sum(one) AS s FROM rc_drop"
    client_request(server.address, {"sql": qa})
    assert client_request(server.address, {"sql": qa}).get("cached") is True
    assert client_request(server.address, {"sql": "DROP TABLE rc_drop"})[
        "status"
    ] == "done"
    gone = client_request(server.address, {"sql": qa})
    assert gone["status"] == "error" and "cached" not in gone


def test_result_over_cached_table_flushes_on_scoped_invalidation(server):
    """Once the scan cache holds a table, a query over it lists no
    input files, so its read set is empty. That result must be stored
    as read set unknown: a scoped flush of the table's path keys has
    to drop it, never leave it served stale."""
    src = f"{SF_DIR}/supplier.parquet"
    assert server.executor.cache.ensure_cached(src, "supplier", _dir_bytes(src), "parquet")
    qs = "SELECT count(*) AS n, max(s_acctbal) AS mx FROM supplier"
    # joined with an uncached table the file list is non-empty but
    # lacks the cached source, which must still be in the read set
    qj = (
        "SELECT n_name, count(*) AS n FROM supplier"
        " JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"
    )
    for q in (qs, qj):
        assert client_request(server.address, {"sql": q})["status"] == "done"
        assert client_request(server.address, {"sql": q}).get("cached") is True
    server.results.invalidate_tables(tables_from_fingerprints({src}))
    for q in (qs, qj):
        again = client_request(server.address, {"sql": q})
        assert again["status"] == "done" and "cached" not in again


def test_clean_sessions_share_results(server):
    """Cross-client sharing (VERDICT r5 #7): sessions that have never
    run a session-scoped command see exactly the shared catalog, so
    one execution serves every clean client — the reference's whole
    point was cross-client sharing."""
    a = client_request(server.address, {"sql": Q, "session": "alice"})
    assert "cached" not in a  # first execution anywhere
    b = client_request(server.address, {"sql": Q, "session": "bob"})
    assert b.get("cached") is True  # bob served from alice's run
    assert b["rows"] == a["rows"] and b["columns"] == a["columns"]
    root = client_request(server.address, {"sql": Q})
    assert root.get("cached") is True  # the root session shares too


def test_dirty_session_keys_privately(server):
    """The moment a session runs ANY command, its text may resolve
    differently (temp views shadow shared tables) — it must key
    privately from then on, and never poison the shared namespace."""
    # alice creates a temp view shadowing nothing — she is dirty now
    r = client_request(
        server.address,
        {
            "sql": "CREATE TEMPORARY VIEW rc_dirty_v AS SELECT 1 AS one",
            "session": "alice",
        },
    )
    assert r["status"] == "done", r
    a1 = client_request(server.address, {"sql": Q, "session": "alice"})
    assert "cached" not in a1  # command flushed the cache; fresh run
    # bob (clean) does NOT see alice's private entry: he executes once
    # into the shared namespace...
    b1 = client_request(server.address, {"sql": Q, "session": "bob"})
    assert "cached" not in b1
    # ...then alice's repeat hits her PRIVATE key, bob's the shared one
    a2 = client_request(server.address, {"sql": Q, "session": "alice"})
    b2 = client_request(server.address, {"sql": Q, "session": "bob"})
    assert a2.get("cached") is True and b2.get("cached") is True
    # alice's private view never leaks into the shared namespace: a
    # clean client asking for her view text gets a clean error, not
    # her cached rows
    v = client_request(
        server.address, {"sql": "SELECT * FROM rc_dirty_v", "session": "carol"}
    )
    assert v["status"] == "error"


def test_nondeterministic_query_not_cached(server):
    sql = "SELECT count(*) AS n FROM region WHERE rand() >= 0"
    client_request(server.address, {"sql": sql})
    again = client_request(server.address, {"sql": sql})
    assert "cached" not in again


def test_reflected_uuid_is_never_served_from_cache(spark, server):
    """The reflection functions call any JVM method by name (here one
    that would set a JVM system property): the gateway's sessions, root
    and named alike, refuse all three, and nothing runs or is cached."""
    prop = "sparksql_server.reflect_probe"
    system = spark._jvm.java.lang.System
    system.clearProperty(prop)
    for fn in ("reflect", "java_method", "try_reflect"):
        sql = (
            f"SELECT {fn}('java.lang.System', 'setProperty', '{prop}', '1') AS u"
            " FROM region WHERE r_regionkey = 0"
        )
        for session in (None, "refl"):
            r = client_request(server.address, {"sql": sql, "session": session})
            assert r["status"] == "error", r
            assert "UNRESOLVED_ROUTINE" in r["error"], r
    assert system.getProperty(prop) is None


def test_execute_immediate_of_a_call_flushes_only_its_target(server, tmp_path):
    """A statement built by a function call over constants names its
    target once analyzed: the write flushes the entries reading it, and
    a cached read of another table stays."""
    loc = tmp_path / "ei_call"
    loc.mkdir()
    mk = client_request(
        server.address,
        {"sql": f"CREATE TABLE ei_t (x INT) USING parquet LOCATION '{loc}'"},
    )
    assert mk["status"] == "done", mk
    try:
        q, q_other = "SELECT count(*) AS n FROM ei_t", "SELECT count(*) AS n FROM nation"
        for sql in (q, q_other):
            client_request(server.address, {"sql": sql})
            assert client_request(server.address, {"sql": sql}).get("cached") is True
        ins = client_request(server.address, {
            "sql": "EXECUTE IMMEDIATE concat('INSERT INTO ', 'ei_t', ' VALUES (7)')"
        })
        assert ins["status"] == "done", ins
        assert client_request(server.address, {"sql": q_other}).get("cached") is True
        after = client_request(server.address, {"sql": q})
        assert "cached" not in after and after["rows"] == [[1]], after
    finally:
        client_request(server.address, {"sql": "DROP TABLE IF EXISTS ei_t"})


def test_jdbc_execute_immediate_of_a_call_taints_its_target(spark):
    """Through prime(), the same statement puts the long taint on its
    target alone, not the short taint that refuses every put."""
    srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
    try:
        srv.prime("EXECUTE IMMEDIATE concat('INSERT INTO ', 'ei_t', ' VALUES (7)')")
        with srv.results._lock:
            taints = list(srv.results._taints)
        assert [t[0] for t in taints] == [frozenset({"ei_t"})], taints
        assert taints[0][1] - time.monotonic() > srv.jdbc_command_reflush_seconds
    finally:
        srv.shutdown()


def test_taint_starvation_is_scoped_and_counted():
    """VERDICT r7 ask #5: a steady stream of commands writing table A
    must not zero the hit rate for table B — refusal is scoped by
    keys_intersect — and every taint-refused put is observable via the
    counter. The worst case is characterized: puts READING the written
    table are refused while commands keep arriving plus one TTL, which
    is exactly the maybe-stale window; the live-taint list stays
    bounded by one TTL horizon's worth of commands."""
    rc = ResultCache()
    # 50 commands writing A arrive back to back (each taints A)
    for _ in range(50):
        rc.taint_tables(frozenset({"a"}), 5.0)
    # queries reading A are refused (their input may be mid-command) …
    ka = ("", "SELECT * FROM a")
    for i in range(10):
        rc.put(ka, {"v": i}, tables=frozenset({"a"}))
    assert rc.get(ka) is None
    assert rc.stats()["result_cache_taint_refused"] == 10
    # … while unrelated-table queries cache at full hit rate THROUGHOUT
    for i in range(10):
        kb = ("", f"SELECT {i} FROM b")
        rc.put(kb, {"v": i}, tables=frozenset({"b"}))
        assert rc.get(kb) == {"v": i}
    assert rc.stats()["result_cache_taint_refused"] == 10  # none refused
    # unknown read sets refuse conservatively under ANY live taint
    rc.put(("", "SELECT ?"), {"v": 1}, tables=None)
    assert rc.stats()["result_cache_taint_refused"] == 11
    # the live list is pruned, not accumulated forever
    assert rc.stats()["result_cache_live_taints"] == 50
    rc2 = ResultCache()
    for _ in range(50):
        rc2.taint_tables(frozenset({"a"}), 0.001)
    time.sleep(0.01)
    rc2.taint_tables(frozenset({"a"}), 5.0)  # prunes the expired 50
    assert rc2.stats()["result_cache_live_taints"] == 1
    # after expiry the written table caches again — the refusal horizon
    # is bounded by (last command arrival + TTL), never permanent
    rc3 = ResultCache()
    rc3.taint_tables(frozenset({"a"}), 0.05)
    time.sleep(0.06)
    rc3.put(ka, {"v": 99}, tables=frozenset({"a"}))
    assert rc3.get(ka) == {"v": 99}


def test_benign_jdbc_housekeeping_preserves_cache_and_substitution(server):
    """VERDICT r7 ask #1 (gateway half): whitelisted housekeeping
    through the JDBC gate neither flushes the result cache nor opens a
    taint, and answer_jdbc classifies it as benign passthrough so the
    proxy keeps the connection substitution-clean."""
    from sparksql_server_spark.server import client_request

    q = "SELECT count(*) AS n FROM region"
    client_request(server.address, {"sql": q})
    assert client_request(server.address, {"sql": q}).get("cached") is True
    for cmd in (
        "USE `default`",
        "use default",
        "SET",
        "SET -v",
        "SET hive.server2.thrift.resultset.max.fetch.size",
        "SET hive.server2.thrift.resultset.max.fetch.size=500",
        "RESET",
    ):
        server.prime(cmd)
        assert server.answer_jdbc(cmd) == {"passthrough": "benign"}, cmd
    # housekeeping left the cached entry alone
    assert client_request(server.address, {"sql": q}).get("cached") is True
    # non-benign commands still classify as demoting commands
    assert server.answer_jdbc("USE warehouse2") == {"passthrough": "command"}
    assert server.answer_jdbc("SET spark.sql.ansi.enabled=true") == {
        "passthrough": "command"
    }


def test_jdbc_command_taint_blocks_caching_in_the_window(spark):
    """ADVICE r6 + review r7: prime() flushes BEFORE the JDBC command
    executes on HiveServer2, so a query in that window could cache a
    pre-command result. The write-set taint closes it in the safe
    direction: while the taint is live, queries READING the written
    table execute but are not cached (their input may reflect pre- or
    mid-command state); unrelated tables cache normally; after the
    taint expires, caching resumes."""
    from sparksql_server_spark.server import WorkSharingServer, client_request

    srv = WorkSharingServer(
        spark, SF_DIR, window_size=1, max_wait=0.1,
        jdbc_command_taint_seconds=2.0,
    )
    srv.start()
    try:
        q = "SELECT count(*) AS n FROM region"
        q_other = "SELECT count(*) AS n FROM nation"
        # JDBC command arrives at the gate (the flush fires now; the
        # command itself would execute on HiveServer2 AFTER this)
        srv.prime("REFRESH TABLE region")
        # a racing gateway query over the WRITTEN table runs fine but
        # its result is refused by the taint — no stale entry can form
        # no matter how long HiveServer2 takes
        client_request(srv.address, {"sql": q})
        assert "cached" not in client_request(srv.address, {"sql": q})
        # an unrelated table is untouched by the scoped taint
        client_request(srv.address, {"sql": q_other})
        assert client_request(srv.address, {"sql": q_other}).get("cached") is True
        # after the taint horizon, the written table caches again
        time.sleep(2.1)
        client_request(srv.address, {"sql": q})
        assert client_request(srv.address, {"sql": q}).get("cached") is True
    finally:
        srv.shutdown()


def test_unscoped_jdbc_command_refuses_puts_within_its_horizon(spark):
    """A JDBC command that names no target may change anything once
    HiveServer2 runs it, at a time the gateway never observes: every
    put within ``jdbc_command_reflush_seconds`` of its arrival is
    refused rather than cached and served, and caching resumes after
    the horizon."""
    srv = WorkSharingServer(
        spark, SF_DIR, window_size=1, max_wait=0.1,
        jdbc_command_reflush_seconds=0.5,
    )
    try:
        srv.prime("SET spark.sql.ansi.enabled=false")
        k = ("", "SELECT count(*) AS n FROM nation")
        srv.results.put(
            k, {"rows": [[25]]}, generation=srv.results.generation,
            tables=frozenset({"nation"}),
        )
        assert srv.results.get(k) is None
        time.sleep(0.6)
        srv.results.put(
            k, {"rows": [[25]]}, generation=srv.results.generation,
            tables=frozenset({"nation"}),
        )
        assert srv.results.get(k) == {"rows": [[25]]}
    finally:
        srv.shutdown()


@pytest.mark.parametrize(
    "cmd",
    [
        "MERGE INTO region AS t USING nation s ON t.r_regionkey = s.n_regionkey"
        " WHEN MATCHED THEN DELETE",
        "UPDATE region r SET r_comment = ''",
        "DELETE FROM IDENTIFIER('region') AS r WHERE 1=1",
        "EXECUTE IMMEDIATE 'DELETE FROM region WHERE 1=1'",
        "EXECUTE IMMEDIATE 'DELETE FROM ' || 'region WHERE 1=1'",
    ],
)
def test_jdbc_aliased_write_taints_its_target(spark, cmd):
    """A JDBC write whose target carries an alias or an IDENTIFIER
    clause, or sits inside a constant EXECUTE IMMEDIATE statement,
    still names that target, so prime() taints it: a query over
    the written table is not cached while the command may still be
    running on HiveServer2, and an unrelated table caches normally."""
    srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
    try:
        q = "SELECT count(*) AS n FROM region"
        q_other = "SELECT count(*) AS n FROM nation"
        srv.prime(cmd)
        client_request(srv.address, {"sql": q})
        assert "cached" not in client_request(srv.address, {"sql": q})
        client_request(srv.address, {"sql": q_other})
        assert client_request(srv.address, {"sql": q_other}).get("cached") is True
    finally:
        srv.shutdown()


# -- round 10 (VERDICT r9 ask #7): generative interleaving gate --------------
#
# The result cache's interaction surface with the merge path grew three
# rounds running (merged members seed the cache under their original
# SQL; derived tables and deadline pools all route through the same
# batch) while the cache tests stayed example-based.
# This pool interleaves MERGED BATCHES (same-signature aggregations
# submitted concurrently into one window), CACHE HITS (repeat texts)
# and INVALIDATING COMMANDS (OR REPLACE of a temp view the query pool
# reads), asserting after every operation that the served result —
# cached or fresh, merged or direct — equals an independent
# spark.sql() run against the CURRENT catalog state.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# same-signature family (table + grouping keys match => one MRShare
# signature): exact-typed aggregates only — merged and direct plans may
# legitimately differ in float summation order, which is not what this
# gate is for
_MERGE_FAMILY = [
    "SELECT l_returnflag, l_linestatus, count(*) AS c FROM lineitem"
    " GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sq FROM lineitem"
    " WHERE l_discount > 0.02 GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, l_linestatus, max(l_extendedprice) AS mx FROM lineitem"
    " WHERE l_quantity >= 25 GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, l_linestatus, min(l_shipdate) AS mn FROM lineitem"
    " WHERE l_linenumber = 1 GROUP BY l_returnflag, l_linestatus",
    "SELECT l_returnflag, l_linestatus, count(DISTINCT l_suppkey) AS ds"
    " FROM lineitem GROUP BY l_returnflag, l_linestatus",
]
# reads that observe the command pool's temp-view shadow
_NATION_QS = [
    "SELECT count(*) AS n FROM nation",
    "SELECT max(n_nationkey) AS m FROM nation",
    "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey",
]
_NATION_SRC = f"parquet.`{SF_DIR}/nation.parquet`"
_COMMANDS = [
    f"CREATE OR REPLACE TEMP VIEW nation AS SELECT * FROM {_NATION_SRC}"
    f" WHERE n_regionkey <= {k}"
    for k in (0, 1, 3)
] + [f"CREATE OR REPLACE TEMP VIEW nation AS SELECT * FROM {_NATION_SRC}"]

_EXERCISED = {"hits": 0, "merges": 0, "cmds": 0}

_op = st.one_of(
    st.tuples(
        st.just("batch"),
        st.lists(
            st.sampled_from(range(len(_MERGE_FAMILY))),
            min_size=2, max_size=3, unique=True,
        ),
    ),
    st.tuples(
        st.just("q"),
        st.sampled_from(range(len(_MERGE_FAMILY) + len(_NATION_QS))),
    ),
    st.tuples(st.just("cmd"), st.sampled_from(range(len(_COMMANDS)))),
)


def _expected(spark, q):
    return sorted(tuple(r) for r in spark.sql(q).collect())


def _check(spark, resp, q, exp):
    __tracebackhide__ = True
    assert resp.get("status") == "done", (q, resp.get("error"))
    if resp.get("cached"):
        _EXERCISED["hits"] += 1
    got = sorted(tuple(r) for r in resp["rows"])
    assert got == exp, (q, resp.get("cached"), got[:3], exp[:3])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_op, min_size=3, max_size=8))
def test_cache_vs_merge_interleaving_property(spark, ops):
    import threading

    from sparksql_server_spark.catalog import register_tables

    srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=5.0).start()
    srv.executor.mrshare_min_bytes = 0
    try:
        for kind, arg in ops:
            if kind == "batch":
                qs = [_MERGE_FAMILY[i] for i in arg]
                exps = {q: _expected(spark, q) for q in qs}
                merged_before = srv.executor.stats["mrshare_plans"]
                srv.batcher.window_size = len(qs)
                resps: dict[str, dict] = {}
                ts = [
                    threading.Thread(
                        target=lambda q=q: resps.__setitem__(
                            q, srv.handle_request({"sql": q})
                        )
                    )
                    for q in qs
                ]
                for t in ts:
                    t.start()
                for t in ts:
                    t.join(timeout=300)
                srv.batcher.window_size = 1
                for q in qs:
                    _check(spark, resps[q], q, exps[q])
                _EXERCISED["merges"] += (
                    srv.executor.stats["mrshare_plans"] - merged_before
                )
            elif kind == "q":
                pool = _MERGE_FAMILY + _NATION_QS
                q = pool[arg]
                exp = _expected(spark, q)
                _check(spark, srv.handle_request({"sql": q}), q, exp)
            else:
                _EXERCISED["cmds"] += 1
                resp = srv.handle_request({"sql": _COMMANDS[arg]})
                assert resp.get("status") == "done", resp
        # closing sweep: every pool member must still serve rows equal
        # to an independent run against the CURRENT catalog state
        for q in _MERGE_FAMILY + _NATION_QS:
            _check(spark, srv.handle_request({"sql": q}), q, _expected(spark, q))
    finally:
        srv.shutdown()
        register_tables(spark, SF_DIR)  # restore the real nation view


def test_cache_vs_merge_interleaving_pool_was_not_vacuous():
    """Runs after the property pool (file order): the generated
    interleavings must actually have exercised cache hits, MRShare
    merges AND invalidating commands — an equality gate over paths
    that never fire proves nothing."""
    assert _EXERCISED["hits"] > 0, _EXERCISED
    assert _EXERCISED["merges"] > 0, _EXERCISED
    assert _EXERCISED["cmds"] > 0, _EXERCISED


def test_select_shape_semantic_keys(K):
    """Projection/selection statements key on their plan too: conjunct
    order, mirrored comparisons, qualifier spelling and join operand
    order hit ONE entry; item order, output-name case, LIMIT value and
    ORDER BY direction key apart. DISTINCT, star, OFFSET and subquery
    shapes get plan keys as well. IN vs OR stays two keys (drop
    list)."""
    assert K(
        "SELECT r_regionkey, r_name FROM region"
        " WHERE r_regionkey > 1 AND r_name <> 'ASIA' ORDER BY r_regionkey"
    ) == K(
        "select r_regionkey, r_name from region"
        " where 'ASIA' <> r_name and 1 < r_regionkey order by r_regionkey ASC"
    )
    assert K("SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('O','F')") == K(
        "SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F','O')"
    )
    assert K("SELECT c.c_name AS n FROM customer c WHERE c.c_acctbal > 100") == K(
        "SELECT c_name AS n FROM customer WHERE 100 < c_acctbal"
    )
    assert K(
        "SELECT o_orderpriority AS p FROM orders JOIN lineitem"
        " ON o_orderkey = l_orderkey WHERE l_tax < 0.05"
    ) == K(
        "SELECT o_orderpriority AS p FROM lineitem JOIN orders"
        " ON l_orderkey = o_orderkey WHERE 0.05 > l_tax"
    )
    assert K("SELECT r_name AS n FROM region") != K("SELECT r_name AS N FROM region")
    assert K("SELECT r_name, r_regionkey FROM region") != K(
        "SELECT r_regionkey, r_name FROM region"
    )
    assert K("SELECT r_name FROM region LIMIT 3") != K(
        "SELECT r_name FROM region LIMIT 4"
    )
    assert K("SELECT r_name FROM region ORDER BY r_name") != K(
        "SELECT r_name FROM region ORDER BY r_name DESC"
    )
    assert K("SELECT r_regionkey+1 FROM region") == K(
        "SELECT r_regionkey + 1 FROM region"
    )
    for q in (
        "SELECT * FROM region",
        "SELECT DISTINCT r_name FROM region",
        "SELECT r_name FROM region OFFSET 2",
        "SELECT (SELECT max(r_regionkey) FROM region) AS m FROM region",
        "SELECT r_name FROM region"
        " WHERE r_regionkey IN (SELECT n_regionkey FROM nation)",
    ):
        assert isinstance(K(q), PlanKey), q


def test_select_respelling_served_from_cache(server):
    q1 = (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_orderstatus IN ('O','F') AND o_totalprice > 1000"
        " ORDER BY o_orderkey LIMIT 20"
    )
    q2 = (
        "select o_orderkey, o_totalprice from orders"
        " where 1000 < o_totalprice"
        " and o_orderstatus in ('F', 'O')"
        " order by o_orderkey ASC limit 20"
    )
    first = client_request(server.address, {"sql": q1})
    assert first["status"] == "done" and "cached" not in first
    second = client_request(server.address, {"sql": q2})
    assert second["status"] == "done" and second.get("cached") is True
    assert second["rows"] == first["rows"]


def test_limit_subsumption_unit(K):
    """Round 12: a semantic-key miss differing ONLY in a smaller LIMIT
    serves the cached rows' prefix — an un-LIMITed source serves any
    LIMIT, a LIMIT-m source serves n <= m, never the reverse; text
    keys never subsume; namespaces stay disjoint."""
    rc = ResultCache(max_entries=8, ttl_seconds=60)
    base = "SELECT r_regionkey AS k FROM region ORDER BY r_regionkey"
    rows20 = [[i] for i in range(20)]
    rc.put(
        K(base + " LIMIT 20"),
        {"status": "done", "rows": rows20, "n_rows": 20, "columns": ["k"]},
    )
    out = rc.get(K(base + " LIMIT 5"))
    assert out is not None and out["rows"] == rows20[:5] and out["n_rows"] == 5
    assert rc.limit_subsumed_hits == 1
    # a LARGER limit must miss (the source may have clipped rows 21+)
    assert rc.get(K(base + " LIMIT 30")) is None
    # an un-LIMITed source serves any limit, even above its row count
    rc.put(
        K(base),
        {"status": "done", "rows": rows20, "n_rows": 20, "columns": ["k"]},
    )
    out = rc.get(K(base + " LIMIT 30"))
    assert out is not None and out["rows"] == rows20 and out["n_rows"] == 20
    # the cached source entry must not be mutated by slicing
    full = rc.get(K(base + " LIMIT 20"))
    assert full["rows"] == rows20 and full["n_rows"] == 20
    # respelled smaller-limit spelling subsumes too (semantic base)
    out = rc.get(
        K("select r_regionkey as k from region order by r_regionkey"
            " ASC limit 3",
        )
    )
    assert out is not None and out["rows"] == rows20[:3]
    # namespaces stay disjoint
    assert rc.get(K(base + " LIMIT 5", "s1")) is None
    # keys that are not plan keys never subsume
    rc.put(("", "some text key"), {"status": "done", "rows": rows20})
    assert rc.get(("", "some text key limit 5")) is None


def test_limit_subsumption_served_from_server(server):
    q_big = (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_totalprice > 1000"
        " ORDER BY o_orderkey LIMIT 20"
    )
    q_small = (
        "select o_orderkey, o_totalprice from orders"
        " where 1000 < o_totalprice"
        " order by o_orderkey ASC limit 7"
    )
    first = client_request(server.address, {"sql": q_big})
    assert first["status"] == "done" and "cached" not in first
    second = client_request(server.address, {"sql": q_small})
    assert second["status"] == "done" and second.get("cached") is True
    assert second["rows"] == first["rows"][:7]
    assert second["columns"] == first["columns"]
    stats = client_request(server.address, {"server_stats": True})["stats"]
    assert stats["result_cache_limit_subsumed_hits"] >= 1


def test_limit_subsumption_after_exact_entry_expires(K):
    """Round-12 review: a TTL-expired exact entry must fall through to
    subsumption — the request is served exactly as it would be with no
    stale entry present."""
    import time as _time

    rc = ResultCache(max_entries=8, ttl_seconds=0.2)
    base = "SELECT r_regionkey AS k FROM region ORDER BY r_regionkey"
    rows = [[i] for i in range(10)]
    rc.put(
        K(base + " LIMIT 5"),
        {"status": "done", "rows": rows[:5], "n_rows": 5, "columns": ["k"]},
    )
    _time.sleep(0.25)  # exact entry expires
    rc.put(
        K(base),
        {"status": "done", "rows": rows, "n_rows": 10, "columns": ["k"]},
    )
    out = rc.get(K(base + " LIMIT 5"))
    assert out is not None and out["rows"] == rows[:5] and out["n_rows"] == 5
    assert rc.limit_subsumed_hits == 1


def test_window_items_key_semantically(K):
    """Window (OVER) items key on their plan: respellings of one spec
    share a key, any spec difference keys apart, and windowed
    aggregations key like any other statement."""
    a = (
        "SELECT o_orderkey, row_number() OVER (ORDER BY o_totalprice DESC)"
        " AS rn FROM orders WHERE o_orderstatus IN ('O','F')"
    )
    b = (
        "select o_orderkey, ROW_NUMBER() over ( order by o_totalprice DESC )"
        " AS rn from orders where o_orderstatus in ('F', 'O')"
    )
    assert K(a) == K(b) and isinstance(K(a), PlanKey)
    assert K(a) != K(a.replace("DESC", "ASC"))
    # two items over one spec whose column case differs: the analyzer
    # stacks two windows where the same-case spelling builds one
    two = (
        "SELECT row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r1,"
        " rank() OVER (ORDER BY o_totalprice, o_orderkey) AS r2 FROM orders"
    )
    assert K(two) == K(two.replace("rank() OVER (ORDER BY o_totalprice, o_orderkey)",
                                   "RANK() OVER (ORDER BY O_TOTALPRICE, O_ORDERKEY)"))
    # respelled items on both sides of a plain one: the collapsed window
    # lists the items in the order the analyzer split them
    spec = "OVER (ORDER BY o_totalprice, o_orderkey)"
    three = (
        f"SELECT row_number() {spec} AS r1, rank() {spec} AS r2,"
        f" dense_rank() {spec} AS r3 FROM orders"
    )
    assert K(three) == K(three.replace(spec, spec.upper()).replace(
        f"rank() {spec.upper()} AS r2", f"rank() {spec} AS r2"))
    assert isinstance(
        K(
            "SELECT o_orderpriority, count(*) AS n,"
            " rank() OVER (ORDER BY count(*)) AS r"
            " FROM orders GROUP BY o_orderpriority"
        ),
        PlanKey,
    )


def test_window_respelling_served_from_cache(server):
    q1 = (
        "SELECT o_orderkey,"
        " rank() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk"
        " FROM orders WHERE o_totalprice > 1000 ORDER BY rk LIMIT 10"
    )
    q2 = (
        "select o_orderkey,"
        " RANK() over (order by o_totalprice DESC, o_orderkey) as rk"
        " from orders where 1000 < o_totalprice order by rk ASC limit 10"
    )
    first = client_request(server.address, {"sql": q1})
    assert first["status"] == "done" and "cached" not in first
    second = client_request(server.address, {"sql": q2})
    assert second["status"] == "done" and second.get("cached") is True
    assert second["rows"] == first["rows"]


def test_limit_subsumption_on_aggregation_shape(K):
    """The subsumption rule is shape-agnostic: "sem" keys also carry
    LIMIT as the final element, so a cached un-LIMITed aggregation
    serves its LIMITed respellings."""
    rc = ResultCache(max_entries=8, ttl_seconds=60)
    base = (
        "SELECT l_returnflag, count(*) AS n FROM lineitem"
        " GROUP BY l_returnflag ORDER BY n DESC"
    )
    rows = [["A", 30], ["B", 20], ["C", 10]]
    rc.put(
        K(base),
        {"status": "done", "rows": rows, "n_rows": 3, "columns": ["l_returnflag", "n"]},
    )
    out = rc.get(
        K("select l_returnflag, COUNT( * ) as n from lineitem"
            " group by l_returnflag order by n DESC limit 2",
        )
    )
    assert out is not None and out["rows"] == rows[:2] and out["n_rows"] == 2
    assert rc.limit_subsumed_hits == 1


def test_comment_markers_decline_semantic_keys(K):
    """Comments are Spark's lexer's business: ``a - -1`` is arithmetic
    while ``a --1`` starts a line comment, so the two are different
    statements with different keys; a block comment changes nothing;
    comment markers inside literals are data."""
    minus = K("SELECT r_regionkey - -1 AS x FROM region")
    assert isinstance(minus, PlanKey)
    assert minus != K("SELECT r_regionkey --1 AS x FROM region\n FROM region")
    assert K("SELECT r_name AS x /* c */ FROM region") == K(
        "SELECT r_name AS x FROM region"
    )
    assert K("SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'a--b'") != K(
        "SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'a'"
    )


def test_order_item_asc_parity_after_non_word_char(K):
    """ASC is the default sort direction, parenthesized or not, and a
    column named ``asc`` is an ordinary sort key."""
    assert K("SELECT o_orderkey FROM orders ORDER BY (o_orderkey + 1)") == K(
        "SELECT o_orderkey FROM orders ORDER BY (o_orderkey + 1) ASC"
    )
    assert K("SELECT o_orderkey AS asc FROM orders ORDER BY asc") is not None


@pytest.mark.parametrize("seed", [1, 2])
def test_dashboard_hot_spellings_served_from_cache(server, seed):
    """Every hot query of the dashboard benchmark workload, sent through
    a live server: after its canonical spelling, each variant spelling
    (swapped conjuncts, permuted IN list, swapped join operands) is
    answered from the cache, and the LIMIT-12 variant by subsumption of
    the cached LIMIT-30 rows."""
    from perfbench.workloads import dashboard_hot

    for spellings in dashboard_hot(seed):
        first = client_request(server.address, {"sql": spellings[0]})
        assert first["status"] == "done", first
        for variant in spellings[1:]:
            before = client_request(server.address, {"server_stats": True})["stats"]
            got = client_request(server.address, {"sql": variant})
            assert got["status"] == "done" and got.get("cached") is True, variant
            after = client_request(server.address, {"server_stats": True})["stats"]
            if " LIMIT 12" in variant:
                assert (
                    after["result_cache_limit_subsumed_hits"]
                    == before["result_cache_limit_subsumed_hits"] + 1
                )
                assert got["rows"] == first["rows"][:12]
            else:
                assert sorted(map(tuple, got["rows"])) == sorted(
                    map(tuple, first["rows"])
                )


def test_keys_stay_exact(spark, server):
    """Plan keys never widen what one text means: the same text over two
    same-schema temp views is two keys; a temp view redefined in a dirty
    session is a new key (and new rows); a swapped output alias or
    select-item order is a different key."""
    register_tables(spark, SF_DIR)
    a, b = spark.newSession(), spark.newSession()
    register_tables(a, SF_DIR)
    register_tables(b, SF_DIR)
    spark.table("region").filter("r_regionkey < 2").createOrReplaceTempView("rv")
    a.sql("CREATE TEMP VIEW rv AS SELECT * FROM region WHERE r_regionkey < 2")
    b.sql("CREATE TEMP VIEW rv AS SELECT * FROM region WHERE r_regionkey >= 2")
    try:
        q = "SELECT count(*) AS n FROM rv"
        ka, kb = (ResultCache.key(None, analyzed_plan(s, q)) for s in (a, b))
        assert ka != kb
        assert ka == ResultCache.key(None, analyzed_plan(spark, q))
    finally:
        spark.catalog.dropTempView("rv")

    def ask(sql):
        return client_request(server.address, {"sql": sql, "session": "exact"})

    assert ask("CREATE TEMP VIEW ev AS SELECT * FROM region WHERE r_regionkey < 2")[
        "status"
    ] == "done"
    first = ask("SELECT count(*) AS n FROM ev")
    assert first["rows"] == [[2]] and "cached" not in first
    assert ask("SELECT count(*) AS n FROM ev").get("cached") is True
    assert ask(
        "CREATE OR REPLACE TEMP VIEW ev AS SELECT * FROM region WHERE r_regionkey < 4"
    )["status"] == "done"
    again = ask("SELECT count(*) AS n FROM ev")
    assert again["rows"] == [[4]] and "cached" not in again

    K = lambda s: ResultCache.key(None, analyzed_plan(spark, s))  # noqa: E731
    assert K("SELECT r_name AS a, r_regionkey AS b FROM region") != K(
        "SELECT r_name AS b, r_regionkey AS a FROM region"
    )
    assert K("SELECT r_name, r_regionkey FROM region") != K(
        "SELECT r_regionkey, r_name FROM region"
    )
