"""Work-sharing server tests: detection semantics, cache-equivalence
(BASELINE.md claim: batched/cached results == independent results),
window batching, and the TCP protocol."""

from __future__ import annotations

import math
import re
import socket
import time

import pytest

from sparksql_server_spark.server import (
    BatchExecutor,
    CacheManager,
    JobStatus,
    QueryJob,
    RewriteKind,
    WindowBatcher,
    WorkSharingServer,
    client_request,
    detect_sharing,
)
from sparksql_server_spark.server.scheduler import classify
from sparksql_server_spark.server.server import source_view_map
from sparksql_server_spark.catalog import _dir_bytes, register_tables
from sparksql_server_spark.plans.analysis import scan_nodes
from tests.conftest import SF_DIR, analyzed_plan


def _job(i, sql, fps=()):
    j = QueryJob(job_id=i, sql=sql)
    j.fingerprints = frozenset(fps)
    return j


class TestDetector:
    def test_groups_by_shared_source(self):
        jobs = [
            _job(1, "", {"A"}),
            _job(2, "", {"A"}),
            _job(3, "", {"B"}),
        ]
        bags = detect_sharing(jobs)
        sizes = sorted(len(b.jobs) for b in bags)
        assert sizes == [1, 2]

    def test_transitive_bridging(self):
        # the reference's fixpoint semantics (ScanSharing.scala:95-119):
        # {A}, {A,B}, {B} all end up in ONE bag
        jobs = [_job(1, "", {"A"}), _job(2, "", {"A", "B"}), _job(3, "", {"B"})]
        bags = detect_sharing(jobs)
        assert len(bags) == 1 and len(bags[0].jobs) == 3
        assert bags[0].shared_sources == {"A", "B"}

    def test_singletons_pass_through(self):
        jobs = [_job(1, "", {"A"}), _job(2, "", {"B"})]
        bags = detect_sharing(jobs)
        assert all(len(b.jobs) == 1 and not b.shared_sources for b in bags)

    def test_partition_matches_fixpoint_model(self):
        """Property gate: detect_sharing (union-find) must produce the
        SAME partition as an independently-written fixpoint closure —
        the literal shape of the reference's ``analyse`` loop
        (ScanSharing.scala:95-119: repeatedly merge groups whose source
        sets intersect until nothing merges). Randomized over job/source
        shapes incl. empty fingerprint sets (DDL) and long chains."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        def fixpoint_partition(fp_sets):
            groups = [({i}, set(fps)) for i, fps in enumerate(fp_sets)]
            changed = True
            while changed:
                changed = False
                for a in range(len(groups)):
                    for b in range(a + 1, len(groups)):
                        if groups[a][1] & groups[b][1]:
                            groups[a][0].update(groups[b][0])
                            groups[a][1].update(groups[b][1])
                            del groups[b]
                            changed = True
                            break
                    if changed:
                        break
            return sorted(sorted(g[0]) for g in groups)

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(
                st.frozensets(st.sampled_from("ABCDEFGH"), max_size=4),
                max_size=12,
            )
        )
        def check(fp_sets):
            jobs = [_job(i, "", fps) for i, fps in enumerate(fp_sets)]
            bags = detect_sharing(jobs)
            got = sorted(sorted(j.job_id for j in b.jobs) for b in bags)
            assert got == fixpoint_partition(fp_sets)
            # shared_sources = exactly the sources scanned by 2+ members
            for b in bags:
                counts: dict[str, int] = {}
                for j in b.jobs:
                    for s in j.fingerprints:
                        counts[s] = counts.get(s, 0) + 1
                expect = {s for s, c in counts.items() if c > 1} if len(b.jobs) > 1 else set()
                assert set(b.shared_sources) == expect

        check()


class TestBatcher:
    def test_size_trigger(self):
        b = WindowBatcher(window_size=2, max_wait=60)
        b.submit(_job(1, "x"))
        assert b.next_batch(block=False) == []
        b.submit(_job(2, "y"))
        assert [j.job_id for j in b.next_batch(block=False)] == [1, 2]

    def test_timeout_trigger_single_query(self):
        # the reference's documented gap: a lone query must still run
        b = WindowBatcher(window_size=5, max_wait=0.1)
        b.submit(_job(1, "x"))
        time.sleep(0.15)
        assert [j.job_id for j in b.next_batch(block=False)] == [1]

    def test_single_query_latency_bounded_at_reference_constants(self):
        """Wall-clock bound for the window-latency trade (SURVEY §7
        hard-part #4): at the reference's shipped constants (window=2,
        5 s poll — ServerConstants.scala:29-33), a lone query must be
        handed to the executor within max_wait + poll + scheduling
        slack, never wait indefinitely for a second query (the
        reference's behavior), and never fire before its age trigger.
        """
        import threading

        b = WindowBatcher(window_size=2, max_wait=5.0, poll_interval=0.05)
        got: dict[str, object] = {}

        def consume() -> None:
            t0 = time.monotonic()
            batch = b.next_batch(block=True)
            got["elapsed"] = time.monotonic() - t0
            got["ids"] = [j.job_id for j in batch]

        t = threading.Thread(target=consume, daemon=True)
        t.start()
        b.submit(_job(1, "x"))
        t.join(timeout=30)
        assert not t.is_alive(), "batcher never released the single query"
        assert got["ids"] == [1]
        # age trigger honored: not before max_wait, not (much) after
        assert 5.0 <= got["elapsed"] <= 5.0 + 0.05 + 0.5, got["elapsed"]


    def test_writer_ends_its_batch(self):
        """A drain stops at the first writer (a command or a sink job):
        reads queued behind a write go to the next batch, which the
        executor plans only after the write has run."""
        b = WindowBatcher(window_size=1, max_wait=60)
        for job in (
            _job(1, "x"),
            QueryJob(job_id=2, sql="INSERT INTO t VALUES (1)", is_query=False),
            _job(3, "y"),
            QueryJob(job_id=4, sql="SELECT 1", props={"output": "/x"}, is_query=True),
            _job(5, "z"),
        ):
            b.submit(job)
        assert [j.job_id for j in b.next_batch(block=False)] == [1, 2]
        assert [j.job_id for j in b.next_batch(block=False)] == [3, 4]
        assert [j.job_id for j in b.next_batch(block=False)] == [5]

    def test_blocking_drain_gives_up_after_timeout(self):
        b = WindowBatcher(window_size=2, max_wait=60)
        t0 = time.monotonic()
        assert b.next_batch(timeout=0.1) == []
        assert 0.1 <= time.monotonic() - t0 < 1.0


QUERIES = [
    "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "SELECT l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q"
    " FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus",
    "SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05",
    "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY 1",
]


class TestBatchExecutor:
    @pytest.fixture()
    def executor(self, spark):
        register_tables(spark, SF_DIR)
        ex = BatchExecutor(
            spark,
            # min_bytes=0 + zero benefit bars: sf0.001 tables are tiny
            # and the queries narrow; tests exercise the caching path
            # that production admission reserves for big, wide-enough,
            # expensive-to-rescan scans
            cache=CacheManager(
                spark,
                budget_bytes=1 << 30,
                min_bytes=0,
                benefit_factor=0.0,
                columnar_benefit_factor=0.0,
            ),
            source_views=source_view_map(SF_DIR),
        )
        yield ex
        ex.cache.clear()

    def test_shared_batch_matches_independent(self, spark, executor):
        # independent runs (no server, no cache)
        expected = [
            [tuple(r) for r in spark.sql(q).collect()] for q in QUERIES
        ]
        jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(QUERIES)]
        bags = executor.run_batch_and_wait(jobs)
        # lineitem is shared by 3 jobs -> its bag must take the caching path
        caching_bags = [b for b in bags if b.rewrite is RewriteKind.CACHING]
        assert len(caching_bags) == 1 and len(caching_bags[0].jobs) == 3
        for job, exp in zip(jobs, expected):
            assert job.status is JobStatus.DONE, job.error
            assert job.rows == exp

    def test_scalar_subquery_source_is_fingerprinted(self, executor):
        """A scalar subquery's scan is one of the job's sources: the
        plan walk reads subquery plans as well as the main one."""
        job = QueryJob(
            job_id=1,
            sql="SELECT (SELECT max(r_regionkey) FROM region), count(*) FROM part",
        )
        executor.analyze(job)
        assert job.fingerprints == {
            SF_DIR + "/region.parquet",
            SF_DIR + "/part.parquet",
        }

    def test_cached_source_is_read_but_not_fingerprinted(self, executor):
        """A scan served from the scan cache reads memory: it is in the
        job's read set (width and format) but is no fingerprint, so it
        neither joins a bag nor prices a merge."""
        src, nation = SF_DIR + "/supplier.parquet", SF_DIR + "/nation.parquet"
        assert executor.cache.ensure_cached(src, "supplier", _dir_bytes(src), "parquet")
        job = QueryJob(
            job_id=1,
            sql="SELECT s_name, n_name FROM supplier"
            " JOIN nation ON s_nationkey = n_nationkey",
        )
        executor.analyze(job)
        assert job.fingerprints == {nation}
        assert set(job.reads) == {src, nation}

    def test_analysis_error_is_job_error(self, executor):
        jobs = [QueryJob(job_id=1, sql="SELECT * FROM no_such_table")]
        executor.run_batch_and_wait(jobs)
        assert jobs[0].status is JobStatus.ERROR
        assert "no_such_table" in (jobs[0].error or "")

    def test_small_scans_not_admitted(self, spark):
        """Default admission refuses scans below min_bytes — caching a
        10 MB table costs more than it saves (measured; the reference's
        own MRShare rewrite regressed the same way)."""
        register_tables(spark, SF_DIR)
        ex = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=1 << 30),  # default min_bytes
            source_views=source_view_map(SF_DIR),
        )
        jobs = [QueryJob(job_id=i, sql=QUERIES[i]) for i in range(2)]
        bags = ex.run_batch_and_wait(jobs)
        assert all(b.rewrite is RewriteKind.NOOP for b in bags)
        assert all(j.status is JobStatus.DONE for j in jobs)
        assert not ex.cache.cached_sources

    def test_output_sink(self, tmp_path, spark, executor):
        out = str(tmp_path / "out.parquet")
        jobs = [
            QueryJob(job_id=1, sql=QUERIES[0], props={"output": out}),
            QueryJob(job_id=2, sql=QUERIES[1]),
        ]
        executor.run_batch_and_wait(jobs)
        assert jobs[0].status is JobStatus.DONE
        assert [tuple(r) for r in spark.read.parquet(out).orderBy("l_returnflag").collect()] == [
            tuple(r) for r in spark.sql(QUERIES[0]).collect()
        ]


class TestServerTCP:
    @pytest.fixture()
    def server(self, spark):
        srv = WorkSharingServer(
            spark, SF_DIR, window_size=2, max_wait=0.2
        ).start()
        yield srv
        srv.shutdown()

    def test_round_trip(self, spark, server):
        reply = client_request(
            server.address,
            {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"},
        )
        assert reply["status"] == "done", reply
        expected = [list(r) for r in spark.sql(
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        ).collect()]
        assert reply["rows"] == expected
        assert reply["columns"] == ["r_regionkey", "r_name"]

    def test_error_reply(self, server):
        reply = client_request(server.address, {"sql": "SELECT broken FROM nowhere"})
        assert reply["status"] == "error" and "nowhere" in reply["error"]

    def test_server_stats_counters(self, server):
        """{"server_stats": true} exposes the optimizer-decision
        counters (the reference's per-batch log lines, queryable)."""
        before = client_request(server.address, {"server_stats": True})
        assert before["status"] == "done"
        client_request(server.address, {"sql": "SELECT count(*) AS n FROM region"})
        client_request(server.address, {"sql": "SELECT broken FROM nowhere"})
        after = client_request(server.address, {"server_stats": True})["stats"]
        assert after["jobs_run"] >= before["stats"]["jobs_run"] + 2
        assert after["jobs_failed"] >= before["stats"]["jobs_failed"] + 1
        assert after["batches"] > before["stats"]["batches"]
        for key in ("caching_bags", "mrshare_plans", "mrshare_merged_jobs"):
            assert key in after
        assert isinstance(after["cached_sources"], list)
        assert isinstance(after["queued"], int)

    def test_udf_through_gateway(self, server):
        """The vetted UDF surface is callable through the gateway."""
        reply = client_request(
            server.address,
            {"sql": "SELECT slugify(c_mktsegment) AS s FROM customer "
                    "GROUP BY c_mktsegment ORDER BY s LIMIT 1"},
        )
        assert reply["status"] == "done", reply
        assert reply["rows"][0][0] == "automobile"

    def test_uncached_query_is_planned_once(self, server, monkeypatch):
        """An uncached gateway query is parsed once (classify) and
        analyzed once, at intake; its one ``SparkSession.sql`` call is
        its execution."""
        from pyspark.sql import SparkSession

        sqls = []
        sql = SparkSession.sql

        def counted_sql(self, query, *a, **kw):
            sqls.append(query)
            return sql(self, query, *a, **kw)

        monkeypatch.setattr(SparkSession, "sql", counted_sql)
        q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
        reply = client_request(server.address, {"sql": q})
        assert reply["status"] == "done" and "cached" not in reply, reply
        assert sqls == [q]

    def test_missing_sql(self, server):
        reply = client_request(server.address, {"wat": 1})
        assert reply["status"] == "error"

    def test_async_submit_and_poll(self, server):
        reply = client_request(
            server.address,
            {"sql": "SELECT count(*) AS n FROM nation", "wait": False},
        )
        assert reply["status"] in ("queued", "running", "done")
        job_id = reply["id"]
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            poll = client_request(server.address, {"status": job_id})
            if poll["status"] == "done":
                assert poll["rows"] == [[25]] or poll["n_rows"] == 1
                return
            time.sleep(0.1)
        raise AssertionError("job never finished")


def test_scan_nodes_live_plan_with_scan_literal(spark):
    register_tables(spark, SF_DIR, ("supplier",))
    df = spark.sql(
        "SELECT s_name, s_acctbal FROM supplier WHERE s_name = 'Scan x'"
    )
    src = SF_DIR + "/supplier.parquet"
    width = len(spark.table("supplier").columns)
    assert scan_nodes(df) == [(src, 2, width, "parquet", _dir_bytes(src), False)]


def test_scan_nodes_lists_every_root(spark):
    """A read of several paths is one scan over several roots, whose
    printed plan shows only the first ("... 1 entries"): the plan walk
    lists each root with the scan's width and format, and prices each
    at the relation's total, the scan a merge or a cache would share."""
    a, b = SF_DIR + "/region.parquet", SF_DIR + "/nation.parquet"
    df = spark.read.parquet(a, b)
    width = len(df.columns)
    total = _dir_bytes(a) + _dir_bytes(b)
    assert sorted(scan_nodes(df)) == [
        (b, width, width, "parquet", total, False),
        (a, width, width, "parquet", total, False),
    ]


class TestGatewayHardening:
    """Fault paths of the gateway: explain must not execute commands,
    a batch-level fault must not kill the run loop, truncation must be
    visible on the wire."""

    @pytest.fixture()
    def server(self, spark):
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        yield srv
        srv.shutdown()

    def test_explain_rejects_commands(self, spark, server, tmp_path):
        """``spark.sql()`` executes DDL/DML EAGERLY at plan time, so an
        {"explain": ..., "sql": "CREATE/DROP ..."} must be rejected —
        not silently run outside any job group."""
        reply = client_request(
            server.address,
            {"explain": "simple", "sql": "CREATE TEMP VIEW explain_leak AS SELECT 1 AS x"},
        )
        assert reply["status"] == "error"
        # and the side effect really did NOT happen
        assert not spark.catalog.tableExists("explain_leak")
        # EXECUTE IMMEDIATE runs its statement eagerly too, though its
        # parse is no Command node
        spark.sql(
            f"CREATE TABLE explain_ei (x INT) USING parquet LOCATION '{tmp_path}'"
        )
        try:
            for sql in (
                "EXECUTE IMMEDIATE 'INSERT INTO explain_ei VALUES (7)'",
                # and an INSERT whose target is an IDENTIFIER clause
                # parses to a PlanWithUnresolvedIdentifier, no Command
                "INSERT INTO IDENTIFIER('explain_ei') VALUES (8)",
            ):
                reply = client_request(
                    server.address, {"explain": "formatted", "sql": sql}
                )
                assert reply["status"] == "error", sql
                assert spark.sql("SELECT * FROM explain_ei").count() == 0, sql
        finally:
            spark.sql("DROP TABLE IF EXISTS explain_ei")
        # plain queries still explain fine
        ok = client_request(
            server.address, {"explain": "simple", "sql": "SELECT 1 AS one"}
        )
        assert ok["status"] == "done" and "plan" in ok

    def test_cte_led_dml_classified_and_runs_exactly_once(self, spark, server):
        """``WITH s AS (...) INSERT ...`` starts with a query keyword
        but is DML: the parser-based classifier must treat it as a
        command (skip analyze, which would execute it a first time)
        and reject it from explain. Gate: exactly ONE row lands."""
        try:
            r = client_request(
                server.address,
                {"sql": "CREATE TABLE IF NOT EXISTS once_t (x INT) USING parquet"},
            )
            assert r["status"] == "done", r
            ins = "WITH s AS (SELECT 7 AS x) INSERT INTO once_t SELECT x FROM s"
            # explain refuses it
            ex = client_request(server.address, {"explain": "simple", "sql": ins})
            assert ex["status"] == "error"
            # submitted as a job it runs exactly once
            r = client_request(server.address, {"sql": ins})
            assert r["status"] == "done", r
            n = client_request(
                server.address, {"sql": "SELECT count(*) AS n FROM once_t"}
            )
            assert n["rows"] == [[1]], n
        finally:
            spark.sql("DROP TABLE IF EXISTS once_t")

    def test_batch_fault_does_not_kill_loop(self, server):
        """An exception escaping run_batch (detector/cache-rewrite
        faults are outside the per-job guards) must fail that batch's
        jobs and leave the loop serving — round-1 behavior hung every
        later client forever."""
        original = server.executor.run_batch
        calls = {"n": 0}

        def boom(batch):
            calls["n"] += 1
            raise RuntimeError("injected batch fault")

        server.executor.run_batch = boom
        try:
            reply = client_request(server.address, {"sql": "SELECT 1 AS x"})
            assert reply["status"] == "error"
            assert "injected batch fault" in reply["error"]
            assert calls["n"] == 1
        finally:
            server.executor.run_batch = original
        # loop still alive: next request succeeds
        ok = client_request(server.address, {"sql": "SELECT 2 AS y"})
        assert ok["status"] == "done" and ok["rows"] == [[2]]

    @pytest.mark.parametrize(
        "props", [{"prime_only": True}, {"demux": "x"}, {"cancel_requested": True}]
    )
    def test_client_props_cannot_steer_the_executor(self, server, props):
        """The executor keeps its own job state in typed fields, not in
        the client's props: a client naming one of them still gets its
        rows, and no fallback is counted."""
        before = client_request(server.address, {"server_stats": True})["stats"]
        reply = client_request(
            server.address,
            {"sql": "SELECT count(*) AS n FROM nation", "props": props},
        )
        assert reply["status"] == "done" and reply["rows"] == [[25]], reply
        after = client_request(server.address, {"server_stats": True})["stats"]
        assert after["mrshare_demux_fallbacks"] == before["mrshare_demux_fallbacks"]

    def test_truncated_flag_on_wire(self):
        """A clipped inline result says so — without the flag a
        MAX_INLINE_ROWS result is indistinguishable from a genuine one
        of the same size."""
        job = QueryJob(job_id=1, sql="SELECT 1")
        job.rows, job.n_rows, job.columns = [(1,)], 1, ["x"]
        assert "truncated" not in job.result()
        job.truncated = True
        assert job.result()["truncated"] is True


class TestRegisteredUDFs:
    """The vetted server-side UDF surface (the safe replacement for the
    reference's jar intake — SURVEY §2 UDF row)."""

    def test_udfs_callable_from_sql(self, spark):
        from sparksql_server_spark.functions.udfs import register_udfs

        register_udfs(spark)
        row = spark.sql(
            "SELECT slugify('Hello, World! 42') AS slug,"
            "       token_count_re('a b,c;d') AS n"
        ).collect()[0]
        assert row.slug == "hello-world-42"
        assert row.n == 4

    def test_udfs_null_inputs_return_null(self, spark):
        """NULL in, NULL out — for every registered UDF. token_count_re
        previously crashed the whole Arrow batch on one NULL row
        (non-nullable int32 astype raises IntCastingNaNError on the
        NaN that pandas stores for the guarded None)."""
        from sparksql_server_spark.functions.udfs import register_udfs

        register_udfs(spark)
        row = spark.sql(
            "SELECT slugify(CAST(NULL AS STRING)) AS s,"
            "       token_count_re(CAST(NULL AS STRING)) AS n,"
            "       l2_norm(CAST(NULL AS ARRAY<DOUBLE>)) AS l,"
            "       token_count_re('a b') AS n2"
        ).collect()[0]
        assert row.s is None and row.n is None and row.l is None
        assert row.n2 == 2
        # mixed batch: NULL rows ride along with real rows
        rows = spark.sql(
            "SELECT token_count_re(v) AS n FROM VALUES ('x y z'), (NULL),"
            " ('a') AS t(v)"
        ).collect()
        assert sorted((r.n is None, r.n) for r in rows) == [
            (False, 1), (False, 3), (True, None)
        ]

    def test_l2_norm_matches_jvm_expression(self, spark):
        from sparksql_server_spark.functions.udfs import register_udfs
        from sparksql_server_spark.catalog import register_tables
        from tests.conftest import SF_DIR, analyzed_plan

        register_udfs(spark)
        register_tables(spark, SF_DIR, ("embeddings",))
        rows = spark.sql(
            """SELECT abs(l2_norm(embedding)
                 - sqrt(aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),
                                           CAST(embedding AS ARRAY<DOUBLE>),
                                           (x, y) -> x * y),
                                  0D, (acc, v) -> acc + v))) AS diff
               FROM embeddings"""
        ).collect()
        # both sides fold float64 products left-to-right -> bit-identical
        assert all(r.diff == 0.0 for r in rows)


class TestConcurrentClients:
    def test_many_clients_one_server(self, spark):
        """N clients submitting simultaneously all get correct replies
        (queue + batch loop under real contention)."""
        from concurrent.futures import ThreadPoolExecutor

        srv = WorkSharingServer(spark, SF_DIR, window_size=3, max_wait=0.2).start()
        try:
            sqls = [
                f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i % 7 + 1}"
                for i in range(12)
            ]
            expected = [spark.sql(q).collect()[0].n for q in sqls]
            with ThreadPoolExecutor(max_workers=12) as pool:
                replies = list(
                    pool.map(lambda q: client_request(srv.address, {"sql": q}), sqls)
                )
            assert [r["status"] for r in replies] == ["done"] * 12
            assert [r["rows"][0][0] for r in replies] == expected
        finally:
            srv.shutdown()

    def test_mixed_stress_merges_cache_hits_and_commands(self, spark):
        """Adversarial interleaving: same-signature members (merge
        path), identical repeats (result-cache hit/put races), and
        catalog commands (invalidate_all + write-set taints) all fired
        concurrently across two rounds — every query reply must equal
        its direct execution no matter how the windows slice the mix.
        The data never changes (the commands only create/drop a temp
        view), so correctness is interleaving-independent by design;
        what this test guards is the server's bookkeeping under
        contention (batcher windows, merge demux, cache epochs/taints,
        per-connection sessions)."""
        from concurrent.futures import ThreadPoolExecutor

        srv = WorkSharingServer(spark, SF_DIR, window_size=4, max_wait=0.2).start()
        srv.executor.mrshare_min_bytes = 0
        mergeable = [
            "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem"
            f" WHERE l_linenumber = {i} GROUP BY l_returnflag, l_linestatus"
            for i in range(1, 5)
        ]
        # round-9 member shapes under the same contention: order-
        # permuted join chains and derived-table members
        permuted = [
            "SELECT o_orderpriority, count(*) AS n FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority",
            "SELECT o_orderpriority, sum(l_quantity) AS q FROM orders"
            " JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderpriority",
        ]
        derived = [
            "SELECT rf, count(*) AS n FROM (SELECT l_returnflag AS rf,"
            " l_quantity AS qty FROM lineitem) t WHERE qty > 10 GROUP BY rf",
            "SELECT rf, max(qty) AS m FROM (select l_returnflag AS rf,"
            " l_quantity AS qty from lineitem) u GROUP BY rf",
        ]
        repeat = (
            "SELECT o_orderstatus, count(*) AS n FROM orders"
            " GROUP BY o_orderstatus"
        )
        oneoffs = [
            "SELECT count(*) AS n FROM supplier",
            "SELECT max(p_size) AS m FROM part",
        ]
        commands = [
            "CREATE OR REPLACE TEMP VIEW stress_scratch AS SELECT 1 AS one",
            "DROP VIEW IF EXISTS stress_scratch",
        ]
        queries = mergeable + permuted + derived + [repeat] * 4 + oneoffs
        expected = {
            q: sorted(tuple(r) for r in spark.sql(q).collect()) for q in queries
        }
        # one query carries a deadline: must behave identically under
        # the urgent pool, and the accounting must see it
        payloads = [{"sql": q} for q in queries] + [
            {"sql": repeat, "props": {"deadline_ms": 300_000}}
        ] + [{"sql": c} for c in commands]  # 17 requests per round
        try:
            for _ in range(2):
                with ThreadPoolExecutor(max_workers=17) as pool:
                    replies = list(
                        pool.map(
                            lambda p: (
                                p["sql"],
                                client_request(srv.address, p),
                            ),
                            payloads,
                        )
                    )
                for q, r in replies:
                    assert r["status"] == "done", (q, r)
                    if q in expected:
                        got = sorted(tuple(x) for x in r["rows"])
                        assert got == expected[q], f"diverged under stress: {q}"
            assert srv.executor.stats["deadline_jobs"] >= 1
            stats = client_request(srv.address, {"server_stats": True})["stats"]
            # the merge path actually fired under contention: with
            # dense arrival each round's 4 same-signature members fall
            # into 3 size-4 windows (pigeonhole: one window holds >=2),
            # but a scheduling hiccup can split windows by age instead,
            # so assert the conservative bound
            assert stats["mrshare_merged_jobs"] >= 2, stats
        finally:
            srv.shutdown()


class TestPartitionedOutput:
    def test_partitioned_sink_through_gateway(self, spark, tmp_path):
        """props.partition_by routes output rows into per-value
        directories (the A12 demux sink, driven over the wire)."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        out = str(tmp_path / "by_status")
        try:
            reply = client_request(
                srv.address,
                {
                    "sql": "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
                    "output": out,
                    "props": {"partition_by": "o_orderstatus"},
                },
            )
            assert reply["status"] == "done", reply
            got = spark.read.parquet(out)
            assert got.count() == spark.sql("SELECT count(*) FROM orders").collect()[0][0]
            # hive-style layout: one directory per status value
            import os

            dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
            assert dirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}
        finally:
            srv.shutdown()


class TestSessions:
    def test_temp_view_isolation_and_explain(self, spark):
        """Named sessions isolate temp views (the modern form of the
        reference's per-client temp-table re-registration,
        DAGListener.scala:155-162); EXPLAIN returns a plan without
        queueing; DDL executes exactly ONCE (a bare CREATE TEMP VIEW
        would fail on double execution)."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            # same view name, different definitions, two sessions
            r = client_request(
                srv.address,
                {"sql": "CREATE TEMP VIEW mine AS SELECT 1 AS v", "session": "alice"},
            )
            assert r["status"] == "done", r
            r = client_request(
                srv.address,
                {"sql": "CREATE TEMP VIEW mine AS SELECT 2 AS v", "session": "bob"},
            )
            assert r["status"] == "done", r
            a = client_request(srv.address, {"sql": "SELECT v FROM mine", "session": "alice"})
            b = client_request(srv.address, {"sql": "SELECT v FROM mine", "session": "bob"})
            assert a["rows"] == [[1]] and b["rows"] == [[2]]
            # root session never saw 'mine'
            root = client_request(srv.address, {"sql": "SELECT v FROM mine"})
            assert root["status"] == "error"
            # sessions still see the shared base catalog
            n = client_request(
                srv.address, {"sql": "SELECT count(*) AS n FROM region", "session": "alice"}
            )
            assert n["rows"] == [[5]]
            # explain: immediate plan, not queued
            ex = client_request(
                srv.address,
                {"explain": "formatted", "sql": "SELECT count(*) FROM lineitem", "session": "alice"},
            )
            assert ex["status"] == "done" and "Physical Plan" in ex["plan"]
        finally:
            srv.shutdown()


class TestClientLibrary:
    def test_client_end_to_end(self, spark):
        """SparkSQLClient: persistent connection, session pinning,
        sync sql, async submit/poll, explain."""
        from sparksql_server_spark.server import SparkSQLClient

        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            with SparkSQLClient(srv.address, session="carol") as c:
                r = c.sql("CREATE TEMP VIEW mine AS SELECT 41 + 1 AS v")
                assert r["status"] == "done", r
                assert c.sql("SELECT v FROM mine")["rows"] == [[42]]
                job_id = c.submit("SELECT count(*) AS n FROM region")
                for _ in range(100):
                    r = c.poll(job_id)
                    if r["status"] in ("done", "error"):
                        break
                    time.sleep(0.05)
                assert r["status"] == "done" and r["rows"] == [[5]]
                assert "Physical Plan" in c.explain("SELECT 1")
        finally:
            srv.shutdown()


class TestReadFractionCostModel:
    def test_scan_read_columns_sees_pruning(self, spark):
        """The pruned ReadSchema width reaches the cost model: a
        single-column COUNT reads 1 of lineitem's 11 columns."""
        from sparksql_server_spark.plans.analysis import scan_nodes

        register_tables(spark, SF_DIR)
        narrow = spark.sql("SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05")
        cols = {s.root: s.cols for s in scan_nodes(narrow)}
        src = next(p for p in cols if p.endswith("lineitem.parquet"))
        assert cols[src] == 1
        # note: max(x) FROM (SELECT *) would NOT be wide — Catalyst
        # prunes through subqueries; only a full-row output reads all
        wide = spark.sql("SELECT * FROM lineitem")
        assert [s.cols for s in scan_nodes(wide) if s.root == src][0] >= 11

    def test_narrow_bag_not_admitted_wide_bag_admitted(self, spark):
        """Σ read-fraction decides, with a format-aware bar: a cheap
        columnar rescan (parquet) needs far more saved work than a
        row-text rescan (csv) that repays a full parse per query
        (min_bytes floored to 0 to isolate the fraction term)."""
        register_tables(spark, SF_DIR)
        src = SF_DIR + "/lineitem.parquet"
        size = _dir_bytes(src)
        cm = CacheManager(spark, budget_bytes=1 << 30, min_bytes=0)
        # narrow queries never clear either bar
        assert not cm.should_cache(
            src, size, n_sharers=10, read_fractions=[1 / 11] * 10, source_format="csv"
        )
        # two full-width sharers clear the row-text bar (1.2) …
        assert cm.should_cache(
            src, size, n_sharers=2, read_fractions=[1.0, 1.0], source_format="csv"
        )
        # … but not the columnar bar (rescan is a cheap vectorized
        # decode; measured batched 31.3 s vs concurrent 13.8 s when a
        # parquet bag this narrow was admitted)
        assert not cm.should_cache(
            src, size, n_sharers=2, read_fractions=[1.0, 1.0], source_format="parquet"
        )
        # unknown format gets the conservative columnar bar
        assert not cm.should_cache(src, size, n_sharers=2, read_fractions=[1.0, 1.0])
        # a genuinely wide shared parquet workload still clears it
        assert cm.should_cache(
            src, size, n_sharers=8, read_fractions=[1.0] * 8, source_format="parquet"
        )

    def test_executor_wires_fractions_through(self, spark):
        """End-to-end: a batch of narrow counts over one hot table
        stays NOOP even with no size floor; a batch of full-width
        scans flips to CACHING. (columnar bar lowered to the row-text
        bar here — this test gates the FRACTION wiring, not the
        format economics, which test_narrow_bag… covers.)"""
        register_tables(spark, SF_DIR)
        ex = BatchExecutor(
            spark,
            cache=CacheManager(
                spark, budget_bytes=1 << 30, min_bytes=0, columnar_benefit_factor=1.2
            ),
            source_views=source_view_map(SF_DIR),
        )
        narrow = [
            QueryJob(job_id=i, sql=f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i+1}")
            for i in range(3)
        ]
        bags = ex.run_batch_and_wait(narrow)
        assert all(b.rewrite is RewriteKind.NOOP for b in bags)
        assert not ex.cache.cached_sources
        wide = [
            QueryJob(job_id=10 + i, sql="SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 5")
            for i in range(2)
        ]
        bags = ex.run_batch_and_wait(wide)
        try:
            assert any(b.rewrite is RewriteKind.CACHING for b in bags)
            assert ex.cache.cached_sources
        finally:
            ex.cache.clear()


class TestWideBatch:
    def test_fifty_query_mixed_batch(self, spark):
        """Realistic window width: 50 jobs over many sources —
        single-table queries, multi-source joins that bridge groups,
        and DDL interleaved. Gates the detector's fixpoint semantics
        (ScanSharing.analyse, ScanSharing.scala:95-119) at width: the
        bags must partition the batch, bridged sources must coalesce
        into one bag, and every job's rows must equal an independent
        run."""
        register_tables(spark, SF_DIR)
        sqls: list[str] = []
        # 22 lineitem variants + 10 orders variants (two hot scans)
        for i in range(22):
            sqls.append(
                f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i % 7 + 1}"
            )
        for i in range(10):
            sqls.append(
                f"SELECT o_orderstatus, count(*) AS n FROM orders "
                f"WHERE o_orderkey % 10 = {i} GROUP BY o_orderstatus ORDER BY 1"
            )
        # 5 bridging joins: lineitem+orders should merge both groups
        for i in range(5):
            sqls.append(
                "SELECT count(*) AS n FROM lineitem l JOIN orders o "
                f"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey % 5 = {i}"
            )
        # 8 independent small-table queries (their own bags)
        for t, k in [("region", "r_regionkey"), ("nation", "n_nationkey")]:
            for i in range(4):
                sqls.append(f"SELECT count(*) AS n FROM {t} WHERE {k} % 4 = {i}")
        # 5 DDL commands interleaved: no fingerprints, run exactly once
        for i in range(5):
            sqls.append(f"CREATE OR REPLACE TEMP VIEW wide_batch_v{i} AS SELECT {i} AS x")
        # dedupe-by-content would be wrong here: same-text queries are
        # distinct jobs; shuffle deterministically to interleave kinds
        import random

        random.Random(7).shuffle(sqls)
        assert len(sqls) == 50

        expected = [
            [tuple(r) for r in spark.sql(q).collect()] if q.lstrip().upper().startswith("SELECT") else None
            for q in sqls
        ]
        ex = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=1 << 30),  # default floors: NOOP expected
            source_views=source_view_map(SF_DIR),
        )
        jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
        bags = ex.run_batch_and_wait(jobs)

        # bags partition the batch
        bag_job_ids = sorted(j.job_id for b in bags for j in b.jobs)
        assert bag_job_ids == list(range(len(jobs)))
        # transitive bridging: lineitem, orders and the joins share ONE bag
        li_orders_bag = [
            b for b in bags if any("JOIN orders" in j.sql for j in b.jobs)
        ]
        assert len(li_orders_bag) == 1
        merged = li_orders_bag[0]
        assert sum(1 for j in merged.jobs if "lineitem" in j.sql) == 27
        assert sum(1 for j in merged.jobs if "FROM orders" in j.sql) == 10
        assert len(merged.jobs) == 37
        assert len(merged.shared_sources) == 2  # both hot scans marked shared
        # region and nation stay separate bags
        for t in ("region", "nation"):
            t_bags = [b for b in bags if all(t in j.sql for j in b.jobs)]
            assert len(t_bags) == 1 and len(t_bags[0].jobs) == 4
        # DDL: singleton bags, no fingerprints
        ddl_bags = [b for b in bags if any("CREATE" in j.sql for j in b.jobs)]
        assert len(ddl_bags) == 5
        assert all(len(b.jobs) == 1 and not b.shared_sources for b in ddl_bags)

        # every job ran and matches its independent result
        for job, exp in zip(jobs, expected):
            assert job.status is JobStatus.DONE, (job.sql, job.error)
            if exp is not None:
                assert job.rows == exp, job.sql
        # the DDL side effects happened (exactly-once is gated elsewhere)
        for i in range(5):
            assert spark.catalog.tableExists(f"wide_batch_v{i}")

    def test_three_hop_chain_bridging_under_load(self, spark):
        """Transitive closure at depth: customer-only, orders-only and
        lineitem-only jobs share NO direct source, but a customer⋈orders
        job and an orders⋈lineitem job chain all three scans into ONE
        bag (no customer⋈lineitem job exists — only the fixpoint hop
        joins them, ScanSharing.scala:95-119). DDL stays outside. Every
        job's rows must equal its independent run."""
        register_tables(spark, SF_DIR)
        sqls = (
            [f"SELECT count(*) AS n FROM customer WHERE c_custkey % 4 = {i}" for i in range(4)]
            + [f"SELECT count(*) AS n FROM orders WHERE o_orderkey % 4 = {i}" for i in range(4)]
            + [f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i + 1}" for i in range(4)]
            + [
                "SELECT count(*) AS n FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey",
                "SELECT count(*) AS n FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
            ]
            + ["CREATE OR REPLACE TEMP VIEW chain_ddl_v AS SELECT 1 AS x"]
        )
        import random

        random.Random(11).shuffle(sqls)
        expected = [
            [tuple(r) for r in spark.sql(q).collect()]
            if q.lstrip().upper().startswith("SELECT")
            else None
            for q in sqls
        ]
        ex = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=1 << 30),
            source_views=source_view_map(SF_DIR),
        )
        jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(sqls)]
        bags = ex.run_batch_and_wait(jobs)

        assert sorted(j.job_id for b in bags for j in b.jobs) == list(range(len(jobs)))
        select_bags = [b for b in bags if any("FROM" in j.sql for j in b.jobs)]
        assert len(select_bags) == 1, [len(b.jobs) for b in bags]
        assert len(select_bags[0].jobs) == 14
        # all three hot scans are multiply-read -> all shared
        assert len(select_bags[0].shared_sources) == 3
        ddl_bags = [b for b in bags if any("CREATE" in j.sql for j in b.jobs)]
        assert len(ddl_bags) == 1 and len(ddl_bags[0].jobs) == 1
        for job, exp in zip(jobs, expected):
            assert job.status is JobStatus.DONE, (job.sql, job.error)
            if exp is not None:
                assert job.rows == exp, job.sql


class TestStorageAwareAdmission:
    def test_scan_source_formats(self, spark, tmp_path):
        """The analyzer reports each scanned source's file format —
        the input the format-aware admission bar keys on."""
        from sparksql_server_spark.plans.analysis import scan_nodes

        register_tables(spark, SF_DIR)
        pq = spark.sql("SELECT count(*) AS n FROM lineitem")
        fmts = {s.root: s.format for s in scan_nodes(pq)}
        src = next(p for p in fmts if p.endswith("lineitem.parquet"))
        assert fmts[src] == "parquet"

        csv_dir = str(tmp_path / "t.csv")
        spark.table("region").write.option("header", True).csv(csv_dir)
        cdf = spark.read.option("header", True).csv(csv_dir)
        assert {s.format for s in scan_nodes(cdf)} == {"csv"}

    def test_declines_when_build_exceeds_free_storage(self, spark):
        """Round-1 regression gate: admission must observe the JVM's
        REAL free storage memory, not just the configured budget — a
        build that won't fit turns the batch slower than running it
        uncached. A table whose estimated in-memory size exceeds free
        storage is declined even though it clears every other bar."""
        register_tables(spark, SF_DIR)
        src = SF_DIR + "/lineitem.parquet"
        cm = CacheManager(
            spark,
            budget_bytes=1 << 40,
            min_bytes=0,
            # absurd expansion estimate guarantees "won't fit" without
            # needing a huge fixture table (columnar estimate — the
            # row-text estimate is a constant ~1.2×)
            mem_expansion=1e9,
        )
        assert cm._free_storage_bytes() < math.inf  # observable in local mode
        size = _dir_bytes(src)
        assert not cm.should_cache(
            src, size, n_sharers=8, read_fractions=[1.0] * 8, source_format="parquet"
        )
        # ensure_cached independently re-checks and blacklists
        assert not cm.ensure_cached(src, "lineitem", size, source_format="parquet")
        assert src in cm._rejected
        # blacklisted sources are never retried, whatever the workload
        cm.mem_expansion = 0.0
        assert not cm.should_cache(
            src, size, n_sharers=8, read_fractions=[1.0] * 8, source_format="parquet"
        )

    def test_admission_counts_evictable_entries(self, spark):
        """Memory held by the manager's own LRU entries is reclaimable
        (ensure_cached evicts before building), so admission must count
        it as free — otherwise the first table cached under pressure
        permanently locks out all later admissions."""
        from sparksql_server_spark.server.cache import CacheEntry

        register_tables(spark, SF_DIR)
        src = SF_DIR + "/lineitem.parquet"
        cm = CacheManager(spark, budget_bytes=1 << 40, min_bytes=0)
        free = cm._free_storage_bytes()
        assert 0 < free < math.inf
        size = _dir_bytes(src)
        # estimate lands between free and free+evictable (relative
        # math — independent of this JVM's actual heap size)
        cm.mem_expansion = (free * cm.storage_headroom * 1.5) / size
        assert not cm.should_cache(
            src, size, n_sharers=8, read_fractions=[1.0] * 8, source_format="parquet"
        )
        cm._entries["other"] = CacheEntry(
            view="other", source="other", bytes=0, mem_bytes=free
        )
        assert cm.should_cache(
            src, size, n_sharers=8, read_fractions=[1.0] * 8, source_format="parquet"
        )

    def test_build_fit_verification(self, spark):
        """After a build, the block manager is consulted: a fully
        memory-resident relation passes; the helper trusts unreadable
        storage info."""
        register_tables(spark, SF_DIR)
        cm = CacheManager(spark, min_bytes=0)
        sc = spark.sparkContext
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        spark.catalog.cacheTable("region")
        try:
            spark.table("region").count()
            assert cm._build_fit(before)
        finally:
            spark.catalog.uncacheTable("region")


class TestSessionReaping:
    """Named client sessions are bounded: idle ones are reaped when the
    table would exceed max_sessions (round-5 fix: every distinct client
    id previously pinned a SparkSession in driver memory forever)."""

    def test_lru_eviction_at_cap_and_fresh_session_after(self, spark):
        srv = WorkSharingServer(
            spark, SF_DIR, max_wait=0.1, max_sessions=2,
            session_idle_timeout=0.0,  # everything idle is reapable
        ).start()  # shutdown() blocks unless serve_forever is running
        try:
            s1 = srv.session_for("c1")
            s1.sql("CREATE OR REPLACE TEMP VIEW c1_private AS SELECT 1 AS x")
            srv.session_for("c2")
            assert len(srv._sessions) == 2
            srv.session_for("c3")  # over cap: both idle sessions reaped
            assert "c1" not in srv._sessions and "c3" in srv._sessions
            # same id later = FRESH session: the private view is gone
            s1b = srv.session_for("c1")
            assert s1b is not s1
            with pytest.raises(Exception):
                s1b.sql("SELECT * FROM c1_private").collect()
        finally:
            srv.shutdown()

    def test_recent_use_protects_from_idle_reap(self, spark):
        srv = WorkSharingServer(
            spark, SF_DIR, max_wait=0.1, max_sessions=2,
            session_idle_timeout=3600.0,  # nothing is idle-reapable
        ).start()
        try:
            srv.session_for("c1")
            srv.session_for("c2")
            srv.session_for("c1")  # refresh c1 — c2 becomes the LRU
            srv.session_for("c3")
            assert set(srv._sessions) == {"c1", "c3"}
        finally:
            srv.shutdown()


class TestClusterSizing:
    """Admission sizing for non-local sources: a cluster URI is priced
    by the bytes its scan recorded, like a local path, never silently
    sized 0 (= decline)."""

    def test_nonlocal_uri_admits_and_declines_by_mocked_size(self, spark):
        """hdfs:// sizes recorded on the jobs flow through both admission
        floors: big enough -> the merge floor and cache admission see
        the real size; small -> both decline."""
        from sparksql_server_spark.plans.analysis import Scan
        from sparksql_server_spark.server.model import QueryJob, SharingBag
        from sparksql_server_spark.server.mrshare import MergePlan
        from sparksql_server_spark.server.scheduler import _merge_source_bytes

        def bag(root, size):
            jobs = []
            for i in range(2):
                job = QueryJob(job_id=i, sql=f"SELECT {i} AS x")
                job.fingerprints = frozenset({root})
                job.reads[root] = Scan(root, 1, 1, "parquet", size)
                jobs.append(job)
            return SharingBag(jobs=jobs, shared_sources=frozenset({root}))

        big, small = "hdfs://warehouse/big", "hdfs://warehouse/small"
        cm = CacheManager(  # isolate the byte floor: no fraction bar, no memory
            spark, budget_bytes=1 << 40, min_bytes=64 << 20,
            columnar_benefit_factor=0.0, mem_expansion=0.0,
        )
        builds = []
        cm.ensure_cached = lambda *args: builds.append(args) or True
        ex = BatchExecutor(spark, cache=cm, source_views={big: "b", small: "s"})
        try:
            admitted, declined = bag(big, 512 << 20), bag(small, 1 << 20)
            assert _merge_source_bytes(MergePlan(jobs=admitted.jobs)) == 512 << 20
            assert _merge_source_bytes(MergePlan(jobs=declined.jobs)) == 1 << 20
            ex._apply_caching_rewrite(admitted)
            ex._apply_caching_rewrite(declined)
            assert builds == [(big, "b", 512 << 20, "parquet")]
            assert admitted.rewrite is RewriteKind.CACHING
            assert declined.rewrite is RewriteKind.NOOP
        finally:
            ex.close()


class TestScanRecord:
    """The plan walk records each scan's listed bytes and full width:
    the numbers merges and caching are priced by."""

    def test_every_table_records_its_bytes_and_width(self, spark):
        from sparksql_server_spark.catalog import TABLES

        register_tables(spark, SF_DIR)
        for name in TABLES:
            (scan,) = scan_nodes(spark.table(name))
            assert scan.root == f"{SF_DIR}/{name}.parquet"
            assert scan.bytes == _dir_bytes(scan.root), name
            assert scan.width == len(spark.table(name).columns), name

    def test_multi_part_csv_directory(self, spark, tmp_path):
        """The bytes are those of the data files Spark lists: the part
        files, not the checksums and markers beside them."""
        import os

        path = str(tmp_path / "region.csv")
        register_tables(spark, SF_DIR, ("region",))
        spark.table("region").repartition(3).write.option("header", True).csv(path)
        parts = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(parts) == 3
        spark.read.option("header", True).csv(path).createOrReplaceTempView("region_csv")
        try:
            (scan,) = scan_nodes(spark.table("region_csv"))
            assert scan.root == path and scan.format == "csv"
            assert scan.bytes == sum(os.path.getsize(f"{path}/{f}") for f in parts)
            assert scan.width == len(spark.table("region_csv").columns)
        finally:
            spark.catalog.dropTempView("region_csv")

    def test_file_uri_is_priced_at_its_true_size(self, spark):
        src = SF_DIR + "/lineitem.parquet"
        (scan,) = scan_nodes(spark.read.parquet("file://" + src))
        assert scan.root == src
        assert scan.bytes == _dir_bytes(src) > 0


class TestEviction:
    """One least-recently-used loop evicts until both the byte budget
    and the memory estimate fit a build."""

    NATION, SUPPLIER, REGION, PART = (
        f"{SF_DIR}/{t}.parquet" for t in ("nation", "supplier", "region", "part")
    )

    @pytest.fixture
    def cm(self, spark):
        register_tables(spark, SF_DIR, ("nation", "supplier", "region", "part"))
        cm = CacheManager(spark, budget_bytes=1 << 40, min_bytes=0, mem_expansion=1.0)
        cm.storage_headroom = 1.0
        yield cm
        cm.clear()

    def _fill(self, cm, size=1, mem_bytes=0):
        """nation, supplier, then region cached, least recent first."""
        for src in (self.NATION, self.SUPPLIER, self.REGION):
            view = src.rsplit("/", 1)[1].removesuffix(".parquet")
            assert cm.ensure_cached(src, view, size, "parquet")
            cm._entries[src].mem_bytes = mem_bytes
            cm._entries[src].last_used = time.monotonic()
            time.sleep(0.01)

    def test_budget_alone_evicts_only_the_lru_entry(self, spark, cm):
        cm._free_storage_bytes = lambda: math.inf
        cm.budget = 100
        self._fill(cm, size=30)
        assert cm.ensure_cached(self.PART, "part", 30, "parquet")
        assert cm.cached_sources == {self.SUPPLIER, self.REGION, self.PART}
        assert not spark.catalog.isCached("nation")
        assert spark.catalog.isCached("supplier")

    def test_memory_alone_evicts_in_lru_order_until_it_fits(self, spark, cm):
        cm._free_storage_bytes = lambda: 100
        self._fill(cm, mem_bytes=30)
        # 100 free: evicting nation frees 130, supplier 160 >= 150
        assert cm.should_cache(self.PART, 150, n_sharers=2, source_format="parquet")
        assert cm.ensure_cached(self.PART, "part", 150, "parquet")
        assert cm.cached_sources == {self.REGION, self.PART}
        assert not spark.catalog.isCached("nation")
        assert not spark.catalog.isCached("supplier")

    def test_a_build_that_cannot_fit_evicts_nothing(self, spark, cm):
        cm._free_storage_bytes = lambda: 100
        self._fill(cm, mem_bytes=30)
        # 100 free + 90 evictable < 200: the same rule declines in both
        assert not cm.should_cache(self.PART, 200, n_sharers=2, source_format="parquet")
        assert not cm.ensure_cached(self.PART, "part", 200, "parquet")
        assert cm.cached_sources == {self.NATION, self.SUPPLIER, self.REGION}
        assert self.PART in cm._rejected

    def test_a_failed_build_declines_without_blacklisting(self, spark, cm):
        """A view that no longer resolves declines before anything is
        evicted for it, and the source may be tried again."""
        cm._free_storage_bytes = lambda: math.inf
        cm.budget = 100
        self._fill(cm, size=30)
        assert not cm.ensure_cached(self.PART, "no_such_view", 30, "parquet")
        assert self.PART not in cm._rejected
        assert cm.cached_sources == {self.NATION, self.SUPPLIER, self.REGION}
        assert spark.catalog.isCached("nation")


def test_shutdown_releases_the_scan_cache(spark):
    """A stopped server leaves no InMemoryRelation on the shared
    SparkContext: shutdown() clears its scan cache."""
    import threading

    from sparksql_server_spark.operators.scratch import persistent_rdd_ids

    register_tables(spark, SF_DIR, ("orders",))
    before = persistent_rdd_ids(spark)
    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=3.0)
    srv.executor.cache = cm = CacheManager(
        spark, min_bytes=0, benefit_factor=0.0, columnar_benefit_factor=0.0
    )
    srv.start()
    try:
        sqls = [
            "SELECT count(*) AS n FROM orders",
            "SELECT count(*) AS n FROM orders WHERE o_totalprice > 0",
        ]
        threads = [
            threading.Thread(target=client_request, args=(srv.address, {"sql": q}))
            for q in sqls
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert cm.cached_sources == {SF_DIR + "/orders.parquet"}
        assert spark.catalog.isCached("orders")
    finally:
        srv.shutdown()
    try:
        assert persistent_rdd_ids(spark) == before
        assert not spark.catalog.isCached("orders")
    finally:
        cm.clear()


def test_server_stats_does_not_wait_for_a_cache_build(spark):
    """A build holds the cache lock for its whole length; server_stats
    reads the cached sources without it."""
    import threading

    srv = WorkSharingServer(spark, SF_DIR, max_wait=0.1).start()
    held, release = threading.Event(), threading.Event()

    def build():
        with srv.executor.cache._lock:
            held.set()
            release.wait(10)

    holder = threading.Thread(target=build)
    holder.start()
    try:
        assert held.wait(10)
        t0 = time.monotonic()
        reply = client_request(srv.address, {"server_stats": True})
        assert time.monotonic() - t0 < 2
        assert reply["stats"]["cached_sources"] == []
    finally:
        release.set()
        holder.join()
        srv.shutdown()


class TestCancellation:
    def test_cancel_running_job(self, spark):
        """{"cancel": id} interrupts a running job's Spark job group;
        the job finishes as an error, the server stays healthy."""
        from sparksql_server_spark.server import SparkSQLClient

        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        try:
            with SparkSQLClient(srv.address) as c:
                # per-row sleep (the conftest's sleep_ms UDF): the
                # column must be aggregated (count(*) prunes it away,
                # deleting the call) — ~6k rows x 20 ms ≈ 2 min unless
                # cancelled; interruptOnCancel ends the task fast
                job_id = c.submit(
                    "SELECT count(z) AS n FROM"
                    " (SELECT sleep_ms(l_linenumber, 20) AS z FROM lineitem)"
                )
                for _ in range(200):  # wait until it actually runs
                    if c.poll(job_id)["status"] == "running":
                        break
                    time.sleep(0.05)
                assert c.cancel(job_id)
                for _ in range(200):
                    r = c.poll(job_id)
                    if r["status"] in ("done", "error"):
                        break
                    time.sleep(0.05)
                assert r["status"] == "error", r
                # server still serves after the cancellation
                assert c.sql("SELECT 1 AS one")["rows"] == [[1]]
        finally:
            srv.shutdown()

    def test_cancel_queued_job_before_start(self, spark):
        """A job cancelled while still queued never runs."""
        from sparksql_server_spark.server import BatchExecutor

        register_tables(spark, SF_DIR)
        ex = BatchExecutor(spark, cache=CacheManager(spark), source_views={})
        job = QueryJob(job_id=999, sql="SELECT count(*) AS n FROM region")
        assert ex.cancel(job)
        ex.run_batch_and_wait([job])
        assert job.status is JobStatus.ERROR and job.error == "cancelled"


def _sleepy(ms: int) -> str:
    """A sleep of ``ms`` per row of a table with an int column ``v``
    (the conftest's sleep_ms UDF, registered on the root session)."""
    return f"sleep_ms(v, {ms})"


class TestOverlappingBatches:
    """Read-only batches overlap: the loop plans the next window while
    the last one's jobs run; a writer fences."""

    @pytest.fixture()
    def server(self, spark):
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        yield srv
        srv.shutdown()

    @staticmethod
    def _job_of(server, reply) -> QueryJob:
        return server._jobs[reply["id"]]

    def test_fast_query_not_held_behind_slow_batch(self, server):
        """Client B's fast query, in the window after client A's
        CPU-heavy one, is answered while A is still running."""
        import threading

        from tests.test_deadline import _heavy

        heavy = _heavy(0, 4000).sql
        replies: dict[str, float] = {}

        def client_a() -> None:
            r = client_request(server.address, {"sql": heavy})
            assert r["status"] == "done", r
            replies["a"] = time.monotonic()

        t = threading.Thread(target=client_a, daemon=True)
        t.start()
        for _ in range(400):  # until A's job is running
            running = [j for j in server._jobs.values() if j.sql == heavy]
            if running and running[0].status is JobStatus.RUNNING:
                break
            time.sleep(0.025)
        else:
            raise AssertionError("heavy query never started")
        r = client_request(server.address, {"sql": "SELECT 1 AS x"})
        replies["b"] = time.monotonic()
        assert r["status"] == "done" and r["rows"] == [[1]]
        t.join(timeout=300)
        assert replies["b"] < replies["a"], replies

    def test_writer_fences_reads_on_both_sides(self, spark, server):
        """A read submitted before a slow writer returns the pre-write
        rows, and the writer starts only once that read has finished;
        a read submitted after the writer sees the write."""
        spark.sql("DROP TABLE IF EXISTS fence_c")
        spark.sql("CREATE TABLE fence_c (v INT) USING parquet")
        spark.sql("INSERT INTO fence_c VALUES (1)")
        try:
            before = client_request(server.address, {
                "sql": "SELECT count(*) AS n, max(z) AS z"
                f" FROM (SELECT {_sleepy(1500)} AS z FROM fence_c)",
                "wait": False,
            })
            for _ in range(400):
                if self._job_of(server, before).status is JobStatus.RUNNING:
                    break
                time.sleep(0.025)
            writer = client_request(server.address, {
                "sql": "INSERT INTO fence_c SELECT v + 1 FROM fence_c"
                f" WHERE {_sleepy(1500)} IS NOT NULL",
                "wait": False,
            })
            after = client_request(
                server.address, {"sql": "SELECT count(*) AS n FROM fence_c"}
            )
            read, write = self._job_of(server, before), self._job_of(server, writer)
            assert read.done_event.wait(60) and write.done_event.wait(60)
            assert read.status is JobStatus.DONE, read.error
            assert write.status is JobStatus.DONE, write.error
            assert read.rows[0][0] == 1
            assert write.finished_at - write.elapsed >= read.finished_at
            assert after["status"] == "done" and after["rows"] == [[2]], after
        finally:
            spark.sql("DROP TABLE IF EXISTS fence_c")

    def test_no_wait_writer_then_dependent_read(self, spark):
        """A "wait": false CREATE followed by a read of the new table in
        the same session, both queued in one window: the drain ends at
        the CREATE, and the read is planned after the CREATE ran."""
        spark.sql("DROP TABLE IF EXISTS fence_t")
        server = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=0.5).start()
        try:
            r = client_request(server.address, {
                "sql": "CREATE TABLE fence_t USING parquet AS"
                " SELECT id FROM range(10)",
                "session": "s1",
                "wait": False,
            })
            assert r["status"] == "queued", r
            n = client_request(server.address, {
                "sql": "SELECT count(*) AS n FROM fence_t", "session": "s1",
            })
            assert n["status"] == "done" and n["rows"] == [[10]], n
            assert self._job_of(server, r).status is JobStatus.DONE
        finally:
            server.shutdown()
            spark.sql("DROP TABLE IF EXISTS fence_t")

    def test_finished_job_not_held_by_cache_build(self, spark):
        """A job's last-used stamp does not wait for the cache lock,
        which a build of a later batch's relation holds for its whole
        materialization."""
        import threading

        ex = BatchExecutor(spark, cache=CacheManager(spark), source_views={})
        job = _job(1, "SELECT 1 AS x", {SF_DIR + "/region.parquet"})
        held, release = threading.Event(), threading.Event()

        def build() -> None:
            with ex.cache._lock:
                held.set()
                release.wait(10)

        t = threading.Thread(target=build, daemon=True)
        t.start()
        assert held.wait(10)
        try:
            t0 = time.monotonic()
            ex.run_batch([job])
            assert job.done_event.wait(10)
            elapsed = time.monotonic() - t0
        finally:
            release.set()
            t.join()
            ex.close()
        assert job.status is JobStatus.DONE, job.error
        assert elapsed < 5.0, elapsed

    def test_shutdown_stops_pool_threads(self, spark):
        import threading

        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        prefix = f"batch-{srv.executor._group_ns}"
        try:
            r = client_request(srv.address, {"sql": "SELECT 1 AS x"})
            assert r["status"] == "done"
            assert any(t.name.startswith(prefix) for t in threading.enumerate())
        finally:
            srv.shutdown()
        assert not [t.name for t in threading.enumerate() if t.name.startswith(prefix)]


class TestRegisteredUDTFs:
    def test_parse_kv_lateral_from_sql(self, spark):
        from sparksql_server_spark.functions.udfs import register_udtfs

        register_udtfs(spark)
        register_tables(spark, SF_DIR)
        rows = spark.sql(
            """
            SELECT e.event_id, kv.key, kv.value
            FROM events e, LATERAL parse_kv(e.props) kv
            ORDER BY e.event_id, kv.key
            LIMIT 10
            """
        ).collect()
        assert rows, "UDTF produced no rows"
        # props is {"k": <int>}: every exploded row has key 'k', an int value
        assert all(r.key == "k" and r.value.isdigit() for r in rows)

    def test_parse_kv_skips_malformed(self, spark):
        from sparksql_server_spark.functions.udfs import register_udtfs

        register_udtfs(spark)
        got = spark.sql(
            "SELECT * FROM parse_kv('{\"b\": 2, \"a\": 1}')"
        ).collect()
        assert [(r.key, r.value) for r in got] == [("a", "1"), ("b", "2")]
        assert spark.sql("SELECT * FROM parse_kv('not json')").count() == 0

    def test_parse_kv_emits_json_text_not_python_reprs(self, spark):
        """Non-string JSON values must surface as valid JSON text
        (ADVICE r3: str() leaked Python reprs True/None/{'a': 1})."""
        from sparksql_server_spark.functions.udfs import register_udtfs

        register_udtfs(spark)
        got = spark.sql(
            """SELECT * FROM parse_kv(
                 '{"b": true, "n": null, "o": {"a": 1}, "s": "x", "f": 1.5}')"""
        ).collect()
        vals = {r.key: r.value for r in got}
        assert vals == {
            "b": "true",  # not 'True'
            "n": None,  # JSON null -> SQL NULL, not 'None'
            "o": '{"a": 1}',  # valid JSON, not a dict repr
            "s": "x",  # bare text, no added quotes
            "f": "1.5",
        }


class TestGatewayCacheTable:
    def test_cache_table_command_then_cached_reads(self, spark):
        """A client can pin a hot table through the gateway with plain
        SQL (CACHE TABLE is a command: runs exactly once, never
        fingerprinted), and subsequent gateway queries read the
        InMemoryRelation — user-driven caching coexisting with the
        cost-model-driven admission path."""
        register_tables(spark, SF_DIR)  # prior tests may have re-pointed views
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            reply = client_request(srv.address, {"sql": "CACHE TABLE lineitem"})
            assert reply["status"] == "done", reply
            ex = client_request(
                srv.address,
                {"explain": "simple", "sql": "SELECT count(*) AS n FROM lineitem"},
            )
            assert ex["status"] == "done"
            assert "InMemoryRelation" in ex["plan"] or "In-memory" in ex["plan"], ex["plan"][:500]
            q = client_request(
                srv.address,
                {"sql": "SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05"},
            )
            assert q["status"] == "done", q
            want = spark.sql(
                "SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05"
            ).collect()[0][0]
            assert q["rows"][0][0] == want
        finally:
            spark.catalog.uncacheTable("lineitem")
            srv.shutdown()


class TestProtocolRobustness:
    """The gateway must survive hostile/malformed input: every bad
    request gets an error REPLY (never a dropped connection or a dead
    server), and the next well-formed request still works."""

    @pytest.fixture()
    def server(self, spark):
        srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=0.2).start()
        yield srv
        srv.shutdown()

    def test_malformed_requests_get_error_replies(self, server):
        import json
        import socket

        bad_lines = [
            b"not json at all\n",
            b"{\"sql\": 42}\n",          # wrong type
            b"{}\n",                      # missing sql
            b"{\"sql\": \"\"}\n",        # empty sql
            b"[1, 2, 3]\n",              # not an object
            b"{\"cancel\": \"nope\"}\n", # non-int id
            b"{\"status\": 999999}\n",   # unknown job id
        ]
        with socket.create_connection(server.address, timeout=60) as sock:
            fh = sock.makefile("rwb")
            for line in bad_lines:
                fh.write(line)
                fh.flush()
                reply = json.loads(fh.readline())
                assert reply.get("status") == "error", (line, reply)
        # server still answers real queries afterwards
        good = client_request(
            server.address, {"sql": "SELECT count(*) AS n FROM region"}
        )
        assert good["status"] == "done" and good["rows"][0][0] == 5

    def test_oversized_garbage_line_survives(self, server):
        import json
        import socket

        with socket.create_connection(server.address, timeout=60) as sock:
            fh = sock.makefile("rwb")
            fh.write(b"\"" + b"x" * (1 << 20) + b"\"\n")  # 1 MB JSON string
            fh.flush()
            reply = json.loads(fh.readline())
            assert reply.get("status") == "error"
        assert (
            client_request(server.address, {"sql": "SELECT 1 AS one"})["status"]
            == "done"
        )


class TestSqlScripting:
    """SQL-scripting blocks (BEGIN ... END -> CompoundBody, Spark 4)
    must route down the execute-once command path: ``sql()`` runs the
    whole script EAGERLY, so classifying one as a query would execute
    it twice (once in analyze's fingerprint pass, once in the runner)
    — the same trap the CTE-led-INSERT classification already guards."""

    def test_script_classified_as_command(self, spark):
        assert classify(spark, "BEGIN SELECT 1 AS x; END")[0] is False
        assert (
            classify(spark, "BEGIN DECLARE v INT DEFAULT 3; SELECT v AS x; END")[0]
            is False
        )
        assert classify(spark, "SELECT 1 AS x")[0] is True

    def test_identifier_clause_classified_by_its_statement(self, spark):
        """A statement named by IDENTIFIER(...) parses to a
        PlanWithUnresolvedIdentifier whatever it is; the verdict comes
        from the statement it builds. A name only analysis can bind (a
        parameter) leaves the kind unknown, which runs as a command."""
        assert classify(spark, "INSERT INTO IDENTIFIER('t') VALUES (1)")[0] is False
        assert classify(spark, "CREATE TABLE IDENTIFIER('c') (x INT)")[0] is False
        assert classify(spark, "INSERT INTO IDENTIFIER(:p) VALUES (1)")[0] is False
        # an argument Spark rejects is left for sql() to report
        assert classify(spark, "INSERT INTO IDENTIFIER(1) VALUES (1)")[0] is False
        assert classify(spark, "TABLE IDENTIFIER('region')")[0] is True
        assert classify(spark, "SELECT * FROM IDENTIFIER('region')")[0] is True

    def test_script_round_trip_executes_once(self, spark, tmp_path):
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            loc = str(tmp_path / "script_t")
            r = client_request(
                srv.address,
                {
                    "sql": "CREATE TABLE script_ctr USING parquet "
                    f"LOCATION '{loc}' AS SELECT CAST(1 AS INT) AS z "
                    "FROM region WHERE 1 = 0"
                },
            )
            assert r["status"] == "done", r
            script = (
                "BEGIN\n"
                "  INSERT INTO script_ctr VALUES (1);\n"
                "  SELECT count(*) AS n FROM script_ctr;\n"
                "END"
            )
            r = client_request(srv.address, {"sql": script})
            assert r["status"] == "done", r
            # the script's LAST statement's rows come back to the client
            assert r["rows"] == [[1]] and r["columns"] == ["n"]
            # and the INSERT ran exactly once (a double execution — the
            # query-path bug — would leave two rows)
            n = client_request(
                srv.address, {"sql": "SELECT count(*) AS n FROM script_ctr"}
            )
            assert n["rows"] == [[1]], n
        finally:
            client_request(srv.address, {"sql": "DROP TABLE IF EXISTS script_ctr"})
            srv.shutdown()


# -- JDBC-line proxy (server/jdbc_proxy.py) --------------------------------
#
# Reference parity: ALL clients through the window
# (WorksharingExecutor.scala:65-98). The proxy holds a Thrift client's
# ExecuteStatement frames until the gateway's window has admitted the
# statement (prime-only job: analysis + bag + cache rewrite, no
# execution), then forwards the ORIGINAL bytes to HiveServer2.

import socket
import struct as _st
import threading as _th

from sparksql_server_spark.server.jdbc_proxy import (
    JdbcLineProxy,
    benign_command,
    parse_call,
    parse_frame,
    temp_view,
)


def _read(spark, reader, sql):
    """``reader`` applied to ``sql`` as the gateway applies it: to the
    parsed plan of a command. None for queries and for text Spark's
    parser rejects."""
    is_query, plan = classify(spark, sql)
    return None if is_query else reader(plan)


def _tstr(b: bytes) -> bytes:
    return _st.pack(">i", len(b)) + b


def _exec_stmt_call(sql: str, seq: int = 7) -> bytes:
    """A real strict-TBinaryProtocol ExecuteStatement call, built from
    the public TCLIService IDL: args{1: TExecuteStatementReq{1:
    TSessionHandle{1: THandleIdentifier{1: guid, 2: secret}}, 2:
    statement, 3: confOverlay map, 4: runAsync bool}}."""
    hid = (
        b"\x0b" + _st.pack(">h", 1) + _tstr(b"\x01" * 16)
        + b"\x0b" + _st.pack(">h", 2) + _tstr(b"\x02" * 16)
        + b"\x00"
    )
    sess = b"\x0c" + _st.pack(">h", 1) + hid + b"\x00"
    req = (
        b"\x0c" + _st.pack(">h", 1) + sess
        + b"\x0b" + _st.pack(">h", 2) + _tstr(sql.encode())
        + b"\x0d" + _st.pack(">h", 3) + b"\x0b\x0b" + _st.pack(">i", 0)
        + b"\x02" + _st.pack(">h", 4) + b"\x00"
        + b"\x00"
    )
    args = b"\x0c" + _st.pack(">h", 1) + req + b"\x00"
    return (
        _st.pack(">I", 0x80010001)
        + _tstr(b"ExecuteStatement")
        + _st.pack(">i", seq)
        + args
    )


def _open_session_call() -> bytes:
    # OpenSession args{1: TOpenSessionReq{1: i32 client_protocol}}
    req = b"\x08" + _st.pack(">h", 1) + _st.pack(">i", 11) + b"\x00"
    args = b"\x0c" + _st.pack(">h", 1) + req + b"\x00"
    return (
        _st.pack(">I", 0x80010001) + _tstr(b"OpenSession") + _st.pack(">i", 1) + args
    )


def _sasl_handshake() -> bytes:
    # TSaslClientTransport: START(mechanism) then OK(initial response)
    mech, initial = b"PLAIN", b"\x00anonymous\x00anonymous"
    return (
        b"\x01" + _st.pack(">i", len(mech)) + mech
        + b"\x02" + _st.pack(">i", len(initial)) + initial
    )


def _frame(msg: bytes) -> bytes:
    return _st.pack(">i", len(msg)) + msg


def _deep_call(depth: int) -> bytes:
    """A GetInfo call whose args nest ``depth`` structs, each field 1
    of the one around it."""
    args = b"\x0c" + _st.pack(">h", 1)
    return (
        _st.pack(">I", 0x80010001) + _tstr(b"GetInfo") + _st.pack(">i", 1)
        + args * depth + b"\x00" * (depth + 1)
    )


class _Upstream:
    """Fake HiveServer2: records the exact bytes of each connection."""

    def __init__(self):
        self.conns: list[bytearray] = []
        self._lock = _th.Lock()
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.address = self._srv.getsockname()
        self._thread = _th.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        try:
            while True:
                c, _ = self._srv.accept()
                with self._lock:
                    rec = bytearray()
                    self.conns.append(rec)
                _th.Thread(target=self._read, args=(c, rec), daemon=True).start()
        except OSError:
            pass

    def _read(self, c, rec):
        try:
            while chunk := c.recv(1 << 16):
                with self._lock:
                    rec.extend(chunk)
        except OSError:
            pass

    def wait_bytes(self, total: int, timeout: float = 30.0) -> int:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                got = sum(len(r) for r in self.conns)
            if got >= total:
                return got
            time.sleep(0.02)
        return got

    def close(self):
        self._srv.close()


def _returns(stop, timeout: float = 10.0) -> bool:
    """True when ``stop()`` returns without raising within ``timeout``
    seconds (run on a daemon thread, so a hang cannot hold the run)."""
    done = []

    def run():
        stop()
        done.append(True)

    t = _th.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    return done == [True]


class TestThriftParsing:
    def test_extracts_statement_and_end(self):
        sql = "SELECT count(*) FROM lineitem WHERE l_tax > 0.01"
        msg = _exec_stmt_call(sql)
        p = parse_call(msg + b"XTRA")
        assert (p.end, p.name, p.statement) == (len(msg), "ExecuteStatement", sql)

    def test_non_execute_calls_skip_generically(self):
        msg = _open_session_call()
        p = parse_call(msg)
        assert (p.end, p.name, p.statement) == (len(msg), "OpenSession", None)

    def test_every_prefix_is_incomplete_not_error(self):
        """A split TCP read can end at ANY byte: every strict prefix
        must return None (wait for more), never a ValueError that would
        demote the connection to blind."""
        msg = _exec_stmt_call("SELECT 1")
        for i in range(len(msg)):
            assert parse_call(msg[:i]) is None, i

    def test_garbage_raises_for_blind_demotion(self):
        with pytest.raises(ValueError):
            parse_call(b"\x00\x00\x00\x05hello world")

    def test_statements_in_frame(self):
        a, b = _exec_stmt_call("SELECT 1"), _exec_stmt_call("SELECT 2")
        calls, whole = parse_frame(a + b)
        assert [c.statement for c in calls] == ["SELECT 1", "SELECT 2"]
        assert whole
        calls, whole = parse_frame(_open_session_call())
        assert [c.statement for c in calls] == [None] and whole
        assert parse_frame(b"not thrift at all") == ([], False)
        # a malformed tail ends the list; the calls before it count
        calls, whole = parse_frame(a + b"not thrift")
        assert [c.statement for c in calls] == ["SELECT 1"] and not whole

    def test_deep_nesting_raises_value_error(self):
        """A message nested past the reader's depth bound is malformed:
        ValueError (blind pass-through), never RecursionError."""
        with pytest.raises(ValueError):
            parse_call(_deep_call(5000))


class TestBenignJdbcCommand:
    """Whitelist for session-housekeeping statements that keep a
    proxied connection substitution-clean (VERDICT r7 ask #1), read
    from Spark's parse of each statement."""

    @pytest.mark.parametrize(
        "sql",
        [
            "USE default",
            "use `default`",
            "  USE DEFAULT ; ",
            "-- connect\nUSE default",
            "/* BI tool */ USE default",
            "SET",
            "SET -v",
            "SET hive.server2.thrift.resultset.max.fetch.size",
            "SET mapreduce.job.reduces",
            "SET hive.server2.thrift.resultset.max.fetch.size=1000",
            "SET hive.server2.logging.operation.level = NONE",
            # round 9 (VERDICT r8 ask #3): result-semantics-free
            # perf-conf assignments keep substitution on
            "SET spark.sql.shuffle.partitions=1",
            "set SPARK.SQL.SHUFFLE.PARTITIONS = 64;",
            "SET spark.sql.autoBroadcastJoinThreshold=64m",
            "SET spark.sql.adaptive.enabled=true",
            "SET spark.sql.adaptive.skewJoin.enabled=false",
            "SET spark.scheduler.pool=etl",
            "SET spark.sql.files.maxPartitionBytes=268435456",
            # only the key is read: the value is HiveServer2's to
            # accept or reject for the client's own session, and the
            # gateway never applies it
            "SET spark.sql.shuffle.partitions=not_a_number",
            "SET spark.scheduler.pool=etl /* unclosed",
            "RESET",
            "reset;",
        ],
    )
    def test_benign(self, spark, sql):
        assert _read(spark, benign_command, sql), sql

    @pytest.mark.parametrize(
        "sql",
        [
            "USE warehouse2",
            "USE",
            # result-semantics keys stay demoting
            "SET spark.sql.ansi.enabled=true",
            "SET spark.sql.session.timeZone=America/New_York",
            "SET spark.sql.caseSensitive=true",
            "SET spark.sql.legacy.timeParserPolicy=LEGACY",
            "SET hivevar:tbl=lineitem",
            "SET hiveconf:hive.exec.parallel=true",
            # adaptive.* is a closed set: class-name and free-string
            # keys are off the allowlist
            "SET spark.sql.adaptive.customCostEvaluatorClass=com.x.Bogus",
            "SET spark.sql.adaptive.optimizer.excludedRules=org.x.Rule",
            "RESET spark.sql.ansi.enabled",  # targeted reset — not bare
            "USE default; DROP TABLE t",  # compound text never whitelists
            "SET x=1; SET y=2",
            "CREATE TABLE t (a INT)",
            "INSERT INTO t VALUES (1)",
            "ADD JAR /tmp/x.jar",
            "-- only a comment",
            "SET `weird key`=1",
        ],
    )
    def test_not_benign(self, spark, sql):
        assert not _read(spark, benign_command, sql), sql

    @pytest.mark.parametrize(
        "sql",
        [
            # Spark's parser reads only a lowercase -v
            "set -V",
            "CREATE TEMPORARY VIEW IF NOT EXISTS v AS SELECT 2",
        ],
    )
    def test_parser_rejected_text_runs_as_a_failing_query(self, spark, sql):
        """Text Spark's parser rejects is no command at all: the gateway
        runs it as a query, the query fails, and the reply asks the
        proxy to forward (HiveServer2 rejects the text too). It is
        neither benign nor a demoting command."""
        from sparksql_server_spark.server import WorkSharingServer

        assert classify(spark, sql) == (True, None)
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        try:
            assert srv.answer_jdbc(sql) == {"fallback": True}
        finally:
            srv.shutdown()

    def test_perf_set_leaves_gateway_conf_unchanged(self, spark):
        """A perf-conf SET is forwarded and never applied by the
        gateway: its root session is shared by every clean client, so
        one client's SET must not reshape another's plans."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05)
        before = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for sql in (
                "SET spark.sql.shuffle.partitions=6",
                "SET spark.sql.shuffle.partitions=not_a_number",
            ):
                assert srv.prime(sql) is None
                assert srv.answer_jdbc(sql) == {"passthrough": "benign"}
            assert spark.conf.get("spark.sql.shuffle.partitions") == before
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
            srv.shutdown()
        # the shared root session still plans with its own partitioning
        plan = spark.sql(
            "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag"
        )._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"hashpartitioning\(l_returnflag#\d+, {before}\)", plan), plan


class TestJdbcLineProxy:
    def test_raw_mode_gates_and_forwards_verbatim(self):
        """NOSASL stream: messages forwarded byte-identically (split
        reads included); ExecuteStatement SQL reaches the gate."""
        ups = _Upstream()
        gated = []
        proxy = JdbcLineProxy(ups.address, gate=gated.append).start()
        try:
            payload = _open_session_call() + _exec_stmt_call("SELECT 42 AS x")
            with socket.create_connection(proxy.address) as s:
                for i in range(0, len(payload), 13):  # torn packets
                    s.sendall(payload[i : i + 13])
                    time.sleep(0.001)
                assert ups.wait_bytes(len(payload)) == len(payload)
            assert bytes(ups.conns[0]) == payload
            assert gated == ["SELECT 42 AS x"]
            assert proxy.stats["blind_connections"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_sasl_mode_gates_frames(self):
        ups = _Upstream()
        gated = []
        proxy = JdbcLineProxy(ups.address, gate=gated.append).start()
        try:
            payload = (
                _sasl_handshake()
                + _frame(_open_session_call())
                + _frame(_exec_stmt_call("SELECT 7 AS y"))
            )
            with socket.create_connection(proxy.address) as s:
                s.sendall(payload)
                assert ups.wait_bytes(len(payload)) == len(payload)
            assert bytes(ups.conns[0]) == payload
            assert gated == ["SELECT 7 AS y"]
        finally:
            proxy.stop()
            ups.close()

    def test_unknown_protocol_demotes_to_blind(self):
        ups = _Upstream()
        gated = []
        proxy = JdbcLineProxy(ups.address, gate=gated.append).start()
        try:
            payload = b"\x16\x03\x01garbage-tls-hello" * 3
            with socket.create_connection(proxy.address) as s:
                s.sendall(payload)
                assert ups.wait_bytes(len(payload)) == len(payload)
            assert bytes(ups.conns[0]) == payload
            assert gated == []
            assert proxy.stats["blind_connections"] == 1
        finally:
            proxy.stop()
            ups.close()

    def test_deep_nesting_goes_blind(self):
        """A raw call nested 5,000 structs deep is not a message the
        proxy can read: the connection goes blind and the bytes reach
        the upstream unchanged, instead of the handler dying."""
        ups = _Upstream()
        proxy = JdbcLineProxy(ups.address, gate=lambda s: None).start()
        try:
            payload = _deep_call(5000)
            with socket.create_connection(proxy.address) as s:
                s.sendall(payload)
                assert ups.wait_bytes(len(payload)) == len(payload)
            assert bytes(ups.conns[0]) == payload
            assert proxy.stats["blind_connections"] == 1
        finally:
            proxy.stop()
            ups.close()

    def test_stop_before_start_returns(self):
        ups = _Upstream()
        proxy = JdbcLineProxy(ups.address, gate=lambda s: None)
        try:
            assert _returns(proxy.stop)
        finally:
            ups.close()

    def test_gate_failure_never_blocks_the_wire(self):
        def bomb(sql):
            raise RuntimeError("window on fire")

        ups = _Upstream()
        proxy = JdbcLineProxy(ups.address, gate=bomb).start()
        try:
            payload = _exec_stmt_call("SELECT 1")
            with socket.create_connection(proxy.address) as s:
                s.sendall(payload)
                assert ups.wait_bytes(len(payload)) == len(payload)
            assert bytes(ups.conns[0]) == payload
        finally:
            proxy.stop()
            ups.close()

    def test_proxied_same_scan_statements_share_one_caching_bag(self, spark):
        """VERDICT r5 #3 done-criterion: two proxy-submitted same-scan
        queries land in one CACHING bag — pre-execution, through the
        window, like the reference ran every client."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=10.0)
        srv.executor.cache = CacheManager(
            spark,
            budget_bytes=1 << 30,
            min_bytes=0,
            benefit_factor=0.0,
            columnar_benefit_factor=0.0,
        )
        srv.start()
        ups = _Upstream()
        proxy = JdbcLineProxy(ups.address, gate=srv.prime).start()
        q1 = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
        q2 = "SELECT l_linestatus, count(*) AS n FROM lineitem GROUP BY l_linestatus"
        payloads = {}

        def client(name, sql):
            p = _sasl_handshake() + _frame(_exec_stmt_call(sql))
            payloads[name] = p
            with socket.create_connection(proxy.address) as s:
                s.sendall(p)
                # hold the connection until the gate releases the frame
                # upstream (wait_bytes below observes it)
                time.sleep(0.1)

        try:
            t1 = _th.Thread(target=client, args=("a", q1))
            t2 = _th.Thread(target=client, args=("b", q2))
            t1.start(); t2.start()
            t1.join(timeout=60); t2.join(timeout=60)
            assert not (t1.is_alive() or t2.is_alive()), "proxy held a client forever"
            total = sum(len(p) for p in payloads.values())
            assert ups.wait_bytes(total) == total
            # byte-exact pass-through, per connection
            got = sorted(bytes(r) for r in ups.conns)
            assert got == sorted(payloads.values())
            # ONE window batch, TWO jobs, ONE caching bag over lineitem
            stats = srv.executor.stats
            assert stats["batches"] == 1, stats
            assert stats["jobs_run"] == 2, stats
            assert stats["caching_bags"] == 1, stats
            assert proxy.stats["statements_gated"] == 2
            lineitem_src = next(
                s for s in source_view_map(SF_DIR) if "lineitem" in s
            )
            assert lineitem_src in srv.executor.cache.cached_sources
            # prime-only members never executed in the gateway (the
            # client's engine owns the one real execution)
            jobs = list(srv._jobs.values())
            assert len(jobs) == 2
            assert all(j.prime_only for j in jobs)
            assert all(j.status is JobStatus.DONE for j in jobs)
            assert all(j.rows is None for j in jobs)
        finally:
            proxy.stop()
            ups.close()
            srv.shutdown()

    def test_proxied_command_flushes_result_cache(self, spark):
        # taint disabled: this test pins the FLUSH scoping; the taint's
        # put-refusal window has its own test
        # (test_jdbc_command_taint_blocks_caching_in_the_window)
        srv = WorkSharingServer(
            spark, SF_DIR, window_size=1, max_wait=0.1,
            jdbc_command_taint_seconds=0.0,
        )
        srv.start()
        try:
            q = "SELECT r_regionkey FROM region ORDER BY r_regionkey"
            client_request(srv.address, {"sql": q})
            assert client_request(srv.address, {"sql": q}).get("cached") is True
            # a resolvable command through the proxy gate flushes by
            # write set — an unrelated DROP keeps the region entry (r7
            # scoped invalidation) ...
            srv.prime("DROP TABLE IF EXISTS proxy_no_such_table")
            assert client_request(srv.address, {"sql": q}).get("cached") is True
            # ... a command touching the read table flushes it ...
            srv.prime("REFRESH TABLE region")
            assert "cached" not in client_request(srv.address, {"sql": q})
            # ... and an unresolvable command still flushes everything
            assert client_request(srv.address, {"sql": q}).get("cached") is True
            srv.prime("SET spark.sql.ansi.enabled=false")
            assert "cached" not in client_request(srv.address, {"sql": q})
        finally:
            srv.shutdown()


# --- round 7: Thrift-side merge substitution (VERDICT r6 ask #7) ----------
# The proxy answers ExecuteStatement from the gateway and serves the
# operation lifecycle itself; HiveServer2 never sees the statement.


_THRIFT_FIXED = {2: 1, 3: 1, 4: 8, 6: 2, 8: 4, 10: 8, 16: 16}


def _t_read(buf, pos, t):
    """Minimal generic TBinaryProtocol value reader (structs → dicts
    keyed by field id) for decoding the proxy's synthesized replies."""
    if t in _THRIFT_FIXED:
        w = _THRIFT_FIXED[t]
        raw = buf[pos : pos + w]
        if t == 8:
            return _st.unpack(">i", raw)[0], pos + w
        if t == 10:
            return _st.unpack(">q", raw)[0], pos + w
        if t == 2:
            return bool(raw[0]), pos + w
        return raw, pos + w
    if t == 11:
        (n,) = _st.unpack_from(">i", buf, pos)
        return bytes(buf[pos + 4 : pos + 4 + n]), pos + 4 + n
    if t == 12:
        d = {}
        while True:
            ft = buf[pos]
            pos += 1
            if ft == 0:
                return d, pos
            (fid,) = _st.unpack_from(">h", buf, pos)
            pos += 2
            v, pos = _t_read(buf, pos, ft)
            d[fid] = v
    if t in (14, 15):
        et = buf[pos]
        (n,) = _st.unpack_from(">i", buf, pos + 1)
        pos += 5
        out = []
        for _ in range(n):
            v, pos = _t_read(buf, pos, et)
            out.append(v)
        return out, pos
    raise ValueError(f"type {t}")


def _t_reply(buf, pos=0):
    """(end, name, seqid, result-dict) of one strict REPLY message."""
    (ver,) = _st.unpack_from(">I", buf, pos)
    assert ver == 0x80010002, hex(ver)
    (n,) = _st.unpack_from(">i", buf, pos + 4)
    name = buf[pos + 8 : pos + 8 + n].decode()
    pos += 8 + n
    (seq,) = _st.unpack_from(">i", buf, pos)
    pos += 4
    d, pos = _t_read(buf, pos, 12)
    return pos, name, seq, d


def _op_call(method: str, guid: bytes, seq: int, extra: bytes = b"") -> bytes:
    """A T<method>Req message referencing an operation handle."""
    hid = (
        b"\x0b" + _st.pack(">h", 1) + _tstr(guid)
        + b"\x0b" + _st.pack(">h", 2) + _tstr(b"\x00" * 16)
        + b"\x00"
    )
    handle = (
        b"\x0c" + _st.pack(">h", 1) + hid
        + b"\x08" + _st.pack(">h", 2) + _st.pack(">i", 0)
        + b"\x02" + _st.pack(">h", 3) + b"\x01"
        + b"\x00"
    )
    req = b"\x0c" + _st.pack(">h", 1) + handle + extra + b"\x00"
    args = b"\x0c" + _st.pack(">h", 1) + req + b"\x00"
    return (
        _st.pack(">I", 0x80010001)
        + _tstr(method.encode())
        + _st.pack(">i", seq)
        + args
    )


def _fetch_call(
    guid: bytes,
    seq: int,
    fetch_type: int = 0,
    orientation: int = 0,
    maxrows: int = 1000,
) -> bytes:
    extra = (
        b"\x08" + _st.pack(">h", 2) + _st.pack(">i", orientation)
        + b"\x0a" + _st.pack(">h", 3) + _st.pack(">q", maxrows)
        + b"\x06" + _st.pack(">h", 4) + _st.pack(">h", fetch_type)
    )
    return _op_call("FetchResults", guid, seq, extra)


def _recv_reply(sock) -> tuple[str, int, dict]:
    buf = b""
    sock.settimeout(10)
    while True:
        try:
            end, name, seq, d = _t_reply(buf)
            return name, seq, d
        except Exception:
            pass
        chunk = sock.recv(1 << 16)
        if not chunk:
            raise AssertionError(f"connection closed mid-reply ({len(buf)}B)")
        buf += chunk


class TestThriftSubstitution:
    ANSWER = {
        "columns": ["k", "n"],
        "dtypes": ["string", "bigint"],
        "rows": [["a", 1], ["b", None], [None, 3]],
    }

    def test_raw_execute_answered_locally_full_lifecycle(self):
        """ExecuteStatement → metadata → fetch → close, all synthesized;
        the upstream sees NONE of these messages (only the unrelated
        OpenSession)."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=lambda s: None, answer=lambda s, sid=None: dict(self.ANSWER)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                opens = _open_session_call()
                c.sendall(opens)  # passes through (fixes raw mode)
                ups.wait_bytes(len(opens))
                c.sendall(_exec_stmt_call("SELECT k, n FROM t", seq=5))
                name, seq, d = _recv_reply(c)
                assert (name, seq) == ("ExecuteStatement", 5)
                assert d[0][1][1] == 0  # TStatus SUCCESS
                guid = d[0][2][1][1]
                assert len(guid) == 16
                c.sendall(_op_call("GetOperationStatus", guid, 6))
                name, seq, d = _recv_reply(c)
                assert (name, d[0][2]) == ("GetOperationStatus", 2)  # FINISHED
                c.sendall(_op_call("GetResultSetMetadata", guid, 7))
                name, _seq, d = _recv_reply(c)
                cols = [cd[1].decode() for cd in d[0][2][1]]
                assert (name, cols) == ("GetResultSetMetadata", ["k", "n"])
                # typed schema: k is STRING(7), n is BIGINT(4)
                assert [cd[2][1][0][1][1] for cd in d[0][2][1]] == [7, 4]
                c.sendall(_fetch_call(guid, 8))
                name, _seq, d = _recv_reply(c)
                assert name == "FetchResults" and d[0][2] is False
                col_k, col_n = d[0][3][3]
                assert col_k[7][1] == [b"a", b"b", b""]
                assert col_k[7][2] == b"\x04"  # row 2 NULL
                # int column ships in the native i64 arm (union field 5)
                assert col_n[5][1] == [1, 0, 3]  # NULL placeholder 0
                assert col_n[5][2] == b"\x02"  # row 1 NULL
                # a second fetch is empty (one-shot result)
                c.sendall(_fetch_call(guid, 9))
                _name, _seq, d = _recv_reply(c)
                assert d[0][3][3][0][7][1] == []
                c.sendall(_op_call("CloseOperation", guid, 10))
                name, _seq, d = _recv_reply(c)
                assert name == "CloseOperation" and d[0][1][1] == 0
            # upstream saw only the OpenSession bytes
            time.sleep(0.2)
            assert sum(len(r) for r in ups.conns) == len(opens)
            assert proxy.stats["statements_answered"] == 1
            assert proxy.stats["statements_gated"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_sasl_frame_answered_locally(self):
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=lambda s: None, answer=lambda s, sid=None: dict(self.ANSWER)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                hs = _sasl_handshake()
                c.sendall(hs)
                ups.wait_bytes(len(hs))
                c.sendall(_frame(_exec_stmt_call("SELECT 1", seq=3)))
                # reply arrives as ONE SASL frame
                c.settimeout(10)
                buf = b""
                while len(buf) < 4:
                    buf += c.recv(1 << 16)
                (n,) = _st.unpack_from(">i", buf, 0)
                while len(buf) < 4 + n:
                    buf += c.recv(1 << 16)
                _end, name, seq, d = _t_reply(buf[4 : 4 + n])
                assert (name, seq, d[0][1][1]) == ("ExecuteStatement", 3, 0)
            time.sleep(0.2)
            assert sum(len(r) for r in ups.conns) == len(hs)
        finally:
            proxy.stop()
            ups.close()

    def test_unanswerable_statement_gates_and_forwards(self):
        ups = _Upstream()
        gated = []
        proxy = JdbcLineProxy(
            ups.address, gate=gated.append, answer=lambda s, sid=None: None
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                msg = _exec_stmt_call("SELECT weird FROM elsewhere")
                c.sendall(msg)
                assert ups.wait_bytes(len(msg)) == len(msg)
            assert gated == ["SELECT weird FROM elsewhere"]
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_rows_without_dtypes_are_forwarded(self):
        """A reply whose rows carry no dtypes cannot be typed on the
        wire: the statement is gated and forwarded, not answered."""
        ups = _Upstream()
        gated = []
        answer = {"columns": ["x"], "rows": [[1]]}
        proxy = JdbcLineProxy(
            ups.address, gate=gated.append, answer=lambda s, sid=None: dict(answer)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                msg = _exec_stmt_call("SELECT 1 AS x")
                c.sendall(msg)
                assert ups.wait_bytes(len(msg)) == len(msg)
            assert bytes(ups.conns[0]) == msg
            assert gated == ["SELECT 1 AS x"]
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_torn_sasl_stream(self):
        """A SASL stream split into 13-byte reads: the answered frame
        never reaches the upstream, everything else does byte for byte,
        and only the unanswered statement is gated."""
        ups = _Upstream()
        gated = []

        def answer(sql, sid=None):
            return dict(self.ANSWER) if sql == "SELECT k, n FROM t" else None

        proxy = JdbcLineProxy(ups.address, gate=gated.append, answer=answer).start()
        try:
            head = _sasl_handshake() + _frame(_open_session_call())
            answered = _frame(_exec_stmt_call("SELECT k, n FROM t", seq=2))
            tail = _frame(_exec_stmt_call("SELECT other FROM u", seq=3))
            payload = head + answered + tail
            with socket.create_connection(proxy.address) as c:
                for i in range(0, len(payload), 13):
                    c.sendall(payload[i : i + 13])
                    time.sleep(0.001)
                want = len(head) + len(tail)
                assert ups.wait_bytes(want) == want
            assert bytes(ups.conns[0]) == head + tail
            assert gated == ["SELECT other FROM u"]
            assert proxy.stats["statements_answered"] == 1
            assert proxy.stats["blind_connections"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_command_demotes_connection_for_good(self):
        """After a command, the gateway can no longer speak for this
        connection's session state: later SELECTs must forward even
        though the answer callback would serve them."""
        ups = _Upstream()

        def answer(sql, sid=None):
            if sql.lstrip().upper().startswith("SET"):
                return {"passthrough": "command"}
            return dict(self.ANSWER)

        proxy = JdbcLineProxy(ups.address, gate=lambda s: None, answer=answer).start()
        try:
            with socket.create_connection(proxy.address) as c:
                m1 = _exec_stmt_call("SET hive.x=1", seq=1)
                m2 = _exec_stmt_call("SELECT k FROM t", seq=2)
                c.sendall(m1)
                ups.wait_bytes(len(m1))
                c.sendall(m2)
                assert ups.wait_bytes(len(m1) + len(m2)) == len(m1) + len(m2)
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_fetch_pagination_and_midstream_rewind(self):
        """VERDICT r7 ask #4: a result larger than one fetch batch must
        paginate by the client's maxRows with correct hasMoreRows /
        startRowOffset, and FETCH_FIRST mid-stream must rewind to the
        start without truncation."""
        ups = _Upstream()
        big = {
            "columns": ["k", "n"],
            "dtypes": ["string", "bigint"],
            "rows": [[f"r{i}", i] for i in range(7)],
        }
        proxy = JdbcLineProxy(
            ups.address, gate=lambda s: None, answer=lambda s, sid=None: dict(big)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                c.sendall(_exec_stmt_call("SELECT k, n FROM t", seq=1))
                _n, _s, d = _recv_reply(c)
                guid = d[0][2][1][1]

                def fetch(seq, maxrows, orientation=0):
                    c.sendall(
                        _fetch_call(
                            guid, seq, orientation=orientation, maxrows=maxrows
                        )
                    )
                    _nm, _sq, dd = _recv_reply(c)
                    rowset = dd[0][3]
                    ks = [b.decode() for b in rowset[3][0][7][1]]
                    has_more, start = dd[0][2], rowset[1]
                    return ks, has_more, start

                assert fetch(2, 3) == (["r0", "r1", "r2"], True, 0)
                assert fetch(3, 3) == (["r3", "r4", "r5"], True, 3)
                # mid-stream rewind
                assert fetch(4, 2, orientation=4) == (["r0", "r1"], True, 0)
                # resume from the cursor, over-ask for the rest
                assert fetch(5, 100) == (
                    ["r2", "r3", "r4", "r5", "r6"],
                    False,
                    2,
                )
                # exhausted: empty batch, no more rows
                assert fetch(6, 100) == ([], False, 7)
        finally:
            proxy.stop()
            ups.close()

    def test_unsupported_fetch_orientation_errors_like_hiveserver2(self):
        """HiveServer2 supports only FETCH_NEXT/FETCH_FIRST and raises
        on the rest; answering FETCH_PRIOR with next-batch rows would
        corrupt the client's cursor silently, so the substitution path
        must return ERROR_STATUS — and leave the cursor untouched."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=lambda s: None, answer=lambda s, sid=None: dict(self.ANSWER)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                c.sendall(_exec_stmt_call("SELECT k, n FROM t", seq=1))
                _n, _s, d = _recv_reply(c)
                guid = d[0][2][1][1]
                # FETCH_PRIOR (orientation 1): error status, message set
                c.sendall(_fetch_call(guid, 2, orientation=1, maxrows=10))
                _nm, _sq, dd = _recv_reply(c)
                status = dd[0][1]
                assert status[1] == 3, status  # TStatusCode.ERROR_STATUS
                assert b"not supported" in status[5]
                # the failed fetch must not have advanced the cursor:
                # a FETCH_NEXT still serves the full result from row 0
                c.sendall(_fetch_call(guid, 3, orientation=0, maxrows=100))
                _nm, _sq, dd = _recv_reply(c)
                rowset = dd[0][3]
                assert dd[0][1][1] == 0 and rowset[1] == 0
                ks = [b.decode() for b in rowset[3][0][7][1]]
                # NULL cells ship as "" + null bitmap on the wire
                assert ks == [r[0] or "" for r in self.ANSWER["rows"]]
        finally:
            proxy.stop()
            ups.close()

    def test_result_past_inline_cap_falls_back_to_forwarding(self, spark, monkeypatch):
        """VERDICT r7 ask #4: a result bigger than the gateway's inline
        cap cannot be substituted faithfully — the statement must
        forward to the upstream engine (without a second prime gate),
        never ship a truncated rowset."""
        from sparksql_server_spark.server import WorkSharingServer
        from sparksql_server_spark.server import scheduler as sched_mod

        monkeypatch.setattr(sched_mod, "MAX_INLINE_ROWS", 5)
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1)
        srv.start()
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=srv.prime, answer=srv.answer_jdbc
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                # 25 nations > the patched 5-row cap -> fallback
                msg = _exec_stmt_call(
                    "SELECT n_nationkey, n_name FROM nation", seq=1
                )
                c.sendall(msg)
                assert ups.wait_bytes(len(msg)) == len(msg)
            assert proxy.stats["statements_answered"] == 0
            # the window pass already ran inside answer_jdbc — the
            # forward path must not pay a second prime gate
            assert proxy.stats["statements_gated"] == 0
            with socket.create_connection(proxy.address) as c:
                # an under-cap result on a fresh connection still
                # substitutes (the fallback is per-statement)
                c.sendall(_exec_stmt_call(
                    "SELECT r_regionkey FROM region ORDER BY r_regionkey", seq=2
                ))
                name, _s, d = _recv_reply(c)
                assert name == "ExecuteStatement" and d[0][1][1] == 0
            assert proxy.stats["statements_answered"] == 1
        finally:
            proxy.stop()
            ups.close()
            srv.shutdown()

    def test_benign_housekeeping_keeps_substitution(self):
        """VERDICT r7 ask #1: BI tools open connections with USE/SET
        housekeeping. Whitelisted benign commands forward WITHOUT
        gating and WITHOUT demoting — a later SELECT on the same
        connection is still answered from the gateway."""
        ups = _Upstream()
        gated = []

        def answer(sql, sid=None):
            if sql.lstrip().upper().startswith(("USE", "SET", "RESET")):
                return {"passthrough": "benign"}
            return dict(self.ANSWER)

        proxy = JdbcLineProxy(ups.address, gate=gated.append, answer=answer).start()
        try:
            with socket.create_connection(proxy.address) as c:
                m1 = _exec_stmt_call("USE `default`", seq=1)
                m2 = _exec_stmt_call("SET hive.server2.thrift.resultset.max.fetch.size=500", seq=2)
                m3 = _exec_stmt_call("SET -v", seq=3)
                for m in (m1, m2, m3):
                    c.sendall(m)
                # all three housekeeping statements FORWARD (HiveServer2
                # keeps its session consistent)...
                total = len(m1) + len(m2) + len(m3)
                assert ups.wait_bytes(total) == total
                # ...then the query is still ANSWERED locally
                c.sendall(_exec_stmt_call("SELECT k, n FROM t", seq=4))
                name, seq, d = _recv_reply(c)
                assert (name, seq) == ("ExecuteStatement", 4)
                assert d[0][1][1] == 0  # TStatus SUCCESS
            time.sleep(0.2)
            # upstream never saw the SELECT
            assert sum(len(r) for r in ups.conns) == total
            assert proxy.stats["statements_answered"] == 1
            # benign commands skip the gate too (no catalog effect)
            assert gated == []
        finally:
            proxy.stop()
            ups.close()

    def test_non_default_use_still_demotes(self):
        """USE of any other database is session state the gateway
        cannot see — it must demote as before."""
        ups = _Upstream()

        def answer(sql, sid=None):
            if sql.lstrip().upper().startswith("USE"):
                return {"passthrough": "command"}  # USE warehouse2
            return dict(self.ANSWER)

        proxy = JdbcLineProxy(ups.address, gate=lambda s: None, answer=answer).start()
        try:
            with socket.create_connection(proxy.address) as c:
                m1 = _exec_stmt_call("USE warehouse2", seq=1)
                m2 = _exec_stmt_call("SELECT k FROM t", seq=2)
                c.sendall(m1)
                ups.wait_bytes(len(m1))
                c.sendall(m2)
                assert ups.wait_bytes(len(m1) + len(m2)) == len(m1) + len(m2)
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_foreign_operation_handles_pass_through(self):
        """Operation calls with guids the proxy does NOT own (real
        HiveServer2 operations) forward untouched."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=lambda s: None, answer=lambda s, sid=None: dict(self.ANSWER)
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                msg = _fetch_call(b"\x09" * 16, 4)
                c.sendall(msg)
                assert ups.wait_bytes(len(msg)) == len(msg)
        finally:
            proxy.stop()
            ups.close()

    def test_merge_substitution_two_statements_one_execution(self, spark):
        """The endpoint the reference shipped: two same-signature
        statements through the proxy land in ONE window batch, MRShare
        merges them, each client gets its own correct rows from the ONE
        merged execution, and the upstream engine runs neither."""
        from sparksql_server_spark.server import WorkSharingServer

        srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=10.0)
        srv.executor.mrshare_min_bytes = 0  # sf0.001 is under the floor
        srv.start()
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=srv.prime, answer=srv.answer_jdbc
        ).start()
        try:
            qa = ("SELECT l_returnflag, count(*) AS n FROM lineitem"
                  " WHERE l_quantity > 10 GROUP BY l_returnflag")
            qb = ("SELECT l_returnflag, max(l_tax) AS m FROM lineitem"
                  " WHERE l_discount > 0.01 GROUP BY l_returnflag")
            exp_a = {tuple(str(x) for x in r) for r in spark.sql(qa).collect()}
            exp_b = {tuple(str(x) for x in r) for r in spark.sql(qb).collect()}
            results = {}

            def run(name, sql, seq):
                with socket.create_connection(proxy.address) as c:
                    c.sendall(_exec_stmt_call(sql, seq=seq))
                    _name, _seq, d = _recv_reply(c)
                    guid = d[0][2][1][1]
                    c.sendall(_fetch_call(guid, seq + 1))
                    _name, _seq, d = _recv_reply(c)
                    cols = d[0][3][3]
                    # columns arrive in their typed TColumn arms now —
                    # read whichever union field each column used
                    arms = [next(iter(col)) for col in cols]
                    vals = [col[arm][1] for col, arm in zip(cols, arms)]
                    nulls = [col[arm][2] for col, arm in zip(cols, arms)]

                    def cell(j, i):
                        if nulls[j][i // 8] & (1 << (i % 8)):
                            return None
                        v = vals[j][i]
                        if arms[j] == 7:
                            return v.decode()
                        if arms[j] == 6:
                            return str(_st.unpack(">d", v)[0])
                        return str(v)

                    rows = set()
                    for i in range(len(vals[0])):
                        rows.add(tuple(cell(j, i) for j in range(len(vals))))
                    results[name] = rows

            ta = _th.Thread(target=run, args=("a", qa, 10))
            tb = _th.Thread(target=run, args=("b", qb, 20))
            ta.start(); tb.start(); ta.join(30); tb.join(30)
            assert results["a"] == exp_a
            assert results["b"] == exp_b
            assert proxy.stats["statements_answered"] == 2
            # one batch, and the two statements merged into one plan
            assert srv.executor.stats["mrshare_plans"] >= 1
            # the upstream engine never saw either statement
            time.sleep(0.2)
            assert sum(len(r) for r in ups.conns) == 0
        finally:
            proxy.stop()
            srv.shutdown()
            ups.close()


class TestThriftEncoderProperties:
    """The synthesized replies are hand-rolled wire code — property-pin
    them against the generic reader: every encode decodes to the fields
    sent, and (split-read robustness) no strict prefix decodes."""

    def test_fetch_roundtrip_property(self):
        from hypothesis import given, settings, strategies as st
        from sparksql_server_spark.server.jdbc_proxy import encode_fetch_resp

        cell = st.one_of(
            st.none(),
            st.integers(-2**31, 2**31),
            st.text(max_size=20),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        )

        @settings(max_examples=60, deadline=None)
        @given(
            ncols=st.integers(0, 5),
            nrows=st.integers(0, 30),
            seqid=st.integers(-2**31, 2**31 - 1),
            data=st.data(),
        )
        def prop(ncols, nrows, seqid, data):
            cols = [
                [data.draw(cell) for _ in range(nrows)] for _ in range(ncols)
            ]
            msg = encode_fetch_resp(seqid, cols)
            end, name, seq, d = _t_reply(msg)
            assert (end, name, seq) == (len(msg), "FetchResults", seqid)
            assert d[0][2] is False  # hasMoreRows
            got = d[0][3][3]
            assert len(got) == ncols
            for j, col in enumerate(got):
                vals, nulls = col[7][1], col[7][2]
                assert len(vals) == nrows
                for i in range(nrows):
                    is_null = bool(nulls[i // 8] & (1 << (i % 8)))
                    if cols[j][i] is None:
                        assert is_null and vals[i] == b""
                    else:
                        assert not is_null
                        assert vals[i] == str(cols[j][i]).encode()

        prop()

    def test_metadata_roundtrip_property(self):
        from hypothesis import given, settings, strategies as st
        from sparksql_server_spark.server.jdbc_proxy import encode_metadata_resp

        @settings(max_examples=40, deadline=None)
        @given(
            names=st.lists(st.text(min_size=1, max_size=30), max_size=8),
            seqid=st.integers(-2**31, 2**31 - 1),
        )
        def prop(names, seqid):
            msg = encode_metadata_resp(seqid, names)
            end, name, seq, d = _t_reply(msg)
            assert (end, name, seq) == (len(msg), "GetResultSetMetadata", seqid)
            descs = d[0][2][1]
            assert [cd[1].decode() for cd in descs] == names
            assert [cd[3] for cd in descs] == list(range(1, len(names) + 1))
            for cd in descs:  # STRING_TYPE in every TTypeDesc
                assert cd[2][1][0][1][1] == 7

        prop()

    def test_typed_fetch_roundtrip_property(self):
        """Typed TColumn arms: per-column homogeneous bool/i64/double/
        string data (with NULLs) encodes into the arm column_kinds
        picks from the column's dtype and decodes back to the exact
        values."""
        import struct as _s

        from hypothesis import given, settings, strategies as st
        from sparksql_server_spark.server.jdbc_proxy import (
            column_kinds,
            encode_fetch_resp,
        )

        arm_for = {"bool": 1, "i64": 5, "double": 6, "string": 7}
        # (Spark dtype, column values) pairs
        colgen = st.one_of(
            st.tuples(
                st.just("boolean"), st.lists(st.none() | st.booleans(), max_size=20)
            ),
            st.tuples(
                st.just("bigint"),
                st.lists(st.none() | st.integers(-(2**63), 2**63 - 1), max_size=20),
            ),
            st.tuples(
                st.just("double"),
                st.lists(
                    st.none() | st.floats(allow_nan=False, allow_infinity=False),
                    max_size=20,
                ),
            ),
            st.tuples(
                st.just("string"), st.lists(st.none() | st.text(max_size=12), max_size=20)
            ),
        )

        @settings(max_examples=60, deadline=None)
        @given(seqid=st.integers(-(2**31), 2**31 - 1), data=st.data())
        def prop(seqid, data):
            ncols = data.draw(st.integers(0, 4))
            nrows = data.draw(st.integers(0, 20))
            drawn = [data.draw(colgen) for _ in range(ncols)]
            dtypes = [dt for dt, _c in drawn]
            cols = [c[:nrows] + [None] * (nrows - len(c)) for _dt, c in drawn]
            kinds, _tids = column_kinds(cols, dtypes)
            msg = encode_fetch_resp(seqid, cols, kinds)
            end, name, seq, d = _t_reply(msg)
            assert (end, name, seq) == (len(msg), "FetchResults", seqid)
            got = d[0][3][3]
            assert len(got) == ncols
            for j, col in enumerate(got):
                arm = arm_for[kinds[j]]
                assert list(col.keys()) == [arm]
                vals, nulls = col[arm][1], col[arm][2]
                assert len(vals) == nrows
                for i in range(nrows):
                    is_null = bool(nulls[i // 8] & (1 << (i % 8)))
                    if cols[j][i] is None:
                        assert is_null
                    else:
                        assert not is_null
                        v = cols[j][i]
                        if kinds[j] == "double":
                            assert _s.unpack(">d", vals[i])[0] == v
                        elif kinds[j] == "string":
                            assert vals[i] == str(v).encode()
                        else:
                            assert vals[i] == v

        prop()

    def test_schema_first_kinds_survive_empty_and_allnull_results(self):
        """With the gateway's df.dtypes shipped, the declared schema
        decides the wire types — an empty or all-NULL result reports
        the same column types as a populated one (value inference
        would degrade them to STRING)."""
        from sparksql_server_spark.server.jdbc_proxy import column_kinds

        dtypes = ["string", "bigint", "double", "boolean",
                  "timestamp", "date", "decimal(18,6)", "array<float>"]
        for cols in (
            [[] for _ in dtypes],                       # zero rows
            [[None, None] for _ in dtypes],             # all-NULL rows
        ):
            kinds, tids = column_kinds(cols, dtypes)
            assert kinds == ["string", "i64", "double", "bool",
                             "string", "string", "string", "string"]
            assert tids == [7, 4, 6, 0, 8, 17, 7, 7]
        # int columns are widened to the i64 arm under a BIGINT id
        assert column_kinds([[1]], ["int"]) == (["i64"], [4])
        # length mismatch or missing dtypes: no kinds (the proxy then
        # forwards the statement, test_rows_without_dtypes_are_forwarded)
        with pytest.raises(ValueError):
            column_kinds([[1, 2]], None)
        with pytest.raises(ValueError):
            column_kinds([[1], [2]], ["bigint"])

    def test_metadata_type_ids(self):
        from sparksql_server_spark.server.jdbc_proxy import encode_metadata_resp

        msg = encode_metadata_resp(9, ["a", "b", "c"], [4, 6, 17])
        end, name, seq, d = _t_reply(msg)
        assert (end, name, seq) == (len(msg), "GetResultSetMetadata", 9)
        descs = d[0][2][1]
        assert [cd[2][1][0][1][1] for cd in descs] == [4, 6, 17]

    def test_no_strict_prefix_decodes(self):
        from sparksql_server_spark.server.jdbc_proxy import (
            encode_execute_resp,
            encode_fetch_resp,
        )

        for msg in (
            encode_execute_resp(3, b"G" * 16, b"S" * 16),
            encode_fetch_resp(4, [["a", None], [1, 2]]),
        ):
            for i in range(len(msg)):
                try:
                    end, *_ = _t_reply(msg[:i])
                except Exception:
                    continue
                assert end > i, "a strict prefix must never parse complete"

    def test_sequential_statements_one_connection(self):
        """One connection, three statements in sequence: substituted →
        command (demotes) → formerly-substitutable query now forwards.
        The op handles of the first statement stay serviceable after
        the demotion (the client may close them late)."""
        ups = _Upstream()

        def answer(sql, sid=None):
            if "SET" in sql:
                return {"passthrough": "command"}
            return {"columns": ["x"], "dtypes": ["string"], "rows": [["1"]]}

        proxy = JdbcLineProxy(ups.address, gate=lambda s: None, answer=answer).start()
        try:
            with socket.create_connection(proxy.address) as c:
                c.sendall(_exec_stmt_call("SELECT 1", seq=1))
                _n, _s, d = _recv_reply(c)
                guid = d[0][2][1][1]
                c.sendall(_exec_stmt_call("SET a=1", seq=2))
                m3 = _exec_stmt_call("SELECT 1", seq=3)
                c.sendall(m3)
                # both the command and the post-command query forwarded
                got = ups.wait_bytes(1)
                assert got > 0
                # late CloseOperation on the pre-demotion handle still
                # answered locally
                c.sendall(_op_call("CloseOperation", guid, 4))
                name, _seq, d = _recv_reply(c)
                assert name == "CloseOperation" and d[0][1][1] == 0
            assert proxy.stats["statements_answered"] == 1
        finally:
            proxy.stop()
            ups.close()


def _open_session_with_conf(conf: dict, seq: int = 1) -> bytes:
    """OpenSession args{1: TOpenSessionReq{1: i32 protocol,
    4: map<string,string> configuration}}."""
    entries = b""
    for k, v in conf.items():
        entries += _tstr(k.encode()) + _tstr(v.encode())
    cmap = (
        b"\x0d" + _st.pack(">h", 4)
        + b"\x0b\x0b" + _st.pack(">i", len(conf)) + entries
    )
    req = (
        b"\x08" + _st.pack(">h", 1) + _st.pack(">i", 11)
        + cmap
        + b"\x00"
    )
    args = b"\x0c" + _st.pack(">h", 1) + req + b"\x00"
    return (
        _st.pack(">I", 0x80010001) + _tstr(b"OpenSession")
        + _st.pack(">i", seq) + args
    )


class TestOpenSessionConfFence:
    def test_fetch_first_rewinds_substituted_result(self):
        """HiveServer2 supports FETCH_FIRST re-reads and BI clients use
        them — after the one-shot serve, orientation=FETCH_FIRST(4)
        must rewind and resend the rows, not silently return empty
        (review r7)."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address,
            gate=lambda s: None,
            answer=lambda s, sid=None: {
                "columns": ["x"], "dtypes": ["string"], "rows": [["a"], ["b"]]
            },
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                c.sendall(_exec_stmt_call("SELECT 1", seq=1))
                _n, _s, d = _recv_reply(c)
                guid = d[0][2][1][1]
                c.sendall(_fetch_call(guid, 2))
                _n, _s, d = _recv_reply(c)
                assert d[0][3][3][0][7][1] == [b"a", b"b"]
                c.sendall(_fetch_call(guid, 3))  # exhausted
                _n, _s, d = _recv_reply(c)
                assert d[0][3][3][0][7][1] == []
                c.sendall(_fetch_call(guid, 4, orientation=4))  # FETCH_FIRST
                _n, _s, d = _recv_reply(c)
                assert d[0][3][3][0][7][1] == [b"a", b"b"]
        finally:
            proxy.stop()
            ups.close()

    def test_pre_v6_protocol_demotes_connection(self):
        """A client negotiating a protocol below V6 reads the row-based
        TRowSet arm the synthesized columnar results never fill —
        substitution must demote such connections to forward (review
        r7)."""
        import struct as _s2

        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address,
            gate=lambda s: None,
            answer=lambda s, sid=None: {
                "columns": ["x"], "dtypes": ["string"], "rows": [["1"]]
            },
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                req = b"\x08" + _s2.pack(">h", 1) + _s2.pack(">i", 3) + b"\x00"
                args = b"\x0c" + _s2.pack(">h", 1) + req + b"\x00"
                opens = (
                    _s2.pack(">I", 0x80010001) + _tstr(b"OpenSession")
                    + _s2.pack(">i", 1) + args
                )
                c.sendall(opens)
                ups.wait_bytes(len(opens))
                msg = _exec_stmt_call("SELECT 1", seq=2)
                c.sendall(msg)
                assert ups.wait_bytes(len(opens) + len(msg)) == len(opens) + len(msg)
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_multi_message_frame_open_conf_still_demotes(self):
        """A pipelining SASL client can pack a non-benign OpenSession
        with other messages in ONE data frame; the fence must apply to
        every message in the frame, not only single-message frames
        (review r7)."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address,
            gate=lambda s: None,
            answer=lambda s, sid=None: {
                "columns": ["x"], "dtypes": ["string"], "rows": [["1"]]
            },
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                hs = _sasl_handshake()
                c.sendall(hs)
                ups.wait_bytes(len(hs))
                opens = _open_session_with_conf({"set:hivevar:x": "1"})
                packed = _frame(opens + _open_session_call())  # two messages
                c.sendall(packed)
                ups.wait_bytes(len(hs) + len(packed))
                c.sendall(_frame(_exec_stmt_call("SELECT 1", seq=3)))
                time.sleep(0.3)
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_fallback_answer_skips_second_gate(self):
        """answer()={'fallback': True} means the statement already went
        through a full window batch before declining — the forward path
        must not pay a second prime gate (review r7)."""
        ups = _Upstream()
        gated = []
        proxy = JdbcLineProxy(
            ups.address, gate=gated.append, answer=lambda s, sid=None: {"fallback": True}
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                msg = _exec_stmt_call("SELECT big FROM t")
                c.sendall(msg)
                assert ups.wait_bytes(len(msg)) == len(msg)  # forwarded
            assert gated == []  # no second window pass
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_benign_conf_keeps_substitution(self):
        from sparksql_server_spark.server.jdbc_proxy import benign_open_conf

        assert benign_open_conf({})
        assert benign_open_conf({"use:database": "default"})
        assert benign_open_conf(
            {"set:hiveconf:hive.server2.thrift.resultset.default.fetch.size": "500"}
        )
        assert not benign_open_conf({"use:database": "prod"})
        assert not benign_open_conf({"set:hivevar:x": "1"})
        assert not benign_open_conf({"set:hiveconf:spark.sql.ansi.enabled": "true"})

    def test_non_benign_open_conf_demotes_connection(self):
        """A connection opened with engine confs must never be
        substituted — the overlay changes what its queries mean on
        HiveServer2 and the gateway cannot reproduce it."""
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address,
            gate=lambda s: None,
            answer=lambda s, sid=None: {
                "columns": ["x"], "dtypes": ["string"], "rows": [["1"]]
            },
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                opens = _open_session_with_conf(
                    {"set:hiveconf:spark.sql.ansi.enabled": "true"}
                )
                c.sendall(opens)
                ups.wait_bytes(len(opens))  # OpenSession still forwards
                msg = _exec_stmt_call("SELECT 1", seq=2)
                c.sendall(msg)
                # forwarded, NOT answered
                assert ups.wait_bytes(len(opens) + len(msg)) == len(opens) + len(msg)
            assert proxy.stats["statements_answered"] == 0
        finally:
            proxy.stop()
            ups.close()

    def test_default_db_open_conf_substitutes(self):
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address,
            gate=lambda s: None,
            answer=lambda s, sid=None: {
                "columns": ["x"], "dtypes": ["string"], "rows": [["1"]]
            },
        ).start()
        try:
            with socket.create_connection(proxy.address) as c:
                opens = _open_session_with_conf({"use:database": "default"})
                c.sendall(opens)
                ups.wait_bytes(len(opens))
                c.sendall(_exec_stmt_call("SELECT 1", seq=2))
                name, _seq, d = _recv_reply(c)
                assert name == "ExecuteStatement" and d[0][1][1] == 0
            assert proxy.stats["statements_answered"] == 1
        finally:
            proxy.stop()
            ups.close()


def test_substituted_repeat_statement_hits_result_cache(spark):
    """Two JDBC clients sending the SAME statement through the
    substituting proxy: the second is answered from the gateway
    RESULT CACHE (clean sessions share one namespace) — no Spark
    execution at all, the cheapest tier of the sharing hierarchy now
    reachable from the Thrift door."""
    from sparksql_server_spark.server import WorkSharingServer

    srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1)
    srv.start()
    ups = _Upstream()
    proxy = JdbcLineProxy(
        ups.address, gate=srv.prime, answer=srv.answer_jdbc
    ).start()
    try:
        sql = ("SELECT r_name, count(*) AS n FROM region"
               " GROUP BY r_name ORDER BY r_name")
        hits0 = srv.results.stats()["result_cache_hits"]

        def run(seq):
            with socket.create_connection(proxy.address) as c:
                c.sendall(_exec_stmt_call(sql, seq=seq))
                _n, _s, d = _recv_reply(c)
                guid = d[0][2][1][1]
                c.sendall(_fetch_call(guid, seq + 1))
                _n, _s, d = _recv_reply(c)
                # typed arms: r_name in stringVal(7), n in i64Val(5)
                return [col[next(iter(col))][1] for col in d[0][3][3]]

        first = run(10)
        second = run(20)
        assert first == second and len(first[0]) == 5
        assert all(isinstance(v, int) for v in first[1])  # native i64 arm
        assert srv.results.stats()["result_cache_hits"] >= hits0 + 1
        assert proxy.stats["statements_answered"] == 2
        assert sum(len(r) for r in ups.conns) == 0
    finally:
        proxy.stop()
        srv.shutdown()
        ups.close()


def test_shutdown_before_start_returns(spark):
    srv = WorkSharingServer(spark, SF_DIR)
    assert _returns(srv.shutdown)


def test_gateway_sessions_run_without_whole_stage_codegen(spark):
    """Root and a named session execute without whole-stage codegen
    while the gateway runs, with the rows codegen gives; shutdown, of
    a started server or one never started, gives root back its own
    setting, and so does a construction that fails."""
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key, None)
    q = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q"
         " FROM lineitem WHERE l_discount > 0.02 GROUP BY l_returnflag")
    register_tables(spark, SF_DIR)
    fresh = spark.sql(q)
    expected = sorted(map(tuple, fresh.collect()))
    # AQE shows the stage markers only once a query has run
    assert "*(" in fresh._jdf.queryExecution().executedPlan().toString()
    srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
    try:
        for session in (srv.spark, srv.session_for("t")):
            df = session.sql(q)
            assert sorted(map(tuple, df.collect())) == expected
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "*(" not in plan, plan
    finally:
        srv.shutdown()
    assert spark.conf.get(key, None) == before
    with socket.socket() as taken:
        taken.bind(("127.0.0.1", 0))
        taken.listen()
        with pytest.raises(OSError):
            WorkSharingServer(spark, SF_DIR, port=taken.getsockname()[1])
    assert spark.conf.get(key, None) == before
    spark.conf.set(key, "true")
    try:
        WorkSharingServer(spark, SF_DIR).shutdown()
        assert spark.conf.get(key, None) == "true"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


class TestGatewayHardeningR8:
    """Round-8 review wave: loop survival, session namespaces, bounds."""

    def test_non_numeric_priority_does_not_kill_the_loop(self, spark):
        """props['priority'] is client-controlled; a non-numeric value
        previously raised in preschedule ON THE BATCH-LOOP THREAD with
        the queue already drained — a one-request denial of service.
        It must rank as the default and the server must keep serving."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            bad = client_request(
                srv.address,
                {"sql": "SELECT 1 AS x", "props": {"priority": "high"}},
            )
            assert bad["status"] == "done", bad
            nxt = client_request(srv.address, {"sql": "SELECT 2 AS x"})
            assert nxt["status"] == "done" and nxt["rows"][0][0] == 2
        finally:
            srv.shutdown()

    def test_root_session_command_leaves_shared_cache_namespace(self, spark):
        """A root-session (no 'session' field) command shadows shared
        tables for root's own queries; its results must stop sharing
        the clean cross-session namespace — previously a clean named
        session was served root's shadowed-view rows."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            real_n = spark.table("region").count()
            r = client_request(
                srv.address,
                {"sql": "CREATE OR REPLACE TEMP VIEW region AS"
                        " SELECT * FROM nation LIMIT 3"},
            )
            assert r["status"] == "done", r
            q = "SELECT count(*) AS n FROM region"
            root = client_request(srv.address, {"sql": q})
            assert root["rows"][0][0] == 3  # root sees its shadow
            named = client_request(srv.address, {"sql": q, "session": "cleanc"})
            # the clean session sees the REAL table, never root's cache
            assert named["rows"][0][0] == real_n, named
            assert not named.get("cached"), named
        finally:
            try:
                spark.catalog.dropTempView("region")
            except Exception:
                pass
            from sparksql_server_spark.catalog import register_tables
            register_tables(spark, SF_DIR)
            srv.shutdown()

    def test_empty_string_session_is_the_root_session(self, spark):
        """{'session': ''} canonicalizes to root: it previously created
        a NAMED isolated session whose result-cache namespace collided
        with the clean shared one ('' or '' == '')."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            r = client_request(
                srv.address, {"sql": "SELECT count(*) AS n FROM nation", "session": ""}
            )
            assert r["status"] == "done"
            with srv._session_lock:
                assert "" not in srv._sessions  # no named '' session exists
        finally:
            srv.shutdown()

    def test_jobs_registry_is_bounded(self, spark):
        """The id->job registry must evict completed jobs past the cap
        (each DONE job pins its inline rows; unbounded retention is a
        driver leak under sustained traffic)."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.05).start()
        srv._jobs_cap = 6
        try:
            for i in range(12):
                r = client_request(srv.address, {"sql": f"SELECT {i} AS x"})
                assert r["status"] == "done"
            assert len(srv._jobs) <= 7  # cap + the in-flight newest
        finally:
            srv.shutdown()


def test_caching_rewrite_over_an_unresolvable_view_declines(spark):
    """A root client dropped the view the caching rewrite names a
    shared source by. Its width is then unknown, and unknown declines:
    two named-session queries over the source run uncached in one
    window instead of failing the batch in cacheTable."""
    import threading

    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=3.0)
    srv.executor.cache = CacheManager(
        spark, min_bytes=0, benefit_factor=0.0, columnar_benefit_factor=0.0
    )
    srv.start()
    try:
        assert client_request(srv.address, {"sql": "DROP VIEW orders"})["status"] == "done"
        sqls = {
            "s1": "SELECT count(*) AS n FROM orders",
            "s2": "SELECT count(*) AS n FROM orders WHERE o_totalprice > 0",
        }
        out = {}

        def ask(sid):
            out[sid] = client_request(srv.address, {"sql": sqls[sid], "session": sid})

        threads = [threading.Thread(target=ask, args=(sid,)) for sid in sqls]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
        assert out["s1"]["status"] == "done", out["s1"]
        assert out["s1"]["rows"] == [[n]]
        assert out["s2"]["status"] == "done", out["s2"]
        assert srv.executor.stats["batches"] == 2  # the DROP, then one window
        assert not srv.executor.cache.cached_sources
    finally:
        register_tables(spark, SF_DIR, ("orders",))
        srv.shutdown()


class TestJdbcTempViewMirror:
    """A JDBC connection's own temp views do not demote it. HiveServer2
    holds the views; the proxy keeps only their names and forwards every
    statement naming one, while the connection's base-table statements
    are still answered from the gateway's root session. The gateway
    executes none of the connection's view DDL and keeps no session for
    it."""

    def test_parser_accepts_only_bare_temp_view_shapes(self, spark):
        from sparksql_server_spark.plans.catalyst import kind

        def tv(sql):
            return _read(spark, temp_view, sql)

        got = tv("CREATE TEMPORARY VIEW topc AS SELECT 1 AS x")
        assert got[0] == "topc" and kind(got[1]) == "Project"
        assert tv("create or replace temp view `V2` as select * from t")[0] == "V2"
        assert tv("-- bi tool\nCREATE TEMP VIEW v AS SELECT 2;")[0] == "v"
        # Spark's parser rejects IF NOT EXISTS on a temporary view
        # (HiveServer2 rejects the statement too)
        assert tv("CREATE TEMPORARY VIEW IF NOT EXISTS v AS SELECT 2") is None
        # declines: global namespace is CROSS-session on HiveServer2;
        # qualified/dotted names aren't temp views; column lists and
        # other DDL shapes don't match; compound text never whitelists
        assert tv("CREATE GLOBAL TEMPORARY VIEW g AS SELECT 1") is None
        assert tv("CREATE TEMPORARY VIEW db.v AS SELECT 1") is None
        assert tv("CREATE TEMPORARY VIEW `a.b` AS SELECT 1") is None
        assert tv("CREATE TEMPORARY VIEW v (a, b) AS SELECT 1, 2") is None
        assert tv("CREATE TABLE t AS SELECT 1") is None
        assert tv("CREATE VIEW v AS SELECT 1") is None
        assert tv("DROP VIEW v") is None
        assert tv("CREATE TEMP VIEW v AS SELECT 1; SELECT 2") is None

    def test_proxy_forwards_view_statements_and_answers_base_tables(self, spark):
        """Wire level, against the real gateway: a view shadowing a base
        table is created and queried through HiveServer2 (forwarded,
        neither gated nor answered), a base-table query on the same
        connection is answered, and after the view is dropped its name
        is answered from root again. A drop of a view the connection
        never created demotes it."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        ups = _Upstream()
        gated, replies = [], []

        def answer(sql, views=frozenset()):
            res = srv.answer_jdbc(sql, views)
            replies.append((sql, views, res))
            return res

        proxy = JdbcLineProxy(
            ups.address, gate=gated.append, answer=answer
        ).start()
        sent = 0
        try:
            with socket.create_connection(proxy.address) as c:

                def forwarded(sql, seq):
                    nonlocal sent
                    msg = _exec_stmt_call(sql, seq=seq)
                    c.sendall(msg)
                    sent += len(msg)
                    assert ups.wait_bytes(sent) == sent, sql

                def answered(sql, seq):
                    c.sendall(_exec_stmt_call(sql, seq=seq))
                    name, _s, d = _recv_reply(c)
                    assert name == "ExecuteStatement" and d[0][1][1] == 0, sql
                    return [list(r) for r in replies[-1][2]["rows"]]

                forwarded(
                    "CREATE OR REPLACE TEMP VIEW nation AS SELECT * FROM region", 1
                )
                forwarded("SELECT count(*) FROM nation", 2)
                assert answered("SELECT count(*) FROM supplier", 3) == [
                    [spark.table("supplier").count()]
                ]
                forwarded("DROP VIEW nation", 4)
                assert answered("SELECT count(*) FROM nation", 5) == [
                    [spark.table("nation").count()]
                ]
                assert gated == [] and proxy.stats["statements_answered"] == 2
                forwarded("DROP VIEW other", 6)
                forwarded("SELECT count(*) FROM supplier", 7)  # demoted
            # a demoting command and every later statement pass the gate
            assert gated == ["DROP VIEW other", "SELECT count(*) FROM supplier"]
            assert proxy.stats["statements_answered"] == 2
            assert [(r[1], r[2].get("passthrough")) for r in replies] == [
                (frozenset(), "view"),
                (frozenset({"nation"}), "view"),
                (frozenset({"nation"}), None),
                (frozenset({"nation"}), "view"),
                (frozenset(), None),
                (frozenset(), "command"),
            ]
        finally:
            proxy.stop()
            ups.close()
            srv.shutdown()

    def test_view_queries_pass_through_and_base_tables_answer_from_root(self, spark):
        from sparksql_server_spark.server.results import ResultCache

        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            out = srv.answer_jdbc(
                "CREATE TEMPORARY VIEW topnat AS"
                " SELECT n_nationkey FROM nation WHERE n_regionkey = 0"
            )
            assert out == {"passthrough": "view", "views": ["topnat"]}
            views = frozenset(out["views"])
            # the gateway never executed the CREATE
            with pytest.raises(Exception):
                spark.sql("SELECT * FROM topnat").collect()
            # a query naming the view goes to HiveServer2 untouched: no
            # job, no cache entry
            jobs = srv._next_id
            q = "SELECT count(*) AS n FROM TopNat"
            assert srv.answer_jdbc(q, views) == {"passthrough": "view"}
            assert srv._next_id == jobs
            # a base-table query from the same connection is answered
            # from ROOT and cached in the SHARED cross-session namespace
            qb = "SELECT count(*) AS n FROM supplier WHERE s_acctbal > 0"
            resb = srv.answer_jdbc(qb, views)
            assert resb["rows"][0][0] > 0
            assert srv.results.get(
                ResultCache.key(None, analyzed_plan(spark, qb))
            ) is not None
            # HiveServer2 alone evaluates a view, so a nondeterministic
            # or CURRENT_LIKE body keeps the connection clean too
            for ddl, name in (
                ("CREATE TEMPORARY VIEW rnd AS SELECT rand() AS x", "rnd"),
                (
                    "CREATE TEMPORARY VIEW d AS SELECT r_name FROM region"
                    " WHERE r_regionkey < (SELECT day(current_date()))",
                    "d",
                ),
            ):
                assert srv.answer_jdbc(ddl, views) == {
                    "passthrough": "view",
                    "views": sorted(views | {name}),
                }
        finally:
            srv.shutdown()

    def test_shadowing_view_routes_to_session_not_root(self, spark):
        """The hazard the routing must never miss: a view that SHADOWS a
        base-table name. Queries naming it, in any case or quoting, go
        to the client's HiveServer2 session (view rows), never to root
        (base rows)."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            out = srv.answer_jdbc(
                "CREATE OR REPLACE TEMPORARY VIEW nation AS SELECT * FROM region"
            )
            assert out == {"passthrough": "view", "views": ["nation"]}
            views = frozenset(out["views"])
            for q in (
                "SELECT count(*) AS n FROM nation",
                "SELECT count(*) AS n FROM `NATION`",
                "SELECT r_name FROM region JOIN Nation ON r_regionkey = n_regionkey",
            ):
                assert srv.answer_jdbc(q, views) == {"passthrough": "view"}, q
            assert srv.results.stats()["result_cache_entries"] == 0
        finally:
            srv.shutdown()

    def test_non_mirrorable_ddl_still_demotes(self, spark):
        """The connection keeps a created view only when HiveServer2's
        CREATE succeeds too: its body analyzes in root, and its text
        names no other view of the connection. Breaking either rule, a
        GLOBAL view, any drop of a view the connection did not create,
        and every other DDL shape demote."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            views = frozenset({"v1"})
            for ddl in (
                "CREATE TEMPORARY VIEW r AS SELECT * FROM no_such_table",
                "CREATE TEMPORARY VIEW r AS SELECT no_such_col FROM region",
                "CREATE TEMPORARY VIEW w AS SELECT * FROM v1",
                "CREATE OR REPLACE TEMPORARY VIEW w AS"
                " SELECT r_name FROM region WHERE r_name <> 'V1'",
                "CREATE GLOBAL TEMPORARY VIEW g AS SELECT 1 AS x",
                "DROP VIEW somev",
                "CREATE TABLE t2 AS SELECT 1 AS x",
            ):
                assert srv.answer_jdbc(ddl, views) == {"passthrough": "command"}, ddl
            # replacing the connection's own view names only itself
            assert srv.answer_jdbc(
                "CREATE OR REPLACE TEMPORARY VIEW v1 AS SELECT 2 AS x", views
            ) == {"passthrough": "view", "views": ["v1"]}
            # a view may shadow a base table: HiveServer2 creates it in
            # the client's session, over the shared catalog table
            assert srv.answer_jdbc(
                "CREATE TEMPORARY VIEW nation AS SELECT 1 AS x"
            ) == {"passthrough": "view", "views": ["nation"]}
        finally:
            srv.shutdown()

    def test_drop_of_created_view_stays_clean(self, spark):
        """DROP VIEW of a view THIS connection created stays clean and
        removes the name. Drops of anything else still demote: they
        could target a shared catalog view."""
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        try:
            views = frozenset({"nation", "topc"})
            assert srv.answer_jdbc("DROP VIEW IF EXISTS nation", views) == {
                "passthrough": "view", "views": ["topc"],
            }
            assert srv.answer_jdbc("DROP VIEW TOPC", views) == {
                "passthrough": "view", "views": ["nation"],
            }
            # the base table answers again once no view shadows it
            q = "SELECT count(*) AS n FROM nation"
            rows = srv.answer_jdbc(q, frozenset({"topc"}))["rows"]
            assert [list(r) for r in rows] == [[spark.table("nation").count()]]
            assert srv.answer_jdbc("DROP VIEW lineitem", views) == {
                "passthrough": "command"
            }
            assert srv.answer_jdbc("DROP VIEW whatever") == {
                "passthrough": "command"
            }
        finally:
            srv.shutdown()


def test_prime_returns_at_once_for_what_root_cannot_analyze(spark):
    """prime() analyzes a query at intake: one root cannot resolve (a
    demoted connection's query over its own temp view) returns without
    waiting out a window and counts no batch and no failed job."""
    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=5).start()
    try:
        before = dict(srv.executor.stats)
        t0 = time.monotonic()
        srv.prime("SELECT * FROM no_such_view")
        assert time.monotonic() - t0 < 1.0
        time.sleep(0.2)
        for stat in ("batches", "jobs_failed"):
            assert srv.executor.stats[stat] == before[stat], stat
    finally:
        srv.shutdown()


class TestOverlayPerfConf:
    """Connect-time ``set:hiveconf:<perf key>`` overlay entries get the
    same treatment as statement-form SETs: benign for allowlisted keys,
    demoting otherwise. Neither form reaches the gateway's sessions:
    HiveServer2 applies it to the client's own session."""

    def test_benign_open_conf_accepts_allowlisted_perf_keys(self):
        from sparksql_server_spark.server.jdbc_proxy import benign_open_conf

        assert benign_open_conf({"set:hiveconf:spark.sql.shuffle.partitions": "6"})
        # only the key is read: the value is HiveServer2's to judge
        assert benign_open_conf(
            {"set:hiveconf:spark.sql.shuffle.partitions": "lots"}
        )
        # unknown key, hivevar: demote
        assert not benign_open_conf(
            {"set:hiveconf:spark.sql.ansi.enabled": "true"}
        )
        assert not benign_open_conf({"set:hivevar:x": "1"})
        # transport knobs and any key spelling stay benign
        assert benign_open_conf(
            {
                "set:hiveconf:hive.server2.thrift.resultset.default.fetch.size": "500",
                "set:hiveconf:spark.sql.autoBroadcastJoinThreshold": "64MB",
            }
        )

    def test_overlay_perf_conf_keeps_substitution(self):
        ups = _Upstream()
        calls = []

        def answer(s, sid=None):
            calls.append(s)
            return {"columns": ["x"], "dtypes": ["int"], "rows": [[1]]}

        proxy = JdbcLineProxy(ups.address, gate=lambda s: None, answer=answer).start()
        try:
            with socket.create_connection(proxy.address) as c:
                opens = _open_session_with_conf(
                    {"set:hiveconf:spark.sql.shuffle.partitions": "6"}
                )
                c.sendall(opens)
                assert ups.wait_bytes(len(opens)) == len(opens)  # forwarded
                c.sendall(_exec_stmt_call("SELECT 1", seq=2))
                name, _s, d = _recv_reply(c)
                assert name == "ExecuteStatement" and d[0][1][1] == 0
            # the overlay reaches the gateway as nothing: no SET text
            # is rebuilt and answer() sees only the query
            assert calls == ["SELECT 1"]
            assert proxy.stats["statements_answered"] == 1
        finally:
            proxy.stop()
            ups.close()

    def test_perf_sets_reach_no_gateway_session(self, spark):
        """Statement SETs through answer_jdbc and prime, and an
        OpenSession overlay through the proxy: each is benign, the
        connection's next SELECT is answered, and the shared root
        session keeps its own values throughout and after close."""
        keys = {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.adaptive.enabled": "false",
        }
        start = {k: spark.conf.get(k) for k in keys}
        assert start != keys
        sets = [f"SET {k}={v}" for k, v in keys.items()]
        srv = WorkSharingServer(spark, SF_DIR, window_size=1, max_wait=0.1).start()
        ups = _Upstream()
        proxy = JdbcLineProxy(
            ups.address, gate=srv.prime, answer=srv.answer_jdbc
        ).start()
        try:
            for sql in sets:
                assert srv.answer_jdbc(sql) == {"passthrough": "benign"}
                assert srv.prime(sql) is None
            with socket.create_connection(proxy.address) as c:
                opens = _open_session_with_conf(
                    {f"set:hiveconf:{k}": v for k, v in keys.items()}
                )
                c.sendall(opens)
                sent = len(opens)
                for seq, sql in enumerate(sets, start=2):
                    msg = _exec_stmt_call(sql, seq=seq)
                    c.sendall(msg)
                    sent += len(msg)
                    assert ups.wait_bytes(sent) == sent  # forwarded
                c.sendall(_exec_stmt_call("SELECT count(*) FROM region", seq=9))
                name, _s, d = _recv_reply(c)
                assert name == "ExecuteStatement" and d[0][1][1] == 0
                assert proxy.stats["statements_answered"] == 1
                assert {k: spark.conf.get(k) for k in keys} == start
            assert {k: spark.conf.get(k) for k in keys} == start
        finally:
            for k, v in start.items():
                spark.conf.set(k, v)
            proxy.stop()
            ups.close()
            srv.shutdown()
