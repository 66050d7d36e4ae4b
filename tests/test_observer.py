"""Scan observer (server/observer.py): the Thrift-door bridge into the
work-sharing cache.

The observer watches the JVM-wide SQLAppStatusStore, which records
completed executions from EVERY session over the shared SparkContext —
exactly what a JDBC connection is. These tests drive it with
``spark.newSession()`` sessions (same out-of-band shape as HiveServer2
sessions, without the cost of booting a thrift server; the real-JDBC
end-to-end lives in test_thrift.py)."""

from __future__ import annotations

import time

import pytest

from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.plans.analysis import (
    _top_level_fields,
    parse_scans,
    scan_nodes,
)
from sparksql_server_spark.server.cache import CacheManager
from sparksql_server_spark.server.observer import ScanObserver
from tests.conftest import SF_DIR


# -- unit: plan-text parsing ------------------------------------------------


@pytest.mark.parametrize(
    "body,n",
    [
        ("", 0),
        ("a:int", 1),
        ("a:int,b:string", 2),
        ("a:struct<x:int,y:int>,b:int", 2),  # nested commas don't count
        ("a:array<struct<x:int,y:map<string,int>>>,b:int,c:double", 3),
    ],
)
def test_top_level_fields(body, n):
    assert _top_level_fields(body) == n


def test_scan_events_parses_live_plan(spark):
    """The regex must match what THIS Spark version actually prints in
    a status-store plan description (not a hand-written facsimile)."""
    register_tables(spark, SF_DIR, ("supplier",))
    spark.sql("SELECT s_name, s_acctbal FROM supplier WHERE s_acctbal > 0").collect()
    store = spark._jsparkSession.sharedState().statusStore()
    ex_list = store.executionsList()
    descs = [
        ex_list.apply(k).physicalPlanDescription()
        for k in range(ex_list.size())
    ]
    hits = [
        ev
        for d in descs
        for ev in parse_scans(d)
        if ev[0].endswith("supplier.parquet")
    ]
    assert hits, "no supplier scan event parsed from the status store"
    source, ncols, fmt = hits[-1]
    assert source == SF_DIR + "/supplier.parquet"
    assert fmt == "parquet"
    # pruned ReadSchema: the query touches 2 columns of 7
    assert 0 < ncols <= 3


def test_scan_events_do_not_cross_scan_boundaries():
    """A scan node that prints no Location (Scan ExistingRDD) must NOT
    pair with the NEXT file scan's Location/ReadSchema — that consumed
    the real scan and attributed format 'existingrdd' to its source
    (ADVICE r5 #1)."""
    desc = (
        "*(2) Project [a#1]\n"
        "+- Scan ExistingRDD[a#1]\n"
        "+- Scan parquet default.t\n"
        "   Location: InMemoryFileIndex(1 paths)[file:/data/t.parquet]\n"
        "   ReadSchema: struct<b:int,c:int>\n"
    )
    events = parse_scans(desc)
    assert events == [("/data/t.parquet", 2, "parquet")]


def test_parse_scans_ignores_scan_text_in_pushed_filters():
    """Only a scan-node header ends a scan block: a pushed literal that
    spells 'Scan ' in the PushedFilters line between Location and
    ReadSchema keeps the scan's width and format."""
    desc = (
        "(1) Scan parquet default.t\n"
        "Output [2]: [b#1, c#2]\n"
        "Batched: true\n"
        "Location: InMemoryFileIndex [file:/data/t.parquet]\n"
        "PushedFilters: [IsNotNull(c), EqualTo(c,Scan x)]\n"
        "ReadSchema: struct<b:int,c:string>\n"
    )
    assert parse_scans(desc) == [("/data/t.parquet", 2, "parquet")]


def test_scan_nodes_live_plan_with_scan_literal(spark):
    register_tables(spark, SF_DIR, ("supplier",))
    df = spark.sql(
        "SELECT s_name, s_acctbal FROM supplier WHERE s_name = 'Scan x'"
    )
    assert scan_nodes(df) == [(SF_DIR + "/supplier.parquet", 2, "parquet")]


def test_scan_nodes_lists_every_root(spark):
    """A read of several paths is one scan over several roots, whose
    printed plan shows only the first ("... 1 entries"): the plan walk
    lists each root with the scan's width and format."""
    a, b = SF_DIR + "/region.parquet", SF_DIR + "/nation.parquet"
    df = spark.read.parquet(a, b)
    width = len(df.columns)
    assert sorted(scan_nodes(df)) == [(b, width, "parquet"), (a, width, "parquet")]


# -- unit: low-water bookkeeping over out-of-order completions --------------


class _FakeOpt:
    def __init__(self, empty):
        self._empty = empty

    def isEmpty(self):
        return self._empty


class _FakeExec:
    def __init__(self, eid, complete, desc=""):
        self._eid = eid
        self._complete = complete
        self._desc = desc

    def executionId(self):
        return self._eid

    def completionTime(self):
        return _FakeOpt(not self._complete)

    def physicalPlanDescription(self):
        return self._desc


class _FakeSpark:
    """Just enough session surface for ScanObserver.poll_once."""

    def table(self, view):
        # known 1-column table: read_fraction resolves (unknown width
        # would decline the scan event entirely)
        class _T:
            columns = ["a"]

        return _T()

    def __init__(self):
        self.execs: list[_FakeExec] = []
        outer = self

        class _Store:
            def executionsList(self):
                lst = sorted(outer.execs, key=lambda e: e._eid)

                class _L:
                    def size(self):
                        return len(lst)

                    def apply(self, k):
                        return lst[k]

                return _L()

        class _Shared:
            def sharedState(self):
                class _S:
                    def statusStore(self):
                        return _Store()

                return _S()

        self._jsparkSession = _Shared()


_DESC = (
    "Scan parquet t Location: InMemoryFileIndex(1 paths)[file:/src/t.parquet]"
    " ReadSchema: struct<a:int>"
)


def test_low_water_survives_out_of_order_completion():
    """Execution N completes while N-1 is still running: the poll must
    process N once, come back for N-1 when it completes, advance the
    mark over both, and never recount either — with the seen-set
    shrinking back to empty (no prune that could recount retained
    ids)."""
    from sparksql_server_spark.server.observer import ScanObserver

    fake = _FakeSpark()

    class _NoCache:
        def cached_sources(self):
            return set()

    obs = ScanObserver.__new__(ScanObserver)
    obs.spark = fake
    obs.cache = None  # _prime untested here (no matching sources)
    obs.source_views = {"/src/t.parquet": "t"}
    obs.window_seconds = 120.0
    obs.min_repeats = 99  # never prime in this test
    obs._recent = {}
    obs._seen = set()
    obs._low_water = None
    obs.stats = {"executions_seen": 0, "scans_seen": 0, "sources_cached": 0}

    fake.execs = [_FakeExec(0, True, _DESC)]
    obs.poll_once()  # bootstrap: floor at 0, nothing observed
    assert obs._low_water == 0 and obs.stats["executions_seen"] == 0

    # 1 running, 2 completed (out of order)
    fake.execs = [_FakeExec(0, True), _FakeExec(1, False), _FakeExec(2, True, _DESC)]
    obs._prime = lambda now: []  # isolate the bookkeeping
    obs.poll_once()
    assert obs.stats["executions_seen"] == 1  # only #2
    assert obs._low_water == 0 and obs._seen == {2}

    # #1 completes later — processed exactly once, mark advances over both
    fake.execs = [_FakeExec(0, True), _FakeExec(1, True, _DESC), _FakeExec(2, True)]
    obs.poll_once()
    assert obs.stats["executions_seen"] == 2
    assert obs._low_water == 2 and obs._seen == set()
    assert obs.stats["scans_seen"] == 2  # one per processed execution

    # re-poll: nothing recounted
    obs.poll_once()
    assert obs.stats["executions_seen"] == 2 and obs.stats["scans_seen"] == 2


def test_unknown_table_width_declines_scan_evidence():
    """A failed view lookup (width 0) must NOT default to
    read_fraction 1.0 — unknown declines, matching every other
    admission input in the module (ADVICE r5 #2)."""
    fake = _FakeSpark()

    def _broken_table(view):
        raise RuntimeError("no such view")

    fake.table = _broken_table
    obs = ScanObserver.__new__(ScanObserver)
    obs.spark = fake
    obs.cache = None
    obs.source_views = {"/src/t.parquet": "t"}
    obs.window_seconds = 120.0
    obs.min_repeats = 99
    obs._recent = {}
    obs._seen = set()
    obs._low_water = None
    obs.stats = {"executions_seen": 0, "scans_seen": 0, "sources_cached": 0}
    obs._prime = lambda now: []

    fake.execs = []
    obs.poll_once()  # bootstrap
    fake.execs = [_FakeExec(1, True, _DESC), _FakeExec(2, True, _DESC)]
    obs.poll_once()
    assert obs.stats["executions_seen"] == 2
    assert obs.stats["scans_seen"] == 0  # evidence declined, not frac=1.0
    assert obs._recent == {}


# -- integration: out-of-band sessions prime the cache ----------------------


def _poll_until(obs, n_new_scans, timeout=15.0):
    """Poll until ``n_new_scans`` more MATCHING scans are counted (the
    listener bus posts SQLExecutionEnd ASYNCHRONOUSLY — .collect()
    returns first, so a single immediate poll can see the execution as
    still-running; the background thread naturally revisits, one-shot
    tests must too). Counting scans rather than executions keeps the
    wait immune to unrelated executions (catalog registrations, etc.)
    completing late. Returns every source primed along the way."""
    target = obs.stats["scans_seen"] + n_new_scans
    primed: list = []
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        primed += obs.poll_once()
        if obs.stats["scans_seen"] >= target:
            return primed
        time.sleep(0.1)
    raise AssertionError(
        f"saw {obs.stats['scans_seen']} scans, wanted {target}"
    )


@pytest.fixture()
def make_observer(spark):
    """Factory: an observer watching ONLY the given table. Each test
    watches its own table — with a shared watch list, a late-completing
    scan of another test's table (including the cache-build count()
    itself) could satisfy this test's scan-count waits."""
    register_tables(spark, SF_DIR)
    made = []

    def _make(table: str) -> ScanObserver:
        cm = CacheManager(
            spark,
            budget_bytes=1 << 30,
            min_bytes=0,  # sf0.001 sits under the production floor
            # isolate the bridge plumbing from the caching economics
            # (the benefit bar has its own unit tests in test_server.py)
            benefit_factor=0.0,
            columnar_benefit_factor=0.0,
        )
        obs = ScanObserver(
            spark, cm, {SF_DIR + f"/{table}.parquet": table}, min_repeats=2
        )
        obs.poll_once()  # mark earlier tests' executions as seen...
        obs._recent.clear()  # ...and discard any evidence they contributed
        made.append(cm)
        return obs

    yield _make
    for cm in made:
        cm.clear()


def test_repeat_outofband_scans_prime_the_cache(spark, make_observer):
    """Two scans of the same table from an out-of-band session (the
    JDBC shape) must cache it; the NEXT query plans the in-memory
    scan."""
    observer = make_observer("orders")
    other = spark.newSession()
    register_tables(other, SF_DIR, ("orders",))
    other.sql("SELECT count(*) AS n FROM orders WHERE o_totalprice > 10").collect()
    other.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    ).collect()
    primed = _poll_until(observer, 2)
    assert SF_DIR + "/orders.parquet" in primed
    assert spark.catalog.isCached("orders")
    plan = other.sql("SELECT count(*) FROM orders")._jdf.queryExecution().toString()
    assert "InMemoryRelation" in plan
    assert observer.stats["sources_cached"] == 1


def test_single_scan_does_not_prime(spark, make_observer):
    observer = make_observer("customer")
    other = spark.newSession()
    register_tables(other, SF_DIR, ("customer",))
    other.sql("SELECT count(*) AS n FROM customer").collect()
    primed = _poll_until(observer, 1)
    assert primed == []
    assert not spark.catalog.isCached("customer")


def test_window_expiry_forgets_stale_scans(spark, make_observer):
    """Evidence older than the sliding window must not count: two scans
    separated by more than window_seconds look like one. (Uses a table
    no other test here scans — a LATE-completing scan of a shared table
    from an earlier test would otherwise race the first wait.)"""
    observer = make_observer("nation")
    observer.window_seconds = 0.3
    other = spark.newSession()
    register_tables(other, SF_DIR, ("nation",))
    other.sql("SELECT count(*) AS n FROM nation WHERE n_regionkey > 0").collect()
    _poll_until(observer, 1)
    time.sleep(0.4)
    other.sql("SELECT count(*) AS n2 FROM nation WHERE n_regionkey > 1").collect()
    primed = _poll_until(observer, 1)
    assert primed == []
    assert not spark.catalog.isCached("nation")


def test_admission_still_gates_the_bridge(spark):
    """The observer feeds the SAME CacheManager admission the gateway
    uses — a byte floor above the table size must decline, bridge or
    no bridge."""
    register_tables(spark, SF_DIR)
    cm = CacheManager(spark, budget_bytes=1 << 30, min_bytes=1 << 40)
    obs = ScanObserver(
        spark, cm, {SF_DIR + "/orders.parquet": "orders"}, min_repeats=2
    )
    obs.poll_once()
    other = spark.newSession()
    register_tables(other, SF_DIR, ("orders",))
    for _ in range(3):
        other.sql("SELECT count(*) AS n FROM orders").collect()
    assert _poll_until(obs, 3) == []
    assert not spark.catalog.isCached("orders")


def test_server_wires_observer_lifecycle(spark):
    """observe_out_of_band=True hangs a ScanObserver off the server's
    own CacheManager; start/shutdown manage its thread."""
    from sparksql_server_spark.server import WorkSharingServer

    srv = WorkSharingServer(
        spark, SF_DIR, max_wait=0.1, observe_out_of_band=True
    ).start()
    try:
        assert srv.observer is not None
        assert srv.observer.cache is srv.executor.cache
        assert srv.observer._thread is not None and srv.observer._thread.is_alive()
    finally:
        srv.shutdown()
    assert not srv.observer._thread.is_alive()


def test_background_thread_lifecycle(spark, make_observer):
    observer = make_observer("orders")
    observer.poll_interval = 0.05
    observer.start()
    other = spark.newSession()
    register_tables(other, SF_DIR, ("orders",))
    other.sql("SELECT count(*) AS a FROM orders WHERE o_custkey > 0").collect()
    other.sql("SELECT count(*) AS b FROM orders WHERE o_custkey > 1").collect()
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and not spark.catalog.isCached("orders"):
        time.sleep(0.1)
    observer.stop()
    assert spark.catalog.isCached("orders")
