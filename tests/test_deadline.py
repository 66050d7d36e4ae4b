"""Deadline-aware pre-scheduling (round 9, VERDICT r8 ask #7).

The reference ENVISIONED user deadlines in its pre-scheduler and never
built them (PROJECT-INTERNALS.md:55-56 — only the identity
DummyStrategy shipped). Here ``props["deadline_ms"]`` (a budget in
milliseconds from submission) orders a window earliest-deadline-first
within equal priority (server/batcher.py), maps deadline jobs onto the
high-weight ``deadline_urgent`` FAIR pool (scheduler._job_pool +
session._fair_pools_file), and surfaces misses in server stats.
"""

from __future__ import annotations

import time

from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.server.batcher import WindowBatcher, preschedule
from sparksql_server_spark.server.server import source_view_map
from sparksql_server_spark.server.cache import CacheManager
from sparksql_server_spark.server.model import JobStatus, QueryJob
from sparksql_server_spark.server.scheduler import BatchExecutor

SF_DIR = "/root/testdata/sf0.001"


def _job(jid: int, sql: str = "SELECT 1", **props) -> QueryJob:
    return QueryJob(job_id=jid, sql=sql, props=props)


def test_preschedule_orders_by_slack_within_priority():
    a = _job(1)                          # no deadline — FIFO tail
    b = _job(2, deadline_ms=5_000)       # slack deadline
    c = _job(3, deadline_ms=100)         # tight deadline — first
    d = _job(4, deadline_ms="soon?")     # non-numeric → ranks as none
    e = _job(5, priority=1)              # priority still dominates all
    out = preschedule([a, b, c, d, e])
    assert [j.job_id for j in out] == [5, 3, 2, 1, 4]


def test_preschedule_without_deadlines_is_fifo():
    jobs = [_job(i) for i in (3, 1, 2)]
    for k, j in enumerate(jobs):  # pin distinct submission instants
        j.submitted_at = 100.0 + k
    assert [j.job_id for j in preschedule(jobs)] == [3, 1, 2]


def test_batcher_emits_edf_order():
    batcher = WindowBatcher(window_size=3, max_wait=60.0)
    batcher.submit(_job(1))
    batcher.submit(_job(2, deadline_ms=10_000))
    batcher.submit(_job(3, deadline_ms=50))
    out = batcher.next_batch(block=False)
    assert [j.job_id for j in out] == [3, 2, 1]


def test_tight_deadline_drains_window_early():
    """Round 10 (VERDICT r9 ask #4): a job whose deadline expires
    inside the window it is queued in must drain EARLY — at
    window_size=5 / max_wait=2 s, a lone deadline_ms=300 job would
    blow its deadline waiting out the age trigger. EDF ordering alone
    cannot help here (the reference's own documented latency gap,
    PROJECT-INTERNALS.md:53)."""
    import threading

    b = WindowBatcher(window_size=5, max_wait=2.0, poll_interval=0.05)
    got: dict[str, object] = {}

    def consume() -> None:
        t0 = time.monotonic()
        batch = b.next_batch(block=True)
        got["elapsed"] = time.monotonic() - t0
        got["ids"] = [j.job_id for j in batch]

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    time.sleep(0.05)
    b.submit(_job(1, deadline_ms=300))
    t.join(timeout=5)
    assert got["ids"] == [1]
    # drained well inside the deadline, not at the 2 s age trigger
    assert got["elapsed"] < 0.5, got["elapsed"]


def test_slack_deadline_still_waits_for_the_window():
    """A deadline comfortably past the window must NOT drain early —
    the window's sharing opportunity is the whole point, and the age
    trigger already bounds the wait."""
    b = WindowBatcher(window_size=5, max_wait=0.3, poll_interval=0.05)
    b.submit(_job(1, deadline_ms=60_000))
    assert b.next_batch(block=False) == []  # not ready yet
    time.sleep(0.35)
    assert [j.job_id for j in b.next_batch(block=False)] == [1]


def _heavy(jid: int, n: int, **props) -> QueryJob:
    # CPU-bound, scan-light: ~n rows exploded per lineitem row. The
    # REPARTITION hint spreads the INPUT keys over 16 tasks BEFORE the
    # explode — without it the tiny parquet is one partition, every job
    # is ONE task, and with fewer tasks than cores FAIR weights never
    # engage. (The hint must sit below the explode: applied to the
    # exploded output it round-robin-shuffles ~12M generated rows
    # through a single-task local sort — the whole job serializes into
    # one 15-30 s task and the 120 s deadline becomes machine-speed
    # dependent, which is how this test went red on a slower box.)
    # The per-member bound varies so members never share a merge
    # signature.
    return QueryJob(
        job_id=jid,
        sql=(
            "SELECT sum(x) AS s FROM ("
            f" SELECT explode(sequence(1, {n})) AS x FROM"
            " (SELECT /*+ REPARTITION(16) */ l_orderkey FROM lineitem) r) t"
        ),
        props=props,
    )


def test_tight_deadline_completes_first_under_contention(spark):
    """A deadline job submitted LAST behind six equally-heavy slack
    jobs must complete first: EDF ordering starts it early and the
    weight-8 ``deadline_urgent`` pool gives it the dominant cluster
    share while the slack jobs' weight-1 pools keep running (bounded
    share — no starvation: every slack job still completes in the same
    batch).

    FAIR scheduling is statistical at task granularity: even at the
    ~4x expected wall-clock margin (weight 8 of 14 vs 1 of 14), a GC
    pause or straggler task landing on the deadline job's final stage
    can flip a single race, so ONE re-run (fresh executor, fresh
    stats) is allowed. Losing twice in a row is a real scheduling
    defect, never noise — the EDF/pool invariants themselves are
    asserted on every attempt."""
    register_tables(spark, SF_DIR)
    detail = ""
    for _attempt in range(2):
        ex = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=1 << 30, min_bytes=1 << 40),
            source_views=source_view_map(SF_DIR),
            enable_mrshare=False,  # isolate scheduling from the rewrites
        )
        slack = [_heavy(i, 2000 + i) for i in range(6)]
        tight = _heavy(99, 2006, deadline_ms=120_000)
        batch = preschedule(slack + [tight])
        assert batch[0].job_id == 99  # EDF put the late arrival first
        ex.run_batch_and_wait(batch)
        for j in slack + [tight]:
            assert j.status is JobStatus.DONE, f"job {j.job_id}: {j.error}"
            assert j.finished_at is not None
        assert ex.stats["deadline_jobs"] == 1
        assert ex.stats["deadline_misses"] == 0
        ex.cache.clear()
        # the deadline job finished before EVERY equally-heavy slack job
        if tight.finished_at < min(j.finished_at for j in slack):
            return
        detail = (
            f"tight={tight.finished_at}, "
            f"slack={sorted(j.finished_at for j in slack)}"
        )
    raise AssertionError(f"deadline job lost twice under contention: {detail}")


def test_deadline_miss_surfaces_in_stats(spark):
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30, min_bytes=1 << 40),
        source_views=source_view_map(SF_DIR),
        enable_mrshare=False,
    )
    missed = _job(1, sql="SELECT count(*) AS n FROM region", deadline_ms=0.001)
    met = _job(2, sql="SELECT count(*) AS n FROM nation", deadline_ms=300_000)
    ex.run_batch_and_wait([missed, met])
    assert missed.status is JobStatus.DONE and met.status is JobStatus.DONE
    assert ex.stats["deadline_jobs"] == 2
    assert ex.stats["deadline_misses"] == 1
    ex.cache.clear()


def test_deadline_job_merges_and_completes(spark):
    """Deadline props compose with the MRShare merge: a deadline-
    carrying member still joins the merged plan, its demux runs in the
    urgent pool, rows equal standalone, and deadline accounting sees
    it."""
    register_tables(spark, SF_DIR)
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=1 << 30),
        source_views=source_view_map(SF_DIR),
        mrshare_min_bytes=0,
    )
    sqls = [
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag",
        "SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem"
        " GROUP BY l_returnflag",
    ]
    expected = [sorted(tuple(r) for r in spark.sql(q).collect()) for q in sqls]
    jobs = [
        QueryJob(job_id=0, sql=sqls[0], props={"deadline_ms": 300_000}),
        QueryJob(job_id=1, sql=sqls[1]),
    ]
    bags = ex.run_batch_and_wait(jobs)
    assert any(b.merges for b in bags)  # the pair merged
    for j, exp in zip(jobs, expected):
        assert j.status is JobStatus.DONE and sorted(j.rows) == exp
    assert ex.stats["deadline_jobs"] == 1 and ex.stats["deadline_misses"] == 0
    ex.cache.clear()


def test_deadline_pool_assignment(spark):
    ex = BatchExecutor(spark, cache=CacheManager(spark, budget_bytes=1 << 20))
    assert ex._job_pool(_job(7)) == "job7"
    assert ex._job_pool(_job(8, deadline_ms=100)) == "deadline_urgent"
    assert ex._job_pool(_job(9, pool="etl", deadline_ms=100)) == "etl"
    assert ex._job_pool(_job(10, deadline_ms="junk")) == "job10"


def test_fair_pools_file_defines_urgent_pool():
    from sparksql_server_spark.session import _fair_pools_file

    path = _fair_pools_file()
    assert path
    with open(path) as fh:
        xml = fh.read()
    assert '"deadline_urgent"' in xml and "<weight>8</weight>" in xml


def test_deadline_drain_reaches_the_server_door(spark):
    """e2e through the TCP door: at window_size=5 / max_wait=3 s, a lone
    deadline_ms=400 query must come back well inside the age trigger —
    the early drain must fire on the REAL server loop, not just the
    batcher unit. A deadline-free control on the same server then pays
    the normal window wait (age trigger intact)."""
    from sparksql_server_spark.server import WorkSharingServer, client_request

    srv = WorkSharingServer(spark, SF_DIR, window_size=5, max_wait=3.0).start()
    try:
        t0 = time.monotonic()
        r = client_request(
            srv.address,
            {"sql": "SELECT count(*) AS n FROM region",
             "props": {"deadline_ms": 400}},
        )
        elapsed = time.monotonic() - t0
        assert r["status"] == "done" and r["rows"][0][0] == 5
        assert elapsed < 2.0, elapsed  # drained early, not at 3 s
        assert srv.executor.stats["deadline_jobs"] == 1
        t0 = time.monotonic()
        r2 = client_request(
            srv.address, {"sql": "SELECT count(*) AS n FROM nation"}
        )
        elapsed2 = time.monotonic() - t0
        assert r2["status"] == "done"
        assert elapsed2 >= 2.5, elapsed2  # the window still holds slack jobs
    finally:
        srv.shutdown()
