"""The SQL gateway — sockets in, JSON out.

Modern form of the reference's two-socket intake (JarListener :9992 +
DAGListener :9991, SRV/listener/*.scala): ONE line-delimited-JSON TCP
endpoint accepting SQL text. Protocol (the modern
``df__table__sql__input__output__metadata`` marker string,
DAGListener.scala:104):

    request : {"sql": "...", "output": "path"?, "props": {...}?,
               "wait": true?, "session": "client-id"?}
    response: {"id": N, "status": "queued"}            (wait=false)
              {"id": N, "status": "done", "columns": [...],
               "rows": [[...], ...], "n_rows": N, "elapsed": s}
              {"id": N, "status": "error", "error": "..."}

    request : {"explain": "formatted"|"simple"|..., "sql": "...",
               "session": ...?}               (plan only, never queued)
    response: {"status": "done", "plan": "..."}

    request : {"cancel": id}    (cancel a queued or running job)
    response: {"id": N, "cancelled": true|false}

    A repeat of a query whose analyzed plan is deterministic (same
    session namespace) with a complete inline result is served from the
    gateway's result cache ("cached": true in the reply); commands
    flush the entries their write set touches.

    request : {"server_stats": true}   (optimizer-decision counters —
              the queryable form of the reference's per-batch logging)
    response: {"status": "done", "stats": {"batches": N, "jobs_run": N,
               "jobs_failed": N, "caching_bags": N, "mrshare_plans": N,
               "mrshare_merged_jobs": N, "cached_sources": [...],
               "queued": N}}

``session`` names an isolated client session (temp views and SQL conf
private; created on first use via ``spark.newSession()`` over the ONE
shared SparkContext). The reference isolated clients by jar +
re-registered temp tables (DAGListener.scala:155-162,190-199); the
shared context keeps the plan cache and InMemoryRelations common, so
scan sharing still works ACROSS sessions.

Security note (SURVEY.md §7): the reference accepted serialized JVM
objects + jars over the wire and deserialized them with a custom
classloader (ClassLoaderOIS — RCE by design). We accept only SQL
text, and the gateway's sessions refuse the SQL functions that call
JVM methods by name (``reflect``, ``java_method``, ``try_reflect``;
:func:`refuse_reflection`), as does every session built on the
SparkContext after the gateway, HiveServer2's per-connection sessions
included, so no code crosses the boundary.

The gateway plans without whole-stage codegen
(``spark.sql.codegen.wholeStage=false`` on root while the server runs,
and on every named session it creates). Each request carries its own
literals, so whole-stage codegen would write new Java source for it:
Janino compiles that class and HotSpot JIT-compiles it from cold, on
every request. The interpreted operators are shared classes that stay
JIT-warm across requests, so a request costs the JVM less CPU.
``{"explain": ...}`` replies therefore carry no ``*(n)`` stage markers.
HiveServer2's per-connection sessions (server/thrift.py) take their
conf from the SparkContext and keep Spark's default.
"""

from __future__ import annotations

import functools
import json
import socket
import socketserver
import threading
from typing import Any, Callable

from pyspark.sql import SparkSession

from sparksql_server_spark.catalog import TABLES, register_tables
from sparksql_server_spark.functions.udfs import register_udfs, register_udtfs
from sparksql_server_spark.plans.analysis import scan_nodes
from sparksql_server_spark.plans.catalyst import analyzed, jvm, to_df
from sparksql_server_spark.server.batcher import WindowBatcher
from sparksql_server_spark.server.cache import CacheManager
from sparksql_server_spark.server.jdbc_proxy import (
    benign_command,
    dropped_view,
    temp_view,
)
from sparksql_server_spark.server.model import QueryJob
from sparksql_server_spark.server.results import (
    ResultCache,
    command_write_set,
    tables_from_fingerprints,
)
from sparksql_server_spark.server.scheduler import BatchExecutor, classify

import os


def source_view_map(sf_dir: str) -> dict[str, str]:
    """fingerprint (table root path) -> view name, for the cache rewrite."""
    return {os.path.join(sf_dir, f"{t}.parquet"): t for t in TABLES}


# off in every gateway session (module docstring: a per-request
# generated class costs more than interpreting the plan)
_WHOLE_STAGE = "spark.sql.codegen.wholeStage"


# built-in functions that call any JVM method named in their arguments
# (``reflect('java.lang.System', 'exit', 0)`` would stop the server)
_REFLECTION = ("reflect", "java_method", "try_reflect")


def refuse_reflection(session: SparkSession) -> None:
    """Drop the reflection functions from Spark's built-in function
    registry and from ``session``'s already-built one: a call to one
    then fails analysis with UNRESOLVED_ROUTINE. Every session built
    afterwards refuses them too — ``newSession()`` clones the built-in
    registry, a cloned session copies its parent's — so the gateway's
    named sessions and HiveServer2's per-connection sessions need no
    call of their own."""
    ident = jvm("org.apache.spark.sql.catalyst.FunctionIdentifier")
    for registry in (
        jvm("org.apache.spark.sql.catalyst.analysis.FunctionRegistry").builtin(),
        session._jsparkSession.sessionState().functionRegistry(),
    ):
        for name in _REFLECTION:
            registry.dropFunction(ident.apply(name))


class WorkSharingServer:
    """One SparkSession + queue + batch loop + TCP front-end."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        window_size: int = 2,
        max_wait: float = 1.0,
        cache_budget_bytes: int = 4 << 30,
        result_cache_ttl: float = 300.0,
        result_cache_entries: int = 256,
        max_sessions: int = 64,
        session_idle_timeout: float = 3600.0,
        jdbc_command_reflush_seconds: float = 5.0,
        jdbc_command_taint_seconds: float = 600.0,
    ) -> None:
        self.spark = spark
        self._sf_dir = sf_dir
        # root's own setting, put back by shutdown(); None = unset
        self._root_whole_stage = spark.conf.get(_WHOLE_STAGE, None)
        self._prepare(spark)
        refuse_reflection(spark)
        # the vetted custom connectors (sources/pysource.py): lets
        # gateway jobs read format("synthetic_events") and write
        # output_format="jsonl_dir" — still no code over the wire
        try:
            from sparksql_server_spark.sources.pysource import (
                JsonlDirDataSource,
                SyntheticEventsDataSource,
            )

            spark.dataSource.register(SyntheticEventsDataSource)
            spark.dataSource.register(JsonlDirDataSource)
        except Exception:  # double-registration on a shared session
            pass
        self.batcher = WindowBatcher(window_size=window_size, max_wait=max_wait)
        self.executor = BatchExecutor(
            spark,
            cache=CacheManager(spark, budget_bytes=cache_budget_bytes),
            source_views=source_view_map(sf_dir),
        )
        # results served straight from the gateway for repeat queries
        # (server/results.py); 0 entries disables it
        self.results = ResultCache(
            max_entries=result_cache_entries, ttl_seconds=result_cache_ttl
        )
        self._next_id = 0
        self._id_lock = threading.Lock()
        # bounded id->job registry for status/cancel polling; ids are
        # monotonically increasing, so eviction drops the OLDEST
        # completed jobs first (polling an evicted ancient id returns
        # "unknown job id", the same answer a restart gives). Without
        # the bound every DONE job pinned its inline rows (up to
        # MAX_INLINE_ROWS tuples) forever — an unbounded driver leak
        # under sustained traffic while every other table is budgeted.
        self._jobs: dict[int, QueryJob] = {}
        self._jobs_cap = 4096
        # named client sessions, reaped by idle time under a count cap:
        # without a bound, every distinct client id pins a SparkSession
        # (temp-view catalog, SQL conf, plan caches) in driver memory
        # FOREVER — a churning client population (one id per dashboard
        # refresh token is a real pattern) slowly exhausts the driver.
        # Eviction drops our reference; a later request with the same
        # id gets a FRESH session (temp views/conf lost — the standard
        # idle-timeout contract of every SQL server).
        self.max_sessions = max_sessions
        self.session_idle_timeout = session_idle_timeout
        # prime(): horizon during which every put is refused after a
        # JDBC command whose write set is unresolvable — sized past
        # frame-forward + HiveServer2 execution
        self.jdbc_command_reflush_seconds = jdbc_command_reflush_seconds
        # prime(): horizon during which puts touching a JDBC command's
        # write set are refused — the command executes out of band and
        # the gateway never observes its completion, so the horizon is
        # sized generously past any real command
        self.jdbc_command_taint_seconds = jdbc_command_taint_seconds
        self._sessions: dict[str, tuple[SparkSession, float]] = {}
        self._session_lock = threading.Lock()
        # cross-session result sharing (round 6 — the reference's whole
        # point was cross-CLIENT sharing): sessions that have never run
        # a session-scoped command still see exactly the shared catalog,
        # so their deterministic queries resolve identically and can
        # share one cache namespace. The moment a session runs ANY
        # command (temp view, SET, DDL — anything that could change how
        # ITS text resolves) it is marked dirty and keys privately from
        # then on; the command also bumps the put-epoch at arrival and
        # flushes its write set (whole cache when it names no table)
        # on completion, so nothing stale survives the transition.
        self._dirty_sessions: set[str] = set()
        # True once a command ran on the ROOT session (temp views there
        # shadow shared tables for root's own queries)
        self._root_dirty = False
        self._stop = threading.Event()
        self._loop_thread = threading.Thread(target=self._run_loop, daemon=True)

        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                for line in self.rfile:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        reply = outer.handle_request(json.loads(line))
                    except Exception as exc:
                        reply = {"status": "error", "error": f"{type(exc).__name__}: {exc}"}
                    self.wfile.write((json.dumps(reply, default=str) + "\n").encode())
                    self.wfile.flush()

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        try:
            self._tcp = Server((host, port), Handler)
        except OSError:  # port taken: no server will restore root
            self._restore_root()
            raise
        self.address = self._tcp.server_address
        self._tcp_thread = threading.Thread(target=self._tcp.serve_forever, daemon=True)

    # -- lifecycle --------------------------------------------------------

    def start(self) -> "WorkSharingServer":
        self._loop_thread.start()
        self._tcp_thread.start()
        return self

    def shutdown(self) -> None:
        """Stop what :meth:`start` started: socketserver's shutdown()
        waits for a serve_forever loop, so a server that never started
        only closes its socket and its executor. Either way the scan
        cache's relations are unpersisted, and root gets back the
        whole-stage codegen setting it had before the server (servers
        sharing one root must shut down in reverse order)."""
        self._stop.set()
        if self._tcp_thread.is_alive():
            self._tcp.shutdown()
        self._tcp.server_close()
        if self._loop_thread.is_alive():
            self._loop_thread.join(timeout=30)
        self.executor.close()
        self.executor.cache.clear()
        self._restore_root()

    def _restore_root(self) -> None:
        if self._root_whole_stage is None:
            self.spark.conf.unset(_WHOLE_STAGE)
        else:
            self.spark.conf.set(_WHOLE_STAGE, self._root_whole_stage)

    def _prepare(self, session: SparkSession) -> None:
        """The one setup of a session the gateway executes in, root or
        named: base tables, the vetted UDF/UDTF surface (no code over
        the wire) and whole-stage codegen off. ``newSession()`` inherits
        none of root's runtime conf, so each session gets it here."""
        register_tables(session, self._sf_dir)
        register_udfs(session)
        register_udtfs(session)
        session.conf.set(_WHOLE_STAGE, "false")

    def _run_loop(self) -> None:
        while not self._stop.is_set():
            try:
                # wakes when a window fills; the timeout re-checks the
                # age trigger and shutdown
                batch = self.batcher.next_batch(timeout=0.05)
            except Exception:  # noqa: BLE001 — queue already drained;
                # jobs in the lost window are unrecoverable here, but
                # the loop itself must never die (it is the server's
                # only planning thread). Back off before retrying so a
                # persistently-raising next_batch can't busy-spin this
                # thread at 100% CPU.
                self._stop.wait(0.05)
                continue
            if not batch:
                continue
            try:
                # plans the batch and starts its jobs on the executor's
                # pool; for a read-only batch it returns right away, so
                # the next window is planned while these jobs run. A
                # batch with a writer returns once it has finished
                self.executor.run_batch(batch)
            except Exception as exc:  # noqa: BLE001 — loop must survive
                # run_batch guards per-job analyze/execute, but a fault
                # in detection or the cache rewrite would otherwise kill
                # this thread forever: every queued job would hang and
                # all wait=True clients block on done_event. Fail the
                # batch loudly instead and keep serving.
                from sparksql_server_spark.server.model import JobStatus

                for job in batch:
                    if not job.done_event.is_set():
                        job.status = JobStatus.ERROR
                        job.error = f"batch failed: {type(exc).__name__}: {exc}"
                        job.done_event.set()

    def _resolve_write_set(
        self, plan: Any, session: SparkSession
    ) -> frozenset[str] | None:
        """Write set of a parsed command, expanded to invalidation keys:
        the target names PLUS the roots of the targets' file scans, as
        cached entries record them (an empty table has a root too).
        Resolved at command ARRIVAL: a table's name and its location
        basename can differ (CREATE ... LOCATION), and only before
        execution does a DROP target or a to-be-replaced view still
        resolve to the files cached entries read. None = no target ->
        callers flush everything."""
        ws = command_write_set(plan, session)
        if ws is None:
            return None
        keys: set[str] = set(ws)
        for t in ws:
            try:
                scans = scan_nodes(session.table(t))
            except Exception:
                # target doesn't exist yet (CREATE) or isn't a
                # relation — nothing can have read it under this name
                continue
            keys |= tables_from_fingerprints(s.root for s in scans)
        return frozenset(keys)

    def _flush_write_set(self, ws: frozenset[str] | None) -> None:
        """Drop the cached results a writer may have changed: those
        reading ``ws``, or all of them when it is None."""
        if ws is None:
            self.results.invalidate_all()
        else:
            self.results.invalidate_tables(ws)

    # -- request handling -------------------------------------------------

    def session_for(self, session_id: str | None) -> SparkSession:
        """Root session, or a named isolated client session (lazily
        created and set up once by :meth:`_prepare`).
        Sessions idle past ``session_idle_timeout`` are reaped when the
        table would exceed ``max_sessions``; if every session is busy,
        the least-recently-used one goes (bounded memory beats
        unbounded state for an anonymous-client gateway)."""
        if session_id is None:
            return self.spark
        import time as _time

        now = _time.monotonic()
        with self._session_lock:
            hit = self._sessions.get(session_id)
            if hit is not None:
                self._sessions[session_id] = (hit[0], now)
                return hit[0]
        # Session construction + registration run OUTSIDE the lock, so
        # they stall no other thread's session lookup or dirty-check. A
        # concurrent same-id creation is resolved below: first
        # insertion wins, the loser's session is discarded (rare — only
        # a TCP client reusing one id across sockets can race).
        sess = self.spark.newSession()
        self._prepare(sess)
        with self._session_lock:
            hit = self._sessions.get(session_id)
            if hit is not None:  # lost the creation race
                self._sessions[session_id] = (hit[0], now)
                return hit[0]
            if len(self._sessions) >= self.max_sessions:
                idle = [
                    sid
                    for sid, (_, used) in self._sessions.items()
                    if now - used > self.session_idle_timeout
                ]
                for sid in idle:
                    del self._sessions[sid]
                    # the recreated session's catalog cannot resolve
                    # the dead incarnation's temp views, so its private
                    # cached results must die with it (a reincarnated
                    # dirty session would otherwise be served them
                    # within TTL)
                    self.results.invalidate_session(sid)
                while len(self._sessions) >= self.max_sessions:
                    lru = min(self._sessions, key=lambda s: self._sessions[s][1])
                    del self._sessions[lru]
                    self.results.invalidate_session(lru)
            self._sessions[session_id] = (sess, now)
            # a fresh session has a clean catalog: a reaped-and-
            # recreated id rejoins the shared result namespace
            self._dirty_sessions.discard(session_id)
        return sess

    def submit(
        self,
        sql: str,
        props: dict[str, Any] | None = None,
        session: SparkSession | None = None,
        is_query: bool | None = None,
        plan: Any = None,
        on_done: Callable[[], None] | None = None,
        prime_only: bool = False,
    ) -> QueryJob:
        with self._id_lock:
            self._next_id += 1
            job = QueryJob(job_id=self._next_id, sql=sql, props=props or {},
                           session=session, is_query=is_query, plan=plan,
                           on_done=on_done, prime_only=prime_only)
            # insertion and cap-eviction are serialized under the same
            # lock: a concurrent submit during the sorted() iteration
            # below would otherwise mutate the dict mid-iteration
            self._jobs[job.job_id] = job
            if len(self._jobs) > self._jobs_cap:
                doomed = [
                    jid
                    for jid in sorted(self._jobs)[: len(self._jobs) - self._jobs_cap]
                    # never evict a job still queued/running — its
                    # done_event and cancel path must stay reachable
                    if self._jobs[jid].done_event.is_set()
                ]
                for jid in doomed:
                    self._jobs.pop(jid, None)
        self.batcher.submit(job)
        return job

    def prime(self, sql: str, timeout: float = 300.0) -> None:
        """Window-gate for out-of-band doors (server/jdbc_proxy.py):
        admit ``sql`` to the batching window as a PRIME-ONLY job —
        analysis, bag membership, and the caching rewrite run; the
        execution itself is skipped because the caller's own engine
        (HiveServer2) performs the one real execution after this
        returns, against whatever the batch cached. Blocks until the
        statement's batch has been planned and its job has had its turn
        on the executor's pool (the reference imposed this window
        latency on every client, WorksharingExecutor.scala:65-98).

        Commands are not gated — they pass straight to the caller's
        engine — but they flush the gateway result cache (scoped to the
        parsed write set, whole cache when unresolvable): a JDBC DDL
        may change the shared catalog that cached gateway results were
        derived from. The command only EXECUTES on HiveServer2 after
        this returns and the proxy forwards the frame, so a gateway
        query could run and cache a pre-change result in that window.
        The epoch bump at arrival discards every put from a query in
        flight across this call, and a taint refuses every later put
        that could read the command's effect until a horizon past its
        execution. Benign housekeeping, perf-conf SETs included, just
        returns: HiveServer2 applies it to the client's own session
        and the gateway applies none of it.

        A query is parsed once and analyzed at intake, like
        :meth:`_run_sql`'s. One that root cannot parse or analyze (a
        demoted connection's query over its own temp view) returns at
        once: the gateway cannot read its scans, so waiting out a
        window for it buys no sharing."""
        is_query, plan = classify(self.spark, sql)
        if not is_query:
            if benign_command(plan):
                # whitelisted housekeeping (USE default, conf reads,
                # hive.server2.* knobs, perf-conf SETs —
                # benign_command): no catalog effect, so no flush, no
                # taint, no epoch bump. Without this, every BI
                # connect's `USE default` cost a whole-cache
                # invalidation (its write set is unresolvable →
                # invalidate_all)
                return
            self.results.bump_generation()
            ws = self._resolve_write_set(plan, self.spark)
            self._flush_write_set(ws)
            # the command executes on HiveServer2 AFTER the proxy
            # forwards the frame, at a time the gateway never
            # observes: the taint refuses puts that could read its
            # effect until a horizon past its execution. A RESOLVED
            # write set taints its tables generously past any real
            # command: the long-running dangers (INSERT/MERGE ...
            # SELECT) name their table. ws=None is mostly SET/ADD
            # JAR-class statements whose effects live in HiveServer2
            # session state the gateway's own executions never see —
            # a 10-minute global put-freeze for those would cost far
            # more than it protects, so they freeze every put for the
            # short horizon only. (A write to IDENTIFIER(<a variable
            # or parameter>) and an EXECUTE IMMEDIATE of a variable or
            # of a non-constant statement also read as None.)
            self.results.taint_tables(
                ws,
                self.jdbc_command_taint_seconds
                if ws is not None
                else self.jdbc_command_reflush_seconds,
            )
            return
        if plan is None:
            return
        try:
            plan = analyzed(to_df(self.spark, plan))
        except Exception:  # HiveServer2 resolves it, or reports the error
            return
        job = self.submit(sql, is_query=True, plan=plan, prime_only=True)
        job.done_event.wait(timeout)

    def answer_jdbc(
        self, sql: str, views: frozenset[str] = frozenset()
    ) -> dict[str, Any] | None:
        """Full gateway answering for the JDBC-line proxy's merge
        substitution: instead of a prime-only pass, the statement is
        executed THROUGH the window as a normal job — detection, caching
        rewrite AND the MRShare merge all apply, so two same-signature
        proxied statements in one window cost one merged execution and
        HiveServer2 runs neither. ``views`` holds the lowercased names
        of the temp views the connection created (the proxy keeps them;
        the gateway holds no state per JDBC connection). Replies:

        - ``{"columns", "dtypes", "rows"}`` for a complete inline
          result;
        - ``{"passthrough": "view"}`` for a query whose lowercased text
          contains a name in ``views``: HiveServer2, which holds the
          client's temp views, answers it. Containment over-approximates
          (a view name inside a literal counts), so a view that shadows
          a base table is never answered from root;
        - ``{"passthrough": "view", "views": [...]}`` for a temp-view
          create or drop the connection may keep (the new set of
          names; :meth:`_answer_jdbc_command`);
        - ``{"passthrough": "benign"}`` for session housekeeping,
          allowlisted perf-conf SETs included: HiveServer2 applies it to
          the client's own session, the gateway applies none of it;
        - ``{"passthrough": "command"}`` for every other command: it
          mutates HiveServer2 session state the gateway cannot see, so
          the proxy demotes the connection;
        - ``{"fallback": True}`` when the statement executed through
          the window but the result can't be substituted faithfully
          (error, sink job, truncation past the inline cap);
        - None only when nothing ran (pre-execution failure).

        On every reply but a result and ``command`` the proxy forwards
        the statement without a prime gate and keeps the connection
        clean. Queries parse and resolve against the ROOT session:
        substitution is reachable only from connections that have run
        no command but housekeeping and their own temp views, and a
        query naming none of those views sees exactly the shared
        catalog — the same clean-session argument the cross-client
        result cache rests on.

        Cost note: a query whose result exceeds the inline cap is
        executed here, discarded, and re-executed by HiveServer2 after
        the fallback forward — the substitution trade pays for
        dashboard-sized results (where the merge/cache/result-cache
        wins live) and taxes bulk extracts. Deployments serving
        mostly-bulk JDBC traffic should run the proxy without
        ``answer`` (window priming only, single execution always)."""
        try:
            is_query, plan = classify(self.spark, sql)
            if is_query:
                low = sql.lower()
                if any(v in low for v in views):
                    return {"passthrough": "view"}
                res = self._run_sql(sql, None, self.spark, True, plan, {}, True)
        except Exception:
            return None
        if not is_query:
            try:
                return self._answer_jdbc_command(sql, plan, views)
            except Exception:  # a command the gateway cannot read demotes
                return {"passthrough": "command"}
        if (
            res.get("status") != "done"
            or res.get("rows") is None
            or res.get("truncated")
        ):
            # the statement DID go through a full window batch here —
            # tell the proxy so its forward path skips the prime gate
            # (a second window wait buys no additional sharing)
            return {"fallback": True}
        return {
            "columns": res.get("columns") or [],
            "dtypes": res.get("dtypes"),
            "rows": res["rows"],
        }

    def _answer_jdbc_command(
        self, sql: str, plan: Any, views: frozenset[str]
    ) -> dict[str, Any]:
        """answer_jdbc's reply to a command, read from its parsed
        ``plan``: benign, a temp-view create or drop the connection
        keeps (``views`` is its set of names before the statement), or
        a demoting command.

        A ``CREATE [OR REPLACE] TEMPORARY VIEW v`` of :func:`temp_view`'s
        shape adds ``v`` when its body analyzes in root and its text
        names no other view of the connection: then HiveServer2's
        CREATE succeeds too, so a later ``DROP VIEW v`` drops that temp
        view and can never reach a shared catalog view of the same
        name. ``DROP VIEW [IF EXISTS] v`` removes ``v`` when the
        connection created it. The gateway executes neither."""
        if benign_command(plan):
            # session housekeeping with provably no semantic effect
            # (USE default, conf reads, hive.server2.* transport knobs,
            # allowlisted perf-conf SETs): the proxy forwards it but
            # KEEPS substitution enabled — BI tools emit these at
            # connect, and demoting on them turned the merge win off
            # for exactly the clients it targets
            return {"passthrough": "benign"}
        view = temp_view(plan)
        if view is not None:
            name = view[0].lower()
            low = sql.lower()
            if any(v in low for v in views - {name}):
                return {"passthrough": "command"}
            to_df(self.spark, view[1])  # raises (→ demote) unless it analyzes
            return {"passthrough": "view", "views": sorted(views | {name})}
        name = dropped_view(plan)
        if name is not None and name.lower() in views:
            return {"passthrough": "view", "views": sorted(views - {name.lower()})}
        return {"passthrough": "command"}

    def handle_request(self, req: dict[str, Any]) -> dict[str, Any]:
        if "status" in req:  # {"status": id} -> poll a submitted job
            job = self._jobs.get(int(req["status"]))
            if job is None:
                return {"status": "error", "error": "unknown job id"}
            return job.result()
        if "cancel" in req:  # {"cancel": id} -> cancel queued/running job
            job = self._jobs.get(int(req["cancel"]))
            if job is None:
                return {"status": "error", "error": "unknown job id"}
            return {"id": job.job_id, "cancelled": self.executor.cancel(job)}
        if req.get("server_stats"):
            stats = dict(self.executor.stats)
            stats["cached_sources"] = sorted(self.executor.cache.cached_sources)
            stats["queued"] = len(self.batcher)
            stats.update(self.results.stats())
            return {"status": "done", "stats": stats}
        sql = req.get("sql")
        if not isinstance(sql, str) or not sql.strip():
            return {"status": "error", "error": "missing 'sql'"}
        # '' canonicalizes to the root session: session_for('') would
        # otherwise create a named session whose result-cache namespace
        # collided with the clean shared one
        req_sid = req.get("session") or None
        session = self.session_for(req_sid)
        is_query, plan = classify(session, sql)
        if "explain" in req:  # plan introspection: immediate, never queued
            # only plan-producing statements: ``session.sql`` EXECUTES
            # commands (DDL/DML) eagerly at plan time, so explaining an
            # INSERT/DROP here would run the side effect — outside any
            # job group, uncancellable, unaccounted. Commands must go
            # through the queue as normal jobs.
            if not is_query:
                return {
                    "status": "error",
                    "error": "explain accepts queries only "
                    "(commands execute eagerly at plan time; submit them as jobs)",
                }
            mode = req["explain"] if isinstance(req["explain"], str) else "formatted"
            df = session.sql(sql)
            text = df._jdf.queryExecution().explainString(
                session._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            )
            return {"status": "done", "plan": text}
        props = dict(req.get("props") or {})
        if "output" in req:
            props["output"] = req["output"]
        return self._run_sql(
            sql, req_sid, session, is_query, plan, props, req.get("wait", True)
        )

    def _run_sql(
        self,
        sql: str,
        sid: str | None,
        session: SparkSession,
        is_query: bool,
        plan: Any,
        props: dict[str, Any],
        wait: bool,
    ) -> dict[str, Any]:
        """Run one classified statement (``plan`` is its parse) through
        the window: result-cache lookup and put for queries, a
        write-set flush for writers."""
        # result cache (server/results.py): a repeat of a deterministic
        # query with inline results is served from the gateway. A
        # writer — a command, or a sink job ("output" prop) overwriting
        # a path cached queries may have read — flushes its write set
        # when its job completes, before the job releases any waiting
        # client (read-your-writes), whatever the client's wait mode
        on_done = None
        output = props.get("output")
        if not is_query or output:
            # bump the put-epoch at ARRIVAL, before the writer runs: a
            # query batched concurrently with it could otherwise
            # execute with the writer's in-progress state visible and
            # insert that result under a still-valid epoch (ADVICE r6
            # medium). Existing entries stay — they predate the write;
            # the completion flush removes the ones it touches.
            self.results.bump_generation()
            # resolve a command's write set NOW (a DROP target still
            # exists; a replaced view still points at the files cached
            # entries read); None, the whole cache, when it names no
            # table. A sink job writes its output path.
            ws = frozenset() if is_query else self._resolve_write_set(plan, session)
            if output and ws is not None:
                ws |= tables_from_fingerprints({str(output).rstrip("/")})
            on_done = functools.partial(self._flush_write_set, ws)
        if not is_query:
            # conservative: mark BEFORE execution (a failed command
            # may still have partially changed session state). The ROOT
            # session dirties too: a root CREATE TEMP VIEW shadows a
            # shared table for root's own queries, which must then stop
            # sharing the clean cross-session namespace
            with self._session_lock:
                if sid is not None:
                    self._dirty_sessions.add(sid)
                else:
                    self._root_dirty = True
        # epoch captured BEFORE the clean/dirty check AND before
        # submit: a same-session command arriving between this line and
        # put() marks the session dirty + bumps the epoch, so the
        # stale-keyed insertion below is discarded rather than served
        # to other clean sessions
        rc_generation = self.results.generation
        if is_query and plan is not None:
            try:  # the one analysis: the key and the batch's scan walk read it
                plan = analyzed(to_df(session, plan))
            except Exception:  # analyze() re-parses it; the job reports the error
                plan = None
        rc_key = None
        if is_query and "output" not in props and wait:
            with self._session_lock:
                clean = (
                    not self._root_dirty
                    if sid is None
                    else sid not in self._dirty_sessions
                )
            # the key is the query's analyzed plan, resolved in the
            # requesting session (its temp views are part of it)
            if clean:
                rc_key = ResultCache.key(None, plan)
            elif sid is None:
                rc_key = ResultCache.key_root(plan)
            else:
                rc_key = ResultCache.key(sid, plan)
            cached = None if rc_key is None else self.results.get(rc_key)
            if cached is not None:
                cached["cached"] = True
                return cached

        job = self.submit(
            sql,
            props,
            session=None if session is self.spark else session,
            is_query=is_query,
            plan=plan if is_query else None,
            on_done=on_done,
        )
        if wait:
            job.done_event.wait()
            result = job.result()
            if (
                rc_key is not None
                and job.status.value == "done"
                and job.rows is not None
                and not job.truncated
            ):
                # read set: every scan root, cached tables' too (None
                # when empty: every scoped flush drops it)
                self.results.put(
                    rc_key,
                    result,
                    generation=rc_generation,
                    tables=tables_from_fingerprints(job.reads) or None,
                )
            return result
        return {"id": job.job_id, "status": job.status.value}


def client_request(address: tuple[str, int], req: dict[str, Any]) -> dict[str, Any]:
    """Minimal client: one request, one JSON reply."""
    with socket.create_connection(address, timeout=300) as sock:
        sock.sendall((json.dumps(req) + "\n").encode())
        buf = b""
        while not buf.endswith(b"\n"):
            chunk = sock.recv(1 << 20)
            if not chunk:
                break
            buf += chunk
    return json.loads(buf.decode())
