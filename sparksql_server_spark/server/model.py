"""Core datatypes of the work-sharing server.

Modern forms of the reference's containers:
- ``QueryJob``   ≙ DAGContainer + DAGMetadata (SRV/container/DAGContainer.scala:28-65):
  one client job = SQL text + properties (OUTPUT path etc.) + status.
- ``SharingBag`` ≙ AnalysedBag/OptimizedBag (SRV/container/AnalysedBag.scala:28-41):
  a group of jobs that share scanned sources, plus the chosen rewrite.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from sparksql_server_spark.plans.analysis import Scan


class JobStatus(str, Enum):
    QUEUED = "queued"
    RUNNING = "running"
    DONE = "done"
    ERROR = "error"


@dataclass
class QueryJob:
    """One queued query (the reference's DAGContainer equivalent)."""

    job_id: int
    sql: str
    # the client's piggybacked metadata, the DAGMetadata descriptor
    # analogue: "output" (sink path), "output_mode", "output_format",
    # "partition_by", "pool" (FAIR pool), "priority", "deadline_ms".
    # The executor's own state lives in the typed fields below, so no
    # client key can steer it
    props: dict[str, Any] = field(default_factory=dict)
    status: JobStatus = JobStatus.QUEUED
    # statement verdict (scheduler.classify): False for commands. The
    # gateway classifies at intake; None until then
    is_query: bool | None = None
    submitted_at: float = field(default_factory=time.monotonic)
    # filled during execution
    error: str | None = None
    rows: list[tuple] | None = None
    columns: list[str] | None = None
    # Spark type simpleStrings per column (df.dtypes) — the JDBC
    # proxy derives wire types from the SCHEMA, not the values, so
    # empty/all-NULL results keep their declared column types
    dtypes: list[str] | None = None
    n_rows: int | None = None
    elapsed: float | None = None
    # monotonic completion instant (set by the executor) — deadline
    # accounting and test ordering assertions read it
    finished_at: float | None = None
    # a window-priming member (WorkSharingServer.prime): analyzed and
    # counted for sharing, never executed here
    prime_only: bool = False
    # set by BatchExecutor: this member's rows over its merge's
    # persisted relation (a DataFrame), while the merge is live
    demux: Any = field(default=None, repr=False)
    # set by BatchExecutor.cancel on a running job
    cancel_requested: bool = False
    # inline rows stopped at the scheduler's MAX_INLINE_ROWS
    truncated: bool = False
    # why mrshare.plan_merges did not merge this job, if it did not
    merge_declined: str | None = None
    fingerprints: frozenset[str] = frozenset()
    # per scanned root, cached ones too: the widest of its scans in this
    # job's plan (plans.analysis.Scan: columns read, full width, format,
    # listed bytes), the input that prices merges and caching
    reads: dict[str, Scan] = field(default_factory=dict)
    # analyzed logical plan (JVM object), stored by the gateway at intake
    # or built by BatchExecutor.analyze(); the merge planner reads it, and
    # the executor drops it once the batch is planned
    plan: Any = field(default=None, repr=False)
    # isolated client session (spark.newSession()); None = server root.
    # The reference's per-client state was the shipped jar + re-registered
    # temp tables (DAGListener.scala:155-162); ours is a Spark session
    # sharing one SparkContext — temp views/conf isolate, the plan cache
    # and InMemoryRelations stay shared, so work-sharing crosses sessions.
    session: Any = field(default=None, repr=False)
    # called once the job has run (or failed while running), before
    # done_event releases its client: the gateway puts its writers'
    # result-cache flush here
    on_done: Callable[[], None] | None = field(default=None, repr=False)
    done_event: threading.Event = field(default_factory=threading.Event, repr=False)
    # guards the QUEUED→RUNNING / QUEUED→cancelled transition so the
    # runner and a concurrent cancel() can't both claim the job
    state_lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    @property
    def deadline_at(self) -> float | None:
        """Absolute (monotonic) deadline instant from the client's
        ``props["deadline_ms"]`` budget — milliseconds from submission
        — or None when unset/non-numeric (client-controlled input must
        rank as default, never raise; same rule as priority)."""
        try:
            d = float(self.props["deadline_ms"])
        except (KeyError, TypeError, ValueError):
            return None
        return self.submitted_at + d / 1000.0

    @property
    def writes(self) -> bool:
        """A command, or a query writing a sink: a job that can change
        what later reads see. An unclassified job counts as a read."""
        return self.is_query is False or bool(self.props.get("output"))

    def result(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "id": self.job_id,
            "status": self.status.value,
            "elapsed": self.elapsed,
        }
        if self.error is not None:
            out["error"] = self.error
        if self.columns is not None:
            out["columns"] = self.columns
        if self.dtypes is not None:
            out["dtypes"] = self.dtypes
        if self.n_rows is not None:
            out["n_rows"] = self.n_rows
        if self.rows is not None:
            out["rows"] = self.rows
        if self.truncated:
            # inline results stop at the scheduler's MAX_INLINE_ROWS —
            # without this flag a clipped result set is
            # indistinguishable from a genuine one of the same size
            out["truncated"] = True
        if "output" in self.props:
            out["output"] = self.props["output"]
        return out


class RewriteKind(str, Enum):
    """Rewrite decision per bag (reference: OptimizedBag label —
    CACHING / MRSHARE / NOOP, OptimizationExecutor.scala:36-77).
    MRSHARE here is the declarative merge of server/mrshare.py, not the
    reference's tagged-tuple DAG surgery (which its own evaluation
    measured as a regression — report.pdf ch.5 Table 5.1)."""

    CACHING = "caching"
    MRSHARE = "mrshare"
    NOOP = "noop"


@dataclass
class SharingBag:
    """Jobs grouped by transitive scan overlap + the rewrite decision."""

    jobs: list[QueryJob]
    shared_sources: frozenset[str] = frozenset()
    rewrite: RewriteKind = RewriteKind.NOOP
    # MRShare merge plans applied to subsets of this bag's jobs
    # (server/mrshare.py); a bag can hold both a merge AND a caching
    # rewrite for the jobs the merge declined
    merges: list = field(default_factory=list)
