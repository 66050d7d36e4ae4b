"""Cache manager — the honest version of the reference's ScanCaching
cost model + cross-batch eviction.

Reference state of the art: ``ScanCachingCM.compute()`` returns
``Random.nextBoolean()`` (SRV/costmodel/udcm/ScanCachingCM.scala:27-33)
and the executor unpersists *everything* between batches
(WorksharingExecutor.scala:72-75). We replace both:

- admission: cache a shared source only if its bytes fit in a
  configured budget and in the JVM's free storage — an actual cost
  model, the thesis's own future-work item, report.pdf ch. 6.2. The
  scheduler supplies the size from the scan Spark planned
  (``plans.analysis.scan_nodes``), the same for every filesystem
  scheme; the manager itself never touches the filesystem;
- eviction: LRU by last use until both the byte budget and the memory
  estimate fit a build, instead of clear-all (cache is semantically
  transparent in Spark, so eviction never changes results — SURVEY.md
  §7 hard-part #2).

Caching happens at *table* granularity via ``spark.catalog.cacheTable``:
after that, Catalyst substitutes the InMemoryRelation into EVERY
query over the table automatically — the declarative equivalent of the
reference's manual DAG surgery (Caching.scala:67-83 ``replaceScan``).

Batches overlap (scheduler.py), so an eviction made to admit batch
k+1's relation can uncache a view that a still-running job of batch k
scans. Spark then recomputes the partitions it no longer finds in
memory from the source: results are unchanged, only that job's speed
is affected.
"""

from __future__ import annotations

import math
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class CacheEntry:
    view: str
    source: str
    bytes: int  # listed bytes of the source's files
    mem_bytes: int = 0  # measured in-memory size of the built relation
    last_used: float = field(default_factory=time.monotonic)


class CacheManager:
    """Size-aware admission + LRU eviction over cached temp views."""

    # a source is cached only when at least this many batch jobs share it
    min_sharers = 2
    # Fraction of the executor's FREE storage memory a build may
    # claim. The round-1 regression: admission trusted a configured
    # budget the JVM didn't actually have (a default-config session
    # has ~455 MB storage, not our tuned 8 GB), so the build
    # spilled/evicted and the "optimized" batch ran slower than
    # plain concurrent execution. Admission now observes the real
    # memory manager and declines when the build won't fit —
    # declining falls back to concurrent-uncached, which already
    # beats back-to-back ~3×, so a batch never does worse than it.
    storage_headroom = 0.8

    def __init__(
        self,
        spark: SparkSession,
        budget_bytes: int = 4 << 30,
        min_bytes: int = 64 << 20,
        benefit_factor: float = 1.2,
        columnar_benefit_factor: float = 6.0,
        mem_expansion: float = 4.0,
    ) -> None:
        self.spark = spark
        self.budget = budget_bytes
        # Columnar sources (parquet/orc) need a much larger shared
        # workload before caching pays: their rescan is a vectorized
        # decode of page-cached bytes, so a warm InMemoryRelation read
        # is only marginally cheaper, while the build costs ~1 full
        # decode + columnar encode. Measured on a 112 MB parquet table,
        # 4 wide-agg sharers, 32 cores: concurrent-uncached 13.8 s vs
        # cache-first batched 31.3 s — admission must decline there.
        # Row-text sources (csv/json/text) repay a full PARSE per
        # rescan; one cached build eliminates N-1 parses (measured:
        # 10 sharers over a 323 MB csv — separate 15.3 s, concurrent
        # 11.6 s, batched-with-cache 6.2 s).
        self.columnar_benefit_factor = columnar_benefit_factor
        # Disk → in-memory expansion estimate used BEFORE a build (the
        # post-build check below corrects any misestimate after):
        # snappy parquet decodes ~2-6× bigger; row-text is roughly
        # size-neutral (measured 161 MB csv → 113 MB in-memory).
        self.mem_expansion = mem_expansion
        # sources whose build was observed not to fit (never retried)
        self._rejected: set[str] = set()
        # one lock guards _entries/_rejected writes: the batch loop
        # admits, builds and evicts while pool threads stamp entries
        # and server threads read cached_sources (both without it — see
        # touch()). ensure_cached holds it across the build, which is
        # also the double-build guard.
        self._lock = threading.RLock()
        # Read-fraction benefit bar: building the InMemoryRelation
        # decodes ALL columns (cost ≈ 1 full scan), while each sharer
        # only saves its own pruned ReadSchema's worth of scan work —
        # so caching pays when Σ_jobs read_fraction exceeds the build
        # cost with margin. Ten single-column COUNT queries over a
        # 20-column table sum to 0.5 full scans saved: cheaper to let
        # each read its one column from parquet than to decode 20.
        self.benefit_factor = benefit_factor
        # Admission floor: below this, building the InMemoryRelation
        # costs more than re-decoding parquet ever will (measured: at a
        # 10 MB scan the cache build tripled batch latency while pure
        # concurrent execution already beat sequential 2×). The same
        # cost-blindness made the reference's MRShare rewrite a
        # regression (report.pdf ch.5, Table 5.1) — admission must be
        # cost-aware, not always-on.
        self.min_bytes = min_bytes
        self._entries: dict[str, CacheEntry] = {}  # keyed by source fingerprint

    def _free_storage_bytes(self) -> float:
        """The executor's actual free on-heap storage memory, observed
        from the live memory manager (local mode: the driver JVM is the
        executor). Infinite when the JVM internals are unreachable — then
        admission falls back to the configured budget alone."""
        try:
            mm = self.spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager()
            return max(0, int(mm.maxOnHeapStorageMemory()) - int(mm.storageMemoryUsed()))
        except Exception:
            return math.inf

    COLUMNAR_FORMATS = frozenset({"parquet", "orc"})

    def _expansion(self, source_format: str | None) -> float:
        """Estimated disk → in-memory growth of a cache build."""
        if source_format is not None and source_format not in self.COLUMNAR_FORMATS:
            return 1.2  # row-text is ~size-neutral in columnar memory
        return self.mem_expansion

    def _benefit_bar(self, source_format: str | None) -> float:
        """Required Σ read-fractions for admission. Unknown formats get
        the columnar (conservative) bar — admitting a cheap-to-rescan
        source is the failure mode that makes a batch slower."""
        if source_format is not None and source_format not in self.COLUMNAR_FORMATS:
            return self.benefit_factor
        return self.columnar_benefit_factor

    def _fits(
        self, size: int, source_format: str | None, free: float, reclaim: int
    ) -> bool:
        """The one memory-fit rule: a build of ``size`` listed bytes fits
        when its estimated in-memory size is within the headroom of
        ``free`` storage plus ``reclaim`` bytes that eviction would free."""
        est = size * self._expansion(source_format)
        return est <= (free + reclaim) * self.storage_headroom

    def _evictable(self) -> int:
        return sum(e.mem_bytes for e in self._entries.values())

    def should_cache(
        self,
        source: str,
        size: int,
        n_sharers: int,
        read_fractions: list[float] | None = None,
        source_format: str | None = None,
    ) -> bool:
        """Admission: enough sharers, a scan big enough to pay for its
        own materialization, small enough to fit the budget AND the
        JVM's observed free storage memory, and — when the scheduler
        supplies per-job pruned-ReadSchema widths — enough total
        column-read work saved to beat the full-width cache build
        (format-aware: see ``_benefit_bar``). ``size`` is the bytes of
        the files Spark listed for the scan, the same for every
        filesystem scheme."""
        with self._lock:
            if source in self._rejected or n_sharers < self.min_sharers:
                return False
            if not self.min_bytes <= size <= self.budget:
                return False
            # memory held by OUR entries is reclaimable: ensure_cached
            # evicts LRU entries before building, so admission counts it
            # as free — otherwise the first table cached under tight
            # storage would permanently lock out every later admission
            if not self._fits(
                size, source_format, self._free_storage_bytes(), self._evictable()
            ):
                return False
            if read_fractions is not None:
                return sum(read_fractions) >= self._benefit_bar(source_format)
            return True

    def ensure_cached(
        self, source: str, view: str, size: int, source_format: str | None = None
    ) -> bool:
        """Cache ``view`` (a registered temp view over ``source``, whose
        files Spark listed at ``size`` bytes) if it fits; returns True
        when the view is cached after the call.

        A build that cannot fit even after evicting every entry evicts
        nothing and blacklists the source. Otherwise least-recently-used
        entries are evicted until both the byte budget and the memory
        estimate fit. A view that no longer resolves, or a build that
        fails, declines without blacklisting: it must not fail the batch.

        After materializing, the build is VERIFIED against the block
        manager: if the relation mostly spilled to disk or has uncached
        partitions (the pre-build estimate was wrong for this JVM), the
        view is uncached and the source blacklisted — a thrashing cache
        serves queries slower than the parquet scan it replaced, and at
        cluster scale an eviction storm is strictly worse than
        declining (round-1 finding: batched 15.8 s vs concurrent
        11.4 s under a 455 MB-storage default session)."""
        with self._lock:
            if source in self._rejected:
                return False
            if source in self._entries:
                self._entries[source].last_used = time.monotonic()
                return True
            if size > self.budget:
                return False
            free = self._free_storage_bytes()
            if not self._fits(size, source_format, free, self._evictable()):
                self._rejected.add(source)
                return False
            sc = self.spark.sparkContext
            before = {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}
            try:
                # cacheTable is lazy but resolves the view, so a view
                # dropped or replaced since registration evicts nothing
                self.spark.catalog.cacheTable(view)
                # Track reclaimed bytes ourselves: uncacheTable unpersists
                # with blocking=false, so re-reading the memory manager
                # here returns a STALE number that would over-evict
                used = sum(e.bytes for e in self._entries.values())
                for src, entry in sorted(
                    self._entries.items(), key=lambda kv: kv[1].last_used
                ):
                    fits = self._fits(size, source_format, free, 0)
                    if fits and used + size <= self.budget:
                        break
                    self._uncache(entry.view)
                    del self._entries[src]
                    used -= entry.bytes
                    free += entry.mem_bytes
                # materialize NOW with a cheap action (the reference's
                # cache warming count, WordCount.scala:73-77) so every job
                # in the batch — the first included — runs on warm cache
                self.spark.table(view).count()
            except Exception:
                # the view no longer resolves (dropped or replaced since
                # registration) or the build failed: decline, but the
                # source itself may be fine, so no blacklist
                self._uncache(view)
                return False
            fit, mem_bytes = self._build_fit(before, view)
            if not fit:
                self._uncache(view)
                self._rejected.add(source)
                return False
            self._entries[source] = CacheEntry(
                view=view, source=source, bytes=size, mem_bytes=mem_bytes
            )
            return True

    def _uncache(self, view: str) -> None:
        try:
            self.spark.catalog.uncacheTable(view)
        except Exception:
            pass  # view may have been replaced; eviction must not fail a batch

    def _build_fit(
        self, rdd_ids_before: set[int], view: str | None = None
    ) -> tuple[bool, int]:
        """Did the just-built InMemoryRelation actually land in memory?
        Returns (fit, measured in-memory bytes): fit when every
        partition is cached and at least half the bytes stayed on-heap
        (None-safe: unreadable storage info = trust the pre-build
        estimate). The measured size feeds future evict-to-admit math.

        Attribution is by the storage-info NAME ("In-memory table
        <view>"), not by an id delta alone: other code on the same
        SparkContext can persist an RDD while a build runs — a
        client's ``CACHE TABLE`` that HiveServer2 runs for a forwarded
        JDBC frame, an operator pin made by a co-hosted driver — and
        an id delta would attribute such an RDD to this build, failing the fit check and permanently blacklisting
        an innocent source, or inflating mem_bytes and corrupting
        later evict-to-admit math. The delta stays as the fallback when no
        name matches (a future Spark renaming the pattern degrades to
        the old behavior, never to always-fit)."""
        mem_total = 0
        try:
            fresh = [
                info
                for info in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                if info.id() not in rdd_ids_before
            ]
            named = (
                [i for i in fresh if i.name() == f"In-memory table {view}"]
                if view
                else []
            )
            new = named or fresh
        except Exception:
            return True, 0
        for info in new:
            mem, disk = info.memSize(), info.diskSize()
            mem_total += mem
            if info.numCachedPartitions() < info.numPartitions():
                return False, mem_total
            if disk > 0 and mem < disk:  # mostly spilled
                return False, mem_total
        return True, mem_total

    def touch(self, source: str) -> None:
        """Stamp ``source``'s entry as used now. Lock-free: a job calls
        this as it finishes, before its client is released, and
        ``ensure_cached`` holds the lock across a whole build of a later
        batch's relation. One ``dict.get`` is atomic, and stamping an
        entry evicted a moment before is harmless."""
        entry = self._entries.get(source)
        if entry is not None:
            entry.last_used = time.monotonic()

    def clear(self) -> None:
        """The reference's clear-all (WorksharingExecutor.scala:72-75),
        run by the gateway's shutdown and by tests. Also forgets
        rejections: they record transient conditions (storage pressure
        at one instant), and after a clear the memory landscape is new."""
        with self._lock:
            for entry in self._entries.values():
                self._uncache(entry.view)
            self._entries.clear()
            self._rejected.clear()

    @property
    def cached_sources(self) -> set[str]:
        """The sources cached now. Lock-free, by the argument ``touch``
        makes: copying a dict of str keys is one C call, so a build
        holding the lock does not stall a ``server_stats`` request."""
        return set(self._entries)
