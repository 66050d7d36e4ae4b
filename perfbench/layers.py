"""Per-layer metrics of one traced phase.

Layers are named after the server modules. Times are medians over the
phase unless the name says otherwise; ratios carry their base as a
separate count (``results.lookups``, ``mrshare.offered_jobs``,
``detector.jobs``, ``cache.admission_calls``).
"""

from __future__ import annotations

import statistics

from spans import RunCounters, Tracer


def pct(xs: list[float], p: int) -> float:
    """p-th percentile (inclusive method); 0.0 for no samples."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _match_requests(tracer: Tracer, records: list) -> list[tuple[object, int]]:
    """Pair each client record with its ``handle_request`` span.

    Every client owns one connection, and the gateway serves a
    connection on one thread, so a client's requests and one thread's
    request spans are the same sequence of texts."""
    by_thread: dict[int, list[int]] = {}
    roots = [i for i, s in enumerate(tracer.spans)
             if s.name == "server.handle_request" and s.parent is None]
    for i in roots:
        by_thread.setdefault(tracer.spans[i].info["thread"], []).append(i)
    by_client: dict[int, list] = {}
    for r in records:
        by_client.setdefault(r.client, []).append(r)
    pairs = []
    for recs in by_client.values():
        texts = [(r.req.sql, r.req.session) for r in recs]
        for idxs in by_thread.values():
            spans = [tracer.spans[i] for i in idxs]
            if [(s.info["sql"], s.info["session"]) for s in spans] == texts:
                pairs.extend(zip(recs, idxs))
                break
    return pairs


def layer_metrics(tracer: Tracer, counters: RunCounters, records: list,
                  stats: dict[str, int], storage_mb: float) -> dict[str, float]:
    spans = tracer.spans
    self_ms = tracer.self_ms()
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(i)

    def ms(name: str) -> list[float]:
        return [spans[i].ms for i in by_name.get(name, [])]

    out: dict[str, float] = {}

    # server: round trip minus the job's submit->done span; a result-cache
    # hit never becomes a job, so its whole round trip is gateway overhead
    overhead, lookup = [], []
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    pairs = _match_requests(tracer, records)
    for rec, i in pairs:
        rtt = (rec.t1 - rec.t0) * 1e3
        job = tracer.jobs.get(spans[i].job) if spans[i].job is not None else None
        if job is not None and job.finished_at is not None:
            overhead.append(rtt - (job.finished_at - job.submitted_at) * 1e3)
        elif spans[i].info.get("cached"):
            overhead.append(rtt)
        lk = [spans[c].ms for c in children.get(i, ())
              if spans[c].name in ("results.key", "results.get")]
        if lk:
            lookup.append(sum(lk))
    created = [spans[i].ms for i in by_name.get("server.session_for", [])
               if any(spans[c].name == "server.new_session" for c in children.get(i, ()))]
    out["server.overhead_ms"] = pct(overhead, 50)
    out["server.matched_requests"] = len(pairs)
    out["server.sessions_created"] = len(created)
    out["server.session_create_ms"] = pct(created, 50)
    out["server.sessions_evicted"] = counters.evictions  # whole run

    # results
    lookups = stats["result_cache_hits"] + stats["result_cache_misses"]
    out["results.lookups"] = lookups
    out["results.hit_ratio"] = _ratio(stats["result_cache_hits"], lookups)
    out["results.limit_subsumed_hits"] = stats["result_cache_limit_subsumed_hits"]
    out["results.lookup_ms"] = pct(lookup, 50)
    out["results.put_ms"] = pct(ms("results.put"), 50)
    out["results.invalidations"] = stats["result_cache_invalidations"]

    # batcher
    waits = [w for batch in tracer.waits for w in batch]
    out["batcher.batches"] = len(tracer.waits)
    out["batcher.queue_wait_p50_ms"] = pct(waits, 50)
    out["batcher.queue_wait_p90_ms"] = pct(waits, 90)
    out["batcher.jobs_per_batch"] = _ratio(len(waits), len(tracer.waits))

    # scheduler: execute = run_batch minus analyze, detection, merge
    # planning and cache admission (merge materialize and the jobs' own
    # runs remain in it)
    out["scheduler.analyze_ms"] = pct(ms("scheduler.analyze"), 50)
    # self time: the parse/analysis in sql(), without the plan walks
    out["scheduler.analyze_self_ms"] = pct(
        [self_ms[i] for i in by_name.get("scheduler.analyze", [])], 50)
    out["plans.fingerprint_ms"] = pct(ms("plans.scan_fingerprints"), 50)
    out["plans.scan_nodes_ms"] = pct(ms("plans.scan_nodes"), 50)
    overheads = ("scheduler.analyze", "detector.detect_sharing", "mrshare.plan_merges",
                 "cache.should_cache", "cache.ensure_cached")
    batch_ms, execute_ms = [], []
    for i in by_name.get("scheduler.run_batch", []):
        batch_ms.append(spans[i].ms)
        execute_ms.append(spans[i].ms - sum(
            spans[c].ms for c in children.get(i, ()) if spans[c].name in overheads))
    out["scheduler.batch_ms"] = pct(batch_ms, 50)
    out["scheduler.execute_ms"] = pct(execute_ms, 50)
    out["scheduler.jobs_run"] = stats["jobs_run"]
    out["scheduler.jobs_failed"] = stats["jobs_failed"]

    # detector
    det = [spans[i] for i in by_name.get("detector.detect_sharing", [])]
    det_jobs = sum(s.info["jobs"] for s in det)
    out["detector.ms"] = pct([s.ms for s in det], 50)
    out["detector.jobs"] = det_jobs
    out["detector.shared_job_ratio"] = _ratio(sum(s.info["shared_jobs"] for s in det), det_jobs)

    # mrshare
    plans = [spans[i] for i in by_name.get("mrshare.plan_merges", [])]
    offered = sum(s.info["offered"] for s in plans)
    out["mrshare.plan_ms"] = pct([s.ms for s in plans], 50)
    out["mrshare.offered_jobs"] = offered
    out["mrshare.merged_ratio"] = _ratio(stats["mrshare_merged_jobs"], offered)
    out["mrshare.plans"] = stats["mrshare_plans"]
    out["mrshare.demux_fallbacks"] = stats["mrshare_demux_fallbacks"]

    # cache: builds and their time cover the whole run (warm-up admits)
    verdicts = [spans[i].info["admit"] for i in by_name.get("cache.should_cache", [])]
    out["cache.admission_calls"] = len(verdicts)
    out["cache.admit_ratio"] = _ratio(sum(verdicts), len(verdicts))
    out["cache.caching_bags"] = stats["caching_bags"]
    out["cache.builds"] = counters.builds
    out["cache.build_ms"] = pct(counters.build_ms, 50)
    out["cache.storage_mb"] = storage_mb

    return out
