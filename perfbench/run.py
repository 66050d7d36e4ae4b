"""Front-door benchmark of the work-sharing SQL gateway.

Starts one ``WorkSharingServer`` on ``local[4]`` over seeded data and
drives a workload through four ``SparkSQLClient`` connections in a
closed loop: each client sends its next request only after the reply
to the previous one. Every reply is checked against DuckDB.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics of one timed phase.
``--trace 1`` runs a phase of the same length with spans around each
server layer (perfbench/spans.py), between two untraced half-length
phases, and prints the per-layer metrics plus the tracing overhead
(traced vs untraced throughput). The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics": {name: {"value",
"unit"}}}; the lines before it give phase timings, server counters and
whether each workload's intended mechanism fired.

Workloads are in perfbench/workloads.py. BENCHMARK.json lists
dashboard and hot_text_scan; tenant_writes (rotating named sessions,
temp-view commands and sink jobs) runs the same way but is too noisy
at the run lengths that listing it would leave.

Run from the repository root; everything the run writes stays under
``.perfbench_work/`` (rebuilt each run) and ``.perfbench_out/`` (span
dumps).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

CPUS = 4
# a JVM heap committed and touched at start-up, so peak RSS measures
# what the run adds on top of it rather than when G1 chose to grow
JVM_HEAP = "1g"
CLIENT_TIMEOUT_S = 60.0
WARMUP_S = {"dashboard": 15.0, "hot_text_scan": 8.0, "tenant_writes": 10.0}
ADMISSION_WAIT_S = 60.0  # hot_text_scan warm-up runs on until the CSV is cached
# gateway settings: the server's defaults, except a session cap low
# enough that tenant_writes' rotating sessions are evicted in every run
SERVER_OPTIONS = {"max_sessions": 6}


@dataclass
class Record:
    client: int
    req: object
    t0: float
    t1: float
    reply: dict
    phase: str

    @property
    def latency_ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class Phase:
    name: str
    records: list[Record]
    start: float
    end: float  # last reply of the phase
    peak_rss_mb: float
    delta: dict[str, int]  # server_stats counters over the phase
    tracer: object = None

    @property
    def qps(self) -> float:
        return len(self.records) / (self.end - self.start)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak summed RSS of this process and the Spark JVM, sampled."""

    def __init__(self, pids: list[int], period: float = 0.1) -> None:
        self.pids = pids
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self.pids))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()


class Load:
    """Four closed-loop clients, each walking its own request stream."""

    def __init__(self, address, streams) -> None:
        from sparksql_server_spark.server.client import SparkSQLClient

        self._connect = lambda: SparkSQLClient(address, timeout=CLIENT_TIMEOUT_S)
        self.streams = streams
        self.clients = [self._connect() for _ in streams]
        self.records: list[Record] = []
        self._lock = threading.Lock()

    def send(self, c: int, req, phase: str) -> Record:
        t0 = time.perf_counter()
        try:
            reply = self.clients[c].request(req.wire())
        except (OSError, ValueError) as exc:  # timeout, reset, bad JSON
            reply = {"status": "error", "error": f"client: {type(exc).__name__}: {exc}"}
            self.clients[c].close()
            self.clients[c] = self._connect()
        rec = Record(c, req, t0, time.perf_counter(), reply, phase)
        with self._lock:
            self.records.append(rec)
        return rec

    def run(self, seconds: float, phase: str, until=None,
            first: list[list] | None = None) -> tuple[float, float]:
        """Closed loop for ``seconds`` (and, when given, until ``until()``
        holds). ``first[c]`` are sent by client c before its stream.
        Returns (start, end); end is when the last reply arrived."""
        start = time.perf_counter()
        deadline = start + seconds

        def client(c: int) -> None:
            for req in (first or [[]] * len(self.streams))[c]:
                self.send(c, req, phase)
            stream = self.streams[c]
            while time.perf_counter() < deadline or (until is not None and not until()):
                self.send(c, next(stream), phase)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(len(self.streams))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return start, time.perf_counter()

    def close(self) -> None:
        for c in self.clients:
            c.close()


def _stats(address) -> dict:
    from sparksql_server_spark.server.client import SparkSQLClient

    with SparkSQLClient(address) as c:
        return c.request({"server_stats": True})["stats"]


COUNTERS = ("batches", "jobs_run", "jobs_failed", "caching_bags", "mrshare_plans",
            "mrshare_merged_jobs", "mrshare_demux_fallbacks", "result_cache_hits",
            "result_cache_misses", "result_cache_limit_subsumed_hits",
            "result_cache_invalidations")


def _delta(before: dict, after: dict) -> dict[str, int]:
    return {k: after[k] - before[k] for k in COUNTERS}


def _phase_metrics(phase: "Phase") -> dict:
    from layers import pct

    lat = [r.latency_ms for r in phase.records]
    return {
        "throughput_qps": (phase.qps, "1/s"),
        "latency_p50_ms": (pct(lat, 50), "ms"),
        "latency_p90_ms": (pct(lat, 90), "ms"),
        "peak_rss_mb": (phase.peak_rss_mb, "MB"),
    }


def _storage_mb(spark) -> float:
    mm = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    return int(mm.storageMemoryUsed()) / (1 << 20)


def mechanism_flags(workload: str, delta: dict, repeats: int, builds: int,
                    evictions: int) -> list[str]:
    """Names of the mechanisms that were meant to fire and did not.
    ``repeats`` counts the measured requests the stream designed as
    result-cache repeats."""
    want = {
        "dashboard": {
            "every designed repeat hits, nothing else": delta["result_cache_hits"] == repeats,
            "no merges": delta["mrshare_plans"] == 0,
            "no cache builds": builds == 0,
        },
        "hot_text_scan": {
            # once the CSV copy is cached, queries over it report no
            # input files, so detection finds no bags and nothing merges
            # in the measured phases; the run totals show the warm-up's
            "merges": delta["mrshare_plans"] > 0,
            "cache built": builds >= 1,
            "no result-cache hits": delta["result_cache_hits"] == 0,
        },
        "tenant_writes": {
            "invalidations": delta["result_cache_invalidations"] > 0,
            "session evicted": evictions >= 1,
        },
    }[workload]
    return [name for name, ok in want.items() if not ok]


def check_answers(records: list[Record], data_dir: str) -> list[str]:
    """Failure description per failed record ('' when correct)."""
    from oracle import Oracle, normalize

    oracle = Oracle(data_dir, threads=CPUS)
    try:
        out = []
        for r in records:
            if r.reply.get("status") != "done":
                out.append(f"{r.reply.get('status')}: {r.reply.get('error', '')[:200]}")
            elif r.req.oracle is not None and normalize(r.reply.get("rows") or []) != \
                    oracle.answer(r.req.oracle):
                out.append(f"wrong answer: {r.req.sql[:200]}")
            else:
                out.append("")
        return out
    finally:
        oracle.close()


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate() -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "data", "sinks"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, "sparksql_server_spark", "server", "server.py")):
        print(f"perfbench: no sparksql_server_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    _isolate()

    import data
    import workloads
    from spans import RunCounters, Tracer

    data_dir = os.path.join(WORK, "data")
    t = time.perf_counter()
    data.prepare(data_dir, args.seed)
    prep_s = time.perf_counter() - t

    from sparksql_server_spark.server import WorkSharingServer
    from sparksql_server_spark.session import get_session

    tmp = os.environ["TMPDIR"]
    spark = get_session("perfbench", cpus=CPUS, extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    jvm = spark.sparkContext._gateway.proc
    counters = RunCounters()
    counters.install()
    server = None
    load = None
    try:
        server = WorkSharingServer(spark, data_dir, **SERVER_OPTIONS)
        big = data.big_csv_dir(data_dir)
        schema = spark.table("lineitem").schema.add("l_comment", "string")
        spark.read.schema(schema).option("header", True).csv(big) \
            .createOrReplaceTempView("lineitem_big")
        server.executor.source_views[big] = "lineitem_big"
        server.start()
        load = Load(server.address, workloads.streams(args.workload, args.seed, WORK))
        probe = workloads.Request("SELECT count(*) AS n FROM lineitem",
                                  oracle="SELECT count(*) AS n FROM lineitem")
        load.send(0, probe, "setup")
        setup_s = time.perf_counter() - T_START

        # warm-up: fixed length; dashboard first loads its hot set,
        # hot_text_scan runs on until the CSV copy is cached
        first = None
        until = None
        if args.workload == "dashboard":
            warm = workloads.dashboard_warm(args.seed)
            first = [warm[c::len(load.clients)] for c in range(len(load.clients))]
        if args.workload == "hot_text_scan":
            first = [[r] for r in workloads.hot_text_scan_warm(args.seed)]
            limit = time.perf_counter() + ADMISSION_WAIT_S
            until = lambda: counters.builds > 0 or time.perf_counter() > limit  # noqa: E731
        load.run(WARMUP_S[args.workload], "warmup", until=until, first=first)
        if until is not None:  # the same warm-up again, now over the cached copy
            load.run(WARMUP_S[args.workload], "warmup")
        t_warm = time.perf_counter()

        # --trace 1 brackets the traced phase with two untraced halves,
        # so drift over the run cancels out of the overhead ratio
        if args.trace:
            plan = [("untraced", args.seconds / 2, None), ("traced", args.seconds, Tracer()),
                    ("untraced", args.seconds / 2, None)]
        else:
            plan = [("timed", args.seconds, None)]
        phases = []
        for name, seconds, tracer in plan:
            before = _stats(server.address)
            if tracer is not None:
                tracer.install()
            n0 = len(load.records)
            try:
                with RssSampler([os.getpid(), jvm.pid]) as rss:
                    start, end = load.run(seconds, name)
            finally:
                if tracer is not None:
                    tracer.uninstall()
            phases.append(Phase(name, load.records[n0:], start, end, rss.peak,
                                _delta(before, _stats(server.address)), tracer))
        t_load_end = time.perf_counter()
        storage_mb = _storage_mb(spark)
        run_totals = _stats(server.address)  # since server start, warm-up included
    finally:
        if load is not None:
            load.close()
        if server is not None:
            server.shutdown()
        counters.uninstall()
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    t_stop = time.perf_counter()
    verdicts = check_answers(load.records, data_dir)
    failed = {id(r): v for r, v in zip(load.records, verdicts) if v}
    measured = [r for p in phases for r in p.records]
    delta = {k: sum(p.delta[k] for p in phases) for k in COUNTERS}
    flags = mechanism_flags(args.workload, delta, sum(r.req.repeat for r in measured),
                            counters.builds, counters.evictions)

    print(f"workload={args.workload} seed={args.seed} measured={len(measured)}"
          f" checked={len(load.records)} failed={len(failed)}")
    print(f"seconds setup={setup_s:.1f} (data {prep_s:.1f}) warmup={t_warm - setup_s - T_START:.1f}"
          f" measure={t_load_end - t_warm:.1f} stop={t_stop - t_load_end:.1f}"
          f" check={time.perf_counter() - t_stop:.1f}")
    print("counters " + json.dumps(delta, sort_keys=True))
    for p in phases:  # steadiness: completions per 5 s of the phase
        bins = [0] * (int((p.end - p.start) // 5) + 1)
        for r in p.records:
            bins[int((r.t1 - p.start) // 5)] += 1
        print(f"phase {p.name}: requests per 5 s {bins}")
    print("mechanisms " + ("ok" if not flags else "NOT FIRED: " + ", ".join(flags))
          + f" (run totals: mrshare_plans={run_totals['mrshare_plans']}"
          f" caching_bags={run_totals['caching_bags']} cache builds={counters.builds}"
          f" session evictions={counters.evictions})")
    for r in load.records:
        if id(r) in failed:
            print(f"FAILED [{r.phase}] {failed[id(r)]}", file=sys.stderr)

    if args.trace:
        from layers import layer_metrics, pct

        traced = next(p for p in phases if p.tracer is not None)
        untraced = [p for p in phases if p.tracer is None]
        traced.tracer.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        metrics = {k: (v, "") for k, v in layer_metrics(
            traced.tracer, counters, traced.records, traced.delta, storage_mb).items()}
        lat = [r.latency_ms for r in traced.records]
        writes = [r.latency_ms for r in traced.records if r.req.write]
        untraced_qps = (sum(len(p.records) for p in untraced)
                        / sum(p.end - p.start for p in untraced))
        metrics["client.requests"] = (len(lat), "count")
        metrics["client.latency_p99_ms"] = (pct(lat, 99), "ms")
        metrics["client.write_latency_p50_ms"] = (pct(writes, 50), "ms")
        metrics["trace.untraced_qps"] = (untraced_qps, "1/s")
        metrics["trace.traced_qps"] = (traced.qps, "1/s")
        metrics["trace.qps_ratio"] = (traced.qps / untraced_qps, "ratio")
    else:
        metrics = _phase_metrics(phases[0])
        metrics["setup_s"] = (setup_s, "s")
    result = {
        "correct": not failed,
        "attempted": len(measured),
        "failed": sum(1 for r in measured if id(r) in failed),
        "metrics": {k: {"value": float(v), "unit": u or _unit(k)}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), (".ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_qps", "1/s"),
                         ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
