"""Benchmark harness — runs the query corpus at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE SHORT JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"shared_scan_*": sec, "cached_scan_*": sec},
     "sf": <sf>, "n_queries": N, "detail": "BENCH_DETAIL.json"}

The full per-query timing map is written to BENCH_DETAIL.json next to
this file (the stdout line holds only totals + the BASELINE-claim
pseudo-queries so output-capture truncation can never lose it).

Each query is forced end-to-end with the noop sink (computes every
output column, no driver transfer). Also measures the work-sharing
claim from BASELINE.md: N same-scan queries batched through the
server (shared cache + concurrent FAIR pools) vs the same N run
back-to-back independently — reported as shared_scan_separate /
shared_scan_batched pseudo-queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparksql_server_spark import get_session
from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.operators import QUERIES
from sparksql_server_spark.server import BatchExecutor, CacheManager, QueryJob
from sparksql_server_spark.server.server import source_view_map

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# cached_scan three-way experiment: interleaved trials per leg; median
# recorded (reference protocol: mean-of-5, σ < 2.5% — report.pdf Fig 5.1)
CACHED_SCAN_TRIALS = int(os.environ.get("SPARK_GRAFT_CS_TRIALS", "3"))
# steady-state trials per corpus query AFTER the timed first execution
# (BENCH_DETAIL records first + min-of-N steady; 0 disables the extra
# runs and records steady=null)
STEADY_TRIALS = int(os.environ.get("SPARK_GRAFT_STEADY_TRIALS", "3"))

# the work-sharing workload: N filter-aggregate queries over one hot scan
# (the modern WordCount×N of the reference's evaluation, report.pdf ch.5 —
# measured at the thesis's window sizes 2/5/10, BASELINE.md)
def shared_scan_queries(n: int) -> list[str]:
    base = [
        "SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q"
        " FROM lineitem GROUP BY l_returnflag",
        "SELECT l_linestatus, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev"
        " FROM lineitem GROUP BY l_linestatus",
        "SELECT count(*) AS n FROM lineitem WHERE l_discount > 0.05",
        "SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey ORDER BY n DESC LIMIT 10",
        "SELECT max(l_shipdate) AS latest, min(l_shipdate) AS earliest FROM lineitem",
    ]
    # beyond 5, vary a filter so every query stays distinct work
    extra = [
        f"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = {i % 8 + 1}"
        for i in range(max(0, n - len(base)))
    ]
    return (base + extra)[:n]


WINDOW_SIZES = (2, 5, 10)

# --- cache-admitted shared scan (reference Fig 5.1's caching claim) -----
# The driver tables at sf0.1 sit under the 64 MiB admission floor, so the
# window benches above exercise concurrency only. This workload scales
# lineitem ×8 and stores it as CSV — faithful to the reference's
# evaluation corpus (text files, report.pdf ch.5) and the case where
# caching genuinely pays: a row-text rescan repays a full parse, which
# one cached build eliminates for the whole batch. (Parquet-backed
# sharing is deliberately NOT the demo: its rescan is a vectorized
# decode of page-cached bytes, measured barely slower than a warm
# InMemoryRelation read, so the format-aware cost model declines it —
# tests/test_server.py gates that decline.) Wide aggregates (7+ of 11
# columns) clear the read-fraction bar; measured three ways:
# back-to-back, concurrent-uncached, batched-with-cache.
BIG_DIR = (
    f"/tmp/sparkgraft_bench/{os.path.basename(SF_DIR.rstrip('/'))}_lineitem_x8.csv"
)


def big_scan_queries(n: int) -> list[str]:
    base = [
        "SELECT l_returnflag, l_linestatus, count(*) AS n,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q,"
        " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS p,"
        " CAST(avg(l_discount) AS DOUBLE) AS d, max(l_shipdate) AS mx,"
        " CAST(sum(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS t"
        " FROM lineitem_big GROUP BY l_returnflag, l_linestatus",
        "SELECT l_suppkey, count(*) AS n, max(l_shipdate) AS mx,"
        " CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS p,"
        " CAST(avg(l_quantity) AS DOUBLE) AS q, max(l_tax) AS t,"
        " max(l_returnflag) AS rf, max(l_linestatus) AS ls"
        " FROM lineitem_big GROUP BY l_suppkey ORDER BY n DESC LIMIT 10",
        "SELECT l_partkey, max(l_shipdate) AS mx, min(l_discount) AS d,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q,"
        " max(l_extendedprice) AS p, max(l_returnflag) AS rf,"
        " max(l_linestatus) AS ls, max(l_tax) AS t"
        " FROM lineitem_big GROUP BY l_partkey ORDER BY q DESC LIMIT 10",
    ]
    return (base * ((n + len(base) - 1) // len(base)))[:n]


def ensure_big_table(spark) -> None:
    import glob

    if not glob.glob(BIG_DIR + "/_SUCCESS"):
        li = spark.table("lineitem")
        from pyspark.sql import functions as F

        # Replicas get distinct keys; CSV doesn't RLE-collapse repeats
        # (an earlier parquet ×8 compressed back to 19 MB — under the
        # 64 MiB admission floor, so the caching leg measured nothing).
        # repartition(32) gives every core a split at read time.
        (
            li.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(8))))
            .withColumn("l_orderkey", F.col("l_orderkey") * 8 + F.col("rep"))
            .drop("rep")
            .repartition(32)
            .write.mode("overwrite")
            .option("header", True)
            .csv(BIG_DIR)
        )
    # explicit schema: inferSchema would itself parse the file once
    schema = spark.table("lineitem").schema
    (
        spark.read.schema(schema)
        .option("header", True)
        .csv(BIG_DIR)
        .createOrReplaceTempView("lineitem_big")
    )


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark):
    """Warm a fresh session so per-query times are steady-state: the
    JVM/codegen paths (one scan of ``region``) and the Python/Arrow
    daemon pool. Without the latter, whichever query executes Python
    first pays the ~2-3 s worker spawn (measured: the payer shifted
    from dedup_winnowing to dedup_ngram_jaccard in r9 purely from
    alphabetical pipeline changes). Both Python codepaths are warmed —
    scalar Arrow UDF and mapInPandas initialize different serializer
    stacks (a pandas_udf warm alone left ~1 s of mapInPandas first-use
    cost). Returns the warmed scalar UDF for the python probe."""
    from pyspark.sql.functions import pandas_udf

    _force(spark.sql("SELECT count(*) AS n FROM region"))

    @pandas_udf("long")
    def _warm_py(s):
        return s

    def _warm_mip(it):
        yield from it

    _force(spark.range(100_000).repartition(CPUS).select(_warm_py("id")))
    _force(spark.range(100_000).repartition(CPUS).mapInPandas(_warm_mip, "id long"))
    return _warm_py


def mrshare_queries(n: int) -> list[str]:
    """N same-signature aggregations (GROUP BY l_returnflag,
    l_linestatus; predicates/aggregates differ) — the unconditional-win
    MRShare regime: one scan + one shuffle replaces N of each."""
    preds = [
        "l_discount > 0.01",
        "l_quantity >= 25",
        "l_linenumber = 1",
        "l_tax < 0.05",
        "l_extendedprice > 1000",
        "l_discount < 0.07",
        "l_quantity < 30",
        "l_linenumber > 2",
        "l_tax >= 0.02",
        "l_discount BETWEEN 0.02 AND 0.06",
    ]
    aggs = [
        "count(*) AS n",
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q",
        "max(l_shipdate) AS mx",
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS p",
        "min(l_shipdate) AS mn",
        "CAST(avg(l_discount) AS DOUBLE) AS d",
        "max(l_extendedprice) AS mp",
        "CAST(sum(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS t",
        "min(l_quantity) AS mq",
        "count(l_partkey) AS np",
    ]
    return [
        f"SELECT l_returnflag, l_linestatus, {aggs[i % len(aggs)]}"
        f" FROM lineitem_big WHERE {preds[i % len(preds)]}"
        " GROUP BY l_returnflag, l_linestatus"
        for i in range(n)
    ]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _timed_batch(
    spark,
    queries: list[str],
    base_id: int,
    source_views: dict[str, str],
    cache_floor: int = 1 << 40,
    enable_mrshare: bool = False,
):
    """Time one batch of ``queries`` through a fresh executor, until
    its last job has finished, and return (seconds, bags). The default
    cache floor sits above any table, vetoing admission; whatever the
    batch cached is released after the clock stops. A failed job makes the timing
    invalid, so it is reported on stderr."""
    ex = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=8 << 30, min_bytes=cache_floor),
        source_views=source_views,
        enable_mrshare=enable_mrshare,
    )
    jobs = [QueryJob(job_id=base_id + i, sql=q) for i, q in enumerate(queries)]
    t0 = time.monotonic()
    bags = ex.run_batch_and_wait(jobs)
    dt = time.monotonic() - t0
    ex.cache.clear()
    ex.close()
    failed = [j for j in jobs if j.status.value != "done"]
    if failed:
        print(
            f"WARN: batch {base_id} had failed jobs: "
            + "; ".join(f"{j.job_id} {j.status.value}: {j.error}" for j in failed),
            file=sys.stderr,
        )
    return dt, bags


def _record_trials(timings: dict, prefix: str, trials: dict[str, list[float]]) -> None:
    """Headline median and ``_min`` secondary for each arm's trials."""
    for leg, xs in trials.items():
        timings[f"{prefix}_{leg}"] = round(_median(xs), 3)
        timings[f"{prefix}_{leg}_min"] = round(min(xs), 3)


# physical-plan node names that mark a query as PYTHON-axis for drift
# normalization: work flows through Python workers / Arrow IPC, whose
# throughput drifts independently of the JVM scan/cpu/shuffle axes
_PY_PLAN_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "MapInArrow",
    "PythonMapInArrow",
)


def _query_axis(df) -> str:
    """``python`` when the DataFrame's physical plan routes through
    Python workers / Arrow IPC, else ``jvm``. Driver-side planning
    only — never triggers execution. NOTE: sees only the RETURNED
    DataFrame's plan; queries that eagerly spill a Python stage to
    scratch parquet during construction (the shingle builds) need the
    execution-window check below."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return "jvm"
    return "python" if any(n in plan for n in _PY_PLAN_NODES) else "jvm"


def _last_sql_exec_id(spark) -> int:
    """Highest SQL-execution id the UI status store has seen (-1 when
    empty). Paired with :func:`_python_executed_since` to classify a
    query by what it actually RAN — construction-time scratch spills
    included — not just the plan of the DataFrame it returned. Drains
    the listener bus first so a prior query's late-posting execution
    can never be attributed to the window that starts here (called
    BEFORE the timing starts, so the drain is never measured)."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        lst = spark._jsparkSession.sharedState().statusStore().executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1
    except Exception:
        return -1


def _python_executed_since(spark, since: int) -> bool:
    """True when any SQL execution recorded after ``since`` contains a
    Python/Arrow eval node. Drains the async listener bus first so the
    just-finished execution is visible; swallows reflection errors
    (returns False) so the bench never fails on a Spark-internals
    change — the caller falls back to the plan-string check."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        lst = spark._jsparkSession.sharedState().statusStore().executionsList()
        # the list is id-ascending: walk from the end and stop at the
        # window start, so each call pays O(new executions) py4j round
        # trips, not O(retained executions)
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            if e.executionId() <= since:
                break
            desc = e.physicalPlanDescription()
            if any(n in desc for n in _PY_PLAN_NODES):
                return True
    except Exception:
        pass
    return False


def _assert_trials_consistent(detail: dict, timings: dict) -> None:
    """Every serialized ``<prefix>_trials`` block must agree with the
    ``<prefix>_<leg>`` / ``<prefix>_<leg>_min`` headline entries it
    claims to back (round 11, VERDICT r10 wrong #1: a shadowed trials
    dict serialized one experiment's raw data under another's key —
    this assert makes the record self-checking at write time)."""
    for block, legs in detail.items():
        if not block.endswith("_trials") or not isinstance(legs, dict):
            continue
        prefix = block[: -len("_trials")]
        for leg, xs in legs.items():
            med_key, min_key = f"{prefix}_{leg}", f"{prefix}_{leg}_min"
            assert med_key in timings, f"{block}.{leg}: no headline {med_key}"
            # 1e-3 tolerance: the serialized trials are rounded to 3
            # places while the headline rounds the raw median, which
            # for even trial counts averages two unrounded values
            assert abs(_median(xs) - timings[med_key]) <= 1e-3 + 1e-9, (
                f"{block}.{leg}: trials median {round(_median(xs), 4)}"
                f" != headline {timings[med_key]}"
            )
            if min_key in timings:
                assert abs(min(xs) - timings[min_key]) <= 1e-3 + 1e-9, (
                    f"{block}.{leg}: trials min {round(min(xs), 4)}"
                    f" != headline {timings[min_key]}"
                )


def main() -> None:
    spark = get_session("bench", cpus=CPUS)
    timings: dict[str, float] = {}

    register_tables(spark, SF_DIR)
    _warm_py = warm_session(spark)

    # --- machine-drift calibration (round 9, VERDICT r8 ask #6): the
    # r8 driver box ran ~15-20% slower machine-wide and untangling that
    # from real regressions took a forensic diff. Three FIXED probes —
    # scan, cpu, shuffle — each compiled once unmeasured then timed 5x,
    # recorded raw + median in BENCH_DETAIL.json::calibration. To
    # drift-normalize a cross-round comparison, divide a query's time
    # by (this_run_probe_median / reference_run_probe_median) for the
    # probe matching its bottleneck (or the mean of the three ratios).
    _PROBES = {
        "scan": "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q"
        " FROM lineitem GROUP BY l_returnflag",
        "cpu": "SELECT sum(x) AS s FROM"
        " (SELECT explode(sequence(1, 2000)) AS x FROM orders) t",
        "shuffle": "SELECT l_orderkey, count(*) AS n FROM lineitem"
        " GROUP BY l_orderkey ORDER BY n DESC LIMIT 5",
    }
    calibration: dict[str, dict] = {}
    for pname, psql in _PROBES.items():
        _force(spark.sql(psql))  # compile once — probes measure the MACHINE
        trials = []
        for _ in range(5):
            t0 = time.monotonic()
            _force(spark.sql(psql))
            trials.append(round(time.monotonic() - t0, 4))
        calibration[pname] = {"trials": trials, "median": _median(trials)}
    # 4th probe (round 10): the PYTHON/Arrow stack. The first r10
    # normalization run flagged a broad block of Pandas-UDF-heavy
    # queries (minhash/simhash/embedding dedup) as "regressed" while
    # every JVM probe said the machine was FASTER — the three JVM
    # probes cannot see Python-worker/Arrow throughput drift, which is
    # its own axis (fork speed, pickle, Arrow IPC). Fixed-size Arrow
    # roundtrip, compiled+warmed above (bench's _warm_py), timed the
    # same way. r9's committed detail lacks this probe; the mean-ratio
    # drift simply skips absent probes, so cross-round normalization
    # picks it up from r11 onward.
    py_trials = []
    for _ in range(5):
        t0 = time.monotonic()
        _force(
            spark.range(2_000_000)
            .repartition(CPUS)
            .select(_warm_py("id").alias("y"))
        )
        py_trials.append(round(time.monotonic() - t0, 4))
    calibration["python"] = {"trials": py_trials, "median": _median(py_trials)}
    # 5th probe (round 11, VERDICT r10 ask #3): CONCURRENT throughput —
    # the shape every cached_scan_*/mrshare_* concurrent leg runs (K
    # jobs through FAIR-pool threads), which no single-stream probe can
    # see: round 10's concurrent legs shifted 40-85% raw vs round 9
    # while all four single-stream probes read within ~1-8%. Eight
    # threads each run the (compiled, warmed) scan probe once in its
    # own FAIR pool; wall clock of the batch is the sample.
    #
    # Root cause of the r10 shift, A/B'd in round 11 (interleaved fresh
    # JVMs, 2 runs/arm x 3 trials, sf0.1): the ROUND-9 server code
    # checked out verbatim reproduces the round-10 leg times on the
    # round-11 box (r9 code: separate ~10.9/11.2 s median vs HEAD
    # ~11.7/12.1, overlapping spreads; mrshare_concurrent r9 ~4.8 vs
    # HEAD ~4.75 — and neither arm comes near round 9's committed
    # 9.25/3.56). The shift was MACHINE drift in the multi-thread
    # regime, not server-path cost: the round-10 mirror plumbing adds
    # nothing measurable to the clean path. This probe exists so the
    # next such shift is attributable from the record alone.
    from concurrent.futures import ThreadPoolExecutor

    def _conc_probe_once() -> float:
        def _one(i: int) -> None:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"probe{i}"
            )
            try:
                _force(spark.sql(_PROBES["scan"]))
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(_one, range(8)))
        return round(time.monotonic() - t0, 4)

    _conc_probe_once()  # warm the thread/pool machinery once, unmeasured
    conc_trials = [_conc_probe_once() for _ in range(5)]
    calibration["concurrent"] = {
        "trials": conc_trials,
        "median": _median(conc_trials),
    }

    # Two regimes per corpus query (VERDICT r7 ask #8): the headline
    # per-query number (and the corpus total) stays FIRST-execution-in-
    # warm-session — the regime a one-shot gateway query lives in and
    # the cross-round comparable — while BENCH_DETAIL additionally
    # records min-of-N steady state, so a rework that trades one
    # regime for the other (r7's lsh_eval barrier) is visible in the
    # regime it optimizes with one git diff of BENCH_DETAIL.
    # Pass 1 — first-execution, the SAME sequence every prior round
    # ran, so first-exec numbers and the corpus total stay comparable
    # across rounds (interleaving steady re-runs here was measured to
    # leak GC/JIT pressure into the NEXT query's first execution).
    corpus_regimes: dict[str, dict] = {}
    for name in sorted(QUERIES):
        # bottleneck-axis tag (round 11, VERDICT r10 ask #2): a query
        # that routes work through Python workers / Arrow IPC drifts
        # with the PYTHON probe, not the JVM ones — round 10's global
        # mean-ratio normalization mislabeled the Pandas-UDF-heavy set
        # as regressions when only the python probe had drifted. The
        # classification diffs the SQL status store over the timed
        # window (catches construction-time scratch spills — the
        # shingle builds — whose returned DataFrame is a plain parquet
        # scan), with the returned plan's node check as fallback; both
        # inspections run strictly AFTER the timed execution.
        exec0 = _last_sql_exec_id(spark)
        t0 = time.monotonic()
        df = QUERIES[name](spark, SF_DIR)  # construction may spill — timed
        _force(df)
        first = time.monotonic() - t0
        timings[name] = round(first, 3)
        axis = (
            "python"
            if _python_executed_since(spark, exec0)
            or _query_axis(df) == "python"
            else "jvm"
        )
        corpus_regimes[name] = {
            "first": round(first, 3),
            "steady": None,
            "axis": axis,
        }
    # Pass 2 — steady state: min over STEADY_TRIALS re-executions in
    # the fully warmed session (codegen compiled in pass 1)
    for name in sorted(QUERIES) if STEADY_TRIALS else []:
        steady_trials = []
        for _ in range(STEADY_TRIALS):
            t0 = time.monotonic()
            _force(QUERIES[name](spark, SF_DIR))
            steady_trials.append(time.monotonic() - t0)
        corpus_regimes[name]["steady"] = round(min(steady_trials), 3)

    # --- work-sharing: separate vs batched at the thesis's window sizes
    # (BASELINE.md claim #1; report.pdf ch.5 measured N = 2, 5, 10) ------
    executor = BatchExecutor(
        spark,
        cache=CacheManager(spark, budget_bytes=8 << 30),
        source_views=source_view_map(SF_DIR),
        enable_mrshare=False,  # isolated: the mrshare_* legs measure the merge
    )
    for n in WINDOW_SIZES:
        queries = shared_scan_queries(n)
        spark.catalog.clearCache()
        t0 = time.monotonic()
        for q in queries:
            _force(spark.sql(q))
        timings[f"shared_scan_separate_n{n}"] = round(time.monotonic() - t0, 3)

        jobs = [QueryJob(job_id=i, sql=q) for i, q in enumerate(queries)]
        t0 = time.monotonic()
        executor.run_batch_and_wait(jobs)
        timings[f"shared_scan_batched_n{n}"] = round(time.monotonic() - t0, 3)
        executor.cache.clear()
    # keep the legacy pair for cross-round comparability (n=5 values)
    timings["shared_scan_separate"] = timings["shared_scan_separate_n5"]
    timings["shared_scan_batched"] = timings["shared_scan_batched_n5"]

    # --- cache-admitted shared scan: separate vs concurrent-uncached vs
    # batched-with-cache (isolates the caching win from the concurrency
    # win — the Fig 5.1 analogue on a floor-clearing input).
    # Protocol: the reference measured mean-of-5 with σ < 2.5%
    # (report.pdf Fig 5.1, BASELINE.md); single-shot runs here flipped
    # leg ordering across rounds purely from GC/JIT/page-cache noise.
    # So each leg runs CACHED_SCAN_TRIALS times, interleaved
    # (sep, conc, bat, sep, conc, bat, ...) so drift hits all three
    # equally; the recorded number is the MEDIAN (min kept as a
    # secondary *_min entry, all raw trials in BENCH_DETAIL.json). ------
    ensure_big_table(spark)
    big_views = {BIG_DIR: "lineitem_big"}
    n_big = 10  # the thesis's widest window (Fig 5.1) — the batch must
    # be wide enough that one cached build amortizes over many parses
    queries = big_scan_queries(n_big)
    _force(spark.sql(queries[0]))  # warm codegen paths once

    def _run_separate() -> float:
        spark.catalog.clearCache()
        t0 = time.monotonic()
        for q in queries:
            _force(spark.sql(q))
        return time.monotonic() - t0

    def _run_concurrent(base_id: int) -> float:
        # concurrent FAIR pools, cache vetoed (floor above the table size)
        return _timed_batch(spark, queries, base_id, big_views)[0]

    def _run_batched(base_id: int) -> float:
        # full path: admission (size + read fraction + row-text rescan
        # cost) caches the hot scan
        dt, bags = _timed_batch(
            spark, queries, base_id, big_views, cache_floor=64 << 20
        )
        if not any(b.rewrite.value == "caching" for b in bags):
            print("WARN: cache not admitted in cached_scan_batched", file=sys.stderr)
        return dt

    cs_trials: dict[str, list[float]] = {"separate": [], "concurrent": [], "batched": []}
    for rep in range(CACHED_SCAN_TRIALS):
        cs_trials["separate"].append(_run_separate())
        cs_trials["concurrent"].append(_run_concurrent(1000 + 100 * rep))
        cs_trials["batched"].append(_run_batched(2000 + 100 * rep))
    _record_trials(timings, "cached_scan", cs_trials)

    # --- the honest negative: the SAME rows as parquet. A columnar
    # rescan is a cheap vectorized decode, so the format-aware cost
    # model must DECLINE caching — the measured property is "a batch
    # never does worse than concurrent-uncached" (round-1 regression:
    # blind admission made batched 1.4x slower than concurrent) -------
    pq_dir = BIG_DIR.rsplit(".", 1)[0] + ".parquet"
    import glob

    if not glob.glob(pq_dir + "/_SUCCESS"):
        spark.table("lineitem_big").write.mode("overwrite").parquet(pq_dir)
    spark.read.parquet(pq_dir).createOrReplaceTempView("lineitem_bigp")
    pq_queries = [q.replace("lineitem_big", "lineitem_bigp") for q in queries[:4]]
    _force(spark.sql(pq_queries[0]))  # warm

    # best-of-2 in alternating order: both legs run the identical four
    # queries, so a single-shot measurement is dominated by GC/JIT noise
    # (one round-2 artifact showed batched 16% "slower" purely from
    # ordering; an interleaved A/B measured them within 2%)
    def _run_pq(full_admission: bool, base_id: int) -> float:
        dt, bags = _timed_batch(
            spark, pq_queries, base_id, {pq_dir: "lineitem_bigp"},
            cache_floor=(64 << 20) if full_admission else (1 << 40),
        )
        if full_admission and any(b.rewrite.value == "caching" for b in bags):
            print("WARN: parquet cache unexpectedly admitted", file=sys.stderr)
        return dt

    nc_times, full_times = [], []
    for rep in range(2):
        nc_times.append(_run_pq(False, 300 + 20 * rep))
        full_times.append(_run_pq(True, 400 + 20 * rep))
    timings["cached_scan_parquet_concurrent"] = round(min(nc_times), 3)
    timings["cached_scan_parquet_batched"] = round(min(full_times), 3)

    # --- MRShare merge (B8): N same-signature aggregations over the hot
    # CSV scan, three ways — concurrent-unmerged (cache vetoed), the
    # caching rewrite (the strategy that BEAT MRShare in the reference's
    # evaluation, report.pdf ch.5 Table 5.1), and the declarative merge
    # (server/mrshare.py: ONE scan + ONE aggregate + trivial demux).
    # Interleaved trials, median recorded — same protocol as cached_scan.
    # Which batches merge, and that merged rows equal standalone runs,
    # is pinned per SQL spelling by tests/test_mrshare.py (this batch
    # included); the bench times the effect once.
    mr_queries = mrshare_queries(10)
    _force(spark.sql(mr_queries[0]))  # warm

    def _run_mrshare(leg: str, base_id: int) -> float:
        return _timed_batch(
            spark, mr_queries, base_id, big_views,
            cache_floor=(64 << 20) if leg == "cached" else (1 << 40),
            enable_mrshare=(leg == "merged"),
        )[0]

    mr_trials: dict[str, list[float]] = {"concurrent": [], "cached": [], "merged": []}
    for rep in range(CACHED_SCAN_TRIALS):
        mr_trials["concurrent"].append(_run_mrshare("concurrent", 5000 + 100 * rep))
        mr_trials["cached"].append(_run_mrshare("cached", 6000 + 100 * rep))
        mr_trials["merged"].append(_run_mrshare("merged", 7000 + 100 * rep))
    _record_trials(timings, "mrshare", mr_trials)

    # --- gateway result cache: repeat deterministic query text served
    # from memory (server/results.py). Measured through the REAL TCP
    # server: cold = first submission (batch window + execution),
    # cached = identical resubmission (dict lookup at the gateway). ---
    from sparksql_server_spark.server import WorkSharingServer, client_request

    rc_srv = WorkSharingServer(
        spark, SF_DIR, window_size=1, max_wait=0.05
    ).start()
    try:
        rc_sql = (
            "SELECT l_returnflag, l_linestatus, count(*) AS n,"
            " CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q"
            " FROM lineitem GROUP BY l_returnflag, l_linestatus"
        )
        cold_ts, hot_ts = [], []
        for rep in range(CACHED_SCAN_TRIALS):
            sql_rep = f"{rc_sql} HAVING count(*) >= {rep - 1000000}"  # distinct text per rep
            t0 = time.monotonic()
            r1 = client_request(rc_srv.address, {"sql": sql_rep})
            cold_ts.append(time.monotonic() - t0)
            t0 = time.monotonic()
            r2 = client_request(rc_srv.address, {"sql": sql_rep})
            hot_ts.append(time.monotonic() - t0)
            if r1.get("status") != "done" or r2.get("cached") is not True:
                print("WARN: result-cache leg unexpected replies", file=sys.stderr)
        timings["result_cache_cold"] = round(_median(cold_ts), 3)
        timings["result_cache_hit"] = round(_median(hot_ts), 3)
        # round 12, semantic keys: a RESPELLED equivalent (conjunct
        # order flipped, IN-list vs OR-chain, operand-swapped
        # comparisons) of a previously-executed aggregation must ALSO
        # be a cache hit — the across-time analogue of the MRShare
        # spelling-insensitive merge.
        resp_ts = []
        for rep in range(CACHED_SCAN_TRIALS):
            pred = f"l_linenumber IN (1, 2) AND l_quantity >= {rep + 1}"
            resp = (
                f"(l_linenumber = 2 OR l_linenumber = 1)"
                f" AND {rep + 1} <= l_quantity"
            )
            base = (
                "SELECT l_returnflag, count(*) AS n FROM lineitem"
                " WHERE {} GROUP BY l_returnflag"
            )
            r1 = client_request(rc_srv.address, {"sql": base.format(pred)})
            t0 = time.monotonic()
            r2 = client_request(rc_srv.address, {"sql": base.format(resp)})
            resp_ts.append(time.monotonic() - t0)
            if r1.get("status") != "done" or r2.get("cached") is not True:
                print(
                    "WARN: semantic result-cache leg unexpected replies",
                    file=sys.stderr,
                )
        timings["result_cache_respelled_hit"] = round(_median(resp_ts), 3)
        # round 12, select shape: the same across-time spelling
        # insensitivity for plain projection/selection statements —
        # the repeat-dashboard class with no aggregation to merge.
        sel_ts = []
        for rep in range(CACHED_SCAN_TRIALS):
            s1 = (
                "SELECT l_orderkey, l_extendedprice FROM lineitem"
                f" WHERE l_linenumber IN (1, 2) AND l_quantity >= {rep + 40}"
                " ORDER BY l_orderkey, l_extendedprice LIMIT 50"
            )
            s2 = (
                "select l_orderkey, l_extendedprice from lineitem"
                f" where {rep + 40} <= l_quantity"
                " and (l_linenumber = 2 or l_linenumber = 1)"
                " order by l_orderkey ASC, l_extendedprice limit 50"
            )
            r1 = client_request(rc_srv.address, {"sql": s1})
            t0 = time.monotonic()
            r2 = client_request(rc_srv.address, {"sql": s2})
            sel_ts.append(time.monotonic() - t0)
            if r1.get("status") != "done" or r2.get("cached") is not True:
                print(
                    "WARN: select-shape result-cache leg unexpected replies",
                    file=sys.stderr,
                )
        timings["result_cache_respelled_select_hit"] = round(
            _median(sel_ts), 3
        )
    finally:
        rc_srv.shutdown()
        rc_srv.executor.cache.clear()

    # medians counted once; *_min secondaries excluded from the total
    total = round(
        sum(v for k, v in timings.items() if not k.endswith("_min")), 3
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query map goes to a file (the round-1 stdout line was
    # tail-truncated by the capture harness — "parsed": null); stdout
    # carries a SHORT line holding the totals and the BASELINE-claim
    # pseudo-queries, small enough that no tail truncation can eat it.
    # env override exists so local experiments (sf0.01 smokes, A/B
    # runs) can write a scratch record without clobbering the repo's
    # committed previous-round BENCH_DETAIL.json, which is the
    # normalization baseline for the next driver run
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # --- drift-normalized cross-round comparison (round 10, VERDICT r9
    # ask #6; round 11, VERDICT r10 ask #2 — AXIS-MATCHED): the
    # BENCH_DETAIL.json committed in the repo is the PREVIOUS round's
    # record — read it BEFORE overwriting and divide out machine drift
    # with the fixed probes. Each query normalizes by the probe ratio
    # matching its BOTTLENECK AXIS, not a global mean (round 10's
    # global mean mislabeled the Pandas-UDF-heavy set as regressions
    # when only the python probe had drifted):
    #   - corpus queries tagged "python" (plan contains Arrow/Python
    #     eval nodes) divide by the python probe ratio;
    #   - bench legs that run K jobs through FAIR-pool threads
    #     ("concurrent"/"batched"/"merged"/"cached" pseudo-queries)
    #     divide by the concurrent probe ratio;
    #   - everything else divides by the mean of the three JVM probe
    #     ratios (scan/cpu/shuffle).
    # A query's normalized ratio is (first / axis_drift) / prev_first —
    # >1 slower than last round on a same-speed machine, <1 faster.
    # When the matching probe is absent from the PREVIOUS record (the
    # concurrent probe first ships in round 11), the query falls back
    # to the JVM mean and says so in its "axis" field. Absent/probeless
    # previous detail (first run on a fresh clone) records null.
    normalized_vs_prev = None
    try:
        with open(detail_path) as fh:
            prev = json.load(fh)
        normalized_vs_prev = compute_normalized_vs_prev(
            prev, calibration, timings, corpus_regimes, sf_val
        )
    except Exception:
        normalized_vs_prev = None

    detail = {
        "metric": "corpus_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-corpus-query {first, steady} — first == queries[name];
        # steady is min over SPARK_GRAFT_STEADY_TRIALS re-runs
        "corpus_regimes": corpus_regimes,
        "sf": sf_val,
        # raw interleaved trials behind every *_trials headline pair —
        # one block per experiment, keyed so that <prefix>_trials.<leg>
        # backs headline entries <prefix>_<leg> / <prefix>_<leg>_min
        # (enforced by _assert_trials_consistent below)
        "cached_scan_trials": {
            leg: [round(x, 3) for x in xs] for leg, xs in cs_trials.items()
        },
        "mrshare_trials": {
            leg: [round(x, 3) for x in xs] for leg, xs in mr_trials.items()
        },
        # fixed machine-speed probes (scan/cpu/shuffle), compiled-once
        # then timed — divide per-query times by the probe-median ratio
        # between two runs to drift-normalize cross-round comparisons
        # (see README "Benchmarks")
        "calibration": calibration,
        # per-query drift-normalized deltas vs the PREVIOUS round's
        # committed BENCH_DETAIL (null when no prior record exists)
        "normalized_vs_prev": normalized_vs_prev,
    }
    _assert_trials_consistent(detail, timings)
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(summary_line(timings, total, sf_val))
    spark.stop()


# the printed summary must stay SHORT: the driver keeps only a
# fixed-size tail of stdout and json-parses the final line — the full
# ~50-leg dict outgrew that buffer in r09-r11 ("parsed": null in
# BENCH_r09/r10/r11.json; VERDICT r11 ask #2). The stable ≤10-leg
# headline below keeps the line within the ~1.2 KB tail window the r08
# record demonstrates; every leg, trial, and corpus timing lives in
# BENCH_DETAIL.json, which the line references.
_HEADLINE_LEGS = (
    "shared_scan_separate",
    "shared_scan_batched",
    "cached_scan_separate",
    "cached_scan_concurrent",
    "cached_scan_batched",
    "mrshare_concurrent",
    "mrshare_merged",
    "result_cache_cold",
    "result_cache_hit",
)


def compute_normalized_vs_prev(
    prev: dict,
    calibration: dict,
    timings: dict,
    corpus_regimes: dict,
    sf_val,
):
    """Drift-normalized cross-round comparison (round 10, VERDICT r9
    ask #6; round 11 axis-matched; round 12 regime-split). Pure
    function of the PREVIOUS round's committed record and this round's
    measurements, so a record can be recomputed offline after a flag-
    rule fix without re-running the 30-minute corpus.

    Axis matching (round 11): each row divides by the probe ratio of
    its bottleneck axis — python-tagged corpus queries by the python
    probe, FAIR-pool legs by the concurrent probe, the rest by the
    JVM mean (scan/cpu/shuffle).

    Regime split (round 12, VERDICT r11 ask #1): corpus queries carry
    a steady regime (min over warmed re-runs); the regression flag
    uses the STEADY ratio where both records have one — the r11 flags
    were first-exec compile-floor variance on untouched queries (the
    8g/32g heap A/B showed no heap effect), and a real plan regression
    shows up in both regimes. First-exec-only movers land in
    ``first_exec_regressions``.

    Leg flags (round 12 review of this round's own record): bench legs
    have no steady regime AND their times are dominated by fixed
    wall-clock orchestration — batch-window waits, py4j round trips,
    thread-pool handoffs — that does NOT scale with machine CPU speed,
    so when the probes swing fast (this round: 0.68-0.83 vs r11) the
    normalized ratio inflates ~30% on a leg whose RAW time actually
    improved. A leg therefore flags only when BOTH the normalized and
    the raw ratio exceed the bar: a leg that regressed on a
    same-or-faster machine is slower in raw time too, while a
    normalization-only flag on an improved raw time is the probe
    over-correcting an axis no probe models. (Corpus queries keep the
    pure normalized test — their work IS the CPU/scan/python axes the
    probes measure.)"""
    if prev.get("sf") != sf_val:
        # a prior record at a different scale factor normalizes to
        # nothing meaningful — probes calibrate MACHINE speed, not
        # data volume
        raise ValueError("sf mismatch")
    prev_cal = prev["calibration"]
    probe_ratios = {
        p: round(calibration[p]["median"] / prev_cal[p]["median"], 4)
        for p in sorted(set(calibration) & set(prev_cal))
        if prev_cal.get(p, {}).get("median")
    }
    jvm_probes = [p for p in ("scan", "cpu", "shuffle") if p in probe_ratios]
    jvm_drift = sum(probe_ratios[p] for p in jvm_probes) / len(jvm_probes)

    # bench-leg kinds that execute K jobs through the FAIR-pool
    # thread pool (the concurrent probe's shape); "separate" legs
    # are sequential single-stream loops and stay on the JVM mean
    _CONC_LEG_KINDS = frozenset(("concurrent", "batched", "merged", "cached"))

    def _axis_of(name: str) -> str:
        tag = corpus_regimes.get(name, {}).get("axis")
        if tag:
            return tag
        parts = name.split("_")
        if parts[-1] == "min" or re.fullmatch(r"n\d+", parts[-1]):
            parts = parts[:-1]
        if parts[-1] in _CONC_LEG_KINDS:
            return "concurrent"
        return "jvm"

    prev_q = prev.get("queries", {})
    prev_regimes = prev.get("corpus_regimes", {})
    per_query = {}
    for name, first in timings.items():
        prev_first = prev_q.get(name)
        if not isinstance(prev_first, (int, float)) or prev_first <= 0:
            continue
        axis = _axis_of(name)
        if axis == "jvm":
            drift_q = jvm_drift
        elif axis in probe_ratios:
            drift_q = probe_ratios[axis]
        else:
            axis, drift_q = f"jvm(no {axis} probe in prev)", jvm_drift
        norm = first / drift_q
        per_query[name] = {
            "prev": prev_first,
            "raw": first,
            "axis": axis,
            "normalized": round(norm, 3),
            "ratio": round(norm / prev_first, 3),
            "raw_ratio": round(first / prev_first, 3),
        }
        steady = corpus_regimes.get(name, {}).get("steady")
        prev_steady = prev_regimes.get(name, {}).get("steady")
        if (
            isinstance(steady, (int, float))
            and isinstance(prev_steady, (int, float))
            and prev_steady > 0
        ):
            per_query[name]["steady_raw"] = steady
            per_query[name]["steady_prev"] = prev_steady
            per_query[name]["steady_ratio"] = round(
                (steady / drift_q) / prev_steady, 3
            )

    def _is_corpus(name: str) -> bool:
        return name in corpus_regimes

    def _flag_ratio(d: dict) -> float:
        return d.get("steady_ratio", d["ratio"])

    def _flag_prev(d: dict) -> float:
        return d.get("steady_prev", d["prev"])

    def _regressed(name: str, d: dict) -> bool:
        if _flag_prev(d) < 1.0:  # sub-second rows are scheduling noise
            return False
        if _is_corpus(name):
            return _flag_ratio(d) > 1.3
        return d["ratio"] > 1.3 and d["raw_ratio"] > 1.3

    def _improved(name: str, d: dict) -> bool:
        if _flag_prev(d) < 1.0:
            return False
        if _is_corpus(name):
            return _flag_ratio(d) < 0.7
        return d["ratio"] < 0.7 and d["raw_ratio"] < 0.7

    return {
        # kept for cross-round readers: the JVM-mean drift (the
        # pre-round-11 "drift" definition minus the python probe,
        # which never belonged in a global mean)
        "drift": round(jvm_drift, 4),
        "probe_ratios": probe_ratios,
        "queries": per_query,
        # the at-a-glance lists a reviewer actually wants: >30% moved,
        # sub-second rows excluded (their ratios are scheduling noise,
        # the r9/r8 forensics showed). Corpus queries flag on the
        # drift-normalized STEADY ratio; legs need normalized AND raw
        # agreement (see docstring).
        "regressions": sorted(
            n for n, d in per_query.items() if _regressed(n, d)
        ),
        "improvements": sorted(
            n for n, d in per_query.items() if _improved(n, d)
        ),
        # first-exec-only movers: compile/JIT-floor variance, listed
        # separately so nobody mistakes warmup noise for a plan
        # regression again (the r11 mis-attribution)
        "first_exec_regressions": sorted(
            n for n, d in per_query.items()
            if "steady_ratio" in d
            and d["ratio"] > 1.3
            and d["steady_ratio"] <= 1.3
            and d["prev"] >= 1.0
        ),
    }


def summary_line(timings: dict, total: float, sf_val: float) -> str:
    headline = {name: timings[name] for name in _HEADLINE_LEGS if name in timings}
    n_legs = sum(
        1
        for name in timings
        if name.startswith(
            ("shared_scan_", "cached_scan_", "mrshare_", "result_cache_")
        )
    )
    return json.dumps(
        {
            "metric": "corpus_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": headline,
            "sf": sf_val,
            # corpus queries only — the shared/cached pseudo-queries
            # are benchmark legs, not registry entries
            "n_queries": len(timings) - n_legs,
            "detail": "BENCH_DETAIL.json",
        }
    )


if __name__ == "__main__":
    main()
