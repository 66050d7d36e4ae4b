"""Driver-shape smoke: run one query per family against a DEFAULT-config
SparkSession (bare ``SparkSession.builder.getOrCreate()``, no get_session
tuning) in a fresh subprocess, hash-compared against the DuckDB oracle.

Round 2 proved the runtime can differ from the builder's session shape
(pyspark 4.1.2 dropped ``spark.sql.legacy.parquet.nanosAsLong`` and the
events ingest died only under a default-config read path).  This gate runs
the corpus the way the driver does — fresh python process, no repo session
confs — so any version-coupled conf dependency fails here first.

Subprocess because local-mode Spark allows one JVM per process and the
session-scoped ``spark`` fixture already owns it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the checkout under test; the worker imports the package from here
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One representative per query family; events/asof/json cover the
# TIMESTAMP(NANOS) read path that broke in round 2.
SMOKE_QUERIES = [
    "a1_scan_region",
    "agg_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "join_inner_4way",
    "win_moving_avg",
    "setop_except",
    "events_tumbling_hour",
    "events_sessionize",
    "asof_last_error",
    "json_variant",
    "scd2_intervals",
    "dedup_exact",
    "sim_topk_bruteforce",
    "text_quality",
    "sample_bernoulli_hash",
    "recursive_month_spine",
    # the two heaviest iterative/self-join pipelines (VERDICT r3 #4),
    # which also exercise the CacheScope spill-and-release path
    "graph_pagerank_entities",
    "dedup_prefix_filter_join",
    # the newest registered family member (bucketed range search)
    "sim_range_search_lsh",
    # round-4 additions: leakage-free windowed features + the
    # association/drift stats family (ml_features.py)
    "pipeline_point_in_time_features",
    "stats_chi2_independence",
    # round-5: the closed-form EWMA rewrite and the LSH-bucket-blocked
    # embedding dedup (both changed this round — regression anchors)
    "events_ewma_recursive",
    "dedup_embedding_cosine",
    # round-5b: one anchor per new family — the portable-sketch set,
    # the DF-cutoff winnowing rework, and the CacheScope'd triangle join
    "agg_hll_mergeable",
    "dedup_winnowing",
    "graph_triangle_count",
]

_WORKER = r"""
import json, sys
sys.path.insert(0, sys.argv[2])
import duckdb
from pyspark.sql import SparkSession

from sparksql_server_spark.catalog import TABLES
from sparksql_server_spark.operators import ORACLES, QUERIES
from tests.oracle_compare import compare

SF_DIR = "/root/testdata/sf0.001"
names = json.loads(sys.argv[1])

# The driver's shape: master from env/default, NO repo confs (no UTC
# timezone pin, no shuffle-partition tuning, no legacy confs).
spark = (
    SparkSession.builder.master("local[8]")
    .appName("default-config-smoke")
    .getOrCreate()
)

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

failures = {}
for name in names:
    try:
        sdf = QUERIES[name](spark, SF_DIR)
        spark_rows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(ORACLES[name])
        duck_cols = [d[0] for d in rel.description]
        problems = compare(list(sdf.columns), spark_rows, duck_cols, rel.fetchall())
        if problems:
            failures[name] = problems
    except Exception as e:  # noqa: BLE001 - report, don't crash the sweep
        failures[name] = [f"{type(e).__name__}: {e}"[:500]]

# server round trips under the SAME default-config session (VERDICT r4
# next-round #7): one mrshare-merged widened pair through the real TCP
# socket, and one result-cache hit.
try:
    import threading
    from sparksql_server_spark.server import WorkSharingServer, client_request

    srv = WorkSharingServer(spark, SF_DIR, window_size=2, max_wait=5.0).start()
    srv.executor.mrshare_min_bytes = 0  # sf0.001 sits under the production floor
    q1 = ("SELECT l_returnflag, count(*) AS n FROM lineitem"
          " GROUP BY l_returnflag HAVING count(*) > 5 ORDER BY n DESC LIMIT 3")
    q2 = ("SELECT l_returnflag, sum(l_quantity) AS q FROM lineitem"
          " GROUP BY l_returnflag ORDER BY 2 DESC")
    res = [None, None]
    ts = [threading.Thread(
            target=lambda i=i, q=q: res.__setitem__(
                i, client_request(srv.address, {"sql": q})))
          for i, q in enumerate((q1, q2))]
    [t.start() for t in ts]; [t.join() for t in ts]
    exps = [[list(r) for r in spark.sql(q).collect()] for q in (q1, q2)]
    st = client_request(srv.address, {"server_stats": True})["stats"]
    if st.get("mrshare_merged_jobs", 0) < 2 or st.get("mrshare_demux_fallbacks"):
        failures["server_mrshare_merge"] = [json.dumps(st)[:500]]
    for i in range(2):
        if res[i].get("rows") != exps[i]:
            failures[f"server_merge_rows_{i}"] = [json.dumps(res[i])[:500]]
    rc1 = client_request(srv.address, {"sql": "SELECT count(*) AS n FROM region"})
    rc2 = client_request(srv.address, {"sql": "SELECT count(*) AS n FROM region"})
    if rc2.get("cached") is not True or rc2.get("rows") != rc1.get("rows"):
        failures["server_result_cache"] = [json.dumps(rc2)[:500]]
    srv.shutdown()
except Exception as e:  # noqa: BLE001
    failures["server_round_trip"] = [f"{type(e).__name__}: {e}"[:500]]

print("RESULT:" + json.dumps(failures))
"""


def test_default_config_smoke():
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER, json.dumps(SMOKE_QUERIES), REPO],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    result_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")
    ]
    assert result_lines, (
        f"worker produced no result (rc={proc.returncode})\n"
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )
    failures = json.loads(result_lines[0][len("RESULT:") :])
    assert not failures, "default-config failures:\n" + json.dumps(
        failures, indent=1
    )


def test_default_driver_mem_sizes_from_available_ram(monkeypatch):
    """Round 12 (ADVICE r11 low): the local-mode heap default derives
    from MemAvailable (60%, capped 32g, floored 2g) so small machines
    spill instead of getting OOM-killed; the env var still wins."""
    from sparksql_server_spark import session as S

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert S._default_driver_mem() == "7g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    val = S._default_driver_mem()
    assert val.endswith("g")
    n = int(val[:-1])
    assert 2 <= n <= 32
    # on the 128 GiB bench box the formula must keep yielding the x100
    # rig's 32g (60% of MemAvailable, capped)
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_gib = int(line.split()[1]) / (1024 * 1024)
                break
    assert n == max(2, min(32, int(avail_gib * 0.6)))
