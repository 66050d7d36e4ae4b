"""Round-12 optimization A/B harness: run a set of corpus queries in
ONE fresh warm session (first-exec + N steady trials each), optionally
with extra Spark conf overrides, and print one JSON line per query.

Run: python tools/opt_ab.py q1 q2 ... [--steady N] [--conf k=v ...]
     python tools/opt_ab.py --all-over 1.0   # every query whose r11
                                             # first-exec was >= 1.0 s

Fresh JVM per invocation, warmed by bench.warm_session (scan +
scalar-Arrow + mapInPandas), so numbers are comparable to the bench's
per-query regime. Conf overrides apply at session build (context-time
confs included), which is what an engine-default change would do.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, SF_DIR, _force, warm_session  # noqa: E402
from sparksql_server_spark import get_session  # noqa: E402
from sparksql_server_spark.catalog import register_tables  # noqa: E402
from sparksql_server_spark.operators import QUERIES  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    names: list[str] = []
    conf: dict[str, str] = {}
    steady_trials = 3
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--conf":
            k, _, v = args[i + 1].partition("=")
            conf[k] = v
            i += 2
        elif a == "--steady":
            steady_trials = int(args[i + 1])
            i += 2
        elif a == "--all-over":
            thresh = float(args[i + 1])
            detail = json.load(
                open(os.path.join(os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))), "BENCH_DETAIL.json"))
            )
            names.extend(
                k for k, v in sorted(detail["corpus_regimes"].items())
                if v["first"] >= thresh
            )
            i += 2
        else:
            names.append(a)
            i += 1
    spark = get_session("opt-ab", cpus=CPUS, extra_conf=conf or None)
    register_tables(spark, SF_DIR)
    warm_session(spark)

    out = {}
    for name in names:
        t0 = time.monotonic()
        _force(QUERIES[name](spark, SF_DIR))
        first = round(time.monotonic() - t0, 3)
        steadies = []
        for _ in range(steady_trials):
            t0 = time.monotonic()
            _force(QUERIES[name](spark, SF_DIR))
            steadies.append(round(time.monotonic() - t0, 3))
        out[name] = {"first": first, "steady": min(steadies) if steadies else None}
        print(json.dumps({name: out[name]}), flush=True)
    tot_f = round(sum(v["first"] for v in out.values()), 2)
    tot_s = round(sum(v["steady"] or 0 for v in out.values()), 2)
    print(json.dumps({"TOTAL": {"first": tot_f, "steady": tot_s, "n": len(out)}}))
    spark.stop()


if __name__ == "__main__":
    main()
