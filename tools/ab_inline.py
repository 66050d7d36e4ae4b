"""Interleaved same-session A/B of two DataFrame builders.

Usage: define builders in a spec module/snippet; this harness warms the
session like bench.py, then runs A,B,A,B,... first-exec plus N steady
trials each, order-alternated, and prints per-arm first/steady-min.

Run: python tools/ab_inline.py <spec.py> [--trials 3] [--rounds 2]
The spec file must define build_a(spark, sf_dir) and build_b(spark, sf_dir)
returning DataFrames, and may define NAME.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, SF_DIR, _force, warm_session  # noqa: E402
from sparksql_server_spark import get_session  # noqa: E402
from sparksql_server_spark.catalog import register_tables  # noqa: E402


def main() -> None:
    spec_path = sys.argv[1]
    trials = 3
    rounds = 2
    args = sys.argv[2:]
    i = 0
    while i < len(args):
        if args[i] == "--trials":
            trials = int(args[i + 1]); i += 2
        elif args[i] == "--rounds":
            rounds = int(args[i + 1]); i += 2
        else:
            i += 1
    spec = importlib.util.spec_from_file_location("abspec", spec_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = get_session("ab-inline", cpus=CPUS)
    register_tables(spark, SF_DIR)
    warm_session(spark)

    arms = {"a": mod.build_a, "b": mod.build_b}
    res = {k: {"first": None, "steady": []} for k in arms}
    for rnd in range(rounds):
        order = ["a", "b"] if rnd % 2 == 0 else ["b", "a"]
        for arm in order:
            t0 = time.monotonic()
            _force(arms[arm](spark, SF_DIR))
            dt = round(time.monotonic() - t0, 3)
            if res[arm]["first"] is None:
                res[arm]["first"] = dt
            else:
                res[arm]["steady"].append(dt)
            for _ in range(trials):
                t0 = time.monotonic()
                _force(arms[arm](spark, SF_DIR))
                res[arm]["steady"].append(round(time.monotonic() - t0, 3))
    out = {
        k: {"first": v["first"], "steady_min": min(v["steady"]),
            "steady_all": v["steady"]}
        for k, v in res.items()
    }
    print(json.dumps(out))
    # equality check: same rows?
    da = arms["a"](spark, SF_DIR)
    db = arms["b"](spark, SF_DIR)
    ra = sorted(map(tuple, da.collect()))
    rb = sorted(map(tuple, db.collect()))
    print(json.dumps({"rows_equal": ra == rb, "n_a": len(ra), "n_b": len(rb),
                      "cols_equal": da.columns == db.columns}))
    spark.stop()


if __name__ == "__main__":
    main()
