"""Interleaved timing of DataFrame builders in one warmed session.

    python tools/ab.py q1 q2 ... [--trials N] [--rounds R] [--conf k=v ...]
    python tools/ab.py spec.py [--trials N] [--rounds R] [--conf k=v ...]

Arms are either corpus queries by name (``operators.QUERIES``) or a spec
file's ``build_a(spark, sf_dir)`` and ``build_b(spark, sf_dir)``, each
returning a DataFrame. Every round runs each arm ``--trials`` + 1
times; an arm's very first run is its first-exec, every later run a
steady one. Odd rounds reverse the arm order, so no arm always runs
right after the same other arm. A spec's two arms must also return the
same rows.

The session is a fresh JVM warmed like ``bench.py`` (bench.warm_session),
so numbers are comparable to the bench's per-query regime. ``--conf``
overrides apply at session build, context-time confs included. Prints
one JSON line per arm: first, steady_min and every steady time, each
wall time beside the Spark JVM's CPU seconds over the same run
(``*_cpu``: utime + stime of the JVM process, JIT and GC threads
included). On a host whose cores are all busy, wall time hides work
an arm saves; CPU time does not.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, SF_DIR, _force, warm_session  # noqa: E402
from sparksql_server_spark import get_session  # noqa: E402
from sparksql_server_spark.catalog import register_tables  # noqa: E402
from sparksql_server_spark.operators import QUERIES  # noqa: E402


def _spec_arms(path: str) -> dict:
    spec = importlib.util.spec_from_file_location("abspec", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return {"a": mod.build_a, "b": mod.build_b}


def _jvm_cpu(pid: int) -> float:
    """CPU seconds (user + system) the process ``pid`` has used."""
    with open(f"/proc/{pid}/stat") as fh:
        # fields after the parenthesized command name; utime and stime
        # are fields 14 and 15 of the whole line
        fields = fh.read().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _timed(build, spark) -> tuple[float, float]:
    """Wall seconds and JVM CPU seconds of one run of ``build``."""
    pid = spark.sparkContext._gateway.proc.pid
    c0, t0 = _jvm_cpu(pid), time.monotonic()
    _force(build(spark, SF_DIR))
    return round(time.monotonic() - t0, 3), round(_jvm_cpu(pid) - c0, 3)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("targets", nargs="+", help="query names, or one spec .py")
    ap.add_argument("--trials", type=int, default=3, help="steady runs per round")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    args = ap.parse_args(argv)
    is_spec = len(args.targets) == 1 and args.targets[0].endswith(".py")
    arms = (
        _spec_arms(args.targets[0])
        if is_spec
        else {name: QUERIES[name] for name in args.targets}
    )
    conf = dict(kv.partition("=")[::2] for kv in args.conf)

    spark = get_session("ab", cpus=CPUS, extra_conf=conf or None)
    register_tables(spark, SF_DIR)
    warm_session(spark)

    first: dict[str, tuple[float, float]] = {}
    steady: dict[str, list[tuple[float, float]]] = {k: [] for k in arms}
    for rnd in range(args.rounds):
        for arm in list(arms)[:: 1 if rnd % 2 == 0 else -1]:
            run = _timed(arms[arm], spark)
            if arm in first:
                steady[arm].append(run)
            else:
                first[arm] = run
            steady[arm].extend(_timed(arms[arm], spark) for _ in range(args.trials))
    for arm in arms:
        wall = [w for w, _ in steady[arm]]
        cpu = [c for _, c in steady[arm]]
        out = {"first": first[arm][0], "first_cpu": first[arm][1],
               "steady_min": min(wall, default=None),
               "steady_cpu_min": min(cpu, default=None),
               "steady_all": wall, "steady_cpu_all": cpu}
        print(json.dumps({arm: out}), flush=True)
    if is_spec:
        da, db = (arms[k](spark, SF_DIR) for k in ("a", "b"))
        ra, rb = sorted(map(tuple, da.collect())), sorted(map(tuple, db.collect()))
        print(json.dumps({"rows_equal": ra == rb, "n_a": len(ra), "n_b": len(rb),
                          "cols_equal": da.columns == db.columns}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
