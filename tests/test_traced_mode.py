"""The front-door benchmark's traced mode (``perfbench/run.py --trace
1``) wraps server methods by name. Installing and uninstalling its
patches against the live classes here makes a rename of a wrapped name
fail this suite, not only a traced benchmark run."""

from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


@pytest.fixture
def spans():
    sys.path.insert(0, PERFBENCH)
    try:
        import spans as mod

        yield mod
    finally:
        sys.path.remove(PERFBENCH)


def _attrs(owners) -> dict:
    return {(o, k): v for o in owners for k, v in dict(vars(o)).items()}


def test_install_wraps_live_names_and_uninstall_restores_them(spans):
    from pyspark.sql import SparkSession

    from sparksql_server_spark.plans import analysis
    from sparksql_server_spark.server import scheduler
    from sparksql_server_spark.server.batcher import WindowBatcher
    from sparksql_server_spark.server.cache import CacheManager
    from sparksql_server_spark.server.results import ResultCache
    from sparksql_server_spark.server.scheduler import BatchExecutor
    from sparksql_server_spark.server.server import WorkSharingServer

    owners = (
        WorkSharingServer, SparkSession, WindowBatcher, BatchExecutor,
        CacheManager, ResultCache, scheduler, analysis,
    )
    before = _attrs(owners)
    counters, tracer = spans.RunCounters(), spans.Tracer()
    counters.install()
    tracer.install()
    try:
        during = _attrs(owners)
    finally:
        tracer.uninstall()
        counters.uninstall()
    patched = {key for key, value in during.items() if value is not before.get(key)}
    for key in (
        (BatchExecutor, "analyze"),
        (BatchExecutor, "run_batch"),
        (ResultCache, "key"),
        (ResultCache, "key_root"),
        (WorkSharingServer, "handle_request"),
        (scheduler, "scan_nodes"),
        (scheduler, "detect_sharing"),
        (CacheManager, "ensure_cached"),
        (CacheManager, "should_cache"),
        (scheduler, "plan_merges"),
        (ResultCache, "get"),
        (ResultCache, "put"),
    ):
        assert key in patched, key
    after = _attrs(owners)
    assert after.keys() == before.keys()
    assert [k for k in before if after[k] is not before[k]] == []


def test_run_counters_count_one_real_build(spans, spark):
    """The always-on build counter wraps ``ensure_cached`` by its
    signature: one real build over a tiny table counts once, and a
    second call that finds the entry counts nothing."""
    from sparksql_server_spark.catalog import _dir_bytes, register_tables
    from sparksql_server_spark.server.cache import CacheManager
    from tests.conftest import SF_DIR

    register_tables(spark, SF_DIR, ("region",))
    src = SF_DIR + "/region.parquet"
    cm = CacheManager(spark, min_bytes=0)
    counters = spans.RunCounters()
    counters.install()
    try:
        assert cm.ensure_cached(src, "region", _dir_bytes(src), "parquet")
        assert cm.ensure_cached(src, "region", _dir_bytes(src), "parquet")
    finally:
        counters.uninstall()
        cm.clear()
    assert counters.builds == 1
