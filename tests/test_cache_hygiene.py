"""Block-manager hygiene gate (VERDICT r3, "What's wrong" #1).

Operators that cache / localCheckpoint intermediates must release every
scoped block before returning: in the multi-tenant server the
CacheManager (`server/cache.py`) budgets block-manager storage, and an
anonymous operator cache surviving its query would compete with that
budget invisibly. The gate: collect the result, then assert that NO
persistent RDD created by the operator remains registered.
"""

from __future__ import annotations

import pytest

from sparksql_server_spark.operators import QUERIES
from sparksql_server_spark.operators.scratch import (
    CacheScope,
    persistent_rdd_ids,
    pin_view,
    unpersist_ids,
)

from conftest import SF_DIR

# operators whose loop/build caches are fully scoped to one call
# (CacheScope-released at finish); since r13 their RESULT survives as
# exactly one pinned relation (CacheScope.finish_pin — the parquet
# round trip measured slower in both regimes), so the gate is now
# "exactly the one result pin, nothing else" — the loop caches, band
# pins and build-side caches must all still be gone
CACHING_QUERIES = [
    "graph_pagerank_entities",
    "dedup_clusters",
    "dedup_prefix_filter_join",
]


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_only_the_result_pin_survives_query(spark, name):
    before = persistent_rdd_ids(spark)
    df = QUERIES[name](spark, SF_DIR)
    rows = df.collect()
    assert rows  # non-degenerate: the operator actually produced output
    leaked = persistent_rdd_ids(spark) - before
    assert len(leaked) == 1, (
        f"{name}: expected exactly the finish_pin result, got {leaked}"
    )


def test_cache_scope_releases_only_its_own(spark):
    """A scope must not touch caches created before it opened (the
    server's CacheManager entries)."""
    outside = spark.range(100).cache()
    outside.count()
    try:
        scope = CacheScope(spark)
        inside = spark.range(50).cache()
        inside.count()
        result = scope.finish(inside.selectExpr("id", "id * 2 AS twice"), "scope_test")
        assert result.count() == 50
        ids_now = persistent_rdd_ids(spark)
        assert scope.new_ids() == set()  # everything scoped was released
        # the pre-existing cache is untouched
        assert outside.storageLevel.useMemory
        assert ids_now  # outside's RDD still registered
    finally:
        outside.unpersist()


def test_finish_pin_keeps_pins_made_inside_its_scope(spark):
    """finish_pin releases the scope's own caches, not a relation that
    pin_view registered while the scope was open."""
    scope = CacheScope(spark)
    inner = pin_view(spark, spark.range(30), "scope_inner_pin")
    pins = {int(inner._jdf.queryExecution().analyzed().rdd().id())}
    before_build = persistent_rdd_ids(spark)
    build = spark.range(40).cache()
    build.count()
    build_ids = persistent_rdd_ids(spark) - before_build
    try:
        out = scope.finish_pin(build.selectExpr("id * 3 AS x"), "scope_outer_pin")
        pins.add(int(out._jdf.queryExecution().analyzed().rdd().id()))
        assert out.count() == 40
        live = persistent_rdd_ids(spark)
        assert pins <= live
        assert build_ids and not build_ids & live
    finally:
        unpersist_ids(spark, pins)
        spark.catalog.dropTempView("scope_inner_pin")
        spark.catalog.dropTempView("scope_outer_pin")


# operators that deliberately keep ONE pinned relation alive across
# calls (the production-artifact pattern: the view IS the output a
# pipeline would reuse) — bounded via scratch.pin_view, which
# unpersists the predecessor the moment the view is replaced
PIN_VIEW_QUERIES = [
    ("dedup_lsh_eval_pr", "lsh_eval_sh_mat"),
    ("text_tfidf_topterms", "tfidf_tf_mat"),
    # r13: the shared kept-shingle relation moved from a parquet spill
    # to a pin (measured faster in both regimes; see
    # _shingle_kept_materialized) — same one-live-copy bound
    ("dedup_ngram_jaccard", "jacc_kept_mat"),
    ("dedup_shingle_containment", "cont_kept_mat"),
    # r13: CacheScope.finish -> finish_pin adopters (per-operator
    # interleaved A/Bs: tools/ab_inline.py tools/specs/finish_pin.py, both
    # in commit 16a0a24)
    ("agg_hll_running_distinct", "hll_running_mat"),
    ("dedup_simhash_pairs", "simhash_sig_mat"),
    ("tpch_q15_top_supplier", "q15_revenue"),
    ("dedup_winnowing", "winnowing_mat"),
    ("dedup_prefix_filter_join", "dedup_ppjoin_mat"),
    ("dedup_semdedup_cells", "semdedup_cell_mat"),
    ("dedup_clusters", "dedup_clusters_mat"),
    ("graph_pagerank_entities", "graph_pagerank_mat"),
    ("graph_triangle_count", "graph_triangles_mat"),
    ("quality_boilerplate_density", "boiler_sh_mat"),
]


@pytest.mark.parametrize("name,view", PIN_VIEW_QUERIES)
def test_pin_view_holds_at_most_one_copy_across_runs(spark, name, view):
    """Re-running a pin_view operator must not accumulate blocks: the
    second run's view replacement releases the first run's pin
    DETERMINISTICALLY (no ContextCleaner/GC timing involved)."""
    before = persistent_rdd_ids(spark)
    assert QUERIES[name](spark, SF_DIR).collect()
    after_first = persistent_rdd_ids(spark) - before
    assert len(after_first) == 1, f"{name}: expected exactly one pin, got {after_first}"
    assert QUERIES[name](spark, SF_DIR).collect()
    after_second = persistent_rdd_ids(spark) - before
    assert len(after_second) == 1, (
        f"{name}: second run must replace, not accumulate ({after_second})"
    )
    assert after_second != after_first  # it is the NEW pin that survives
    spark.catalog.dropTempView(view)
