"""Graph analytics over the order network (customers ↔ suppliers).

Web-graph centrality is a standard quality signal in large-scale
training-data curation (link-based page importance feeds crawl
filtering), and the reference's engine could run arbitrary iterative
client jobs (SURVEY.md Layer-A note). Here: PageRank as a
FIXED-ITERATION power method — deterministic straight-line dataflow,
so the DuckDB oracle is the identical unrolled SQL, no recursion.

Graph: node per active customer and supplier; an edge each way for
every distinct (customer, supplier) trade pair in orders ⋈ lineitem.
Customer node id = 2·custkey, supplier id = 2·suppkey+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparksql_server_spark.catalog import register_tables
from sparksql_server_spark.operators.registry import query
from sparksql_server_spark.operators.scratch import CacheScope

_DAMP = 0.85
_ITERS = 3


def _pagerank_sql() -> str:
    """Unrolled power iteration — dialect-neutral SQL (runs verbatim on
    Spark and DuckDB). r_{k+1}(v) = (1-d)/N + d·Σ_{u→v} r_k(u)/deg(u);
    every node has both in- and out-edges (edges are bidirectional) so
    there is no dangling mass."""
    prev = "r0"
    iters = []
    for k in range(1, _ITERS + 1):
        iters.append(
            f"""r{k} AS (
  SELECT e.dst AS node,
         (1.0 - {_DAMP}) / min(nn.n) + {_DAMP} * sum(p.rank / d.outdeg) AS rank
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.src = e.src
  CROSS JOIN n nn
  GROUP BY e.dst)"""
        )
        prev = f"r{k}"
    unrolled = ",\n".join(iters)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
edges AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN n nn),
{unrolled}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       rank
FROM {prev}
ORDER BY node
"""


@query("graph_pagerank_entities", oracle=_pagerank_sql())
def graph_pagerank_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the trade graph, 3 power iterations, damping 0.85.

    Spark-first iterative dataflow: the degree-weighted edge relation
    builds and CACHES once, partitioned and sorted by src, so each
    iteration's join is co-located against the cached blocks and only
    the small rank vector shuffles; the rank update is then ONE join +
    keyed aggregation per iteration, and the full-graph scalar N is a
    single count off the cached degree table, baked into the update as
    a literal (scalar-only collect, the dedup_clusters convention —
    row data never reaches the driver).
    Output is every node's rank — no top-k cutoff, so float tie-order
    at a cutoff boundary can never flip membership cross-engine.

    Cache hygiene: the per-query caches (pair relation, degree-weighted
    edges) live inside a CacheScope — the final rank vector spills to a
    result-sized scratch checkpoint and every scoped block is
    unpersisted before return, so nothing competes with the server's
    CacheManager budget after the operator finishes.

    Reference parity: the engine ran arbitrary iterative client DAGs
    (stock Spark examples incl. SparkPageRank ship in the reference
    tree); this is the DataFrame-native equivalent with an exact
    unrolled-SQL oracle.
    """
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    scope = CacheScope(spark)
    # cached: the join+distinct pipeline feeds the degree build, the
    # broadcast, and the edge probe — uncached each consumer would
    # recompute it
    pairs = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .cache()
    )
    # both directions in ONE pass (a UNION of two selects would scan
    # the pair relation twice)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
                ),
                F.struct(
                    (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # fold the degree into the edge relation ONCE — each iteration is
    # then a single join + keyed aggregation instead of two joins —
    # and persist it PARTITIONED AND SORTED BY src: InMemoryRelation
    # preserves its child's partitioning and ordering, so every
    # iteration's join consumes the cached blocks in place with no
    # exchange and no sort on the big side; only the |nodes|-sized
    # rank vector moves (measured 2.8 -> 1.9 s over the 3 iterations
    # at sf0.1 — and this IS the cluster-scale plan: the edge relation
    # never re-shuffles after the one co-locating partition pass).
    # r12 (guide §2.4): outdeg comes from a count window over src INSIDE
    # the same repartition — the separate deg groupBy exchange, its
    # cache, and the broadcast join the r11 form paid are gone (the
    # window rides the sort the co-locating pass already does; outdeg
    # values are the identical integer counts). Interleaved A/B at
    # sf0.1: first-exec 2.60 vs 7.83 s, steady within noise, rows
    # bit-identical.
    weighted = (
        edges.repartition(F.col("src"))
        .withColumn(
            "outdeg",
            F.count("*").over(Window.partitionBy("src")).cast("double"),
        )
        .sortWithinPartitions("src")
        .cache()
    )
    # every node has out-edges (edges are bidirectional), so the
    # weighted relation's src key set IS the node list — no 2|E|-row
    # distinct beyond this |nodes|-sized one off the cached blocks
    nodes = weighted.select(F.col("src").alias("node")).distinct()
    # one scalar count off the cached relation (the dedup_clusters
    # convention: scalars may collect; row data never does) — baking
    # (1-d)/N in as a literal saves a broadcast-materialization job
    # per iteration
    n_val = float(nodes.count())
    ranks = nodes.select("node", F.lit(1.0 / n_val).alias("rank"))
    # lineage discipline: each iteration composes join+agg onto the
    # ranks plan, so plan depth grows linearly with _ITERS. At the
    # pinned _ITERS=3 that is well inside Catalyst's comfort zone and a
    # localCheckpoint per round would only add latency; if _ITERS ever
    # grows past ~10, adopt dedup_clusters' convention (localCheckpoint
    # each round + generation-scoped unpersist) — the oracle's unrolled
    # SQL must be regenerated to match the same iteration count anyway,
    # which keeps the bound honest.
    # Round-9 floor measurement (VERDICT r8 ask #5; sf0.1, fresh
    # session, tools/opt_ab.py (commit 16a0a24) on one query): first-exec 9.99 s vs steady
    # 2.33 s. A/B'd the per-iteration pin (eager localCheckpoint of the
    # tiny rank vector, 3 flat plans instead of one 3-join plan):
    # MEASURED WORSE in both regimes — first 11.2/11.9 s, steady
    # 2.7-3.1 s — the deep plan's single Janino compile is cheaper than
    # three eager materialization barriers. The floor is therefore
    # real: one big whole-stage codegen + the two cache-building
    # shuffles (pairs distinct, weighted repartition), all
    # first-exec-only costs the steady run skips via the warm JIT.
    for _ in range(_ITERS):
        ranks = (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
            .select(
                F.col("dst").alias("node"),
                ((1.0 - _DAMP) / n_val + _DAMP * F.col("mass")).alias("rank"),
            )
        )
    result = ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("kind"),
        "rank",
    )
    # materialize while `weighted` is cached, then drop every scoped
    # block (no presentation sort: the result is |nodes|-sized —
    # corpus-proportional — and the driver's comparator is
    # order-insensitive)
    return scope.finish_pin(result, "graph_pagerank_mat")


@query(
    "graph_degree_distribution",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
cdeg AS (SELECT c, count(*) AS degree FROM pairs GROUP BY c),
sdeg AS (SELECT s, count(*) AS degree FROM pairs GROUP BY s),
all_deg AS (
  SELECT 'customer' AS kind, degree FROM cdeg
  UNION ALL
  SELECT 'supplier' AS kind, degree FROM sdeg)
SELECT kind, CAST(degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM all_deg GROUP BY kind, degree
ORDER BY kind, degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the trade graph by node kind — the standard
    first look at graph skew (a power-law tail here predicts the hub
    problem PageRank/CC mitigation needs: salting or high-degree
    vertex-cut at cluster scale).

    Scale: ONE pass over the distinct-pair relation — each pair
    explodes into its (customer, c) and (supplier, s) node rows, then
    one (kind, node) degree count and a histogram over the (small)
    degree table; nothing holds more than |nodes| rows. The r12
    union-of-two-aggregations form planned the join+distinct subtree
    twice (AQE stage reuse deduped the heavy exchange at runtime, so
    steady was equal, but both branches compiled and the union carried
    an extra shuffle): interleaved A/B at sf0.1 first-exec 1.55 vs
    3.38 s, steady 0.91/0.89 s wash, rows identical.
    """
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    pairs = (
        spark.table("orders")
        .join(spark.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    nodes = pairs.select(
        F.explode(
            F.array(
                F.struct(F.lit("customer").alias("kind"), F.col("c").alias("node")),
                F.struct(F.lit("supplier").alias("kind"), F.col("s").alias("node")),
            )
        ).alias("e")
    ).select("e.kind", "e.node")
    deg = nodes.groupBy("kind", "node").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("kind", F.col("degree").cast("bigint").alias("degree"))
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("kind", "degree")
    )


_TRI_SUPPORT = 2  # an edge needs >= this many shared orders
_TRI_TOP = 20


def _triangle_sql() -> str:
    """Dialect-neutral SQL (runs verbatim on Spark and DuckDB):
    co-purchase edges with min support, degree-ordered orientation,
    wedge join + closing-edge probe, per-node participation rollup."""
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING count(*) >= {_TRI_SUPPORT}),
deg AS (SELECT node, count(*) AS d
        FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs) t
        GROUP BY node),
oriented AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst
  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
und AS (SELECT src AS u, dst AS v FROM oriented
        UNION ALL SELECT dst, src FROM oriented),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
  JOIN und e3 ON e3.u = e1.dst AND e3.v = e2.dst),
per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) t
  GROUP BY node),
total AS (SELECT CAST(count(*) AS BIGINT) AS total_triangles FROM tri)
SELECT p.node AS part_id, p.n_triangles, t.total_triangles
FROM per_node p CROSS JOIN total t
ORDER BY p.n_triangles DESC, p.node
LIMIT {_TRI_TOP}
"""


@query("graph_triangle_count", oracle=_triangle_sql())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (edge = two
    parts sharing >= 2 orders) via the degree-ordered orientation
    algorithm: orient every edge from the (degree, id)-smaller node to
    the larger, enumerate wedges only from each triangle's unique
    minimum node, and close them with one edge probe — each triangle
    found exactly once, no post-hoc dedup. Reports the top parts by
    triangle participation (the clustering/community-density signal)
    plus the global count.

    Determinism: pure integer pipeline; total ORDER BY with id
    tiebreak.

    Scale: the classic bound — orientation caps per-node wedge
    fan-out at out-degree <= O(sqrt(m)) on any graph (arboricity
    argument), so the wedge join is sum of outdeg^2 instead of
    sum of deg^2, the quadratic hot-node blowup a naive neighbor
    join hits on power-law graphs. Edge building is the basket join
    blocked by order key with min-support HAVING pruning the
    long-tail pairs map-side; every join after that is a keyed
    equi-join on node ids (shuffle keys uniform after orientation —
    hot nodes become high IN-degree, which never fans out). At
    100 TB: persist `oriented` bucketed by src and both wedge-join
    sides co-locate shuffle-free.

    Cache hygiene: the expensive pair build feeds degree, both wedge
    sides, and the closing-edge probe — as a CTE Spark would re-expand
    it per consumer (measured 5x the work at sf0.1), so `pairs` and
    `oriented` cache inside a CacheScope and spill result-sized on
    finish; the DuckDB oracle keeps the single-statement CTE form,
    which DuckDB materializes once by itself.

    Round-10 first-exec floor measurement (VERDICT r9 ask #5; sf0.1,
    warmed fresh sessions, single-query tools/opt_ab.py (commit 16a0a24) regime): first
    9.24/11.42/9.25 s vs steady-min 2.55/2.38/1.55. Stage-isolated,
    the basket/HOF/pair stage owns ~2.2 s of the gap (4.55 first /
    2.31 steady alone); the orientation + wedge join + rollup rest
    owns ~4.9 s (7.14 first with pairs precompiled / 2.20 steady) —
    compile of the many distinct join/union/window stages, not data
    work. Candidate A/B'd: dropping the repartition(1) sizing stage is
    a WASH across 3 paired fresh-session trials (first means 8.04 vs
    7.72 s, steadies equal), so the sized cache stays. No plan change
    found that beats compile cost; floor documented.
    """
    register_tables(spark, sf_dir, ("lineitem",))
    scope = CacheScope(spark)
    # basket form: ONE groupBy(order) + map-side combination explode
    # replaces the items-distinct self-join (2 shuffles instead of 3,
    # and the lineitem scan runs once, not twice); collect_set +
    # sort_array gives u < v for free. Per-order blowup is C(k,2) with
    # k = parts per order — bounded by basket size, never by |parts|.
    baskets = (
        spark.table("lineitem")
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    # the support-filtered edge relation is result-sized (3.5k rows at
    # sf0.1, vs 600k lineitem) — repartition(1) sizes the cached
    # relation to its bytes so downstream stages schedule 1 task, not
    # 64 empty ones; at 100 TB swap for repartition(n, "u") bucketing
    # sized by |E|
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= _TRI_SUPPORT)
        .select("u", "v")
        .repartition(1)
        .cache()
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # degree table is node-sized -> broadcast both probes
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    keep = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        pairs.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(keep, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(keep, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .cache()
    )
    und = oriented.unionAll(oriented.select(F.col("dst"), F.col("src")))
    tri = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") < F.col("e2.dst")))
        .join(
            und.alias("e3"),
            (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c"))
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    # every triangle increments exactly 3 nodes, so the global count is
    # sum(n_triangles)/3 off per_node — one window over the (tiny)
    # participation table instead of a second evaluation of the wedge
    # join + a broadcast job
    result = per_node.withColumn(
        "total_triangles",
        (F.sum("n_triangles").over(Window.partitionBy()) / 3).cast("long"),
    ).select(F.col("node").alias("part_id"), "n_triangles", "total_triangles")
    return (
        scope.finish_pin(result, "graph_triangles_mat")
        .orderBy(F.desc("n_triangles"), "part_id")
        .limit(_TRI_TOP)
    )
