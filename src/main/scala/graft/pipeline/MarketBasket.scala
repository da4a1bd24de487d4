package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Market-basket association mining over the order/lineitem star: top part
  * pairs co-occurring in an order, with support / confidence / lift — the
  * classic affinity surface (and, for a training-data engine, the shape of
  * any "items co-occurring in a context" count: tag pairs, tool pairs,
  * co-cited docs).
  *
  * Scale shape: the pair generator is a SELF-JOIN on l_orderkey over the
  * DISTINCT (order, part) frame — Catalyst co-partitions both sides on the
  * join key, so the pair fan-out is local to each order's partition and
  * bounded by Σ C(basket_size, 2), never corpus². The `p1 < p2` guard
  * emits each unordered pair once. Pair counts partial-aggregate map-side;
  * the top-k is TakeOrderedAndProject (count desc, pair tiebreak — fully
  * deterministic); and the per-part order frequencies join back against
  * the BROADCAST top-k frame (scan the parts frame once, never shuffle it
  * against pairs). All probabilities are exact-integer quotients with one
  * shared final text.
  */
object MarketBasket extends graft.OperatorModule {

  val TopPairs = 20

  /** Candidate-side ceiling per order for the pair self-join — the basket
    * twin of [[Similarity.MaxSearchBucket]] (round-15 verdict item 5):
    * the op self-join is co-partitioned and bounded by Σ C(basket, 2) on
    * healthy data, but one pathological MEGA-BASKET of B parts is the
    * same B² class the LSH/ANN guards cap. The LOWER-key side keeps only
    * the cap smallest part keys per order ([[Similarity.capCandidatesBy]]
    * ladder: structurally absent when the lineitem footer count — an
    * upper bound on any basket — fits the cap; armed with an empty hot
    * set otherwise), so a mega-basket emits B×cap pairs, every part
    * still appears on the b side, and only pairs BOTH of whose members
    * sit above the cap inside one order are lost from the census. */
  val MaxBasketSide = 10000L

  /** Top co-occurring part pairs with support, confidence (p(b|a)) and
    * lift. Output: part_a, part_b, n_orders_both, n_orders_a, n_orders_b,
    * support, confidence, lift — ordered by (n_orders_both desc, pair).
    * `cap` overrides [[MaxBasketSide]] (tests plant small mega-baskets;
    * the arming logic is cap-independent). */
  def basketPairs(spark: SparkSession, dir: String,
      cap: Long = MaxBasketSide): DataFrame = {
    // the distinct basket frame feeds FOUR subtrees (both self-join sides,
    // the item frequencies, the order count) whose exchanges share no key,
    // so without a cache the fact scan + distinct would execute once per
    // subtree (the minhash_lsh signature-frame discipline)
    val op = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .cache()
    val nOrders = op.agg(countDistinct(col("ok")).as("n_orders"))
    val itemFreq = op.groupBy(col("pk")).agg(count(lit(1)).as("n_ord"))
    // lower-key side carries the per-order candidate cap; sizeBound = one
    // lineitem footer count (≥ any basket's membership), so the guard is
    // plan-absent whenever the whole fact table fits the cap. The eager
    // cached-frame materialization doubles as the stampede barrier for
    // op's four concurrent consumers.
    val top = Similarity.capCandidatesBy(op, Seq("ok"), "pk", cap,
        sizeBound = table(spark, dir, "lineitem").count())
      .as("a").join(op.as("b"), "ok")
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_orders_both"))
      .orderBy(col("n_orders_both").desc, col("part_a"), col("part_b"))
      .limit(TopPairs)
    val withA = itemFreq.join(broadcast(top), col("pk") === col("part_a"))
      .select(col("part_a"), col("part_b"), col("n_orders_both"), col("n_ord").as("n_orders_a"))
    itemFreq.withColumnRenamed("n_ord", "n_orders_b")
      .join(broadcast(withA), col("pk") === col("part_b"))
      .drop("pk")
      .crossJoin(broadcast(nOrders))
      .selectExpr(
        "part_a", "part_b", "n_orders_both", "n_orders_a", "n_orders_b",
        "ROUND(n_orders_both * 1e0 / n_orders, 6) AS support",
        "ROUND(n_orders_both * 1e0 / n_orders_a, 6) AS confidence",
        "ROUND((n_orders_both * 1e0 / n_orders) / ((n_orders_a * 1e0 / n_orders) * (n_orders_b * 1e0 / n_orders)), 6) AS lift")
      .orderBy(col("n_orders_both").desc, col("part_a"), col("part_b"))
  }

  def basketPairsSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
       |freq AS (SELECT pk, COUNT(*) AS n_ord FROM op GROUP BY 1),
       |top AS (SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders_both
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 ORDER BY n_orders_both DESC, part_a, part_b LIMIT $TopPairs)
       |SELECT part_a, part_b, n_orders_both, fa.n_ord AS n_orders_a, fb.n_ord AS n_orders_b,
       |  ROUND(n_orders_both * 1e0 / n_orders, 6) AS support,
       |  ROUND(n_orders_both * 1e0 / fa.n_ord, 6) AS confidence,
       |  ROUND((n_orders_both * 1e0 / n_orders) / ((fa.n_ord * 1e0 / n_orders) * (fb.n_ord * 1e0 / n_orders)), 6) AS lift
       |FROM top JOIN freq fa ON part_a = fa.pk JOIN freq fb ON part_b = fb.pk, n
       |ORDER BY n_orders_both DESC, part_a, part_b""".stripMargin.replace("\n", " ")

  /** Minimum co-occurrence support for an affinity-graph edge. */
  val MinSupport = 2

  /** Triangle census of the part-affinity graph: nodes are parts, edges are
    * pairs co-occurring in ≥ [[MinSupport]] orders, output is the 1-row
    * graph summary (nodes, edges, triangles, connected triples, global
    * transitivity) — the clustering signal, and the graph operator class
    * (multi-way self-join) beyond the engine's connected components.
    * `n_triads` counts ALL connected triples — Σ C(deg, 2) over nodes,
    * closed ones included — which is exactly the denominator transitivity
    * 3·Δ/triples wants (each triangle contributes three closed triples);
    * it is NOT the open-triple (path-only) count.
    *
    * Scale shape: the support filter collapses the raw pair graph ~300×
    * before any triangle work (observed 1.2M raw pairs → 3.6k edges at
    * sf0.1) — the standard pre-filter that makes distributed triangle
    * counting tractable; each edge carries x < y so the e1⋈e2⋈e3 chain
    * enumerates every triangle exactly once; both joins are edge-keyed
    * equi-joins; degrees/triads come from one union-side aggregate. */
  def affinityTriangles(spark: SparkSession, dir: String): DataFrame = {
    val op = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = op.as("a").join(op.as("b"), "ok")
      .filter(col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("x"), col("b.pk").as("y"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinSupport)
      .select("x", "y")
      .cache() // feeds degrees + three join sides
    val deg = e.select(col("x").as("v")).unionAll(e.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_triads"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1").join(e.as("e2"), col("e1.y") === col("e2.x"))
      .join(e.as("e3"), col("e1.x") === col("e3.x") && col("e2.y") === col("e3.y"))
      .agg(count(lit(1)).as("n_triangles"))
    degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .selectExpr("n_nodes", "n_edges", "n_triangles", "n_triads",
        "ROUND(CASE WHEN n_triads > 0 THEN 3e0 * n_triangles / n_triads ELSE 0e0 END, 6) AS transitivity")
  }

  def affinityTrianglesSql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (SELECT a.pk AS x, b.pk AS y FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport),
       |deg AS (SELECT v, COUNT(*) AS d FROM (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e) u GROUP BY 1),
       |s AS (SELECT (SELECT COUNT(*) FROM deg) AS n_nodes, (SELECT COUNT(*) FROM e) AS n_edges,
       |  (SELECT COUNT(*) FROM e e1 JOIN e e2 ON e1.y = e2.x
       |     JOIN e e3 ON e1.x = e3.x AND e2.y = e3.y) AS n_triangles,
       |  (SELECT SUM(d * (d - 1) // 2)::BIGINT FROM deg) AS n_triads)
       |SELECT n_nodes, n_edges, n_triangles, n_triads,
       |  ROUND(CASE WHEN n_triads > 0 THEN 3e0 * n_triangles / n_triads ELSE 0e0 END, 6) AS transitivity
       |FROM s""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "basket_pairs" -> ((s, d) => basketPairs(s, d)),
    "affinity_triangles" -> ((s, d) => affinityTriangles(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "basket_pairs" -> basketPairsSql,
    "affinity_triangles" -> affinityTrianglesSql,
  )
}
