package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.Ann
import graft.SparkEntry.t
import graft.queries.SharedSql.duckCos

/** Registry queries of graph analytics over the edge table. Each query
  * registers with its oracle right after its body.
  */
private[graft] object GraphQueries extends QueryFamily {

  /** PageRank over the customer→supplier trade graph (3 power iterations,
    * d = 0.85) — iterative graph centrality with decimal-exact contribution
    * sums ([[graft.operators.Graph.pageRank]]); top-100 nodes. Customer ids
    * are offset by 10^9 so the two key spaces cannot collide.
    */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") + lit(1000000000L)).as("src"), col("l_suppkey").as("dst"))
    graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3)
      .select(col("id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("id").asc)
      .limit(100)
  }
  // 3 unrolled power iterations; contributions summed in DECIMAL(38,18)
  // (associative-exact), so ranks replay bit-identically
  query("q_pagerank", pageRankQ,
    """WITH e AS (
      |  SELECT DISTINCT o_custkey + 1000000000 AS src, l_suppkey AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |), deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM n),
      |c1 AS (SELECT e.dst, SUM(CAST(r0.rank / deg.outdeg AS DECIMAL(38,18))) AS s
      |       FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
      |r1 AS (SELECT n.id, (1.0 - 0.85) + 0.85 * COALESCE(CAST(c1.s AS DOUBLE), 0.0) AS rank
      |       FROM n LEFT JOIN c1 ON c1.dst = n.id),
      |c2 AS (SELECT e.dst, SUM(CAST(r1.rank / deg.outdeg AS DECIMAL(38,18))) AS s
      |       FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
      |r2 AS (SELECT n.id, (1.0 - 0.85) + 0.85 * COALESCE(CAST(c2.s AS DOUBLE), 0.0) AS rank
      |       FROM n LEFT JOIN c2 ON c2.dst = n.id),
      |c3 AS (SELECT e.dst, SUM(CAST(r2.rank / deg.outdeg AS DECIMAL(38,18))) AS s
      |       FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY e.dst),
      |r3 AS (SELECT n.id, (1.0 - 0.85) + 0.85 * COALESCE(CAST(c3.s AS DOUBLE), 0.0) AS rank
      |       FROM n LEFT JOIN c3 ON c3.dst = n.id)
      |SELECT id, round(rank, 6) AS rank FROM r3
      |ORDER BY rank DESC, id LIMIT 100""".stripMargin)

  /** Per-vertex triangle counts on the symmetrized k-NN-5 embedding graph
    * (the q_knn_graph edge set) — the local-density signal clustering
    * pipelines read off a neighborhood graph: a vertex on many triangles
    * sits inside a tight semantic cluster, one on none is a hub or an
    * outlier. The k-NN build bounds the graph (n·k edges, sparse at any
    * scale — unlike a co-occurrence projection, which saturates to a
    * near-clique as SF grows); the count itself is the degree-ordered
    * wedge join ([[graft.operators.Graph.triangleCounts]]).
    */
  private def triangleCountQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val knn = Ann.knnGraph(emb.filter(col("vec_id") < 200), emb, "vec_id",
      "embedding", k = 5)
    graft.operators.Graph.triangleCounts(knn, "src", "dst")
  }
  // triangle counts: the q_knn_graph CTE rebuilt exactly, symmetrized to
  // a<b undirected edges, then the textbook ordered triangle join —
  // e1(a,b), e2(a,c) b<c, closed by e3(b,c) — counts each triangle once;
  // corners exploded for per-vertex totals. The engine's degree-ordered
  // wedge algorithm must reproduce this exact-join answer.
  query("q_triangle_count", triangleCountQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 200 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM r WHERE rn <= 5
       |), tri AS (
       |  SELECT e1.a AS p, e1.b AS q, e2.b AS r
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
       |)
       |SELECT v, CAST(count(*) AS BIGINT) AS triangles
       |FROM (SELECT unnest([p, q, r]) AS v FROM tri) GROUP BY v""".stripMargin)

  /** Link prediction on the same symmetrized k-NN-5 embedding graph as
    * [[triangleCountQ]]: non-adjacent two-hop pairs ranked by
    * common-neighbor count and the resource-allocation index
    * ([[graft.operators.Graph.linkPredict]]) — the "which similarity edges
    * is the graph missing" second-pass candidate generator. RA credits are
    * exact integer picocredits (10^12 div deg), so the score replays
    * bit-for-bit on any engine.
    */
  private def linkPredictQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val knn = Ann.knnGraph(emb.filter(col("vec_id") < 200), emb, "vec_id",
      "embedding", k = 5)
    graft.operators.Graph.linkPredict(knn, "src", "dst", maxDeg = 64)
  }
  // link prediction: the same knn CTE symmetrized, degrees from the
  // both-ways adjacency, centers pruned at deg > 64 (part of the
  // semantics, replayed), wedges u < v through each surviving center,
  // RA credit = 10^12 // deg (truncating integer division — exact on
  // both engines), existing edges removed by NOT EXISTS on (a, b)
  query("q_link_predict", linkPredictQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 200 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM r WHERE rn <= 5
       |), adj AS (
       |  SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e
       |), deg AS (
       |  SELECT w AS v, COUNT(*) AS d FROM adj GROUP BY w
       |), aw AS (
       |  SELECT adj.w, adj.n, deg.d FROM adj JOIN deg ON deg.v = adj.w
       |  WHERE deg.d <= 64
       |), wdg AS (
       |  SELECT x.n AS u, y.n AS v, x.d
       |  FROM aw x JOIN aw y ON x.w = y.w AND x.n < y.n
       |), cand AS (
       |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
       |    CAST(SUM(1000000000000 // d) AS BIGINT) AS ra_pico
       |  FROM wdg GROUP BY u, v
       |)
       |SELECT u, v, common_neighbors, ra_pico FROM cand
       |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cand.u AND e.b = cand.v)""".stripMargin)

  /** Global transitivity (clustering coefficient) of the same k-NN-5
    * similarity graph as [[triangleCountQ]]: 3·triangles / wedges, both
    * EXACT integers (Σ per-vertex triangle counts = 3T from the
    * degree-ordered wedge join; Σ deg·(deg−1) = 2W from the degree
    * census), one final double division — the one-number "are similar
    * documents similar to each other" cohesion gate next to
    * [[assortativityQ]]'s mixing gate.
    */
  private def transitivityQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val knn = Ann.knnGraph(emb.filter(col("vec_id") < 200), emb, "vec_id",
      "embedding", k = 5)
    // und duplicates Graph.triangleCounts' internal symmetrization EXPRESSION
    // FOR EXPRESSION (same least/greatest projection, same =!=/isNotNull
    // filter), and the t3 branch passes the RAW knn so triangleCounts builds
    // that identical subtree itself: only canonically equal subtrees let AQE
    // reuse und's exchange between the t3 and w2 branches. The previous
    // shape (own `a =!= b`-only und, re-wrapped inside triangleCounts)
    // collapsed into a filter carrying BOTH predicate generations — never
    // canonically equal to the w2 side — so the brute-force kNN executed
    // TWICE per run (plan-audited: two BroadcastNestedLoopJoin +
    // ObjectHashAggregate chains in plans/r18/q_transitivity_before.txt,
    // one + ReusedExchange after).
    val und = knn.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val t3 = graft.operators.Graph.triangleCounts(knn, "src", "dst")
      .agg(sum(col("triangles")).as("t3"))
    val w2 = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(sum(col("d") * (col("d") - 1L)).as("w2"))
    t3.crossJoin(w2).select(col("t3"), col("w2"),
      // an edgeless/starless graph has zero wedges: NULL, not Infinity
      when(col("w2") > 0L,
        round(lit(2.0) * col("t3").cast("double") / col("w2").cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("transitivity"))
  }
  // transitivity: the triangle CTE counts each triangle once at its
  // min-id corner (t3 = 3T); wedges from the exact degree census
  query("q_transitivity", transitivityQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 200 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM r WHERE rn <= 5
       |), tri AS (
       |  SELECT e1.a AS p, e1.b AS q, e2.b AS r
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
       |), t3 AS (SELECT CAST(3 * COUNT(*) AS BIGINT) AS t3 FROM tri),
       |adj AS (SELECT a AS w FROM e UNION ALL SELECT b FROM e),
       |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY 1),
       |w2 AS (SELECT CAST(SUM(d * (d - 1)) AS BIGINT) AS w2 FROM deg)
       |SELECT t3, w2,
       |  CASE WHEN w2 > 0 THEN round(2.0 * CAST(t3 AS DOUBLE) / CAST(w2 AS DOUBLE), 6)
       |  ELSE NULL END AS transitivity
       |FROM t3 CROSS JOIN w2""".stripMargin)

  /** Degree assortativity ([[graft.operators.Graph.degreeAssortativity]])
    * of the same symmetrized k-NN-5 graph as [[linkPredictQ]]: one row of
    * exact BIGINT moment sums plus Newman's r — the similarity-graph health
    * gate (r near +1 means duplicates are clique-ing; strongly negative
    * means hubs dominate and the k-NN lists need a mutual filter).
    */
  private def assortativityQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val knn = Ann.knnGraph(emb.filter(col("vec_id") < 200), emb, "vec_id",
      "embedding", k = 5)
    graft.operators.Graph.degreeAssortativity(knn, "src", "dst")
  }
  // degree assortativity: the link-predict knn CTE symmetrized, exact
  // BIGINT moment sums over the both-ways stub list, Newman's r as one
  // left-to-right double expression over those integers
  query("q_assortativity", assortativityQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 200 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), e AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM r WHERE rn <= 5
       |), adj AS (
       |  SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e
       |), deg AS (
       |  SELECT w AS v, COUNT(*) AS d FROM adj GROUP BY w
       |), st AS (
       |  SELECT dx.d AS dx, dy.d AS dy
       |  FROM adj JOIN deg dx ON dx.v = adj.w JOIN deg dy ON dy.v = adj.n
       |), s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS m2, CAST(SUM(dx) AS BIGINT) AS sx,
       |    CAST(SUM(dx*dy) AS BIGINT) AS sxy, CAST(SUM(dx*dx) AS BIGINT) AS sx2
       |  FROM st
       |)
       |SELECT m2, sx, sxy, sx2,
       |  CASE WHEN m2*sx2 - sx*sx = 0 THEN NULL ELSE
       |    round((CAST(m2 AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) /
       |          (CAST(m2 AS DOUBLE)*CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6)
       |  END AS assortativity
       |FROM s""".stripMargin)

  /** 3-hop BFS reach over the co-purchase part graph
    * ([[graft.operators.Graph.bfsHops]]): edges are part pairs sharing ≥ 2
    * orders, seeded at the best-connected part (max degree, smallest-key
    * tie-break) so the walk explores the graph's densest component.
    */
  private def bfsReachQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val items = li.distinct()
    val edges = items.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("__arr"))
      // the HOF pair generator is KEPT here (r14 A/B): swapping in the
      // native PairCombos — the q_basket_triples win — re-planned the
      // query from 12 to 19 jobs and wall 1.8 → 2.2 s at sf0.1. Order
      // baskets average ~4 items, so the per-element re-slice overhead
      // PairCombos removes is negligible; the profiled cost lives in the
      // distinct + collect_set shuffles (data), not the lambda (PERF.md)
      .select(explode(expr(
        """flatten(transform(__arr, (x, i) ->
          |  transform(slice(__arr, i + 2, size(__arr)), y ->
          |    struct(x AS p1, y AS p2))))""".stripMargin)).as("__pr"))
      .select(col("__pr.p1").as("p1"), col("__pr.p2").as("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select(col("p1"), col("p2"))
    val seeds = edges.select(col("p1").as("node"))
      .union(edges.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__deg"))
      .orderBy(col("__deg").desc, col("node")).limit(1)
      .select(col("node"))
    graft.operators.Graph.bfsHops(edges, "p1", "p2", seeds, "node", maxHops = 3)
  }
  query("q_bfs_reach", bfsReachQ,
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT a.l_partkey AS s, b.l_partkey AS d
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
      |walk(node, hops) AS (
      |  (SELECT s, 0 FROM e GROUP BY s ORDER BY count(*) DESC, s LIMIT 1)
      |  UNION
      |  SELECT e.d, w.hops + 1 FROM walk w JOIN e ON e.s = w.node WHERE w.hops < 3)
      |SELECT node, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY 1""".stripMargin)
}
