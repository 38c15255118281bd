package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches the hand-computed power iteration") {
    // 1→2, 1→3, 2→3, 3→1; d = 0.85, 2 iterations from rank 1.0:
    // it1: r1 = .15+.85·1 = 1.0, r2 = .15+.85·0.5 = 0.575, r3 = .15+.85·1.5 = 1.425
    // it2: r1 = .15+.85·1.425, r2 = .15+.85·0.5, r3 = .15+.85·(0.5+0.575)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (1L, 2L)) // dup edge dropped
      .toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.36125) < 1e-12)
    assert(math.abs(out(2L) - 0.575) < 1e-12)
    assert(math.abs(out(3L) - 1.06375) < 1e-12)
  }

  test("pageRank is bit-identical across layouts and reuses the edge exchange") {
    val edges = (1L to 500L).map(i => (i % 37, i % 11)).toDF("src", "dst")
    val a = Graph.pageRank(edges, "src", "dst", iterations = 3)
    val b = Graph.pageRank(edges.repartition(13), "src", "dst", iterations = 3)
    // decimal contribution sums ⇒ exact equality, not approximate
    val am = a.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bm = b.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(am === bm)
    // the recurring edge subtree must plan as ONE exchange, reused —
    // not a rescan per iteration
    assert(a.queryExecution.executedPlan.toString.contains("ReusedExchange"))
  }

  test("pageRank: sinks never contribute, pure sources floor at 1 − d") {
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst") // 2 is a sink
    val out = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val floor = 1.0 - 0.85 // NOT the literal 0.15 — a different double
    assert(out(1L) === floor && out(3L) === floor) // no inbound after it1
    assert(math.abs(out(2L) - (floor + 0.85 * (floor / 1 + floor / 1))) < 1e-12)
  }

  test("pageRank drops null-endpoint edges as if they were never there") {
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val nulls = Seq[(java.lang.Long, java.lang.Long)](
      (null, 2L), (1L, null), (null, null), (4L, null)) // 4 only ever has a null dst
    val withNulls = (clean.map { case (a, b) => (Long.box(a), Long.box(b)) } ++ nulls)
      .toDF("src", "dst")
    val rank = (df: org.apache.spark.sql.DataFrame) =>
      Graph.pageRank(df, "src", "dst", iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = rank(clean.toDF("src", "dst"))
    assert(expected.keySet === Set(1L, 2L, 3L))
    assert(rank(withNulls) === expected) // exact: decimal sums, no node 4, no null id
  }

  test("weightedSample equals a driver-side replay and is layout-independent") {
    val rows = (1L to 1000L).map(i => (i, (i % 10 + 1).toDouble))
    val df = rows.toDF("doc_id", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.weightedSample(d, "doc_id", col("w"), k = 100)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = run(df)
    assert(run(df.repartition(17)) === got)
    // exact replay of the race: u from the FNV bucket center, key = −ln(u)/w
    val replay = rows.map { case (id, w) =>
      val h = graft.expressions.Fnv1a.hash(s"ws|$id".getBytes("UTF-8"))
      val bucket = ((h % 16777216) + 16777216) % 16777216
      val u = (bucket.toDouble + 0.5) / 16777216.0
      (id, -math.log(u) / w)
    }.sortBy { case (id, k) => (k, id) }.take(100).map(_._1).toSet
    assert(got === replay)
    // heavier rows win more often: weight-10 class beats weight-1 class
    val byWeight = got.groupBy(id => id % 10 + 1).view.mapValues(_.size).toMap
    assert(byWeight.getOrElse(10L, 0) > byWeight.getOrElse(1L, 0))
  }

  test("triangleCounts: hand graph, direction/dup-invariance, and the naive triple-join parity") {
    // K4 on {1,2,3,4}: every vertex sits on C(3,2) = 3 triangles; a square
    // {5,6,7,8} has none; pendant 9-1 adds none. Edges arrive in mixed
    // direction with duplicates — canonicalization must absorb both.
    val k4 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L))
    val square = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L))
    val edges = (k4 ++ square ++ Seq((9L, 1L))).toDF("a", "b")
    val out = Graph.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // sf0.001 supplier co-occurrence graph: the wedge algorithm must equal
    // the naive ordered triple-join on the same canonical edge set
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val co = li.join(li.select(col("l_orderkey"), col("l_suppkey").as("s2")), "l_orderkey")
      .filter(col("l_suppkey") =!= col("s2"))
      .select(least(col("l_suppkey"), col("s2")).as("a"),
        greatest(col("l_suppkey"), col("s2")).as("b")).distinct()
    val fast = Graph.triangleCounts(co, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = co.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- e; c <- verts if b < c && e((a, c)) && e((b, c))
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    assert(fast === naive.toMap, s"wedge vs naive mismatch on ${e.size} edges")
    assert(fast.nonEmpty, "expected triangles in the co-occurrence graph")
  }

  test("bfsHops: layered min-hop levels, undirected, depth-bounded") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a shortcut 1-3; node 9 unreachable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (8L, 9L))
      .toDF("s", "d")
    val seeds = Seq(1L).toDF("node")
    val out = Graph.bfsHops(edges, "s", "d", seeds, "node", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("bfsHops: reverse-direction edges walk too (symmetrization)") {
    import spark.implicits._
    val edges = Seq((2L, 1L)).toDF("s", "d") // seed appears only as dst
    val out = Graph.bfsHops(edges, "s", "d", Seq(1L).toDF("node"), "node", 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1))
  }

  test("linkPredict: hand-computed RA picocredits, existing edges excluded") {
    import spark.implicits._
    // 1-2, 2-3, 3-4, 2-4: deg = {1:1, 2:3, 3:2, 4:2}. Wedges through 2
    // give (1,3), (1,4), (3,4); through 3 give (2,4); through 4 give
    // (2,3). (3,4)/(2,4)/(2,3) are edges → anti-joined out. Survivors
    // each have one center (vertex 2, deg 3): 10^12 div 3.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (2L, 1L)).toDF("s", "d")
    val out = Graph.linkPredict(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      (1L, 3L) -> (1L, 333333333333L),
      (1L, 4L) -> (1L, 333333333333L)))
  }

  test("linkPredict: multi-center pairs sum credits; maxDeg prunes centers") {
    import spark.implicits._
    // square 1-2, 1-3, 2-4, 3-4: (1,4) closes through 2 AND 3 (both deg
    // 2), (2,3) through 1 AND 4 — cn = 2, ra = 2 · (10^12 div 2) = 10^12.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val out = Graph.linkPredict(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      (1L, 4L) -> (2L, 1000000000000L),
      (2L, 3L) -> (2L, 1000000000000L)))
    // maxDeg = 1 prunes every center (all degrees are 2) → empty
    assert(Graph.linkPredict(edges, "s", "d", maxDeg = 1).count() === 0L)
  }

  test("mutualEdges keeps only reciprocated pairs with both ranks") {
    import spark.implicits._
    // 1→2 (rank 1) and 2→1 (rank 2) are mutual; 1→3 has no 3→1 back-edge;
    // 3→2 / 2→3 are mutual at ranks (1, 3). Self-loops are dropped.
    val edges = Seq((1L, 2L, 1), (2L, 1L, 2), (1L, 3L, 2),
      (3L, 2L, 1), (2L, 3L, 3), (4L, 4L, 1)).toDF("s", "d", "rn")
    val out = Graph.mutualEdges(edges, "s", "d", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === Map((1L, 2L) -> (1L, 2L), (2L, 3L) -> (3L, 1L)))
  }

  test("degreeAssortativity: path graph is exactly -1; single edge is NULL") {
    import spark.implicits._
    // path 1-2-3: stubs (1→2),(2→1),(2→3),(3→2) with degrees {1,2,1};
    // m2=4, sx=6, sxy=8, sx2=10 → r = (32−36)/(40−36) = −1 exactly.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.degreeAssortativity(path, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((4L, 6L, 8L, 10L)))
    assert(r.getDouble(4) === -1.0)
    // a single edge has zero degree variance → NULL, not a divide error
    val one = Seq((1L, 2L)).toDF("a", "b")
    assert(Graph.degreeAssortativity(one, "a", "b").head().isNullAt(4))
  }
}
