package graft.plans

import graft.SparkSpec
import graft.operators.Analytics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** The custom AS-OF JOIN operator: semantics pinned to the composed
  * union+LOCF formulation, physical shape pinned to merge-join-style
  * exchanges+sorts with no window.
  */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  // deterministic interleaved fixture: 12 users; purchases at ts ≡ 1 mod 3,
  // views at ts ≡ 0 mod 2 — collisions (equal ts within and across sides),
  // users with no views (id % 5 == 0 filtered), duplicate view (user, ts)
  // rows distinguished only by view_id
  private lazy val purchases = (0 until 200).map { i =>
    (i.toLong % 12, (i * 7 % 60).toLong * 3 + 1, i.toLong, 100.0 + i)
  }.toDF("user_id", "ts", "purchase_id", "amount")
  private lazy val views = (0 until 300)
    .map { i => (i.toLong % 15, (i * 11 % 90).toLong * 2, i.toLong, 0.5 * i) }
    .filter { case (u, _, _, _) => u % 5 != 0 }
    .toDF("user_id", "ts", "view_id", "view_value")

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("asofJoinMerge equals the composed union+LOCF asofJoin, ties included") {
    val composed = Analytics.asofJoin(purchases, views, "user_id", "ts", "ts",
      Seq("view_value", "view_id"), tieBreak = Seq(col("_v_view_id")))
    val merged = Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
      Seq("view_value", "view_id"), rightTies = Seq("view_id"))
    assert(merged.columns.toSeq === composed.columns.toSeq)
    assert(collectSet(merged) === collectSet(composed))
    // sanity on the fixture: matches AND null (no-view users / too-early) rows
    val vals = merged.select("asof_view_value").collect().map(r => r.isNullAt(0))
    assert(vals.contains(true) && vals.contains(false))
  }

  test("asofJoinMerge: null timestamps order NULLS FIRST like the window form") {
    val l = Seq((1L, Option(10L), 1L), (1L, Option.empty[Long], 2L), (2L, Option(5L), 3L))
      .toDF("user_id", "ts", "purchase_id")
    val r = Seq((1L, Option.empty[Long], 7.0), (1L, Option(4L), 9.0), (2L, Option(6L), 3.0))
      .toDF("user_id", "ts", "v")
    val out = Analytics.asofJoinMerge(l, r, "user_id", "ts", "ts", Seq("v"))
      .collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(out(1L) === Some(9.0))  // latest of {null→7.0, 4→9.0} at ts 10
    assert(out(2L) === Some(7.0))  // null left ts sees only the null-ts view
    assert(out(3L) === None)       // right ts 6 is after left ts 5
  }

  test("tolerance: merge == window form, bound is inclusive, stale matches masked") {
    import spark.implicits._
    val tol = 10L
    val composed = Analytics.asofJoin(purchases, views, "user_id", "ts", "ts",
      Seq("view_value", "view_id"), tieBreak = Seq(col("_v_view_id")), toleranceUs = tol)
    val merged = Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
      Seq("view_value", "view_id"), rightTies = Seq("view_id"), toleranceUs = tol)
    assert(collectSet(merged) === collectSet(composed))
    // the bound actually bites on this fixture: strictly more masked rows
    // than the unbounded join, strictly fewer than everything
    val unbounded = Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
      Seq("view_value"), rightTies = Seq("view_id"))
    def nulls(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("asof_view_value").isNull).count()
    assert(nulls(merged) > nulls(unbounded))
    assert(nulls(merged) < merged.count())
    // hand fixture: gap == tol matches (inclusive), gap == tol+1 masks
    val l = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("user_id", "ts", "purchase_id")
    val r = Seq((1L, 90L, 5.0)).toDF("user_id", "ts", "v")
    val out = Analytics.asofJoinMerge(l, r, "user_id", "ts", "ts", Seq("v"),
        toleranceUs = 10L)
      .collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(out(1L) === Some(5.0))
    assert(out(2L) === None)
    // null timestamps never satisfy a bound (either side)
    val ln = Seq((1L, Option.empty[Long], 1L), (1L, Option(100L), 2L))
      .toDF("user_id", "ts", "purchase_id")
    val rn = Seq((1L, Option.empty[Long], 7.0)).toDF("user_id", "ts", "v")
    val outN = Analytics.asofJoinMerge(ln, rn, "user_id", "ts", "ts", Seq("v"),
        toleranceUs = 1000L)
      .collect().map(row => row.getLong(2) -> Option(row.get(3))).toMap
    assert(outN(1L) === None && outN(2L) === None)
  }

  test("tolerance rejects a non-subtractable ts type at analysis — both forms") {
    import spark.implicits._
    val l = Seq((1L, 1.5, 1L)).toDF("user_id", "ts", "purchase_id")
    val r = Seq((1L, 1.0, 7.0)).toDF("user_id", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      Analytics.asofJoinMerge(l, r, "user_id", "ts", "ts", Seq("v"),
        toleranceUs = 10L).collect()
    }
    assert(e.getMessage.contains("tolerance"), e.getMessage)
    // the window form must not silently truncate a double ts to long
    val ew = intercept[IllegalArgumentException] {
      Analytics.asofJoin(l, r, "user_id", "ts", "ts", Seq("v"),
        toleranceUs = 10L).collect()
    }
    assert(ew.getMessage.contains("tolerance"), ew.getMessage)
  }

  test("a null value in the LATEST right row stays null — merge == window, no resurrection") {
    import spark.implicits._
    // right rows: (ts=1, v=5.0) then (ts=100, v=null); the as-of match for
    // a left row at ts>=100 is the ts=100 ROW — its null value must come
    // through, not the older 5.0 (per-column ignoreNulls carry would
    // resurrect it, and under a tolerance could certify freshness with one
    // row while emitting another's value)
    val l = Seq((1L, 105L, 1L)).toDF("user_id", "ts", "purchase_id")
    val r = Seq((1L, 1L, Option(5.0)), (1L, 100L, Option.empty[Double]))
      .toDF("user_id", "ts", "v")
    val merged = Analytics.asofJoinMerge(l, r, "user_id", "ts", "ts", Seq("v"))
    val windowed = Analytics.asofJoin(l, r, "user_id", "ts", "ts", Seq("v"))
    assert(collectSet(merged) === collectSet(windowed))
    assert(merged.collect().head.isNullAt(3))
    // and with a tolerance that the ts=100 row satisfies but ts=1 does not,
    // both forms still agree (null match, never the stale 5.0)
    val mT = Analytics.asofJoinMerge(l, r, "user_id", "ts", "ts", Seq("v"),
      toleranceUs = 10L)
    val wT = Analytics.asofJoin(l, r, "user_id", "ts", "ts", Seq("v"),
      toleranceUs = 10L)
    assert(collectSet(mT) === collectSet(wT))
    assert(mT.collect().head.isNullAt(3))
  }

  test("AsofJoinExec plans as exchanges + sorts + merge — no window, no union") {
    val merged = Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
      Seq("view_value"))
    val p = merged.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("AsofJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
    // each side keeps its own width through its own exchange + sort
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).length === 2, p)
    assert("\\(\\d+\\) Sort".r.findAllIn(p).length === 2, p)
  }

  test("asofJoinMerge: empty sides and single-row extremes") {
    val l0 = Seq.empty[(Long, Long, Long)].toDF("user_id", "ts", "purchase_id")
    val r0 = Seq.empty[(Long, Long, Double)].toDF("user_id", "ts", "v")
    val l1 = Seq((1L, 10L, 1L)).toDF("user_id", "ts", "purchase_id")
    val r1 = Seq((1L, 10L, 5.0)).toDF("user_id", "ts", "v")
    // empty left → empty out; empty right → all-null asof values
    assert(Analytics.asofJoinMerge(l0, r1, "user_id", "ts", "ts", Seq("v")).count() === 0)
    val nullOut = Analytics.asofJoinMerge(l1, r0, "user_id", "ts", "ts", Seq("v")).collect()
    assert(nullOut.length === 1 && nullOut.head.isNullAt(3))
    // exact same instant matches (at-or-before is inclusive)
    val eq = Analytics.asofJoinMerge(l1, r1, "user_id", "ts", "ts", Seq("v")).collect()
    assert(eq.head.getDouble(3) === 5.0)
  }

  test("asofJoinMerge rejects mismatched key/ts types at analysis, not runtime") {
    // the merge comparators are built from the LEFT side's types; an
    // int-vs-long key would corrupt ordering silently — must throw up front
    val lInt = Seq((1, 10L, 1L)).toDF("user_id", "ts", "purchase_id")
    val rLong = Seq((1L, 4L, 9.0)).toDF("user_id", "ts", "v")
    val e1 = intercept[IllegalArgumentException] {
      Analytics.asofJoinMerge(lInt, rLong, "user_id", "ts", "ts", Seq("v"))
    }
    assert(e1.getMessage.contains("key types must match"), e1.getMessage)
    val lTsInt = Seq((1L, 10, 1L)).toDF("user_id", "ts", "purchase_id")
    val e2 = intercept[IllegalArgumentException] {
      Analytics.asofJoinMerge(lTsInt, rLong, "user_id", "ts", "ts", Seq("v"))
    }
    assert(e2.getMessage.contains("ts types must match"), e2.getMessage)
  }

  test("asofJoinMerge == composed asofJoin on the real events table (sf0.001)") {
    val ev = graft.SparkEntry.t(spark, "/root/testdata/sf0.001", "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"))
    val composed = Analytics.asofJoin(purchases, views, "user_id", "ts", "ts",
      Seq("view_value"))
    val merged = Analytics.asofJoinMerge(purchases, views, "user_id", "ts", "ts",
      Seq("view_value"))
    assert(collectSet(merged) === collectSet(composed))
    assert(merged.count() === purchases.count()) // left-outer row preservation
  }

  test("asofJoinMerge shuffles fewer bytes than the union+LOCF form (measured)") {
    // the operator's byte claim, measured on full materialization
    // (toRdd.count — a bare count() lets Catalyst prune the projection):
    // each side shuffles at its own width, the union form pads rows to the
    // combined schema. UnsafeRow null slots + lz4 keep the padding modest
    // (measured ~21% on matched narrow sides, ~3% under a dominant wide
    // left) — this asserts the strict direction, not a fantasy factor.
    val left = spark.range(20000).select(col("id") % 50 as "user_id",
      col("id") % 977 as "ts", col("id") as "purchase_id")
    val right = spark.range(20000).select(col("id") % 50 as "user_id",
      col("id") % 991 as "ts", (col("id") % 100).cast("double").as("v"))
    def measure(df: org.apache.spark.sql.DataFrame): Long =
      graft.Harness.measure(spark)(df.queryExecution.toRdd.count())._2.shuffleBytes
    val composedBytes = measure(
      Analytics.asofJoin(left, right, "user_id", "ts", "ts", Seq("v")))
    val mergedBytes = measure(
      Analytics.asofJoinMerge(left, right, "user_id", "ts", "ts", Seq("v")))
    assert(mergedBytes > 0 && composedBytes > 0)
    assert(mergedBytes < composedBytes,
      s"merge shuffled $mergedBytes vs composed $composedBytes")
  }

  test("AsofJoinColumnPruning prunes unreferenced columns through the custom node") {
    // without the injected rule, a narrow select above the node scans and
    // shuffles every left column (Catalyst's ColumnPruning cannot descend
    // into an operator it doesn't know)
    val wideLeft = spark.range(5000).select(col("id") % 50 as "user_id",
      col("id") % 977 as "ts", col("id") as "purchase_id",
      sha2(col("id").cast("string"), 256).as("p1"),
      sha2((col("id") + 1).cast("string"), 256).as("p2"))
    val right = spark.range(5000).select(col("id") % 50 as "user_id",
      col("id") % 991 as "ts", (col("id") % 100).cast("double").as("v"),
      sha2(col("id").cast("string"), 256).as("unused_r"))
    val narrow = Analytics.asofJoinMerge(wideLeft, right, "user_id", "ts", "ts", Seq("v"))
      .select("user_id", "asof_v")
    val opt = narrow.queryExecution.optimizedPlan.treeString
    assert(!opt.contains("p1") && !opt.contains("p2"), opt)     // left payload pruned
    assert(!opt.contains("unused_r"), opt)                      // right extras pruned
    // and the pruned plan still computes the right answer
    val composed = Analytics.asofJoin(wideLeft, right, "user_id", "ts", "ts", Seq("v"))
      .select("user_id", "asof_v")
    assert(collectSet(narrow) === collectSet(composed))
  }

  test("asofJoinMerge is shuffle-partition-count invariant") {
    val a = Analytics.asofJoinMerge(purchases.repartition(7), views.repartition(3),
      "user_id", "ts", "ts", Seq("view_value", "view_id"), rightTies = Seq("view_id"))
    val b = Analytics.asofJoinMerge(purchases.coalesce(1), views.coalesce(1),
      "user_id", "ts", "ts", Seq("view_value", "view_id"), rightTies = Seq("view_id"))
    assert(collectSet(a) === collectSet(b))
  }
}
