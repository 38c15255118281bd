package graft

/** `PlanDump` files are reproducible: expression and plan ids are numbered
  * by first appearance, not by the JVM-wide counters. */
class PlanDumpSpec extends SparkSpec {

  test("renumbering keeps every reference to one id on one number") {
    assert(PlanDump.renumber("a#17, b#4L, a#17 Exchange plan_id=9, plan_id=2, plan_id=9 #4L") ===
      "a#0, b#1L, a#0 Exchange plan_id=0, plan_id=1, plan_id=0 #1L")
  }

  test("two dumps of q_pagerank in one JVM are byte-identical") {
    val dir = "/root/testdata/sf0.001"
    assert(PlanDump.dump(spark, dir, "q_pagerank") === PlanDump.dump(spark, dir, "q_pagerank"))
  }
}
