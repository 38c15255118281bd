package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry is the driver contract: 301 queries, each with its oracle,
  * each name defined once.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("the registry holds 301 distinct names") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 301)
    assert(names.distinct.size === names.size)
  }

  test("every query has a non-empty oracle, and no oracle lacks a query") {
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("a registry with a repeated name does not build") {
    val d = QueryDef("q_x", (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException](QueryDef.registry(Seq(d, d.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("q_x"))
    assert(QueryDef.registry(Seq(d)) === Seq(d))
  }

  test("each stream gate with a batch twin holds the twin's oracle string, not a copy") {
    val twins = Seq(
      "q_stream_parity" -> "q_topology_experiment",
      "q_stream_stateful_parity" -> "q_asof_join",
      "q_stream_funnel_parity" -> "q_funnel",
      "q_stream_join_parity" -> "q_interval_join",
      "q_stream_kmv_parity" -> "q_kmv_distinct",
      // two batch queries that gate another plan of the same result
      "q_orc_roundtrip" -> "q_format_roundtrip",
      "q_salted_join" -> "q_join_agg")
    twins.foreach { case (q, twin) =>
      assert(SparkEntry.oracleSql(q) eq SparkEntry.oracleSql(twin), s"$q copies $twin's oracle")
    }
  }
}
