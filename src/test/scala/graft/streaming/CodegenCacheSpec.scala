package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkSpec}
import graft.queries.{SplitGate, StreamGateQueries}

/** Every streaming query runs in a clone of its session. With Spark's
  * artifact isolation on, each clone has its own class loader, which is part
  * of the codegen cache key, so each new query compiled its classes again.
  * A `GraftExtensions` session turns isolation off, and a stream started a
  * second time compiles nothing.
  */
class CodegenCacheSpec extends SparkSpec {
  import SplitEvents._

  /** Classes Janino compiled in the JVM while `body` ran. */
  private def compilations(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** One three-batch lifecycle of `gate`, started as its registry query
    * starts it, over fresh directories. */
  private def lifecycle(gate: SplitGate)(s: SparkSession): Unit = withTempDir("graft_codegen") { d =>
    files(spark).foreach(land(_, d.resolve("in")))
    val qs = gate.start(s, d.resolve("in").toString, d.toString)
    qs.foreach(_.awaitTermination())
    assert(qs.map(_.recentProgress.count(_.numInputRows > 0)) === qs.map(_ => 3))
  }

  for ((name, gate) <- Seq("sessionize" -> StreamGateQueries.sessionizeGate,
                           "as-of" -> StreamGateQueries.asofGate,
                           "funnel" -> StreamGateQueries.funnelGate))
    test(s"a second $name lifecycle compiles no class; the first one warmed the cache") {
      lifecycle(gate)(spark)
      assert(compilations(lifecycle(gate)(spark)) === 0)
    }

  test("a session that sets artifact isolation keeps its value, and each of its " +
       "streams compiles again") {
    lifecycle(StreamGateQueries.sessionizeGate)(spark)
    val isolated = spark.newSession()
    isolated.conf.set(GraftExtensions.IsolationKey, "true")
    assert(compilations(lifecycle(StreamGateQueries.sessionizeGate)(isolated)) > 0,
      "the count must see the compilations the default saves")
    assert(isolated.conf.get(GraftExtensions.IsolationKey) === "true")
    assert(spark.conf.get(GraftExtensions.IsolationKey) === "false")
  }
}
