package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ColumnBridge

import graft.streaming.LocalCheckpointFileManager

class HarnessSpec extends SparkSpec {

  test("a harness session has GraftExtensions, UTC and the requested local[n]") {
    // TestSpark.spark is Harness.builder(4) plus a warehouse dir
    val s = spark.newSession()
    s.range(1).count() // builds the analyzer, whose GraftExtensions rule sets the key
    assert(s.conf.getOption("spark.sql.streaming.checkpointFileManagerClass") ===
      Some(classOf[LocalCheckpointFileManager].getName))
    assert(s.sql("SELECT vec_dot(array(1.0d), array(2.0d))").head.getDouble(0) === 2.0)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.sparkContext.master === "local[4]")
  }

  test("registering the meter twice leaves one listener") {
    val m = Harness.meter(spark)
    assert(Harness.meter(spark) eq m)
    assert(ColumnBridge.listenersOf[Harness.Meter](spark.sparkContext).size === 1)
  }

  test("measure sees shuffle bytes and the same jobs as a hand-rolled listener") {
    Harness.meter(spark); Harness.meter(spark)
    val jobs = new AtomicInteger
    val bytes = new AtomicLong
    val hand = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          bytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
        }
    }
    ColumnBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(hand)
    val (n, run) =
      try Harness.measure(spark)(spark.range(10000).repartition(4).count())
      finally spark.sparkContext.removeSparkListener(hand)
    assert(n === 10000L)
    assert(run.shuffleBytes > 0)
    assert(run.shuffleBytes === bytes.get)
    assert(run.shuffleRecords >= 10000L) // every row crosses the repartition
    assert(run.jobs.nonEmpty && run.jobs.size === jobs.get)
    assert(run.jobs.forall(_.sec >= 0))
    assert(run.maxTaskMs >= 0 && run.wallSec > 0)
  }
}
