package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

/** The one place that knows how a graft session is configured and how a run
  * is metered. Verify, Bench, the dev tools and the test suite all build
  * their session from [[builder]], and every metered tool reads the same
  * listener through [[measure]].
  */
object Harness {
  /** Local worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The corpus the tools read: `SPARK_GRAFT_SF_DIR`, else the sf0.1 test data. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with as many shuffle partitions, [[GraftExtensions]], UTC
    * session time, no UI, and TIMESTAMP(NANOS) Parquet columns read as longs
    * (the events table's older files carry them). */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** A [[builder]] session with Spark's log level at WARN. */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One Spark job seen by [[measure]]: its wall from the job events' own
    * times, and its short call site plus the head of its description. */
  final case class Job(id: Int, sec: Double, callSite: String)

  /** What one [[measure]] call saw: the body's wall, the jobs that started
    * and ended inside it (by id), their shuffle write totals and the
    * slowest task's executor run time. */
  final case class Run(wallSec: Double, jobs: Seq[Job], shuffleBytes: Long,
                       shuffleRecords: Long, maxTaskMs: Long)

  /** The metering listener. It records only while a [[measure]] call is
    * open, so an idle registration costs one volatile read per event. */
  final class Meter private[Harness] extends SparkListener {
    @volatile private[Harness] var on = false
    private val started = new ConcurrentHashMap[Int, (Long, String)]
    private val done = new ConcurrentLinkedQueue[Job]
    private val shuffleBytes = new AtomicLong
    private val shuffleRecords = new AtomicLong
    private val maxTaskMs = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = if (on) {
      // the result stage is named after the job's short call site
      // (`callSite.short` is a job property only after a `setCallSite`)
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      val desc = Option(j.properties)
        .map(_.getProperty("spark.job.description", "")).getOrElse("")
      started.put(j.jobId, (j.time, s"$site | ${desc.take(60)}"))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val st = started.remove(j.jobId)
      if (st != null) done.add(Job(j.jobId, (j.time - st._1) / 1e3, st._2))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (on && te.taskMetrics != null) {
        val w = te.taskMetrics.shuffleWriteMetrics
        shuffleBytes.addAndGet(w.bytesWritten)
        shuffleRecords.addAndGet(w.recordsWritten)
        maxTaskMs.accumulateAndGet(te.taskMetrics.executorRunTime, math.max)
        ()
      }

    private[Harness] def reset(): Unit = {
      started.clear(); done.clear()
      shuffleBytes.set(0); shuffleRecords.set(0); maxTaskMs.set(0)
    }
    private[Harness] def run(wallSec: Double): Run = {
      import scala.jdk.CollectionConverters._
      Run(wallSec, done.asScala.toSeq.sortBy(_.id), shuffleBytes.get,
        shuffleRecords.get, maxTaskMs.get)
    }
  }

  /** The context's [[Meter]], registered on first use: at most one per
    * SparkContext however many sessions or tools ask for it. */
  def meter(spark: SparkSession): Meter = synchronized {
    val sc = spark.sparkContext
    ColumnBridge.listenersOf[Meter](sc).headOption.getOrElse {
      val m = new Meter
      sc.addSparkListener(m)
      m
    }
  }

  /** Run `body` under the meter. The listener bus is drained on both edges,
    * so the result holds exactly the events of the jobs `body` ran. One
    * measure at a time per SparkContext. */
  def measure[A](spark: SparkSession)(body: => A): (A, Run) = {
    val m = meter(spark)
    ColumnBridge.drainListenerBus(spark.sparkContext)
    m.reset()
    m.on = true
    try {
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      ColumnBridge.drainListenerBus(spark.sparkContext)
      (out, m.run(wall))
    } finally m.on = false
  }
}
