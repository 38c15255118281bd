package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: the 100 TB state-store posture receipt (r18 verdict item #1).
  *
  * Runs every live streaming parity gate twice in one JVM — once on the
  * default (HDFS-backed, on-heap) state store provider and once on
  * `RocksDBStateStoreProvider` (the off-heap store a 100 TB stateful job
  * must run: state no longer lives on the executor heap, so key-space
  * growth cannot OOM the JVM — guide §5) — and proves the outputs are
  * row-identical. A StreamingQueryListener records each run's state
  * operator metrics (rows, on-heap memory used, and RocksDB's own
  * size/memory custom metrics) as the receipt that state actually lived in
  * RocksDB during the second run.
  *
  * The declared queries keep the default provider (the bench measures the
  * same plan the driver's oracle verifies; the provider is an env-shaped
  * deployment choice, not a plan property) — this tool is the committed
  * evidence that switching the provider at scale changes nothing but the
  * store.
  *
  * Usage: `sbt "runMain graft.RocksDbParity"` (env SPARK_GRAFT_SF_DIR
  * overrides the corpus, SPARK_GRAFT_CPUS the local worker and shuffle
  * partition count — PERF.md's receipt ran with SPARK_GRAFT_CPUS=32;
  * output lands on stdout for PERF.md).
  */
object RocksDbParity {
  private val gates = Seq(
    "q_stream_parity", "q_stream_stateful_parity", "q_stream_dedup_parity",
    "q_stream_funnel_parity", "q_stream_window_parity", "q_stream_join_parity",
    "q_stream_sessionize_parity", "q_stream_kmv_parity",
    "q_stream_recursive_parity")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()

    // state-operator metrics receipt: collected off the progress events of
    // whichever gate is currently running (gates run sequentially)
    val stateLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        p.stateOperators.foreach { so =>
          val custom = Option(so.customMetrics).map { m =>
            import scala.jdk.CollectionConverters._
            m.asScala.collect {
              case (k, v) if k.toLowerCase.contains("memory") ||
                k.toLowerCase.contains("sstfilessize") => s"$k=$v"
            }.toSeq.sorted.mkString(",")
          }.getOrElse("")
          stateLines.add(f"    batch=${p.batchId}%2d op=${so.operatorName}%-28s " +
            f"rows=${so.numRowsTotal}%6d updated=${so.numRowsUpdated}%6d " +
            f"memUsedBytes=${so.memoryUsedBytes}%9d $custom")
        }
      }
    }
    spark.streams.addListener(listener)

    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // StreamingQueryManager (and its listener bus) is session-scoped — the
    // rocks session needs its own registration or its progress is invisible
    rocks.streams.addListener(listener)

    def rowsOf(s: SparkSession, name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(s, sfDir)
      df.collect().map(_.toString).sorted.toSeq
    }
    def drain(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      // StreamingQueryListener events ride the shared async listener bus —
      // flush it so each run's metrics land in ITS block, not the next one's
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark.sparkContext)
      val out = stateLines.asScala.toSeq
      stateLines.clear(); out
    }

    var allOk = true
    gates.foreach { name =>
      val defaultRows = rowsOf(spark, name)
      val defaultState = drain()
      val rocksRows = rowsOf(rocks, name)
      val rocksState = drain()
      val ok = defaultRows == rocksRows
      allOk &&= ok
      println(s"=== $name: rows=${defaultRows.size} " +
        (if (ok) "MATCH (default == rocksdb, row for row)"
         else "MISMATCH — INVESTIGATE"))
      if (!ok) {
        (defaultRows.diff(rocksRows) ++ rocksRows.diff(defaultRows))
          .take(5).foreach(r => println(s"    diff: $r"))
      }
      println(s"  default-provider state metrics (${defaultState.size} progress lines):")
      defaultState.takeRight(4).foreach(println)
      println(s"  rocksdb-provider state metrics (${rocksState.size} progress lines):")
      rocksState.takeRight(4).foreach(println)
    }
    println(if (allOk)
      s"ROCKSDB PARITY: all ${gates.size} gates row-identical on RocksDBStateStoreProvider"
    else "ROCKSDB PARITY: MISMATCH — see above")
    spark.streams.removeListener(listener)
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
