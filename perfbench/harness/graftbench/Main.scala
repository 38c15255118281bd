package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Random

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max_by, try_element_at}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.{GraftExtensions, SparkEntry}
import graft.codec.JsonCodec
import graft.operators.ReferenceOps
import graft.streaming.{EnrichEvent, FunnelEvent, SessionEvent, StatefulOps, StreamRunner}

/** One benchmark run in one JVM: set up once, one cold pass over the
  * workload's operations, then `--passes` steady passes. The pass count is
  * fixed, so every run of a workload does the same work.
  * Writes every operation's time and output size, the outputs to check and,
  * with `--trace 1`, per-layer counters and spans to `--work`. It judges no
  * output itself: the caller checks them against an oracle afterwards.
  *
  *   --kind queries   --ops q_a,q_b,...   registry queries over the tables in --inputs
  *   --kind stateful  --ops asof_enrich,... stateful streaming operators over the
  *                                         time-split events in --inputs/events_split
  *   --kind topology                      the paper's topology over the frames in --inputs
  */
object Main {
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used, from the kernel's
    * per-thread counters (`/proc/self/task/<tid>/stat`, utime + stime in
    * `clkTck` ticks). The JVM runs with a fixed set of compiler threads, so
    * none exits and takes its count with it.
    */
  private def jitCpuS(clkTck: Int): Double =
    scala.util.Using.resource(Files.list(Paths.get("/proc/self/task"))) { tasks =>
      tasks.iterator().asScala.map { t =>
        try {
          // comm is cut to 15 characters: "C2 CompilerThre"
          if (!Files.readString(t.resolve("comm")).matches("C[12] CompilerThre(?s).*")) 0L
          else {
            val stat = Files.readString(t.resolve("stat"))
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            f(11).toLong + f(12).toLong // fields 14 and 15: utime, stime
          }
        } catch { case _: java.io.IOException => 0L } // the thread ended
      }.sum / clkTck.toDouble
    }

  /** `error`: the operation threw; `mismatch`: its output differs from the
    * cold-pass output of the same query, which is the one the oracle checks. */
  final case class Op(id: Int, pass: Int, name: String, ms: Double, rows: Long, error: String,
                      mismatch: Boolean = false)
  /** `cpuS`: process CPU seconds of the pass; `jitS`: of them, the JIT compiler's. */
  final case class Pass(pass: Int, cpuS: Double, jitS: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val kind = a("kind")
    val seed = a("seed").toLong
    val steadyPasses = a("passes").toInt
    val cpus = a("cpus").toInt
    val clkTck = a("clk-tck").toInt
    val work = Paths.get(a("work"))
    val tracer = new Tracer(a("trace") == "1")
    val inputs = Paths.get(a("inputs"))
    val in = work.resolve("in")
    val out = work.resolve("out")

    // Set-up: session start, staging the generated inputs into the directory
    // the workload reads, one warm-up job. Its cost is the process CPU from
    // the JVM's start to the first timed op, Spark's cold start included.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    copyTree(inputs, in)
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    val setupCpuS = cpuS()

    val sc = spark.sparkContext
    val counts = new SchedulerCounts
    val progressLog = new ProgressLog
    if (tracer.enabled) {
      sc.addSparkListener(counts)
      spark.streams.addListener(progressLog)
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    // per-op layer figures that are not scheduler counters (trace only)
    val layer = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def note(op: Int, k: String, v: Double): Unit =
      layer.getOrElseUpdate(op, mutable.Map.empty)(k) = layer(op).getOrElse(k, 0.0) + v
    val opWindow = mutable.Map.empty[Int, (Long, Long)]
    // the streaming queries each op ran, to find their progress events
    val opRuns = mutable.Map.empty[Int, Seq[java.util.UUID]]
    var nextOp = 0
    val rng = new Random(seed)
    val streamDir = work.resolve("stream")

    /** Runs `body` as op `id`: tags the Spark jobs it starts with the op and
      * times it; a throw becomes the op's error. */
    def timed[A](id: Int)(body: => A): (Either[String, A], Double) = {
      sc.setLocalProperty("graftbench.op", id.toString)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = tracer.span("op", id) {
        try Right(body)
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      opWindow(id) = (w0, System.currentTimeMillis())
      sc.setLocalProperty("graftbench.phase", null)
      sc.setLocalProperty("graftbench.op", null)
      (result, ms)
    }

    // The cold pass's output of every query and stateful op is checked
    // against its oracle; later runs must give the same rows.
    val coldOutput = mutable.Map.empty[String, (Array[Row], StructType)]
    val digest = mutable.Map.empty[String, Seq[Int]]
    def record(id: Int, pass: Int, name: String, ms: Double,
               result: Either[String, (Array[Row], StructType)]): Unit = result match {
      case Right((rows, schema)) =>
        // order-insensitive digest of the output, compared outside the timed region
        val d = rows.map(_.hashCode).sorted.toSeq
        if (pass == 0) { coldOutput(name) = (rows, schema); digest(name) = d }
        ops += Op(id, pass, name, ms, rows.length, null, mismatch = digest.get(name).exists(_ != d))
        note(id, "sink.rows", rows.length.toDouble)
      case Left(err) => ops += Op(id, pass, name, ms, -1, err)
    }

    // ---------------------------------------------------------------- queries
    def runQuery(name: String, pass: Int): Unit = {
      val id = nextOp; nextOp += 1
      val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (result, ms) = timed(id) {
        sc.setLocalProperty("graftbench.phase", "build")
        val df = tracer.span("SparkEntry.queries", id)(SparkEntry.queries(name)(spark, in.toString))
        sc.setLocalProperty("graftbench.phase", "execute")
        val qe = df.queryExecution
        tracer.span("queryExecution.executedPlan", id)(qe.executedPlan)
        val rows = tracer.span("Dataset.collect", id)(df.collect())
        if (tracer.enabled) {
          val phases = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            note(id, s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
          }
          val (exchanges, reused, scans) = planCounts(qe.executedPlan)
          note(id, "plan.exchanges", exchanges)
          note(id, "plan.reused_exchanges", reused)
          note(id, "plan.scans", scans)
        }
        (rows, df.schema)
      }
      if (tracer.enabled) {
        note(id, "codegen.compilations", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble)
        note(id, "SparkEntry.build_ms", tracer.ms("SparkEntry.queries", id))
      }
      record(id, pass, name, ms, result)
    }

    // --------------------------------------------------------------- stateful
    // The stateful operators behind the registry's stream gates, driven over
    // the events table landed as three time-ordered files (one micro-batch
    // each), with their checkpoints and sinks under --work. Each op is one
    // streaming lifecycle: start, drain, state-store commits, stop, read back.
    import spark.implicits._
    val eventsSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def events(): DataFrame = StreamRunner.fileSource(spark, in.resolve("events_split").toString,
      eventsSchema, "parquet", Map("maxFilesPerTrigger" -> "1"))
    def appendSink(df: DataFrame, base: Path): StreamingQuery =
      StreamRunner.fileSink(df, base.resolve("out").toString, base.resolve("ckpt").toString)
    def updateSink(df: DataFrame, base: Path): StreamingQuery = df.writeStream
      .outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamRunner.writeBatchIdempotent(b, id, base.resolve("out").toString))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    def sinkRows(base: Path): DataFrame = spark.read.parquet(base.resolve("out").toString)
    /** op -> (the gate whose oracle SQL checks it, start its query, read its result) */
    val statefulOps: Map[String, (String, Path => StreamingQuery, Path => DataFrame)] = Map(
      "asof_enrich" -> ("q_stream_stateful_parity",
        b => appendSink(StatefulOps.streamingAsofEnrich(events().as[EnrichEvent], "view", "purchase")
          .select("event_id", "user_id", "value", "prior_view_value"), b),
        sinkRows),
      "sessionize" -> ("q_stream_sessionize_parity",
        b => appendSink(StatefulOps.streamingSessionize(events().withWatermark("ts", "1 hour")
          .select("user_id", "ts", "value").as[SessionEvent], gapMs = 1800L * 1000)
          .select("user_id", "n_events", "session_start", "session_end"), b),
        sinkRows),
      "funnel" -> ("q_stream_funnel_parity",
        b => updateSink(StatefulOps.streamingFunnel(events().withWatermark("ts", "1 hour")
          .select("user_id", "ts", "event_type").as[FunnelEvent], Seq("signup", "view", "purchase"),
          stateTtlMs = 90L * 24 * 3600 * 1000).toDF(), b),
        b => sinkRows(b).groupBy("user_id")
          .agg(max_by(col("stage_times"), col("_batch_id")).as("st"))
          .select(col("user_id"), try_element_at(col("st"), lit(1)).as("t_signup"),
            try_element_at(col("st"), lit(2)).as("t_view"),
            try_element_at(col("st"), lit(3)).as("t_purchase"))))

    def runStateful(name: String, pass: Int): Unit = {
      val id = nextOp; nextOp += 1
      val (_, start, read) = statefulOps(name)
      val base = streamDir.resolve(s"op$id")
      val (result, ms) = timed(id) {
        val q = tracer.span("StreamingQuery.start", id)(start(base))
        opRuns(id) = Seq(q.runId)
        tracer.span("StreamingQuery.awaitTermination", id)(q.awaitTermination())
        val df = read(base)
        (tracer.span("Dataset.collect", id)(df.collect()), df.schema)
      }
      if (tracer.enabled) note(id, "streaming.start_ms", tracer.ms("StreamingQuery.start", id))
      record(id, pass, name, ms, result)
    }

    // --------------------------------------------------------------- topology
    val raw = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    val purchase = StructType(Seq("id", "amount", "user_id", "quantity")
      .map(StructField(_, IntegerType)))
    val donation = StructType(Seq(StructField("donation_amount_cents", IntegerType),
      StructField("user_id", IntegerType), StructField("donation_date", StringType)))
    def topic(dir: String, schema: StructType): DataFrame =
      JsonCodec.flatten(JsonCodec.decode(
        StreamRunner.fileSource(spark, in.resolve(dir).toString, raw, "json",
          Map("maxFilesPerTrigger" -> "1")),
        IntegerType, schema))

    /** One drain of the landed backlog by a fresh query; each micro-batch is an op. */
    def runDrain(pass: Int): Unit = {
      val id = nextOp; nextOp += 1
      val base = streamDir.resolve(s"pass$pass")
      val (result, _) = timed(id) {
        val bindings = tracer.span("StreamRunner.fileSource", id) {
          Map("purchase-made" -> topic("purchases", purchase),
            "humble-donation-made" -> topic("donations", donation))
        }
        val engine = tracer.span("StreamRunner.start", id) {
          StreamRunner.start(ReferenceOps.transactionTopology, bindings,
            (sink, df) => tracer.span("StreamRunner.fileSink", id) {
              StreamRunner.fileSink(df, base.resolve(sink).toString,
                base.resolve(s"ckpt_$sink").toString)
            })
        }
        opRuns(id) = engine.queries.map(_.runId)
        tracer.span("Engine.awaitAll", id)(engine.awaitAll())
        tracer.span("Engine.stop", id)(engine.stop())
        engine.queries.flatMap(_.recentProgress).filter(_.numInputRows > 0)
      }
      result match {
        case Right(progress) =>
          progress.zipWithIndex.foreach { case (p, i) =>
            ops += Op(id, pass, s"batch$i", p.durationMs.get("triggerExecution").toDouble,
              p.numInputRows, null)
          }
          if (tracer.enabled) {
            note(id, "core.compile_ms",
              tracer.ms("StreamRunner.start", id) - tracer.ms("StreamRunner.fileSink", id))
            note(id, "streaming.start_ms", tracer.ms("StreamRunner.fileSink", id))
            note(id, "streaming.stop_ms", tracer.ms("Engine.stop", id))
            note(id, "sink.rows",
              tracer.span("sink.read", id)(spark.read.parquet(base.resolve("large-transaction-made").toString).count()).toDouble)
          }
        case Left(err) => // one failed op per micro-batch the drain should have made
          (0 until batchesPerDrain).foreach(i => ops += Op(id, pass, s"batch$i", 0, -1, err))
      }
    }
    // maxFilesPerTrigger=1 and as many files per topic: one batch per file pair
    lazy val batchesPerDrain =
      scala.util.Using.resource(Files.list(in.resolve("purchases")))(_.count()).toInt

    val names = if (kind == "topology") Seq("drain") else a("ops").split(',').toSeq
    def runPass(pass: Int): Unit = {
      val c0 = cpuS(); val j0 = jitCpuS(clkTck)
      kind match {
        case "queries" => shuffled(names, rng).foreach(runQuery(_, pass))
        case "stateful" => shuffled(names, rng).foreach(runStateful(_, pass))
        case _ => runDrain(pass)
      }
      passes += Pass(pass, cpuS() - c0, jitCpuS(clkTck) - j0)
    }
    (0 to steadyPasses).foreach(runPass)

    // The cold pass's outputs, for the oracle check, outside the timed region.
    inParallel(coldOutput.toSeq, cpus) { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString)
    }
    coldOutput.clear()
    digest.clear()

    // the least heap in use over three full collections: floating garbage
    // that one collection leaves behind is not retained
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val steadyOps = ops.toSeq.filter(_.pass > 0)
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else layerMeans(steadyOps, counts, progressLog, opRuns, layer, opWindow, sc).updated("jit.cpu_ms",
        passes.filter(_.pass > 0).map(_.jitS).sum * 1000 / math.max(1, steadyOps.count(_.error == null)))
    // per query: mean steady ms, jobs and shuffle bytes, the figures that
    // place a query in its workload (trace only)
    val perQuery =
      if (!tracer.enabled || kind == "topology") Seq.empty[(String, String)]
      else steadyOps.filter(_.error == null).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, os) =>
          val accs = os.map(o => counts.byOp.getOrElse(o.id, new counts.Acc))
          def mean(f: counts.Acc => Double) = Json.num(accs.map(f).sum / accs.size)
          n -> Json.obj(Seq("ms" -> Json.num(os.map(_.ms).sum / os.size),
            "jobs" -> mean(_.jobs.toDouble), "build_jobs" -> mean(_.buildJobs.toDouble),
            "shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
            "executor_cpu_ms" -> mean(_.cpuNs / 1e6)))
        }
    val oracleSql = kind match {
      case "queries" => names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, ""))
      case "stateful" => names.map(n => n -> SparkEntry.oracleSql.getOrElse(statefulOps(n)._1, ""))
      case _ => Nil
    }

    val json = new StringBuilder
    json ++= "{\"setup_cpu_s\":" ++= Json.num(setupCpuS)
    json ++= ",\"heap_retained_mb\":" ++= Json.num(heapMb)
    json ++= ",\"passes\":" ++= Json.arr(passes.toSeq.map(p =>
      s"""{"pass":${p.pass},"cpu_s":${Json.num(p.cpuS)},"jit_cpu_s":${Json.num(p.jitS)}}"""))
    json ++= ",\"ops\":" ++= Json.arr(ops.toSeq.map(o =>
      s"""{"id":${o.id},"pass":${o.pass},"name":${Json.str(o.name)},"ms":${Json.num(o.ms)},"rows":${o.rows},"mismatch":${o.mismatch},"error":${if (o.error == null) "null" else Json.str(o.error)}}"""))
    json ++= ",\"layers\":" ++= Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })
    json ++= ",\"per_query\":" ++= Json.obj(perQuery)
    json ++= ",\"oracle_sql\":" ++= Json.obj(oracleSql.map { case (n, q) => n -> Json.str(q) })
    json ++= "}"
    Files.writeString(work.resolve("result.json"), json.toString)
    if (tracer.enabled)
      Files.writeString(work.resolve("spans.jsonl"), tracer.spans.iterator.map(s =>
        s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
        .mkString("", "\n", "\n"))
    spark.stop()
  }

  private def shuffled[A](xs: Seq[A], rng: Random): Seq[A] = {
    val b = xs.toBuffer
    for (i <- b.indices.reverse) { val j = rng.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
    b.toSeq
  }

  /** (exchanges, reused exchanges, scans) in the final executed plan,
    * subqueries and adaptive query stages included.
    */
  private def planCounts(plan: SparkPlan): (Int, Int, Int) = {
    var ex, re, sc = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => re += 1
      case other =>
        other match {
          case _: Exchange => ex += 1
          case _: FileSourceScanExec | _: BatchScanExec => sc += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, re, sc)
  }

  /** Mean per steady operation of every per-layer figure. For the topology an
    * operation is a micro-batch, so a drain's counters are split over its
    * batches; a stateful op is one whole streaming lifecycle.
    */
  private def layerMeans(ops: Seq[Op], counts: SchedulerCounts, progress: ProgressLog,
                         runs: mutable.Map[Int, Seq[java.util.UUID]],
                         layer: mutable.Map[Int, mutable.Map[String, Double]],
                         window: mutable.Map[Int, (Long, Long)],
                         sc: org.apache.spark.SparkContext): Map[String, Double] = {
    GraftBenchBus.drain(sc)
    val steady = ops.filter(_.error == null)
    val opIds = steady.map(_.id).distinct
    val nOps = steady.size.toDouble
    val sums = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
    val byRun = progress.synchronized(progress.events.toSeq).groupBy(_.runId)
    opIds.foreach { id =>
      val acc = counts.byOp.getOrElse(id, new counts.Acc)
      add("SparkEntry.build_jobs", acc.buildJobs.toDouble)
      add("scheduler.jobs", acc.jobs.toDouble)
      add("scheduler.stages", acc.stages.toDouble)
      add("scheduler.tasks", acc.tasks.toDouble)
      add("scheduler.overhead_ms", counts.idleMs(id, window(id)._1, window(id)._2))
      add("executor.cpu_ms", acc.cpuNs / 1e6)
      add("executor.run_ms", acc.runMs.toDouble)
      add("executor.gc_ms", acc.gcMs.toDouble)
      add("shuffle.write_bytes", acc.shuffleWrite.toDouble)
      add("shuffle.read_bytes", acc.shuffleRead.toDouble)
      add("shuffle.spill_bytes", acc.spill.toDouble)
      add("scan.input_bytes", acc.inputBytes.toDouble)
      add("scan.input_rows", acc.inputRows.toDouble)
      layer.getOrElse(id, mutable.Map.empty).foreach { case (k, v) => add(k, v) }
      // micro-batch progress of the op's streaming queries
      val queries = runs.getOrElse(id, Nil).map(r => byRun.getOrElse(r, Nil))
      val batches = queries.flatten
      def phase(k: String) = batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      if (batches.nonEmpty) {
        add("streaming.batches", batches.size)
        add("streaming.input_rows", batches.map(_.numInputRows.toDouble).sum)
        add("streaming.trigger_ms", phase("triggerExecution"))
        add("streaming.add_batch_ms", phase("addBatch"))
        add("streaming.query_planning_ms", phase("queryPlanning"))
        add("streaming.latest_offset_ms", phase("latestOffset"))
        add("streaming.get_batch_ms", phase("getBatch"))
        add("streaming.wal_commit_ms", phase("walCommit"))
        add("streaming.commit_offsets_ms", phase("commitOffsets"))
      }
      // state stores: updates, removals and commit time over all batches;
      // size and memory as each query left them
      val stores = batches.flatMap(_.stateOperators)
      if (stores.nonEmpty) {
        add("state.rows_updated", stores.map(_.numRowsUpdated.toDouble).sum)
        add("state.rows_removed", stores.map(_.numRowsRemoved.toDouble).sum)
        add("state.commit_ms", stores.map(_.commitTimeMs.toDouble).sum)
        val last = queries.filter(_.nonEmpty).flatMap(_.last.stateOperators)
        add("state.rows_total", last.map(_.numRowsTotal.toDouble).sum)
        add("state.memory_bytes", last.map(_.memoryUsedBytes.toDouble).sum)
      }
    }
    val means = sums.map { case (k, v) => k -> v / math.max(nOps, 1.0) }.toMap
    // batches per op run (per drain for the topology), not per micro-batch
    sums.get("streaming.batches").fold(means)(b => means.updated("streaming.batches", b / opIds.size))
  }

  /** Run `f` over `xs` on `threads` threads; rethrows the first failure. */
  private def inParallel[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdownNow()
  }

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.iterator().asScala.foreach { p =>
        val target = to.resolve(from.relativize(p).toString)
        // the mtimes order a file source's micro-batches
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = scala.util.Using.resource(Files.walk(p))(s => s.toArray.toSeq.map(_.asInstanceOf[Path]))
      all.reverse.foreach(Files.deleteIfExists(_))
    }
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
