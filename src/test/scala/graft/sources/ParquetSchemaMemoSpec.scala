package graft.sources

import graft.{ProcessStarts, SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardCopyOption}

/** `SparkEntry.t` binds every read after the first of a file version to the
  * schema Spark inferred for it, so a steady-state registry read starts no
  * schema-inference job — and reads exactly what an inferred read reads.
  */
class ParquetSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `df` as ONE Parquet file at `dir/name.parquet` (the registry's
    * single-file layout), replacing whatever is there.
    */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_memo_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Runs `body` and returns the Spark jobs it started on this thread. A
    * marker job started afterwards orders the listener: once its start is
    * seen, every job `body` started has been seen too.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"memo-spec-${java.util.UUID.randomUUID}"
    val marker = s"$tag-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty[String])
        if (tags(tag)) jobs.incrementAndGet()
        if (tags(marker)) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(marker)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second read of an unchanged file starts no job and equals an inferred read") {
    val dir = Files.createTempDirectory("graft_memo")
    writeTable(Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "b", -2.0, Seq.empty[Int]), (3L, null, 0.0, null))
      .toDF("id", "name", "score", "xs"), dir, "memo_a")
    val (_, firstJobs) = jobsOf(SparkEntry.t(spark, dir.toString, "memo_a"))
    assert(firstJobs >= 1, "the first read of a file version infers its schema with a job")
    val (cached, cachedJobs) = jobsOf(SparkEntry.t(spark, dir.toString, "memo_a"))
    assert(cachedJobs === 0)
    val inferred = spark.read.parquet(dir.resolve("memo_a.parquet").toString)
    assert(cached.schema === inferred.schema)
    assert(rows(cached) === rows(inferred))
    assert(plan(cached) === plan(inferred))
    // a filtered projection plans the same too (pushed filters, read schema)
    val q = (df: DataFrame) => df.filter(col("score") > 0).select(col("id"), col("xs"))
    assert(plan(q(cached)) === plan(q(inferred)))
  }

  test("a memoized read starts no process; a located listing of the same file does") {
    val dir = Files.createTempDirectory("graft_memo")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, "memo_fork")
    SparkEntry.t(spark, dir.toString, "memo_fork") // infers and memoizes the schema
    val inEntry = ProcessStarts.inClass(SparkEntry.getClass.getName.stripSuffix("$")) _
    assert(ProcessStarts.count(inEntry)(SparkEntry.t(spark, dir.toString, "memo_fork")) === 0)
    // the LocatedFileStatus walk the version check replaced forks an `ls`
    // per file without Hadoop's native library: the recording sees it
    val p = new org.apache.hadoop.fs.Path(dir.resolve("memo_fork.parquet").toString)
    val located = ProcessStarts.count(ProcessStarts.inClass(getClass.getName)) {
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      while (files.hasNext) files.next()
    }
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) assert(located > 0)
  }

  test("a rewrite with a different column set is read with its new columns") {
    val dir = Files.createTempDirectory("graft_memo")
    writeTable(Seq((1L, "x")).toDF("a", "b"), dir, "memo_b")
    assert(SparkEntry.t(spark, dir.toString, "memo_b").columns.toSeq === Seq("a", "b"))
    writeTable(Seq((7L, 2.5, true), (8L, 3.5, false)).toDF("a", "c", "d"), dir, "memo_b")
    val after = SparkEntry.t(spark, dir.toString, "memo_b")
    assert(after.columns.toSeq === Seq("a", "c", "d"))
    assert(rows(after) === Seq("[7,2.5,true]", "[8,3.5,false]"))
  }

  /** Writes a one-column-plus-id Parquet file with parquet-mr directly, so
    * its footer carries no Spark schema and inference maps the physical
    * `ts` type under the session's settings (a Spark-written footer pins it).
    */
  private def writeRawTs(dir: Path, name: String, tsType: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message m { required int64 id; required int64 ts ($tsType); }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve(s"$name.parquet").toString), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (v, i) =>
      w.write(groups.newGroup().append("id", i.toLong).append("ts", v))
    } finally w.close()
  }

  /** Runs `body`, then puts `conf` back as it was: the session is shared. */
  private def restoring[T](conf: String)(body: => T): T = {
    val before = spark.conf.getOption(conf)
    try body finally before match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  private val micros = Seq(1704103200123456L, 1722384000000000L)

  test("inferTimestampNTZ switched on, off and on again gives the matching ts type") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val dir = Files.createTempDirectory("graft_memo")
    writeRawTs(dir, "memo_ntz", "TIMESTAMP(MICROS,false)", micros)
    def read() = SparkEntry.t(spark, dir.toString, "memo_ntz")
    def asMicros(df: DataFrame) =
      df.select(unix_micros(col("ts").cast(TimestampType))).as[Long].collect().toSeq
    restoring(conf) {
      spark.conf.set(conf, "true")
      assert(read().schema("ts").dataType === TimestampNTZType)
      spark.conf.set(conf, "false")
      assert(read().schema("ts").dataType === TimestampType)
      assert(asMicros(read()) === micros)
      spark.conf.set(conf, "true")
      val (ntz, jobs) = jobsOf(read())
      assert(ntz.schema("ts").dataType === TimestampNTZType)
      assert(jobs === 0, "the NTZ schema is still memoized under its own setting")
      assert(asMicros(ntz) === micros)
    }
  }

  test("a NANOS file's LongType schema is bound only under nanosAsLong") {
    import org.apache.spark.sql.types.LongType
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("graft_memo")
    writeRawTs(dir, "memo_nanos", "TIMESTAMP(NANOS,true)", micros.map(_ * 1000))
    restoring(conf) {
      // each pass is a session that has not set the legacy conf: the read
      // infers with the conf set for inference only and reads the epoch
      // nanos as longs, and the session keeps the conf it had
      for (_ <- 1 to 2) {
        spark.conf.set(conf, "false")
        val df = SparkEntry.t(spark, dir.toString, "memo_nanos")
        assert(df.schema("ts").dataType === LongType)
        assert(spark.conf.get(conf) === "false")
        assert(df.select(col("ts")).as[Long].collect().toSeq === micros.map(_ * 1000))
      }
    }
  }

  test("a NANOS read leaves the caller's unset nanosAsLong unset and reads the legacy rows") {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("graft_memo")
    writeRawTs(dir, "memo_nanos_caller", "TIMESTAMP(NANOS,true)", micros.map(_ * 1000))
    val caller = spark.newSession()
    caller.conf.unset(conf)
    val before = caller.conf.getOption(conf)
    val path = dir.resolve("memo_nanos_caller.parquet").toString
    assert(scala.util.Try(caller.read.parquet(path)).isFailure,
      "without the conf the nanos footer rejects the read, so the fallback runs")
    // the rows of a whole-session legacy read (this suite's session sets the conf)
    assert(spark.conf.get(conf) === "true")
    val legacy = rows(spark.read.parquet(path))
    val (first, firstJobs) = jobsOf(SparkEntry.t(caller, dir.toString, "memo_nanos_caller"))
    assert(firstJobs === 1, "the footer names NANOS, so no inference job fails first")
    assert(caller.conf.getOption(conf) === before)
    assert(rows(first) === legacy)
    val (again, jobs) = jobsOf(SparkEntry.t(caller, dir.toString, "memo_nanos_caller"))
    assert(jobs === 0, "the fallback's schema is memoized under the caller's settings")
    assert(caller.conf.getOption(conf) === before)
    assert(rows(again) === legacy)
  }
}
