package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max_by, try_element_at}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry

/** The stream gates' fixture for specs: a seeded events table staged as
  * the gates stage theirs, three time-split parquet files landed one at a
  * time into a directory a file source watches, and the two stateful
  * operators the gates run on them, each with its sink and read-back.
  */
object SplitEvents {

  /** 150 users over 30 days of events, written once per JVM. Each user's
    * gaps mix minutes and days, so sessions close inside and across the
    * three files, and funnel stages land in different files. */
  private lazy val eventsDir: String = {
    val s = graft.TestSpark.spark
    import s.implicits._
    val d = Files.createTempDirectory("graft_split_events")
    sys.addShutdownHook(deleteTree(d))
    val rng = new scala.util.Random(20180610)
    val types = Seq("signup", "view", "view", "click", "purchase")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (1L to 150L).flatMap { user =>
      Iterator.iterate(t0 + rng.nextInt(48 * 3600) * 1000L) { t =>
        t + (if (rng.nextInt(4) == 0) rng.nextInt(72 * 3600) else rng.nextInt(40 * 60)) * 1000L
      }.take(30).toSeq.map(t => (user, new java.sql.Timestamp(t), types(rng.nextInt(types.size)),
        rng.nextInt(10000) / 100.0))
    }.zipWithIndex.map { case ((u, t, e, v), i) => (u, t, i.toLong, e, v) }
    events.toDF("user_id", "ts", "event_id", "event_type", "value")
      .coalesce(1).write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  /** The three files, oldest first. */
  def files(s: SparkSession): Seq[Path] = {
    val staged = java.nio.file.Paths.get(SparkEntry.stageTimeSplitEvents(s, eventsDir))
    scala.util.Using.resource(Files.list(staged))(_.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
  }

  /** Copy one file into `landing`, keeping its mtime: the source admits
    * files oldest first. */
  def land(file: Path, landing: Path): Unit = {
    Files.createDirectories(landing)
    Files.copy(file, landing.resolve(file.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
  }

  /** One micro-batch per landed file. */
  def source(s: SparkSession, landing: Path): DataFrame =
    StreamRunner.fileSource(s, landing.toString, SparkEntry.stagedEventsSchema, "parquet",
      Map("maxFilesPerTrigger" -> "1"))

  def sessions(s: SparkSession, landing: Path): DataFrame = {
    import s.implicits._
    StatefulOps.streamingSessionize(source(s, landing).withWatermark("ts", "1 hour")
        .select("user_id", "ts", "value").as[SessionEvent], gapMs = 1800L * 1000)
      .select("user_id", "n_events", "session_start", "session_end")
  }

  /** A stateful operator as the stream gates run it: start a drain of
    * `landing` into `base`'s sink and checkpoint, and read the sink back. */
  final case class Op(start: (SparkSession, Path, Path) => StreamingQuery,
                      read: (SparkSession, Path) => DataFrame)

  val sessionize = Op(
    (s, landing, base) => StreamRunner.fileSink(sessions(s, landing),
      base.resolve("out").toString, base.resolve("ckpt").toString),
    (s, base) => s.read.parquet(base.resolve("out").toString))

  val funnel = Op(
    { (s, landing, base) =>
      import s.implicits._
      StatefulOps.streamingFunnel(source(s, landing).withWatermark("ts", "1 hour")
          .select("user_id", "ts", "event_type").as[FunnelEvent],
          Seq("signup", "view", "purchase"), stateTtlMs = 90L * 24 * 3600 * 1000)
        .toDF().writeStream.outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) =>
          StreamRunner.writeBatchIdempotent(b, id, base.resolve("out").toString))
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
    },
    (s, base) => s.read.parquet(base.resolve("out").toString).groupBy("user_id")
      .agg(max_by(col("stage_times"), col("_batch_id")).as("st"))
      .select(col("user_id"), try_element_at(col("st"), lit(1)).as("t_signup"),
        try_element_at(col("st"), lit(2)).as("t_view"),
        try_element_at(col("st"), lit(3)).as("t_purchase")))

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def withTempDir[A](prefix: String)(f: Path => A): A = {
    val d = Files.createTempDirectory(prefix)
    try f(d) finally deleteTree(d)
  }

  private def deleteTree(d: Path): Unit =
    scala.util.Using.resource(Files.walk(d))(_.iterator().asScala.toSeq)
      .reverse.foreach(Files.deleteIfExists(_))
}
