package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The stream gates' fixture for specs: a seeded events table staged as
  * the gates stage theirs, as three time-split parquet files that a spec
  * lands one at a time into a directory a gate's file source watches. The
  * gates themselves are the registry's [[graft.queries.SplitGate]] values.
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

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def withTempDir[A](prefix: String)(f: Path => A): A = {
    val d = Files.createTempDirectory(prefix)
    try f(d) finally deleteTree(d)
  }

  private def deleteTree(d: Path): Unit =
    scala.util.Using.resource(Files.walk(d))(_.iterator().asScala.toSeq)
      .reverse.foreach(Files.deleteIfExists(_))
}
