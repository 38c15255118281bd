package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._
import graft.queries.ReferenceQueries.topologyTransactions

/** Driver contract (see SURVEY.md §5.2/§7). Every operator from SURVEY §2
  * plus the north-star LLM-pipeline operators is exposed as a named query
  * over the driver's Parquet tables, with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible. Each query is one
  * [[graft.queries.QueryDef]] in its family's file under `graft.queries`,
  * next to its oracle; this object holds the registry built from them,
  * [[entry]], the shared table read ([[t]]) and the stream-tree layer the
  * stream gates stage into.
  *
  * Oracle-compat rules used throughout (SURVEY §7.3.4):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - double→int truncation is written `CAST(TRUNC(x) AS INT)` in DuckDB to
  *    match Spark's truncating cast (DuckDB's bare CAST rounds);
  *  - money sums go through DECIMAL(18,2) so they are exact and
  *    order-independent, then back to DOUBLE;
  *  - floating similarity scores are computed with identical
  *    left-to-right double arithmetic on both sides and rounded to 6 dp.
  */
object SparkEntry {

  /** Reads one registry table. Parquet schema inference is a Spark job, so
    * the schema Spark infers is remembered per file version and Parquet
    * type-mapping settings, and every later read binds to it: a steady-state
    * read starts no job, and plans, schemas and rows are those of an inferred
    * read. The key holds no session, so dead sessions are not kept alive.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val ver = fileVersion(s, path)
    def key = (ver, parquetTypeConfs.map(k => s.conf.getOption(k).orNull))
    val df = parquetSchemas.get(key) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None =>
        // Event tables have shipped `ts` as both TIMESTAMP(NANOS) (unreadable
        // without the legacy nanos-as-long conf) and plain timestamp[us]. Our
        // own sessions set the conf at build time. For any session it is set
        // while the schema of a file whose footer stores NANOS is inferred,
        // and only then: a read bound to that LongType schema executes
        // without the conf, so the caller's session is left as it was.
        val inferred =
          if (storesNanos(s, path)) {
            val schema = withConf(s, "spark.sql.legacy.parquet.nanosAsLong", "true")(
              s.read.parquet(path).schema)
            s.read.schema(schema).parquet(path)
          } else s.read.parquet(path)
        parquetSchemas.put(key, inferred.schema)
        inferred
    }
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Whether the Parquet footer of `path` (for a directory, of its first
    * data file) stores a TIMESTAMP(NANOS) column, which Spark's schema
    * inference rejects unless nanos are read as longs.
    */
  private def storesNanos(s: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) Some(p)
      else fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).headOption
    file.exists { f =>
      val footer = scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)))(_.getFooter)
      footer.getFileMetaData.getSchema.getColumns.asScala.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
  }

  /** Runs `body` with one session setting changed, then puts it back as it
    * was. Synchronized on the session: the get/set/restore is not atomic,
    * and two threads changing one session would otherwise race, one reading
    * the other's temporary value as the one to restore. Java monitors are
    * reentrant, so a nested use on one thread restores outside-in.
    */
  private def withConf[A](s: SparkSession, key: String, value: String)(body: => A): A =
    s.synchronized {
      val prev = s.conf.getOption(key)
      s.conf.set(key, value)
      try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }

  /** The session settings that change the schema Spark infers for a Parquet
    * file: how its physical types map to Spark types, and whether a
    * directory's part files are merged.
    */
  private val parquetTypeConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private val parquetSchemas = scala.collection.concurrent.TrieMap
    .empty[(FileVersion, Seq[String]), org.apache.spark.sql.types.StructType]

  /** One version of a file: its qualified path, byte length and mtime (for
    * a directory, the total length and latest mtime of the files under it).
    * A memo keyed on it misses after a rewrite, and a rewrite within one mtime
    * tick still misses when it changes the file's length.
    */
  private case class FileVersion(path: String, length: Long, mtime: Long)

  private def fileVersion(s: SparkSession, path: String): FileVersion = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    // plain statuses: `listFiles`' LocatedFileStatus reads each file's
    // permission, which on a local file without Hadoop's native library
    // forks an `ls`
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(files)
      else Iterator(st)
    var length, mtime = 0L
    files(fs.getFileStatus(q)).foreach { f =>
      length += f.getLen
      mtime = math.max(mtime, f.getModificationTime)
    }
    FileVersion(q.toString, length, mtime)
  }

  /** Normalize the `ts` column of an events-shaped frame to session-TZ
    * TimestampType regardless of how the parquet file stored it. Branches on
    * the READ schema, not an assumption about the writer:
    *  - LongType: legacy nanos-as-long read of TIMESTAMP(NANOS) — integer
    *    `div` (not floor of a double: epoch nanos exceed double's 2^53),
    *    then rebuild the timestamp from micros;
    *  - TIMESTAMP_NTZ: timestamp[us] with isAdjustedToUTC=false — cast to
    *    session-TZ timestamp (session TZ is UTC everywhere here, so the
    *    stored micros value is preserved and DuckDB's naive read agrees);
    *  - TimestampType: already what downstream operators expect.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Memoized row count per table version — LSH auto-sizing needs the
    * corpus size driver-side; one metadata-only count job per table version,
    * not one per query invocation. Keyed on [[fileVersion]], so a table
    * rewritten within the same JVM can't serve a stale corpus size to
    * bitsFor/broadcast gating.
    */
  private val countCache = scala.collection.concurrent.TrieMap.empty[FileVersion, Long]

  private[graft] def tableCount(s: SparkSession, dir: String, name: String): Long =
    countCache.getOrElseUpdate(fileVersion(s, s"$dir/$name.parquet"), t(s, dir, name).count())

  /** The JVM's temp directory (`java.io.tmpdir`), under which the stream
    * gates' trees and the layout and format gates' tables are written. */
  private def tmpDir: String = System.getProperty("java.io.tmpdir")

  private[graft] def inTmpDir(name: String): String =
    java.nio.file.Paths.get(tmpDir, name).toString

  /** App-scoped temp-dir base for a streaming query's staging/run tree. The
    * appId suffix is the concurrency contract: with a FIXED shared path, a
    * second Spark app (bench + verify JVMs overlapping, or two sessions in
    * one JVM) would wipeTree a fixture another app was actively streaming
    * from — surfacing as baffling mid-stream failures or parity hash
    * mismatches, never as the real cause. Each app now wipes and streams
    * only its own tree. Stale trees from EXITED apps are swept here (once
    * per JVM): any graft_stream_* sibling not ours whose mtime is >24h old.
    * Two things keep a LIVE app's tree out of the sweep window: every
    * streamBase call touches the base mtime explicitly below (the run dirs
    * being wiped/recreated refreshed it implicitly, but an app that staged
    * once and then only STREAMS — a single long-running query — never
    * re-invokes staging), and the cutoff sits far above any plausible
    * single-run duration in this environment (gate + bench + verify
    * together are under an hour; 24h of margin, not 2h). No stream outlives
    * the call that asked for its base by that much: every gate runs
    * `AvailableNow` and awaits termination before it returns. The temp dir
    * then holds at most the last day of app trees instead of growing forever.
    */
  private[graft] val staleSweepDone = new java.util.concurrent.atomic.AtomicBoolean

  private[graft] def streamBase(s: SparkSession, tag: String, dir: String): String = {
    val app = s.sparkContext.applicationId.replaceAll("\\W", "_")
    if (staleSweepDone.compareAndSet(false, true)) {
      val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
      try {
        scala.util.Using.resource(
            java.nio.file.Files.list(java.nio.file.Paths.get(tmpDir))) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter { p =>
              val n = p.getFileName.toString
              n.startsWith("graft_stream_") && !n.endsWith(s"__$app") &&
                (try java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
                 catch { case _: Throwable => false })
            }
            .toSeq // materialize before deleting under the open listing fd
        }.foreach(p => try wipeTree(p.toString) catch { case _: Throwable => () })
      } catch { case _: Throwable => () } // sweep is best-effort hygiene
    }
    val base = inTmpDir(s"graft_stream_${tag}_${dir.replaceAll("\\W", "_")}__$app")
    // keep OUR tree visibly live for other JVMs' sweeps even when staging
    // is memoized and no child dir gets recreated (see the doc above)
    try {
      val p = java.nio.file.Paths.get(base)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    } catch { case _: Throwable => () } // best-effort, like the sweep
    base
  }

  /** Recursive delete of a staging tree — shared by the stream-parity
    * queries, which keep exactly ONE fixed tree per sf dir alive (wiped on
    * the way in, so bench retries never accumulate temp-dir garbage).
    */
  private[graft] def wipeTree(base: String): Unit = {
    val p = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      // Using.resource closes the walk stream (it holds a directory fd;
      // the bare-iterator form leaked one fd per staging call). Paths are
      // materialized to a Seq BEFORE any delete, so the walk never
      // observes its own mutations.
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.reverseIterator
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  /** Per-JVM memo of the staged 3-file time-split input (bucketed-fixture
    * pattern): staging — span boundaries + three coalesce(1) writes — is
    * test-fixture construction, not the runtime under gate; paying it
    * once per JVM leaves the timed warm runs measuring what the queries
    * exist to gate (the live streaming runs: sources → state store →
    * checkpointed sink). Checkpoint/sink dirs stay FRESH per invocation —
    * every run is a cold end-to-end streaming lifecycle.
    */
  private val statefulStageDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The streaming schema of the staged events files — declared (a file
    * stream cannot infer), shared by every live-parity query.
    */
  private[graft] def stagedEventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
  }

  /** Stage the events table as THREE time-range parquet files under a
    * per-(sfdir, applicationId) landing directory ([[streamBase]]: a fixed
    * shared path let a second Spark app wipe the fixture this app was
    * streaming from) — the shared multi-batch fixture
    * behind every live-streaming parity query (`maxFilesPerTrigger=1`
    * turns the files into three ordered micro-batches; mtime spacing makes
    * FileStreamSource admit them oldest-first, so batch order == time
    * order). Returns the landing directory path.
    *
    * Boundaries are EXACT thirds of the [min, max] event-time micros span
    * — deterministic and SQL-expressible (the windowed-agg oracle must
    * reconstruct per-batch watermarks from the same split), replacing the
    * approxQuantile split (any ts-respecting split is parity-equivalent
    * for the asof/dedup/funnel faces; the window face needs the boundary
    * VALUES reproducible in the oracle). Equal-ts rows land in ONE file
    * (<=/> filters), so per-key event-time order holds ACROSS batches by
    * construction.
    *
    * The memo key is recorded only AFTER staging succeeds: a mid-staging
    * throw must re-stage on the next call, not stream from a partial
    * landing dir (which would resurface as a baffling parity hash
    * mismatch instead of the original error). [[Bench]] calls this
    * eagerly before its timed region so no query's COLD sample includes
    * fixture construction.
    */
  private[graft] def stageTimeSplitEvents(s: SparkSession, dir: String): String = {
    val base = streamBase(s, "stateful", dir)
    val landing = java.nio.file.Paths.get(s"$base/in_events")
    val key = s"$dir@${s.sparkContext.applicationId}"
    // synchronized check-then-stage: the memo's add() can no longer be the
    // atomic claim (it must happen after success), and two concurrent
    // first calls racing through wipe+write would corrupt the fixture
    statefulStageDone.synchronized {
      if (!statefulStageDone.contains(key)) {
        wipeTree(base)
        landTimeSplit(t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            col("value")), base, landing)
        statefulStageDone.add(key) // only after staging fully succeeded
      }
    }
    landing.toString
  }

  /** Land `ev` in `landing` as three Parquet files `events_00..02`, split at
    * the thirds of its `ts` range (equal-ts rows land in ONE file), each
    * written through `base/tmp_<i>`.
    */
  private[graft] def landTimeSplit(ev: DataFrame, base: String,
                                   landing: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(landing)
    val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = hi - lo
    val (b1, b2) = (lo + span / 3, hi - span / 3)
    val parts = Seq(
      ev.filter(unix_micros(col("ts")) <= b1),
      ev.filter(unix_micros(col("ts")) > b1 && unix_micros(col("ts")) <= b2),
      ev.filter(unix_micros(col("ts")) > b2))
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = s"$base/tmp_$i"
      p.coalesce(1).write.mode("overwrite").parquet(tmp)
      // Using.resource: Files.list holds a directory fd until closed
      val part = scala.util.Using.resource(
          java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
        st.filter(f => f.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
      }
      val dst = landing.resolve(f"events_$i%02d.parquet")
      java.nio.file.Files.move(part, dst)
      // distinct ascending mtimes: FileStreamSource admits oldest-first,
      // so batch order == time order (a tie would leave order to listing)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 10000L))
    }
  }

  /** Start a streaming query with `spark.sql.shuffle.partitions` sized to
    * the state-store key space (see the SIZE THE STATE PARTITIONS note on
    * [[graft.queries.StreamGateQueries.run]]: each micro-batch commits one
    * delta file + fsync PER state partition, so 32 partitions over ~10³ keys
    * is pure per-file overhead). The batch-side conf is restored immediately; each
    * caller starts a FRESH checkpoint, so the burned-in value never
    * conflicts.
    */
  private[graft] def withStatePartitions[A](s: SparkSession, n: Int)(start: => A): A =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(start)

  // ------------------------------------------------------------- contract

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    topologyTransactions(spark, "/root/testdata/sf0.001")

  /** Every registry query, family by family, each defined once next to its
    * oracle; construction requires distinct names. Lazy, like the maps
    * below: a family reads members of this object while it initialises.
    */
  lazy val registry: Seq[QueryDef] = QueryDef.registry(Seq(
    ReferenceQueries, StreamGateQueries, SqlShapeQueries, LayoutQueries, AnalyticsQueries,
    StatisticsQueries, SketchQueries, GraphQueries, DedupQueries, SimilarityQueries,
    TextQueries, TrainingDataQueries, MultimodalQueries).flatMap(_.defs))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  lazy val oracleSql: Map[String, String] = registry.map(d => d.name -> d.oracleSql).toMap
}
