package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.{ProcessStarts, SparkSpec}

/** A local file system under its own scheme, counting the files created
  * through it: the stand-in for a remote store in the delegation case. */
class CountingSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingSchemeFs.Scheme}:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingSchemeFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingSchemeFs {
  val Scheme = "graftcount"
  val creates = new AtomicInteger
}

class LocalCheckpointFileManagerSpec extends SparkSpec {
  import SplitEvents._

  private val key = LocalCheckpointFileManager.ConfKey
  private def conf: Configuration = spark.sessionState.newHadoopConf()
  private def hPath(p: NioPath) = new Path(p.toUri)

  private def write(m: CheckpointFileManager, p: NioPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = m.createAtomic(hPath(p), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: NioPath): String =
    scala.util.Using.resource(m.open(hPath(p)))(in => new String(in.readAllBytes(), UTF_8))
  private def names(d: NioPath): Seq[String] =
    scala.util.Using.resource(Files.list(d))(_.iterator().asScala.map(_.getFileName.toString).toSeq)
      .sorted

  test("createAtomic without overwrite onto an existing file throws Hadoop's " +
       "FileAlreadyExistsException and keeps the old bytes") {
    withTempDir("graft_cfm") { d =>
      val m = new LocalCheckpointFileManager(hPath(d), conf)
      write(m, d.resolve("0"), "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(m, d.resolve("0"), "new", overwrite = false))
      assert(Files.readString(d.resolve("0")) === "old")
      assert(names(d) === Seq("0"), "the losing writer's temp file must be gone")
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withTempDir("graft_cfm") { d =>
      val m = new LocalCheckpointFileManager(hPath(d), conf)
      val out = m.createAtomic(hPath(d.resolve("1.delta")), overwriteIfPossible = true)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(d) === Nil)
    }
  }

  test("overwrite replaces a file Spark's default manager wrote and removes its " +
       "stale .crc, so both managers read the new bytes") {
    withTempDir("graft_cfm") { d =>
      val sparkDefault = new FileContextBasedCheckpointFileManager(hPath(d), conf)
      val m = new LocalCheckpointFileManager(hPath(d), conf)
      write(sparkDefault, d.resolve("2.delta"), "written by spark", overwrite = true)
      assert(Files.exists(d.resolve(".2.delta.crc")), "Spark's default manager writes a .crc")
      write(m, d.resolve("2.delta"), "by graft", overwrite = true)
      assert(names(d) === Seq("2.delta"))
      assert(read(m, d.resolve("2.delta")) === "by graft")
      assert(read(sparkDefault, d.resolve("2.delta")) === "by graft")
      assert(m.exists(hPath(d.resolve("2.delta"))))
      assert(m.list(hPath(d)).map(_.getPath.getName).toSeq === Seq("2.delta"))
    }
  }

  test("a non-file scheme delegates to the manager Spark would have built") {
    withTempDir("graft_cfm") { d =>
      val c = conf
      c.set(s"fs.${CountingSchemeFs.Scheme}.impl", classOf[CountingSchemeFs].getName)
      c.set(s"fs.${CountingSchemeFs.Scheme}.impl.disable.cache", "true")
      val root = new Path(s"${CountingSchemeFs.Scheme}://${d.toUri.getPath}")
      val m = new LocalCheckpointFileManager(root, c)
      val withoutKey = new Configuration(c)
      withoutKey.unset(key)
      assert(m.delegate.getClass === CheckpointFileManager.create(root, withoutKey).getClass)
      val before = CountingSchemeFs.creates.get
      val out = m.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
      out.write("remote".getBytes(UTF_8))
      out.close()
      assert(CountingSchemeFs.creates.get > before, "the write must go through the scheme's FileSystem")
      assert(Files.readString(d.resolve("0")) === "remote")
      // and a file: root never touches it
      val local = CountingSchemeFs.creates.get
      write(new LocalCheckpointFileManager(hPath(d), c), d.resolve("1"), "local", overwrite = false)
      assert(CountingSchemeFs.creates.get === local)
    }
  }

  test("GraftExtensions makes the manager the session default; a value set first wins") {
    val fresh = spark.newSession()
    fresh.range(1).count() // builds the analyzer, whose rule builder sets the default
    assert(fresh.conf.getOption(key) === Some(classOf[LocalCheckpointFileManager].getName))
    val chosen = spark.newSession()
    chosen.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    chosen.range(1).count()
    assert(chosen.conf.getOption(key) === Some(classOf[FileContextBasedCheckpointFileManager].getName))
  }

  /** Processes started while `body` runs whose stack passes through a
    * checkpoint file manager or a state store provider, recorded by JFR. */
  private def checkpointForks(body: => Unit): Int =
    ProcessStarts.count(ProcessStarts.inClass("CheckpointFileManager", "StateStoreProvider"))(body)

  /** A three-batch streamingSessionize lifecycle, as its stream gate runs
    * it. */
  private def lifecycle(s: SparkSession): Unit = withTempDir("graft_forks") { d =>
    files(spark).foreach(land(_, d.resolve("in")))
    val Seq(q) = graft.queries.StreamGateQueries.sessionizeGate
      .start(s, d.resolve("in").toString, d.toString)
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
  }

  test("a stateful lifecycle writes its checkpoint and state store without " +
       "starting a process; Spark's default manager does start them") {
    files(spark) // stage the fixture outside the recording
    assert(checkpointForks(lifecycle(spark)) === 0)
    val sparkDefault = spark.newSession()
    sparkDefault.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    assert(checkpointForks(lifecycle(sparkDefault)) > 0,
      "the recording must see the forks it is meant to count")
  }
}
