package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.SparkSpec

/** A stateful stream stopped after every micro-batch and restarted on the
  * same checkpoint ends with the output of one uninterrupted run: the events
  * files land one at a time, and after each an `AvailableNow` run drains
  * what is new. Both state stores, and a checkpoint begun under Spark's
  * default file manager (which leaves `.crc` sidecars) and resumed under
  * graft's.
  */
class StatefulRestartSpec extends SparkSpec {
  import SplitEvents._

  private val providers = Seq(
    "HDFS" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "RocksDB" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  private val ops = Seq("streamingSessionize" -> sessionize, "streamingFunnel" -> funnel)

  private def session(provider: String, manager: Option[String] = None): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    manager.foreach(s.conf.set(graft.streaming.LocalCheckpointFileManager.ConfKey, _))
    s
  }

  private def drain(s: SparkSession, op: Op, landing: Path, base: Path): Unit = {
    val q = op.start(s, landing, base)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def uninterrupted(s: SparkSession, op: Op): Seq[String] =
    withTempDir("graft_restart_once") { d =>
      files(spark).foreach(land(_, d.resolve("in")))
      drain(s, op, d.resolve("in"), d)
      rows(op.read(s, d))
    }

  /** One drain per landed file; drain i runs in `sessions(i)`. */
  private def restarted(sessions: Seq[SparkSession], op: Op)(
      afterFirst: Path => Unit = _ => ()): Seq[String] =
    withTempDir("graft_restart") { d =>
      files(spark).zip(sessions).zipWithIndex.foreach { case ((f, s), i) =>
        land(f, d.resolve("in"))
        drain(s, op, d.resolve("in"), d)
        if (i == 0) afterFirst(d.resolve("ckpt"))
      }
      rows(op.read(spark, d))
    }

  for ((store, provider) <- providers; (name, op) <- ops)
    test(s"$name restarted after every landed file equals one uninterrupted run ($store store)") {
      val s = session(provider)
      val once = uninterrupted(s, op)
      assert(once.nonEmpty)
      assert(restarted(Seq.fill(3)(s), op)() === once)
    }

  test("a checkpoint begun under Spark's default file manager resumes under graft's") {
    val (_, hdfs) = providers.head
    val sparkDefault = session(hdfs, Some(classOf[FileContextBasedCheckpointFileManager].getName))
    val graftDefault = session(hdfs)
    for ((name, op) <- ops) {
      val once = uninterrupted(graftDefault, op)
      val resumed = restarted(Seq(sparkDefault, graftDefault, graftDefault), op) { ckpt =>
        assert(Files.exists(ckpt.resolve("offsets/.0.crc")),
          "the first batch must run under Spark's default manager")
      }
      assert(resumed === once, name)
    }
  }
}
