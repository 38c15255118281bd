package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.SparkSpec
import graft.queries.SplitGate
import graft.queries.StreamGateQueries._

/** Every time-split stream gate stopped after every micro-batch and
  * restarted on the same checkpoint ends with the output of one
  * uninterrupted run: the events files land one at a time, and after each
  * an `AvailableNow` run drains what is new. Both state stores, which give
  * the same rows, and a checkpoint begun under Spark's default file manager
  * (which leaves `.crc` sidecars) and resumed under graft's.
  */
class StatefulRestartSpec extends SparkSpec {
  import SplitEvents._

  private val providers = Seq(
    "HDFS" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "RocksDB" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  /** Each gate under the name of the operator it runs live. */
  private val gates = Seq(
    "streamingSessionize" -> sessionizeGate, "streamingFunnel" -> funnelGate,
    "streamingAsofEnrich" -> asofGate, "streamingDedup" -> dedupGate,
    "windowedAgg" -> windowGate, "streamIntervalJoin" -> joinGate,
    "streamingKmvDistinct" -> kmvGate,
    "streamingEma, streamingAnomaly and streamingRateLimit" -> recursiveGate)

  private def session(provider: String, manager: Option[String] = None): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    manager.foreach(s.conf.set(graft.streaming.LocalCheckpointFileManager.ConfKey, _))
    s
  }

  private def drain(s: SparkSession, gate: SplitGate, landing: Path, base: Path): Unit =
    gate.start(s, landing.toString, base.toString).foreach(_.awaitTermination())

  private def read(gate: SplitGate, landing: Path, base: Path): Seq[String] =
    rows(gate.read(spark, landing.toString, base.toString))

  private def uninterrupted(s: SparkSession, gate: SplitGate): Seq[String] =
    withTempDir("graft_restart_once") { d =>
      files(spark).foreach(land(_, d.resolve("in")))
      drain(s, gate, d.resolve("in"), d)
      read(gate, d.resolve("in"), d)
    }

  /** The uninterrupted rows per (store, gate), shared by the cases below. */
  private val once = TrieMap.empty[(String, String), Seq[String]]
  private def onceOn(store: String, name: String): Seq[String] =
    once.getOrElseUpdate((store, name),
      uninterrupted(session(providers.toMap.apply(store)), gates.toMap.apply(name)))

  /** One drain per landed file; drain i runs in `sessions(i)`. */
  private def restarted(sessions: Seq[SparkSession], gate: SplitGate)(
      afterFirst: Path => Unit = _ => ()): Seq[String] =
    withTempDir("graft_restart") { d =>
      files(spark).zip(sessions).zipWithIndex.foreach { case ((f, s), i) =>
        land(f, d.resolve("in"))
        drain(s, gate, d.resolve("in"), d)
        if (i == 0) afterFirst(d.resolve("ckpt"))
      }
      read(gate, d.resolve("in"), d)
    }

  for ((store, provider) <- providers; (name, gate) <- gates)
    test(s"$name restarted after every landed file equals one uninterrupted run ($store store)") {
      val expected = onceOn(store, name)
      assert(expected.nonEmpty)
      val s = session(provider)
      assert(restarted(Seq.fill(3)(s), gate)() === expected)
    }

  for ((name, _) <- gates)
    test(s"$name: one uninterrupted run gives the same rows on the HDFS and RocksDB stores") {
      assert(onceOn("HDFS", name) === onceOn("RocksDB", name))
    }

  test("a checkpoint begun under Spark's default file manager resumes under graft's") {
    val (_, hdfs) = providers.head
    val sparkDefault = session(hdfs, Some(classOf[FileContextBasedCheckpointFileManager].getName))
    val graftDefault = session(hdfs)
    for ((name, gate) <- gates.take(2)) { // sessionize and funnel
      val resumed = restarted(Seq(sparkDefault, graftDefault, graftDefault), gate) { ckpt =>
        assert(Files.exists(ckpt.resolve("offsets/.0.crc")),
          "the first batch must run under Spark's default manager")
      }
      assert(resumed === onceOn("HDFS", name), name)
    }
  }
}
