package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.StreamRunner

/** A `GraftExtensions` session ships its Hadoop configuration without the
  * per-key source records: every key and value stays, and the conf Spark
  * serializes into tasks and broadcasts shrinks.
  */
class HadoopConfSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialize(c: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    bytes.toByteArray
  }

  private def deserialize(b: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(b)).readObject()
      .asInstanceOf[SerializableConfiguration].value

  /** `c`'s keys and values with the sources Hadoop records when it builds
    * such a conf: the default resource each key came from, and
    * "programmatically" for a key set on top. */
  private def withSources(c: Configuration): Configuration = {
    val ref = new Configuration()
    ref.size()
    pairs(c).foreach { case (k, v) => if (ref.getRaw(k) != v) ref.set(k, v) }
    ref
  }

  test("after a Parquet write, a JSON read and a streaming drain, the session's " +
       "Hadoop conf keeps sources only for keys the session set") {
    val d = Files.createTempDirectory("graft_hconf")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(d.resolve("pq").toString)
    Seq("""{"id":1}""", """{"id":2}""").toDF("value").write.text(d.resolve("json").toString)
    assert(spark.read.json(d.resolve("json").toString).count() === 2)
    val landing = d.resolve("landing")
    Files.createDirectories(landing)
    Seq(1, 2).foreach(i => Files.writeString(landing.resolve(s"$i.json"), s"""{"id":$i}\n"""))
    val q = StreamRunner.fileSink(
      StreamRunner.fileSource(spark, landing.toString, new StructType().add("id", LongType),
        options = Map("maxFilesPerTrigger" -> "1")),
      d.resolve("out").toString, d.resolve("ckpt").toString)
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    assert(spark.read.parquet(d.resolve("out").toString).count() === 2)

    val c = spark.sessionState.newHadoopConf()
    assert(c.getPropertySources("fs.defaultFS") === null)
    val own = spark.sessionState.conf.getAllConfs.keySet
    val sourced = pairs(c).keySet.filter(k => c.getPropertySources(k) != null)
    assert(sourced.nonEmpty && sourced.subsetOf(own), sourced.diff(own))
    val ref = withSources(c)
    assert(pairs(ref) === pairs(c))
    assert(ref.getPropertySources("fs.defaultFS").toSeq === Seq("core-default.xml"))
    val (bytes, refBytes) = (serialize(c).length, serialize(ref).length)
    assert(bytes <= 0.7 * refBytes, s"$bytes bytes against $refBytes with sources")
  }

  test("dropping the sources keeps the key count and every key and value") {
    Class.forName("org.apache.hadoop.mapred.JobConf") // every default resource registered
    val c = new Configuration()
    val before = pairs(c)
    assert(c.getPropertySources("fs.defaultFS") != null)
    GraftExtensions.dropProvenance(c)
    assert(c.size() === before.size)
    assert(pairs(c) === before)
    assert(c.getPropertySources("fs.defaultFS") === null)
  }

  test("a SerializableConfiguration round trip keeps every key and value") {
    val c = spark.sessionState.newHadoopConf()
    assert(pairs(deserialize(serialize(c))) === pairs(c))
  }
}
