package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (sessions are expensive;
  * every spec gets the same deterministic config as Verify/Bench). Four
  * workers whatever `SPARK_GRAFT_CPUS` says, so the specs' partitioning
  * does not follow the box.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Harness.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
