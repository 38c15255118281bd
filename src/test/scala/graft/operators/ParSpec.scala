package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Par.fanOut contract: parallelizes single-split inputs without ever
  * failing on the input's schema (r12 advice: hash-repartitioning on ALL
  * columns threw at planning for MapType columns, which Spark cannot
  * hash-partition).
  */
class ParSpec extends SparkSpec {
  import spark.implicits._

  test("fanOut widens a single-partition input to defaultParallelism") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
    assert(df.rdd.getNumPartitions === 1)
    val out = Par.fanOut(df)
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("fanOut is a no-op when the input already has enough partitions") {
    val n = spark.sparkContext.defaultParallelism
    val df = spark.range(100).repartition(n + 2).toDF()
    // no extra exchange: the plan object comes back unchanged
    assert(Par.fanOut(df) eq df)
  }

  test("fanOut tolerates map-typed columns (drops them from the hash key set)") {
    val df = Seq((1L, Map("k" -> 1)), (2L, Map("x" -> 2)))
      .toDF("id", "m").coalesce(1)
    val out = Par.fanOut(df) // hash on id only; map cannot be hash-partitioned
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(out.count() === 2)
  }

  test("fanOut falls back to round-robin when NO column is hashable") {
    val df = Seq(Tuple1(Map("k" -> 1)), Tuple1(Map("x" -> 2)))
      .toDF("m").coalesce(1)
    val out = Par.fanOut(df)
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(out.count() === 2)
  }

  test("fanOut(df, keyCols) spreads a duplicate-heavy frame that content hashing collapses") {
    val n = spark.sparkContext.defaultParallelism
    def nonEmpty(df: org.apache.spark.sql.DataFrame): Int =
      df.rdd.mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).sum().toInt
    val dup = spark.range(400)
      .select((col("id") % 2).cast("string").as("payload"), col("id"))
      .coalesce(1)
    // content-hash on the 2-distinct-row payload: the documented caveat —
    // everything lands in at most 2 partitions, the fan-out is defeated
    assert(nonEmpty(Par.fanOut(dup.select("payload"))) <= 2)
    // keyed on the unique id: the contract — the same payload reaches at
    // least half the target partitions
    val keyed = Par.fanOut(dup, Seq("id"))
    assert(keyed.rdd.getNumPartitions === n)
    assert(nonEmpty(keyed) >= n / 2, s"keyed fan-out reached ${nonEmpty(keyed)} of $n")
    assert(keyed.count() === 400)
  }

  test("fanOut(df, keyCols) rejects empty or missing key columns loudly") {
    val df = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException](Par.fanOut(df, Seq.empty))
    val e = intercept[IllegalArgumentException](Par.fanOut(df, Seq("nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("fanOut tolerates maps nested in arrays and structs") {
    val df = Seq((7L, Seq(Map("a" -> 1)))).toDF("id", "ms").coalesce(1)
    assert(Par.fanOut(df).count() === 1)
    val df2 = Seq((8L, (Map("b" -> 2), "x"))).toDF("id", "s").coalesce(1)
    assert(Par.fanOut(df2).count() === 1)
  }

  test("both rethrows the original failure and cancels the sibling's job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    val siblingJobs = scala.collection.concurrent.TrieMap.empty[Int, Set[String]]
    val siblingEnds = new java.util.concurrent.ConcurrentLinkedQueue[(Set[String], String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty[String])
        if (tags("par-spec-sibling")) { siblingJobs(e.jobId) = tags; siblingStarted.countDown() }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        siblingJobs.get(e.jobId).foreach(tags => siblingEnds.add(tags -> e.jobResult.toString))
    }
    sc.addSparkListener(listener)
    try {
      val boom = new IllegalStateException("side-input build failed")
      val thrown = intercept[IllegalStateException] {
        Par.both(spark)(
          { // a long job that only ends early when it is cancelled
            sc.addJobTag("par-spec-sibling")
            sc.parallelize(Seq(0), 1).foreach { _ =>
              val ctx = org.apache.spark.TaskContext.get()
              val until = System.nanoTime() + 60L * 1000 * 1000 * 1000
              while (!ctx.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
            }
          },
          {
            assert(siblingStarted.await(60, java.util.concurrent.TimeUnit.SECONDS))
            throw boom
          })
      }
      assert(thrown eq boom)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (siblingEnds.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(siblingEnds.size === 1)
      val (tags, result) = siblingEnds.peek()
      assert(tags.exists(_.startsWith("graft-par-both-")), s"untagged sibling job: $tags")
      assert(result.contains("cancelled"), s"sibling job did not end cancelled: $result")
    } finally sc.removeSparkListener(listener)
  }
}
