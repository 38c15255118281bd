package graft.operators

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local-parallelism guard for CPU-heavy per-row stages (shingling, hashing,
  * all-pairs vector math). A small parquet file scans as ONE split, so
  * everything before the first exchange runs on one core; fanning out to the
  * session's default parallelism fixes that for pennies (the inputs are tiny
  * exactly when the guard fires). At scale the scan already has ≥ cores
  * splits and this is a no-op — no extra exchange is ever added to a big
  * input.
  */
object Par {
  /** True iff hash-partitioning on this type would throw at planning:
    * Spark's `HashPartitioning` rejects MapType anywhere in the type tree
    * (maps have no canonical element order, so no stable hash).
    */
  private def unhashable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => unhashable(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => unhashable(f.dataType))
      case _ => false
    }

  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.columns.isEmpty) df // nothing to hash; a 0-col frame has no per-row work either
    else if (df.rdd.getNumPartitions < target) {
      // hash-repartition on the row content, NOT round-robin: round-robin
      // placement depends on intra-partition row order, so Spark inserts a
      // full local SORT of every column before the exchange to make task
      // retries deterministic (spark.sql.execution.sortBeforeRepartition) —
      // a single-core sort of exactly the stage this helper exists to
      // unblock. Hashing the columns is deterministic by CONTENT, needs no
      // sort, and identical rows colliding into one partition is harmless
      // for the embarrassingly-parallel per-row work downstream — PROVIDED
      // row content is distinctive. Call sites should project to (unique id,
      // payload) before fanning out; a duplicate-heavy projection hashes
      // many rows into few partitions and defeats the fan-out silently.
      // Map-typed columns cannot be hash-partitioned (AnalysisException at
      // planning) — drop them from the key set; if NOTHING hashable
      // remains, fall back to round-robin and pay its determinism sort
      // (inputs are tiny exactly when this guard fires).
      val hashable = df.schema.fields.filterNot(f => unhashable(f.dataType))
        .map(f => org.apache.spark.sql.functions.col(f.name))
      if (hashable.nonEmpty) df.repartition(target, hashable.toIndexedSeq: _*)
      else df.repartition(target)
    } else df
  }

  /** Keyed fan-out — the CONTRACT form of the content-hash overload's
    * uniqueness caveat: hash-repartitions on the caller's `keyCols`
    * (normally a unique id), so a duplicate-heavy payload can never
    * collapse the exchange into few partitions. Every call site that HAS
    * an id uses this form; the content-hash overload remains only for
    * frames with no key (slim measure/text projections), where the caveat
    * is documented at the site. Missing key columns fail loudly at call
    * time, not as a downstream resolution error.
    */
  def fanOut(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "fanOut(df, keyCols) requires at least one key column")
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"fanOut key columns not in frame: ${missing.mkString(", ")} " +
        s"(have: ${df.columns.mkString(", ")})")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target)
      df.repartition(target,
        keyCols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    else df
  }

  /** Runs two independent driver-side builds on two threads, so their jobs
    * overlap instead of serializing, and returns both results. Every job
    * either build starts carries one job tag. On the first failure the tag's
    * jobs are cancelled and the other thread is interrupted, so no orphan job
    * keeps running, and the ORIGINAL exception is thrown, not its
    * `ExecutionException` wrapper: a failing build reads the same as it
    * would on a sequential path.
    */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val sc = spark.sparkContext
    val tag = s"graft-par-both-${java.util.UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(2)
    val done = new ExecutorCompletionService[Any](pool)
    def submit(body: => Any) = done.submit(new Callable[Any] {
      def call(): Any = { sc.addJobTag(tag); body }
    })
    val fa = submit(a)
    val fb = submit(b)
    try {
      for (_ <- 1 to 2)
        try done.take().get()
        catch {
          case e: ExecutionException =>
            pool.shutdownNow()
            sc.cancelJobsWithTag(tag)
            // an interrupted thread that was between jobs may still have
            // submitted one before it saw the interrupt: cancel again once
            // both threads are gone
            pool.awaitTermination(1, TimeUnit.MINUTES)
            sc.cancelJobsWithTag(tag)
            throw e.getCause
        }
      (fa.get().asInstanceOf[A], fb.get().asInstanceOf[B])
    } finally pool.shutdown()
  }
}
