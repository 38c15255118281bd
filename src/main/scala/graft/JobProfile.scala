package graft

/** Dev tool: per-job wall-clock attribution for named SparkEntry queries —
  * two warm-up runs (codegen + page cache), then a profiled run under
  * [[Harness.measure]], which records each job's id, duration and call site.
  * This is the harness behind PERF.md's job-count verdicts (a query whose
  * wall ≈ the sum of many sub-0.3 s sequential jobs is paying LOCAL
  * job-submission latency, not data cost — the part a cluster amortizes;
  * one fat job is a real target). Usage:
  * `sbt "runMain graft.JobProfile q_curate_corpus,q_bfs_reach"` (env
  * SPARK_GRAFT_SF_DIR overrides the corpus, SPARK_GRAFT_CPUS the local
  * worker count; PERF.md's numbers were taken with SPARK_GRAFT_CPUS=32).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_curate_corpus").split(",").toSeq
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).queryExecution.toRdd.count() // warm: codegen + page cache
      fn(spark, sfDir).queryExecution.toRdd.count()
      val (_, run) = Harness.measure(spark)(fn(spark, sfDir).queryExecution.toRdd.count())
      println(f"\n=== $name wall=${run.wallSec}%.2fs jobs=${run.jobs.size} " +
        f"jobsum=${run.jobs.map(_.sec).sum}%.2fs ===")
      run.jobs.foreach(j => println(f"  job ${j.id}%4d ${j.sec}%7.3fs  ${j.callSite}"))
    }
    spark.stop()
  }
}
