package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** The app-scoped stream staging contract (r14 advice, cutoff revised by
  * r15 advice): a second Spark app must never wipe a fixture a live app is
  * streaming from, and the once-per-JVM stale sweep must remove only trees
  * that are BOTH foreign (not this app's suffix) and old (>24 h mtime —
  * far above any plausible single-run duration, so even a long-running
  * foreign streaming query that staged once and never re-invoked staging
  * is safe). A live app's own base mtime is additionally TOUCHED on every
  * streamBase call, so re-invoking apps stay fresh without relying on run
  * dirs being recreated.
  */
class StreamBaseSpec extends SparkSpec {

  /** Stream trees live in the JVM's temp directory. */
  private def inTmp(name: String): Path = Paths.get(System.getProperty("java.io.tmpdir"), name)

  test("streamBase is app-scoped; the sweep removes stale foreign trees only") {
    val app = spark.sparkContext.applicationId.replaceAll("\\W", "_")
    val now = System.currentTimeMillis()
    val stale = inTmp("graft_stream_spectag_stale__foreignapp")
    val fresh = inTmp("graft_stream_spectag_fresh__foreignapp")
    val ownOld = inTmp(s"graft_stream_spectag_own__$app")
    Seq(stale, fresh, ownOld).foreach(Files.createDirectories(_))
    try {
      // stale foreign: 25 h old; long-running foreign: 3 h old (the r15
      // advice case — a single >2 h streaming run must NOT be wiped
      // mid-stream); own tree: 25 h old (an app's OWN trees are never
      // swept, whatever their age — the staging memo owns their lifecycle)
      Files.setLastModifiedTime(stale, FileTime.fromMillis(now - 25L * 3600 * 1000))
      Files.setLastModifiedTime(fresh, FileTime.fromMillis(now - 3L * 3600 * 1000))
      Files.setLastModifiedTime(ownOld, FileTime.fromMillis(now - 25L * 3600 * 1000))
      SparkEntry.staleSweepDone.set(false) // the sweep is once-per-JVM
      val base = SparkEntry.streamBase(spark, "spectag", "/tmp/x")
      assert(base === inTmp(s"graft_stream_spectag__tmp_x__$app").toString,
        "base must embed tag, sanitized dir, and the sanitized applicationId")
      assert(!Files.exists(stale), "stale foreign tree must be swept")
      assert(Files.exists(fresh), "a 3 h-old foreign tree must be retained " +
        "(it may belong to a live long-running streaming app)")
      assert(Files.exists(ownOld), "this app's own trees are never swept")
      // second call in the same JVM: sweep does not re-run (flag consumed),
      // and the path is stable
      Files.setLastModifiedTime(fresh, FileTime.fromMillis(now - 25L * 3600 * 1000))
      assert(SparkEntry.streamBase(spark, "spectag", "/tmp/x") === base)
      assert(Files.exists(fresh), "once-per-JVM: no second sweep")
    } finally {
      Seq(stale, fresh, ownOld).foreach(Files.deleteIfExists(_))
    }
  }

  test("streamBase touches its own existing base so other JVMs' sweeps see " +
       "it as live") {
    val app = spark.sparkContext.applicationId.replaceAll("\\W", "_")
    val own = inTmp(s"graft_stream_touchtag__tmp_x__$app")
    Files.createDirectories(own)
    try {
      val old = System.currentTimeMillis() - 25L * 3600 * 1000
      Files.setLastModifiedTime(own, FileTime.fromMillis(old))
      SparkEntry.streamBase(spark, "touchtag", "/tmp/x")
      val mtime = Files.getLastModifiedTime(own).toMillis
      assert(mtime > old + 24L * 3600 * 1000,
        s"own base mtime must be refreshed by streamBase, got $mtime vs $old")
    } finally Files.deleteIfExists(own)
  }
}
