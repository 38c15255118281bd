package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Greedy k-center (farthest-point-first / Gonzalez) coreset selection over
  * an embedding column — the diversity-maximizing data-pruning primitive:
  * pick the corpus point farthest (cosine distance) from everything already
  * picked, k times. The selection 2-approximates the optimal k-center
  * cover, and the emitted per-step `min_dist` sequence is the classic
  * decreasing radius curve (read it to choose k: the elbow is where adding
  * centers stops buying coverage). Unlike [[Ann.mmrRerank]] this is
  * corpus-GLOBAL (no query, no shortlist collect): the argmax of every
  * round scans the full corpus distributed.
  *
  * Determinism contract (what makes the driver oracle possible): the seed
  * is the smallest id; every round's argmax ties break on smallest id; the
  * distance is `1 − dot/(‖x‖·‖c‖)` with the engine's total-cosine zero
  * contract, computed with the same left-to-right IEEE accumulation the
  * DuckDB oracle replays.
  *
  * Scale shape: Gonzalez is inherently k-pass, but each pass is O(n·1),
  * not O(n·|centers|): the classic running-minimum formulation. The loop
  * carries `(id, v, nrm, dmin)` where `dmin` is the distance to the
  * nearest center picked SO FAR; each round computes ONE codegen'd dot —
  * against the newest center only — and folds it in with
  * `least(dmin, d_new)`, then TakeOrdered(1) on `dmin` picks the next
  * center. Total work O(n·k) dots (the naive re-evaluate-all-centers
  * form is O(n·k²)), constant-size round plans, and the only cross-task
  * traffic per round is the top-1 reduction. The carried state is
  * `localCheckpoint`ed per round so lineage stays flat (the q_bfs_reach
  * lesson; at cluster scale: `checkpoint()` to reliable storage), and the
  * previous round's blocks are released once the new round materializes.
  * `min` over doubles is associative/order-independent, so the running
  * fold is bit-identical to `least` over all centers at once.
  */
object Coreset {

  /** Returns exactly min(k, n) rows `(step, id, min_dist)`: step 1 is the
    * seed (NULL min_dist — there is nothing to be far from yet), steps
    * 2..k the greedy selections with their distance-at-selection (raw,
    * unrounded — callers round for publication).
    *
    * `reliable = true` switches the per-round state from
    * `localCheckpoint` (executor block manager — lost with an executor,
    * fine on local mode and acceptable when a retry-from-scratch is cheap)
    * to `checkpoint()` against the session's configured checkpoint
    * directory — the cluster-scale posture the class doc describes: a
    * k-round driver loop over 1000 executors should not restart from
    * round 1 because one executor holding state blocks was decommissioned.
    * Requires `sparkContext.setCheckpointDir` (checked loudly up front,
    * not k rounds in); costs one extra pass per round (Spark recomputes
    * the RDD once to write the files — the documented reliable-checkpoint
    * shape) plus distributed-FS I/O, and each round's files are deleted as
    * soon as the next round materializes (the same release discipline as
    * the block-manager path; `ColumnBridge.unpersistCheckpoint` cleans
    * both).
    */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, reliable: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    require(!reliable || spark.sparkContext.getCheckpointDir.nonEmpty,
      "kCenterGreedy(reliable = true) needs a reliable checkpoint " +
        "directory: call sparkContext.setCheckpointDir(<durable path>) " +
        "first (localCheckpoint mode needs none)")
    import spark.implicits._
    val base = graft.operators.Par.fanOut(
        df.select(col(idCol).cast("long").as("id"),
          VF.toDouble(col(vecCol)).as("v")), Seq("id"))
      .withColumn("nrm", VF.norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `state` carries (id, v, nrm, dmin) across rounds; null until the first
    // fold. `retired` is the previous round awaiting release — it can only
    // be freed AFTER the new round materializes (the lazy checkpoint's
    // lineage still references it until then). Both are declared here so
    // the finally releases them on ANY exit, including a mid-round collect
    // failure — otherwise a failed round would leak its corpus-sized
    // checkpoint blocks until driver GC (the returned DataFrame is
    // driver-built, so nothing distributed survives the call).
    var state: DataFrame = null
    var retired: DataFrame = null
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Any)]
      // (id, vec, norm) of the MOST RECENT pick — the only center the next
      // round touches.
      var newest: Option[(Long, Seq[Double], Double)] = None
      var picked = List.empty[Long]
      base.orderBy(col("id")).limit(1)
        .select(col("id"), col("v"), col("nrm")).collect().headOption
        .foreach { r =>
          newest = Some((r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
          picked = List(r.getLong(0))
          out += ((1L, r.getLong(0), null))
        }
      var step = 2
      var exhausted = newest.isEmpty
      while (step <= k && !exhausted) {
        val (_, cv, cn) = newest.get
        val foldsFromBase = state == null // round 2 — base's LAST reader
        val dNew = lit(1.0) - VF.cosinePrenormed(
          VF.dot(col("v"), typedlit(cv)), col("nrm"), lit(cn))
        // Fold the newest center into the running min. Lazy checkpoint: the
        // TakeOrdered below is the materializing action, so each round stays
        // one job. min over doubles is order-independent, so this equals
        // least(d_1, …, d_r) evaluated at once.
        val folded = if (state == null)
            base.select(col("id"), col("v"), col("nrm"), dNew.as("dmin"))
          else
            state.select(col("id"), col("v"), col("nrm"),
              least(col("dmin"), dNew).as("dmin"))
        val next = if (reliable) folded.checkpoint(false)
                   else folded.localCheckpoint(false)
        // hand `next` to the finally BEFORE the materializing action: if
        // the collect throws, both the partial checkpoint and the previous
        // round are released on the way out instead of leaking
        retired = state
        state = next
        // Exclude already-picked ids explicitly: their dmin is 0, but an
        // all-identical corpus would otherwise re-pick a center on the
        // smallest-id tiebreak. |picked| ≤ k, an InSet literal — cheap.
        val pickedRow = next
          .filter(!col("id").isInCollection(picked))
          .orderBy(col("dmin").desc, col("id")).limit(1)
          .collect().headOption
        // `next` is materialized by the action above — the previous round's
        // checkpoint blocks are dead weight now (Dataset.unpersist can't
        // release them: checkpoint storage bypasses the CacheManager).
        if (retired != null) {
          org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(retired)
          retired = null
        }
        // the running-min state now carries (v, nrm) itself — the cached
        // base was read for the last time by the fold just materialized, so
        // release it here instead of pinning corpus-sized blocks for all k
        // rounds (the finally's unpersist is then a no-op)
        if (foldsFromBase) base.unpersist(false)
        pickedRow match {
          case Some(r) =>
            newest = Some((r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
            picked = r.getLong(0) :: picked
            out += ((step.toLong, r.getLong(0), r.getDouble(3)))
            step += 1
          case None => exhausted = true // k exceeded the corpus: stop early
        }
      }
      out.toSeq.map { case (s, id, d) =>
        (s, id, Option(d).map(_.asInstanceOf[Double]))
      }.toDF("step", "id", "min_dist")
    } finally {
      if (retired != null)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(retired)
      if (state != null)
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(state)
      base.unpersist(false)
    }
  }
}
