package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §7.1 phase 4 / north-star similarity search).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline. One
  *    narrow scan + a k-row `ORDER BY ... LIMIT k` (Spark's TakeOrderedAndProject
  *    — O(n) per partition with a k-heap, then a k-sized driver merge; no full
  *    sort, no shuffle of the data).
  *  - [[LshIndex]]: random-hyperplane LSH with multiple tables. Each row maps
  *    to `tables` bucket ids (a codegen'd expression — no shuffle to build).
  *    A query probes only its own buckets: at scale the bucket column becomes
  *    a partition/cluster key so a probe is a partition-pruned scan of
  *    ~n/2^bits of the data per table instead of the full corpus.
  */
object Ann {

  /** LSH bits sizing: enough hyperplanes that expected bucket occupancy is
    * ~`targetBucket` rows — `ceil(log2(n / targetBucket))`, clamped to
    * [2, 24]. Under-sized bits on a grown corpus silently degrade LSH to
    * near-all-pairs (buckets of n/2^bits rows each); measured: bits=4 on
    * 20k vectors produced 200M candidates vs 12M at the sized bits=8.
    */
  def bitsFor(n: Long, targetBucket: Int = 64, probeHamming: Int = 0): Int = {
    var b = math.max(2, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    // Multiprobe scans ~Σ_{i≤r} C(b,i) buckets per probe (1+b at radius 1),
    // so holding the same SCANNED-row budget needs more bits — without this,
    // radius-1 probing at the single-probe sizing silently multiplies the
    // candidate volume by ~(1+bits) and LSH degrades toward all-pairs.
    if (probeHamming > 0) {
      def scanned(bb: Int): Double = {
        val probes = (0 to math.min(probeHamming, bb)).map(i =>
          (1 to i).map(j => (bb - i + j).toDouble / j).product).sum
        probes * n.toDouble / math.pow(2.0, bb)
      }
      while (b < 24 && scanned(b) > targetBucket) b += 1
    }
    b
  }

  /** Collision probability of one random hyperplane for a pair at cosine
    * `c`: `1 - acos(c)/π` (Charikar, STOC'02 — public SimHash/LSH theory).
    */
  def hyperplaneP1(cosineThreshold: Double): Double =
    1.0 - math.acos(cosineThreshold) / math.Pi

  /** Per-table collision probability for a pair at the cosine threshold,
    * with multiprobe radius `probeHamming`: the pair collides when their
    * `bits`-bit signatures differ in ≤ `probeHamming` positions —
    * `Σ_{i≤r} C(bits,i) p1^(bits-i) (1-p1)^i` (Lv et al., VLDB'07
    * multi-probe LSH). Radius 0 is classic single-bucket LSH (`p1^bits`).
    */
  def tableHitProb(bits: Int, cosineThreshold: Double, probeHamming: Int = 0): Double = {
    val p1 = hyperplaneP1(cosineThreshold)
    def comb(n: Int, k: Int): Double =
      (1 to k).map(i => (n - k + i).toDouble / i).product
    (0 to math.min(probeHamming, bits)).map(i =>
      comb(bits, i) * math.pow(p1, (bits - i).toDouble) * math.pow(1.0 - p1, i.toDouble)).sum
  }

  /** Table count that holds recall ≥ `recall` for pairs at the cosine
    * threshold once `bits` is fixed: solve `1-(1-p)^T ≥ recall` for T with
    * `p = tableHitProb(bits, threshold, probeHamming)`. Fixing tables while
    * bits grow with the corpus silently trades recall for speed (measured
    * at sf0.1: bits=5/T=16 → 89.6% recall, bits=5/T=24 → 96.5%); sizing
    * BOTH from (n, threshold, recall) keeps total work at the theoretical
    * n^(1+ρ) with ρ = ln(1/p1)/ln 2 while recall stays put. Multiprobe
    * raises the per-table hit probability (radius 1 ≈ 3-5×) so far fewer
    * tables reach the same recall — the standard space/recall trade.
    */
  def tablesFor(bits: Int, cosineThreshold: Double, recall: Double = 0.98,
                probeHamming: Int = 0): Int = {
    val p = tableHitProb(bits, cosineThreshold, probeHamming)
    if (p >= 1.0) 1
    else math.max(4, math.min(64, math.ceil(math.log1p(-recall) / math.log1p(-p)).toInt))
  }

  /** Per-pair recall actually achieved at the threshold by a
    * (bits, tables, probeHamming) config: `1-(1-p)^tables`. The 64-table
    * clamp in [[tablesFor]] binds once `bits ≳ 8` at low thresholds —
    * hyperplane LSH fundamentally cannot hold 98% recall there (the
    * required T grows as (1/p1)^bits) — so callers sizing for large corpora
    * MUST check this value rather than assume the target: if it is too low,
    * raise the similarity threshold, widen the probe radius, accept the
    * recall, or switch to a graph/IVF ANN method.
    */
  def expectedRecall(bits: Int, tables: Int, cosineThreshold: Double,
                     probeHamming: Int = 0): Double = {
    val p = tableHitProb(bits, cosineThreshold, probeHamming)
    1.0 - math.pow(1.0 - p, tables.toDouble)
  }

  /** Cost-optimal (bits, tables, probeHamming) for a pair search over `n`
    * vectors at the given cosine threshold and recall target. Enumerates
    * radius-0 (classic) and radius-1 (multiprobe) configs that can hold the
    * recall within the 64-table clamp and minimizes an empirical cost
    * model: candidate verifications `n²/2 · T · probes(b) / 2^b` at weight
    * 1 plus probe-row handling `n · T · probes(b)` at weight `rowWeight`
    * (a shuffled/exploded probe row costs ~10× a codegen'd dot+hash probe,
    * measured with 32 local workers). The interesting consequence, measured at 20k
    * vectors: multiprobe wins at LOW thresholds (it is the only way to stay
    * recall-feasible under the table clamp), while at high thresholds
    * single-probe with more tables wins because the (1+b)× probe-row
    * explosion costs more than the tables it saves. Returns the classic
    * occupancy sizing as a fallback when no config is recall-feasible —
    * callers should check [[expectedRecall]] (and raise the threshold or
    * switch methods) in that regime.
    */
  def autoConfig(n: Long, threshold: Double, recall: Double = 0.999,
                 rowWeight: Double = 10.0): (Int, Int, Int) =
    autoConfigWithCost(n, threshold, recall, rowWeight)._1

  /** [[autoConfig]] plus its model cost, for cost-based dispatch against the
    * exact path ([[graft.dedup.Dedup.embeddingNearDup]]). Tables enumerate
    * up to 256 (not [[tablesFor]]'s 64): past ~64 each table is real memory
    * (one long per row per table) and real probe rows, but the model prices
    * that, and at low thresholds large-T configs are the only ones that hold
    * the recall — the theory's n^(1+ρ) scaling *requires* tables to grow
    * with n.
    */
  def autoConfigWithCost(n: Long, threshold: Double, recall: Double = 0.999,
                         rowWeight: Double = 10.0,
                         onInfeasible: (Int, Int, Int, Double) => Unit =
                           logInfeasible): ((Int, Int, Int), Double) = {
    val feasible = for {
      probe <- 0 to 1
      b <- 2 to 24
      p = tableHitProb(b, threshold, probe)
      if p > 1e-12
      tReq = math.ceil(math.log1p(-recall) / math.log1p(-p))
      if tReq >= 1 && tReq <= 256
    } yield {
      val t = math.max(4, tReq.toInt)
      val probes = 1.0 + (if (probe > 0) b.toDouble else 0.0)
      val cost = n.toDouble * n / 2 * t * probes / math.pow(2.0, b) +
        rowWeight * n.toDouble * t * probes
      (cost, (b, t, probe))
    }
    if (feasible.isEmpty) {
      val fb = (bitsFor(n, probeHamming = 1), 64, 1)
      onInfeasible(fb._1, fb._2, fb._3, expectedRecall(fb._1, fb._2, threshold, fb._3))
      (fb, Double.MaxValue)
    } else { val best = feasible.minBy(_._1); (best._2, best._1) }
  }

  /** Default recall telemetry for the infeasible fallback: a silent
    * sub-target recall is a data-loss bug waiting to be "discovered" in a
    * trained model — the achieved number must reach the operator's logs.
    * Overridable (the `onInfeasible` hook) so specs can assert it fires.
    */
  private def logInfeasible(bits: Int, tables: Int, probe: Int, achieved: Double): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass)
      .warn(f"LSH recall target infeasible within the table clamp; falling back to " +
        f"(bits=$bits, tables=$tables, probeHamming=$probe) with expected recall " +
        f"$achieved%.4f — raise the threshold, widen the radius, or switch methods")

  /** Exact cosine top-k for one query vector. The query is a literal constant
    * folded into codegen — no join, single pass.
    */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val v = toDouble(col(vecCol))
    df.select(col(idCol), round(cosine(v, vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR'98):
    * greedily pick `k` results maximizing `λ·cos(q, c) − (1−λ)·max_{s∈S}
    * cos(c, s)` — relevance traded against redundancy to the picks so far.
    * The diversification a curation pipeline runs on retrieval output
    * before spending a selection budget: a plain top-k over a corpus with
    * near-duplicates returns the same document k times (the retrieval-time
    * cousin of SemDeDup). Output: `(step, id, mmr)` — pick order, id, and
    * the marginal score at pick time (rounded 6dp; step 1's redundancy
    * term is 0).
    *
    * Scale shape: stage 1 is the distributed retrieval — here exact-cosine
    * top-`shortlist` via TakeOrderedAndProject; any ANN tier (LSH / IVF /
    * PQ) slots in front unchanged. The greedy stage is INHERENTLY
    * sequential (pick i conditions on picks 1..i-1), so it runs on the
    * collected shortlist driver-side: ≤ `shortlist` rows and k·shortlist
    * dot products — the same bounded-small-side argument as the k-means
    * centroids. Pairwise cosines use the identical left-to-right double
    * accumulation as [[graft.functions.VectorFunctions.cosine]], so every
    * score replays engine-exactly. Ties (exactly equal marginal scores)
    * break to the smallest id.
    */
  def mmrRerank(df: DataFrame, vecCol: String, idCol: String,
                query: Seq[Double], k: Int, shortlist: Int,
                lambda: Double = 0.5): DataFrame = {
    require(k > 0 && shortlist >= k, "need shortlist >= k > 0")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val spark = df.sparkSession
    import spark.implicits._
    val v = toDouble(col(vecCol))
    // candidates ascending by id so the strict-> argmax ties to smallest id
    val cand = df
      .select(col(idCol).cast("long").as("__id"), v.as("__vec"),
        cosine(v, vecLit(query)).as("__rel"))
      .orderBy(col("__rel").desc, col("__id"))
      .limit(shortlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val nn = math.sqrt(na) * math.sqrt(nb)
      if (nn > 0) d / nn else 0.0
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val used = scala.collection.mutable.HashSet.empty[Long]
    var step = 1
    while (step <= k && used.size < cand.length) {
      var bestId = 0L; var bestVec: Array[Double] = null
      var best = Double.NegativeInfinity
      cand.foreach { case (id, vec, rel) =>
        if (!used(id)) {
          val red =
            if (chosen.isEmpty) 0.0
            else {
              var mx = Double.NegativeInfinity
              chosen.foreach { s => val c = cos(vec, s._2); if (c > mx) mx = c }
              mx
            }
          val sc = lambda * rel - (1.0 - lambda) * red
          if (sc > best) { best = sc; bestId = id; bestVec = vec }
        }
      }
      out += ((step, bestId, best)); chosen += ((bestId, bestVec)); used += bestId
      step += 1
    }
    out.toSeq.toDF("step", "__mid", "__mmr")
      .select(col("step"), col("__mid").as(idCol), round(col("__mmr"), 6).as("mmr"))
  }

  /** Exact k-NN graph: for every `src` row, its `k` nearest `corpus` rows by
    * cosine (self-pairs excluded). Output `(src, dst, cos, rn)`, rn = 1..k
    * by descending cosine, ties to the smaller dst id.
    *
    * The quadratic step is dots only: norms are computed ONCE per row on the
    * linear-size inputs ([[graft.functions.VectorFunctions.cosinePrenormed]]),
    * the src side is fanned out so the pair loop parallelizes, and the
    * per-src result is bounded by [[graft.operators.Analytics.topPerKeyAgg]]
    * — ≤ k rows per (mapper, src) into the shuffle, no hot-key sort. This
    * tier is for a query SLICE against a corpus (n·|src| dots — the
    * per-batch analog of [[bruteForceTopK]]); a full self-graph at corpus
    * scale generates candidate pairs from LSH buckets or IVF lists first
    * (the [[graft.dedup.Dedup.embeddingNearDupLsh]] machinery) and feeds
    * the SAME bounded aggregate — recall then follows the table/probe
    * sizing, see [[expectedRecall]].
    */
  def knnGraph(src: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
               k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def prep(d: DataFrame, p: String): DataFrame =
      d.select(col(idCol).as(s"${p}id"), toDouble(col(vecCol)).as(s"${p}v"))
        .withColumn(s"${p}n", norm(col(s"${p}v")))
    // fan out BOTH sides: the planner broadcasts whichever is smaller, so
    // the OTHER side streams the per-row vector math (prep + |other| dots)
    // — and a single-file table scans as one split, serializing the whole
    // scoring pass (stage-profiled on q_ndcg: 0.96 s one-core). Fanning
    // both guarantees the probe side is parallel whichever way the
    // broadcast lands; at scale the scans already have ≥ cores splits and
    // both fan-outs are no-ops.
    val a = graft.operators.Par.fanOut(prep(src, "s"), Seq("sid"))
    val b = graft.operators.Par.fanOut(prep(corpus, "d"), Seq("did"))
    val pairs = a.join(b, col("sid") =!= col("did"))
      .select(col("sid").as("src"), col("did").as("dst"),
        cosinePrenormed(dot(col("sv"), col("dv")), col("sn"), col("dn")).as("cos"))
    graft.operators.Analytics.topPerKeyAgg(pairs, "src",
        Seq(negate(col("cos")), col("dst")),
        Seq("dst" -> col("dst"), "cos" -> col("cos")), k)
      .select(col("src"), col("dst"), round(col("cos"), 6).as("cos"), col("rn"))
  }

  /** Hard-negative mining for contrastive training: for every `src` anchor,
    * its `k` most-similar corpus rows with a DIFFERENT label — the
    * highest-cosine wrong-class examples, which is exactly what embedding/
    * reranker training wants as negatives (easy negatives teach nothing;
    * same-label neighbors are false negatives and are excluded here by
    * construction, not by a post-filter that would shrink k).
    *
    * Same scale shape as [[knnGraph]]: prenormed dots, fanned-out anchor
    * slice, and the per-anchor bounded top-k aggregate (≤ k rows per
    * (mapper, src) into the shuffle). The label inequality lives in the
    * JOIN condition, so same-label pairs never reach the aggregate. At
    * corpus scale, swap the all-pairs candidate join for the LSH/IVF
    * candidate machinery exactly as knnGraph's scaladoc describes.
    */
  def hardNegatives(src: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def prep(d: DataFrame, p: String): DataFrame =
      d.select(col(idCol).as(s"${p}id"), col(labelCol).as(s"${p}lbl"),
        toDouble(col(vecCol)).as(s"${p}v"))
        .withColumn(s"${p}n", norm(col(s"${p}v")))
    // both sides fanned for the same reason as knnGraph: the probe side of
    // the broadcast join must be parallel whichever side the planner picks
    val a = graft.operators.Par.fanOut(prep(src, "s"), Seq("sid"))
    val b = graft.operators.Par.fanOut(prep(corpus, "d"), Seq("did"))
    val pairs = a.join(b, col("sid") =!= col("did") && col("slbl") =!= col("dlbl"))
      .select(col("sid").as("src"), col("slbl").as("src_label"),
        col("did").as("neg"), col("dlbl").as("neg_label"),
        cosinePrenormed(dot(col("sv"), col("dv")), col("sn"), col("dn")).as("cos"))
    graft.operators.Analytics.topPerKeyAgg(pairs, "src",
        Seq(negate(col("cos")), col("neg")),
        Seq("src_label" -> col("src_label"), "neg" -> col("neg"),
          "neg_label" -> col("neg_label"), "cos" -> col("cos")), k)
      .select(col("src"), col("src_label"), col("neg"), col("neg_label"),
        round(col("cos"), 6).as("cos"), col("rn"))
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk, ACL 2019 — the
    * LASER bitext-mining criterion): for every x in one set, its best
    * candidate y in the other by `margin(x, y) = cos(x, y) / ((avg top-k
    * cos of x into Y + avg top-k cos of y into X) / 2)`. Raw cosine
    * thresholds fail because some vectors are "hubs" — close to everything;
    * the margin renormalizes each pair by BOTH endpoints' neighborhood
    * density, which is why it is the standard mined-corpus criterion.
    *
    * Exactness: candidate cosines enter at 6 dp and the neighborhood sums
    * accumulate as DECIMAL(10,6) — exact and order-independent — so the
    * margin is ONE left-to-right double expression over exact inputs;
    * best-per-x ties break to the smaller y. Replays bit-for-bit.
    *
    * Scale shape: two [[knnGraph]] passes (fanned-out prenormed dots, ≤ k
    * rows per (mapper, src) into the bounded top-k aggregate), two
    * |set|-sized sum aggregates, two hash equi-joins, and a k=1 top-k
    * aggregate — nothing quadratic past the candidate stage, which swaps
    * for the LSH/IVF candidate machinery at corpus scale exactly as
    * knnGraph's scaladoc describes. Returns (`x`, `y`, `cos`, `margin`).
    */
  def marginMine(x: DataFrame, y: DataFrame, idCol: String, vecCol: String,
                 k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val kxy = knnGraph(x, y, idCol, vecCol, k)
    val kyx = knnGraph(y, x, idCol, vecCol, k)
    // average over the ACTUAL neighborhood size (counted beside the sum),
    // not a fixed k: when a side has fewer than k candidates (|Y| < k, or
    // a filtered candidate set), dividing by k would understate the
    // denominator and inflate every margin — Artetxe & Schwenk average
    // over the neighbors actually retrieved
    val sx = kxy.groupBy(col("src").as("xid"))
      .agg(sum(col("cos").cast("decimal(10,6)")).as("sx"),
        count(lit(1)).as("nx"))
    val sy = kyx.groupBy(col("src").as("yid"))
      .agg(sum(col("cos").cast("decimal(10,6)")).as("sy"),
        count(lit(1)).as("ny"))
    val cand = kxy.select(col("src").as("x"), col("dst").as("y"), col("cos"))
      .join(sx, col("x") === col("xid"))
      .join(sy, col("y") === col("yid"))
      .select(col("x"), col("y"), col("cos"),
        round(col("cos") /
          ((col("sx").cast("double") / col("nx") +
            col("sy").cast("double") / col("ny")) / lit(2.0)), 6).as("margin"))
    graft.operators.Analytics.topPerKeyAgg(cand, "x",
        Seq(negate(col("margin")), col("y")),
        Seq("y" -> col("y"), "cos" -> col("cos"), "margin" -> col("margin")), 1)
      .select(col("x"), col("y"), col("cos"), col("margin"))
  }

  /** LSH index parameters: `tables` independent signatures of `bits`
    * hyperplanes each. Recall for cosine ≥ c grows with tables and shrinks
    * with bits; bits controls bucket selectivity (≈ n/2^bits rows probed per
    * table).
    */
  final case class LshIndex(dim: Int, bits: Int, tables: Int, seed: Long) {
    /** Per-table hyperplanes, deterministic from the seed. */
    val planes: Seq[Seq[Seq[Double]]] =
      (0 until tables).map(t => randomHyperplanes(bits, dim, seed + t))

    /** Flat [table][bit][dim] layout for the native bucket expression. */
    private val flatPlanes: Array[Double] = planes.flatten.flatten.toArray

    /** All `tables` bucket ids as one `array<long>` column — a single native
      * codegen'd expression ([[graft.expressions.HyperplaneBuckets]]) rather
      * than `tables × bits` separate dot-product column trees.
      */
    def bucketsCol(vec: Column): Column =
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.HyperplaneBuckets(
          org.apache.spark.sql.graft.ColumnBridge.expression(toDouble(vec)),
          flatPlanes, tables, bits, dim))

    /** Add a `buckets` column (`array<long>`, one id per table). At 100 TB
      * the result would be written partitioned/bucketed by (a derivation of)
      * these ids so probes prune.
      */
    def withBuckets(df: DataFrame, vecCol: String): DataFrame =
      df.withColumn("buckets", bucketsCol(col(vecCol)))

    /** Driver-side buckets of a query vector (mirrors `withBuckets`). */
    def bucketsOf(query: Seq[Double]): Seq[Long] = planes.map(p => bucketOf(query, p))

    /** ANN top-k: probe the query's bucket in each table, then exact-rank the
      * shortlist. With bucket-partitioned storage the probe predicate prunes
      * to a small fraction of the corpus per table.
      *
      * `probeHamming > 0` enables multi-probe (Lv et al., VLDB'07): also scan
      * buckets whose id differs from the query's in ≤ that many bits. Radius
      * 1 turns a per-table hit probability p1^bits into
      * p1^bits + bits·p1^(bits-1)(1-p1) — typically 3-5× — so near-perfect
      * recall needs a handful of tables instead of dozens. The probed-bucket
      * set stays enumerable (`tables × (1+bits)` ids at radius 1), so
      * bucket-partitioned storage still prunes.
      */
    def topK(indexed: DataFrame, vecCol: String, idCol: String,
             query: Seq[Double], k: Int, probeHamming: Int = 0): DataFrame = {
      val qb = bucketsOf(query)
      val probe = qb.zipWithIndex
        .map { case (b, i) =>
          if (probeHamming <= 0) element_at(col("buckets"), i + 1) === lit(b)
          else bit_count(element_at(col("buckets"), i + 1).bitwiseXOR(lit(b))) <= probeHamming
        }
        .reduce(_ || _)
      val v = toDouble(col(vecCol))
      indexed.filter(probe)
        .select(col(idCol), round(cosine(v, vecLit(query)), 6).as("cos"))
        .orderBy(col("cos").desc, col(idCol))
        .limit(k)
    }
  }

  /** IVF-style coarse quantization using an existing label/cluster column as
    * the inverted-list key (centroid assignment is a separate concern —
    * k-means or external). Probing `nprobe` nearest lists turns top-k into a
    * partition-pruned scan. Exposed for the scale path; correctness baseline
    * remains [[bruteForceTopK]].
    */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String, listCol: String,
              query: Seq[Double], probeLists: Seq[Any], k: Int): DataFrame = {
    val v = toDouble(col(vecCol))
    df.filter(col(listCol).isInCollection(probeLists))
      .select(col(idCol), round(cosine(v, vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }


  /** Symmetric int8 quantization of a vector column: per-vector scale
    * `s = max|v| / 127`, stored as (scale, array<tinyint>). The store shrinks
    * 8× vs float64 (the broadcast/shuffle lever at 100 TB: a 10^9 × 64-dim
    * corpus drops from 512 GB to 64 GB of codes + one double per row), and
    * `dot(a, b) ≈ s_a · s_b · idot(qa, qb)` reconstructs scores with < 1%
    * relative error at dim 64 — enough to shortlist; exact re-scoring of the
    * shortlist removes even that. Quantized values round half-away-from-zero
    * on both engines (Spark round ↔ DuckDB round), so the oracle replays the
    * codes exactly.
    */
  def quantize8(vec: Column): Column = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    // single-pass native expression: the HOF formulation embedded the
    // array_max reduction inside the per-element lambda (O(d²) per row —
    // measured 766 ms of a 1.7 s q_ndcg); parity with the old codes is
    // pinned by ExpressionParitySpec, and the DuckDB oracle replays the
    // codes value-exactly either way
    br.column(graft.expressions.Quantize8(
      br.expression(graft.functions.VectorFunctions.toDouble(vec))))
  }

  /** Brute-force top-k over the int8-quantized corpus: integer dot products
    * against the quantized query, rescaled by the two scales — one narrow
    * codegen pass + TakeOrderedAndProject, like [[bruteForceTopK]] but over
    * the 8× smaller code column.
    */
  def quantizedTopK(df: DataFrame, vecCol: String, idCol: String,
                    query: Seq[Double], k: Int): DataFrame = {
    val qmx = query.map(math.abs).max
    val qscale = if (qmx > 0) qmx / 127.0 else 1.0
    val qq = query.map(x => BigDecimal(x / qscale)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toByte)
    val br = org.apache.spark.sql.graft.ColumnBridge
    val quant = df.select(col(idCol).as("vec_id"), quantize8(col(vecCol)).as("qv"))
    val idot = br.column(graft.expressions.DotProductInt8(
      br.expression(col("qv.q")),
      br.expression(typedlit(qq))))
    quant
      .select(col("vec_id"),
        round(col("qv.scale") * qscale * idot.cast("double"), 6).as("qscore"))
      .orderBy(col("qscore").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF + int8: probe only the given inverted lists AND score int8 codes —
    * the memory-bound ANN shape at 100 TB (IVF pruning bounds the IO to
    * `nprobe/k` of the corpus, quantization bounds the resident store to
    * 1/8 of float64). The list filter is a plain pushable predicate, so a
    * corpus WRITTEN partitioned by `listCol` ([[graft.sources.Tables]])
    * prunes at the file level and the scan never touches unprobed lists.
    */
  def ivfQuantizedTopK(df: DataFrame, vecCol: String, idCol: String,
                       listCol: String, query: Seq[Double], probeLists: Seq[Any],
                       k: Int): DataFrame =
    quantizedTopK(df.filter(col(listCol).isInCollection(probeLists)),
      vecCol, idCol, query, k)

  /** Product quantization (Jégou et al., TPAMI 2011): each vector is split
    * into `m` subspaces of `dsub` dims and every subvector quantized to one
    * of `k` per-subspace centroids, so the stored representation is `m`
    * small code integers. This is the resident-store lever PAST int8: a
    * 10⁹ × 64-dim float64 corpus is 512 GB, int8 codes 64 GB, PQ at
    * m=8/k=16 → 4 GB of codes — pinnable in executor memory — and ADC
    * query scoring touches NO vector data: one table lookup per subspace
    * against a per-query LUT of m·k precomputed squared distances.
    *
    * Codebooks here are fixed deterministically (subvectors of the first
    * `k` corpus vectors in id order — the q_kmeans_assign scheme), so the
    * oracle replays encode + ADC bit-for-bit; a production build trains
    * each subspace with [[KMeans.fit]] on a sample and ships the same
    * Model shape — either way the codebook rides into codegen as literals
    * (m·k·dsub doubles — tiny).
    */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    val m: Int = codebooks.length
    val k: Int = codebooks.head.length
    val dsub: Int = codebooks.head.head.length

    /** Per-subspace nearest-centroid codes as one `array<int>` column — the
      * `-2·v·c + |c|²` expansion of [[KMeans.Model.assignCol]] applied to
      * each subvector slice, all m·k scorings fused in whole-stage codegen.
      */
    def encodeCol(vec: Column): Column = {
      val v = toDouble(vec)
      array((0 until m).map { j =>
        val sub = slice(v, j * dsub + 1, dsub)
        val scored = codebooks(j).zipWithIndex.map { case (c, i) =>
          val cNormSq = c.map(x => x * x).sum
          struct((dot(sub, vecLit(c.toSeq)) * -2.0 + cNormSq).as("d"),
            lit(i).as("i"))
        }
        array_min(array(scored.toIndexedSeq: _*)).getField("i")
      }: _*)
    }

    /** Asymmetric Distance Computation: the per-query LUT of exact
      * per-subspace squared distances is computed driver-side (m·k doubles)
      * and rides into codegen as one array literal; the per-row score is
      * `m` lookups summed left-to-right — no per-row vector arithmetic.
      */
    def adcCol(codes: Column, query: Seq[Double]): Column = {
      require(query.length == m * dsub,
        s"query dim ${query.length} != m·dsub = ${m * dsub}")
      val lut: Seq[Double] = for (j <- 0 until m; c <- codebooks(j).toSeq) yield {
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val d = query(j * dsub + i) - c(i)
          s += d * d
          i += 1
        }
        s
      }
      (0 until m).map(j =>
        element_at(vecLit(lut), lit(j * k) + element_at(codes, j + 1) + 1))
        .reduce(_ + _)
    }
  }

  /** Deterministic PQ codebook from the corpus' first `k` vectors in
    * `idCol` order — engine-replayable; production swaps in per-subspace
    * [[KMeans.fit]] over a sample, same [[PqModel]] shape.
    */
  def pqCodebook(df: DataFrame, vecCol: String, idCol: String,
                 m: Int, k: Int): PqModel = {
    val rows = df.orderBy(col(idCol)).limit(k)
      .select(toDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.length == k, s"corpus has only ${rows.length} < k=$k vectors")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    PqModel(Array.tabulate(m, k)((j, c) => rows(c).slice(j * dsub, j * dsub + dsub)))
  }

  /** Two-stage PQ search: ADC over the code column shortlists `shortlist`
    * candidates (TakeOrderedAndProject over codes — the float vectors are
    * never read in this stage), then ONLY the shortlist is re-scored
    * exactly against the original vectors (a ≤ `shortlist`-row broadcast
    * join), removing most of the quantization error. Returns the final `k`
    * by exact cosine. At 100 TB the code table is what lives hot; the
    * vector table is touched `shortlist` rows per query.
    */
  def pqTopK(df: DataFrame, vecCol: String, idCol: String, model: PqModel,
             query: Seq[Double], k: Int, shortlist: Int = 40): DataFrame = {
    val short = df
      .select(col(idCol).as("vec_id"), model.encodeCol(col(vecCol)).as("codes"))
      .select(col("vec_id"), model.adcCol(col("codes"), query).as("adc"))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(shortlist)
    df.select(col(idCol).as("vec_id"), col(vecCol))
      .join(broadcast(short), "vec_id")
      .select(col("vec_id"), round(col("adc"), 6).as("adc"),
        round(cosine(toDouble(col(vecCol)), vecLit(query)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** k-NN majority-vote classification (Cover & Hart 1967, the plurality
    * rule): each query row gets the label held by most of its `k`
    * highest-cosine labeled neighbors, ties broken toward the smallest
    * label — how curation pipelines spread a small hand-labeled seed set
    * (quality tiers, domains, topics) over a 100 TB corpus.
    *
    * Scale shape: neighbor search is [[knnGraph]] (bounded per-query
    * top-k aggregate — ≤ k rows per (mapper, query) into the shuffle; at
    * corpus scale the all-pairs candidate join swaps for the LSH/IVF
    * candidate machinery exactly as knnGraph's scaladoc describes). The
    * vote is one partial-aggregated groupBy over ≤ k·|queries| slim
    * (query, label) rows, and the winner is a single min-struct aggregate
    * — (−votes, label) ascending — never a per-query sort window. Returns
    * (`id`, `pred_label`, `votes`).
    */
  def knnClassify(queries: DataFrame, labeled: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val knn = knnGraph(queries, labeled, idCol, vecCol, k)
    val lbl = labeled.select(col(idCol).as("dst"), col(labelCol).as("__nl"))
    knn.join(lbl, "dst")
      .groupBy(col("src"), col("__nl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("src"))
      .agg(min(struct(negate(col("votes")).as("nv"), col("__nl").as("l"))).as("best"))
      .select(col("src").as("id"), col("best.l").as("pred_label"),
        negate(col("best.nv")).as("votes"))
  }
}
