package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.TextFunctions

/** Corpus-preparation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, token-budget sequence
  * packing, content-addressed dataset splits, and stratified sampling.
  * (North-star scope — the reference, a streaming ETL walkthrough, has no
  * counterpart; these extend the engine the same way the dedup/similarity
  * modules do.)
  */
object TrainingData {

  /** Dispatch contract for [[semanticDecontaminate]] — which score contract
    * the caller is opting into when the benchmark outgrows the dense
    * broadcast:
    *  - [[DecontaminationStrategy.Dense]]: the exact contract only — true
    *    max cosine over the WHOLE benchmark for every train row. Hard error
    *    above `maxBenchRows` rather than a silent substitution.
    *  - [[DecontaminationStrategy.Lsh]]: force the approximate face
    *    ([[semanticDecontaminateLsh]]) at any size — candidate-max scores,
    *    NULL for candidate-free rows, detection recall ~`recall`.
    *  - [[DecontaminationStrategy.Auto]]: dense when it fits, LSH above the
    *    gate — with a LOUD log line at dispatch time stating the weakened
    *    contract (bench count, chosen LSH config, target recall).
    */
  sealed trait DecontaminationStrategy
  object DecontaminationStrategy {
    case object Dense extends DecontaminationStrategy
    case object Lsh extends DecontaminationStrategy
    case object Auto extends DecontaminationStrategy
  }

  /** Benchmark decontamination report: for every training document sharing at
    * least one word n-gram with the benchmark corpus, the number of distinct
    * shared shingles and the containment ratio shared/|train shingles|
    * (Brown et al., NeurIPS'20 appendix-C-style n-gram overlap filtering).
    *
    * Scale shape: the benchmark side is the small one (benchmarks are KBs to
    * MBs while training corpora are TBs), so its distinct-shingle set is
    * broadcast and the training side streams through a broadcast hash join —
    * no shuffle of the training corpus at all. The per-doc aggregation
    * shuffles only (doc_id, shingle-hit) rows for contaminated docs, a tiny
    * fraction of the corpus. `maxDocFreq` (0 = off) drops shingles present in
    * more than that many BENCHMARK docs (boilerplate guards).
    */
  def contaminationReport(train: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, n: Int = 5,
                          maxDocFreq: Int = 0): DataFrame = {
    val trainSh = Dedup.shingleSets(train, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
    val benchShingle = {
      val exploded = Dedup.shingleSets(bench, idCol, textCol, n)
        .select(col("doc_id"), explode(col("shingles")).as("s"))
      val capped =
        if (maxDocFreq <= 0) exploded.select("s").distinct()
        else exploded.groupBy(col("s"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") <= maxDocFreq).select("s")
      capped
    }
    trainSh
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("s"))
      .join(broadcast(benchShingle), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6).as("containment"))
  }

  /** Bloom-prefiltered decontamination — same report as
    * [[contaminationReport]], different 100 TB shape. The benchmark shingle
    * set becomes a Bloom bitmap (~1.2 bytes/shingle at 1% fpp vs ~40 bytes
    * for broadcast strings — ~30× smaller executor footprint), the training
    * side filters through the native codegen'd
    * [[graft.expressions.BloomMightContain]] probe during its scan, and the
    * exact shingle join then runs only on the bloom survivors
    * (contaminated + fpp fraction — typically orders of magnitude fewer
    * rows), so it no longer needs the benchmark strings broadcast at all.
    * False positives are removed by that exact join: the output is
    * row-identical to [[contaminationReport]] (spec-asserted; shares its
    * oracle). The bitmap builds driver-side — benchmark shingle sets are
    * MB-scale by premise; for a huge member set, build per-partition
    * bitmaps and `reduce(_ | _)` them instead.
    */
  def bloomDecontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 5, fpp: Double = 0.01): DataFrame = {
    import graft.expressions.{BloomMightContain, BloomUtil}
    val spark = train.sparkSession
    import spark.implicits._
    val members = Dedup.shingleSets(bench, idCol, textCol, n)
      .select(explode(col("shingles")).as("s")).distinct()
      .collect().map(_.getString(0))
    // the collected members also serve as the exact-verify side — the
    // benchmark corpus is shingled exactly once (they are already
    // driver-resident for the bitmap build; re-parallelizing them is free
    // next to re-scanning the benchmark docs)
    val benchShingle = members.toSeq.toDF("s")
    val (m, k) = BloomUtil.sized(math.max(1L, members.length.toLong), fpp)
    val bits = new Array[Long]((m >>> 6).toInt)
    members.foreach(s =>
      BloomUtil.add(org.apache.spark.unsafe.types.UTF8String.fromString(s), bits, k, m))
    val mightContain = org.apache.spark.sql.graft.ColumnBridge.column(
      BloomMightContain(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("s")), bits, k, m))
    Dedup.shingleSets(train, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
        explode(col("shingles")).as("s"))
      .filter(mightContain)
      // exact verification on the (tiny) bloom-surviving side, join strategy
      // left to the planner: a tiny benchmark auto-broadcasts, a huge one
      // shuffles — either is correct, because the probing side has already
      // shrunk to ~(contaminated + fpp) rows. The bloom's job was keeping
      // the FULL training scan from needing the string set at all.
      .join(benchShingle, "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6).as("containment"))
  }

  /** Stateless decontamination filter for STREAMING curation: drops any
    * document sharing at least one word n-gram with the benchmark corpus,
    * deciding by Bloom probe alone. The bitmap is built once (driver-side,
    * benchmark-sized) and rides into the stream's codegen as a constant, so
    * the filter needs no state store, no stream-static join, and works
    * verbatim in both execution contexts (live stream / batch experiment).
    * Probe-only means clean documents can be false-dropped at rate ≤ `fpp`
    * — the right trade for online curation (default 1e-4; the exact
    * containment REPORT is the batch job's business, see
    * [[bloomDecontaminate]]).
    */
  def decontaminationFilter(bench: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, fpp: Double = 1e-4): DataFrame => DataFrame = {
    import graft.expressions.{BloomMightContain, BloomUtil}
    val members = Dedup.shingleSets(bench, idCol, textCol, n)
      .select(explode(col("shingles")).as("s")).distinct()
      .collect().map(_.getString(0))
    val (m, k) = BloomUtil.sized(math.max(1L, members.length.toLong), fpp)
    val bits = new Array[Long]((m >>> 6).toInt)
    members.foreach(s =>
      BloomUtil.add(org.apache.spark.unsafe.types.UTF8String.fromString(s), bits, k, m))
    def mightContain(s: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.ColumnBridge.column(
        BloomMightContain(
          org.apache.spark.sql.graft.ColumnBridge.expression(s), bits, k, m))
    df => df.filter(!exists(Dedup.wordShingles(col(textCol), n), s => mightContain(s)))
  }

  /** Token-budget sequence packing: documents are laid out in `orderCol`
    * order and assigned to consecutive packs of ~`budget` tokens by
    * cumulative token count (pack_id = floor(cumsum_before / budget) — the
    * deterministic streaming-concatenation layout; a doc whose tokens
    * straddle a boundary belongs to the pack where it starts). Returns one
    * row per pack with doc and token totals.
    *
    * Sharded formulation — a single `Window.orderBy` would be a one-reducer
    * global sort (every document through one task at 100 TB). Instead:
    * sample `shards − 1` boundary keys of `orderCol` once and freeze them as
    * literals ([[graft.operators.RangeShard]]), making the shard id a pure
    * deterministic function of row content (order-respecting: shard i's keys
    * all precede shard i+1's, equal keys never straddle a boundary); run the
    * cumulative-sum window PER SHARD in parallel, and reconstruct the global
    * running total by adding each shard's exclusive prefix of token totals —
    * a driver-side scan over `shards` longs, the same pattern as
    * file-stitching writers. Determinism means the totals job and the window
    * job agree on shards with nothing pinned (the r4 `localCheckpoint` pin
    * leaked block-manager memory for the rest of the session); the slim
    * (orderCol, n_tokens) projection is persisted only across the in-call
    * jobs and released before returning. Global cumsum = shard prefix +
    * local cumsum, exactly — results are bit-identical to the global
    * window at any shard count.
    */
  def packBudgeted(df: DataFrame, orderCol: String, textCol: String,
                   budget: Long, shards: Int = 0): DataFrame = {
    import graft.operators.RangeShard
    val spark = df.sparkSession
    val nShards = if (shards > 0) shards
      else spark.sessionState.conf.numShufflePartitions
    val local = df
      .select(col(orderCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bounds = RangeShard.boundaries(local, Seq(orderCol), nShards)
      val keyTypes = Seq(local.schema(orderCol).dataType)
      val shardC = RangeShard.shardOf(Seq(col(orderCol)), bounds, keyTypes)
      // exclusive prefix sum of per-shard token totals: O(shards) driver work
      val totals = local.groupBy(shardC.as("shard")).agg(sum(col("n_tokens")).as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val shardIds = totals.keys.toSeq.sorted
      val prefix: Map[Int, Long] =
        shardIds.zip(shardIds.scanLeft(0L)(_ + totals(_))).toMap
      val prefixCol =
        if (prefix.isEmpty) lit(0L)
        else coalesce(element_at(typedlit(prefix), col("shard")), lit(0L))
      val w = Window.partitionBy(col("shard")).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      local
        .withColumn("shard", shardC)
        .withColumn("cum_after", sum(col("n_tokens")).over(w) + prefixCol)
        .withColumn("pack_id", ((col("cum_after") - col("n_tokens")) / budget).cast("long"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    } finally local.unpersist(false)
    // the final job recomputes the slim projection once post-unpersist —
    // deterministic sharding makes that safe, and nothing stays pinned
  }

  /** Content-addressed train/val/test split: the split is a pure function of
    * the document TEXT (via the deterministic [[TextFunctions.fingerprintMod]]
    * rolling hash), not of row ids or RNG — so it is stable across re-shards,
    * re-ingestion, and engines, and duplicate texts always land in the same
    * split (no train/test leakage through near-identical rows). `valPct` and
    * `testPct` are percentages of the 0-99 hash space.
    *
    * Scale shape: embarrassingly parallel map + one partial-aggregated
    * shuffle of 3 rows per partition.
    */
  def contentSplit(df: DataFrame, textCol: String,
                   valPct: Int = 1, testPct: Int = 1): DataFrame = {
    require(valPct + testPct < 100, "val+test must leave room for train")
    val bucket = pmod(TextFunctions.fingerprintMod(col(textCol)), lit(100))
    val split = when(bucket < lit(100 - valPct - testPct), "train")
      .when(bucket < lit(100 - testPct), "val")
      .otherwise("test")
    df.select(split.as("split"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** Per-stratum Bernoulli sampling with a deterministic seed — class
    * rebalancing / downsampling by label. Exact per-row independence (no
    * fixed-size guarantee) is the shape that scales: no count, no sort, no
    * shuffle; each row keeps or drops itself from a hash of (seed, row).
    *
    * NOTE: `sampleBy`'s determinism depends on partition layout (the RNG is
    * seeded per partition), so re-reading the corpus with a different split
    * plan changes the sample. [[hashStratifiedSample]] is the
    * layout-independent variant production pipelines should prefer.
    */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Content-hash stratified sampling: keep a row iff
    * `fnv1a64(key) mod resolution < fraction(stratum) · resolution`.
    * Fully deterministic from row CONTENT — independent of partition
    * layout, engine, cluster size, or run order (unlike RNG `sampleBy`),
    * so samples are reproducible and incrementally stable: re-running over
    * an appended corpus keeps every previously-sampled row. One codegen'd
    * filter, no shuffle, no count. The same decision is recomputable by any
    * engine (the DuckDB oracle replays it row for row).
    */
  def hashStratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                           fractions: Map[String, Double],
                           resolution: Int = 1000): DataFrame = {
    val thresholds = fractions.map { case (k, f) =>
      require(f >= 0.0 && f <= 1.0, s"fraction for $k out of [0,1]: $f")
      k -> math.round(f * resolution).toInt
    }
    val thr = coalesce(element_at(typedlit(thresholds), col(strataCol).cast("string")), lit(0))
    df.filter(pmod(TextFunctions.fnv1a64(col(keyCol).cast("string")), lit(resolution.toLong)) < thr)
  }

  /** Deterministic EXACT-k per-stratum sample ("hash reservoir" / bottom-k
    * sketch): the k rows with the smallest `fnv1a64(key)` per stratum.
    * Bernoulli gates ([[hashStratifiedSample]]) give an exact RATE but an
    * approximate count; this guarantees the count, stays a pure function
    * of row content (stable across re-shards, re-ingestion, engines), and
    * has the classic bottom-k property that growing the corpus only ever
    * replaces the largest-hash members — bounded sample churn.
    *
    * Scale shape: the bounded-heap top-k aggregate
    * ([[graft.expressions.TopKStructsAgg]]) partial-combines map-side, so
    * each mapper ships at most k rows per stratum — no window, no sort of
    * the corpus, one shuffle of ≤ k·|strata| rows per mapper. Output:
    * (strataCol, keyCol, rn) with rn the 1-based rank within the stratum.
    */
  def hashReservoirK(df: DataFrame, strataCol: String, keyCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"sample size must be positive: $k")
    graft.operators.Analytics.topPerKeyAgg(
      df.select(col(strataCol), col(keyCol),
        TextFunctions.fnv1a64(col(keyCol).cast("string")).as("__h")),
      strataCol,
      Seq(col("__h"), col(keyCol)),
      Seq(keyCol -> col(keyCol)),
      k)
  }

  /** Leakage-free train/val/test split: assigns every document a split such
    * that NO near-duplicate pair ever straddles a split boundary — the
    * eval-integrity property a per-document hash split cannot give (a
    * lightly edited copy of a training document landing in test silently
    * inflates benchmark scores; [[contentSplit]] only guards EXACT text
    * duplicates). Mechanism: near-dup pairs (n-gram Jaccard ≥ `threshold`
    * via MinHash+LSH candidates) → connected components
    * ([[graft.dedup.Dedup.resolveDuplicates]]) → every member inherits its
    * component's min-id root (singletons root at themselves) → the split is
    * the content-hash of the ROOT, so a whole duplicate cluster moves
    * atomically. Returns (idCol, root, split) per document.
    *
    * Scale shape: everything rides the existing dedup machinery (banded
    * candidates, skew caps, size-gated resolution); the extra cost over
    * plain resolution is one left join of the corpus ids against the
    * component table (near-dup-sized, AQE-sized to broadcast when small)
    * and a codegen'd hash — no new shuffle of the corpus.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, threshold: Double = 0.8,
                    valPct: Int = 10, testPct: Int = 10,
                    corpusN: Long = -1L): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct < 100,
      "val+test must leave room for train")
    val pairs = Dedup.minhashPairs(df, idCol, textCol, n, threshold, corpusN = corpusN)
    val resolved = Dedup.resolveDuplicates(pairs)
      .withColumnRenamed("id", idCol).withColumnRenamed("keep_id", "root")
    val bucket = pmod(TextFunctions.fnv1a64(col("root").cast("string")), lit(100L))
    df.select(col(idCol))
      .join(resolved, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("root"), col(idCol)).as("root"))
      .withColumn("split",
        when(bucket < lit(100L - valPct - testPct), "train")
          .when(bucket < lit(100L - testPct), "val")
          .otherwise("test"))
  }

  /** Corpus mixture construction (the Pile/DoReMi-style data-mixing stage):
    * given target TOKEN shares per stratum (language, source, domain …),
    * derive each stratum's sampling fraction from its MEASURED token count
    * and keep documents by the content-hash rule of
    * [[hashStratifiedSample]]. Downsampling only: the achievable corpus
    * size is capped by the scarcest stratum, `M = min_s(T_s / p_s)` with
    * `T_s` the stratum's tokens and `p_s` its normalized target share, so
    * stratum `s` keeps fraction `p_s · M / T_s` (the binding stratum keeps
    * everything, abundant strata shrink to match). Strata missing from
    * `targets` are dropped; a target stratum absent from the corpus binds
    * M to 0 (nothing can satisfy its share) — callers wanting "best
    * effort" should prune targets first.
    *
    * Fully deterministic and engine-replayable: fractions are integer
    * thresholds at `resolution`, the keep decision is
    * `fnv1a64(id) mod resolution < threshold(stratum)`, and both derive
    * from one aggregation — the DuckDB oracle replays the entire
    * construction including the float division (both engines divide the
    * same exact integer sums).
    *
    * Scale shape: one partial-aggregated shuffle of |strata| rows for the
    * token census, then ONE codegen'd filter pass over the corpus — the
    * corpus itself never shuffles, and the thresholds ride as a literal
    * map. Returns the kept rows (all input columns).
    */
  def mixToTargets(df: DataFrame, strataCol: String, keyCol: String,
                   textCol: String, targets: Map[String, Double],
                   resolution: Int = 1000000): DataFrame =
    mixFilter(df, strataCol, keyCol, textCol, targets, resolution)(df)

  /** The gate form of [[mixToTargets]]: thresholds are computed ONCE from a
    * static `census` corpus and returned as a stateless codegen'd filter —
    * the shape a STREAMING curation pipeline needs (the census is a batch
    * side input; the keep rule needs no state store and runs verbatim in a
    * live stream or a batch experiment, like [[decontaminationFilter]]).
    */
  def mixFilter(census: DataFrame, strataCol: String, keyCol: String,
                textCol: String, targets: Map[String, Double],
                resolution: Int = 1000000): DataFrame => DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0.0),
      "targets must be non-empty positive shares")
    val pTot = targets.values.sum
    val p = targets.map { case (k, v) => k -> v / pTot }
    // strataCol is CAST to string on both the census and the lookup side:
    // targets keys are strings, and a non-string stratum (an int region
    // code, say) would otherwise ClassCastException at gate construction
    val strata = col(strataCol).cast("string")
    val counts = census
      .filter(strata.isin(targets.keys.toSeq: _*))
      .groupBy(strata.as("__s"))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum: the one whose measured tokens cover the smallest
    // multiple of its target share
    val m = p.keys.map(s => counts.getOrElse(s, 0L) / p(s)).min
    val thresholds = p.map { case (s, share) =>
      val t = counts.getOrElse(s, 0L)
      s -> (if (t == 0L) 0 else math.round(share * m / t * resolution).toInt)
    }
    val thr = coalesce(element_at(typedlit(thresholds), col(strataCol).cast("string")), lit(0))
    df => df.filter(pmod(TextFunctions.fnv1a64(col(keyCol).cast("string")),
      lit(resolution.toLong)) < thr)
  }

  /** α-temperature mixture (the multilingual sampling rule of XLM-R / mC4,
    * Conneau et al. 2020 §3.1): stratum target shares are `p_s ∝ n_s^α`
    * with α ∈ (0,1) flattening the natural token distribution — high-
    * resource strata down-weighted, low-resource ones relatively up-
    * weighted, never re-ordered. Where [[mixFilter]] takes shares as given,
    * this derives them from the census itself. α is FIXED at 1/2: the
    * share computation is then `sqrt`, which IEEE-754 requires to be
    * correctly rounded, so census → shares → thresholds replays bit-for-bit
    * on any engine (`pow`'s last ulp is libm-specific, and a keep/drop
    * boundary must not depend on the libm that computed it). The share
    * normalizer Σ√n_s is a left-to-right fold in SORTED stratum order for
    * the same reason.
    *
    * Keep rule and scale shape are [[mixFilter]]'s: one |strata|-row token
    * census collected driver-side, thresholds ride as codegen literals, and
    * the returned filter is a stateless content-hash gate that runs
    * verbatim in a live stream or a batch experiment — the corpus never
    * joins or shuffles.
    */
  def temperatureMixFilter(census: DataFrame, strataCol: String, keyCol: String,
                           textCol: String, strata: Seq[String],
                           resolution: Int = 1000000): DataFrame => DataFrame = {
    require(strata.nonEmpty && strata.distinct.size == strata.size,
      "strata must be non-empty and distinct")
    val sorted = strata.sorted
    val sc = col(strataCol).cast("string")
    val counts = census
      .filter(sc.isin(sorted: _*))
      .groupBy(sc.as("__s"))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sorted.foreach(s => require(counts.getOrElse(s, 0L) > 0L,
      s"temperatureMixFilter: stratum '$s' has no measured tokens — a zero-" +
        "token stratum cannot receive a temperature share; drop it from strata"))
    val w = sorted.map(s => s -> math.sqrt(counts(s).toDouble))
    val wTot = w.foldLeft(0.0)(_ + _._2)
    val p = w.map { case (s, v) => s -> v / wTot }.toMap
    // binding stratum + integer thresholds: the mixFilter rule verbatim
    val m = sorted.map(s => counts(s) / p(s)).min
    val thresholds = sorted.map { s =>
      s -> math.round(p(s) * m / counts(s) * resolution).toInt
    }.toMap
    val thr = coalesce(element_at(typedlit(thresholds), col(strataCol).cast("string")), lit(0))
    df => df.filter(pmod(TextFunctions.fnv1a64(col(keyCol).cast("string")),
      lit(resolution.toLong)) < thr)
  }

  /** Batch form of [[temperatureMixFilter]]: the corpus is its own census. */
  def temperatureMix(df: DataFrame, strataCol: String, keyCol: String,
                     textCol: String, strata: Seq[String],
                     resolution: Int = 1000000): DataFrame =
    temperatureMixFilter(df, strataCol, keyCol, textCol, strata, resolution)(df)

  /** Fixed-length training sequences across document boundaries — the
    * GPT-style data-prep layout: documents laid end-to-end in `orderCols`
    * order, the concatenated token stream cut every `seqLen` tokens, each
    * output row mapping one document to one sequence it overlaps:
    * `(seq_id, doc_off, n_toks)` + the input columns, where `doc_off` is
    * the document's token offset within the sequence and `n_toks` how many
    * of its tokens land there (the trailing sequence may be short; zero-
    * token documents vanish). Everything derives from the document's exact
    * GLOBAL token offset, so the layout is reproducible from any partition
    * layout — computed by [[graft.operators.Analytics.prefixSum]] (sharded
    * parallel windows + driver offsets, never a one-task scan), then a
    * per-row bounded generator (`explode(sequence(first, last))`, ≤
    * `tokens/seqLen + 1` rows per document) with pure integer arithmetic.
    * `orderCols`: plain ascending with a unique tiebreaker, as in
    * [[graft.operators.Analytics.rangedRank]].
    */
  def seqWindows(df: DataFrame, orderCols: Seq[Column], tokens: Column,
                 seqLen: Long, shards: Int = 0): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val nt = tokens.cast("long")
    val L = lit(seqLen)
    graft.operators.Analytics.prefixSum(df, orderCols, tokens, "__cum", shards)
      .filter(nt > 0)
      .withColumn("__start", col("__cum") - nt)
      // first/last overlapped sequence: floor-division via double `/` is
      // exact here (token totals are far below 2^53) and floor == integer
      // division for the non-negative operands on both engines
      .withColumn("seq_id",
        explode(sequence(floor(col("__start") / L).cast("long"),
          floor((col("__cum") - 1) / L).cast("long"))))
      .withColumn("doc_off", greatest(lit(0L), col("__start") - col("seq_id") * L))
      .withColumn("n_toks",
        least(col("__cum"), (col("seq_id") + 1) * L) -
          greatest(col("__start"), col("seq_id") * L))
      .drop("__cum", "__start")
  }

  /** Per-group token-budget selection: within every group, rows are taken
    * in `orderCols` order (quality-descending in the curation use) until
    * the group's cumulative token count would exceed `budget` — the
    * per-domain cap that keeps one giant source from eating the whole
    * selection, where [[graft.operators.Analytics.budgetSelect]] caps the
    * GLOBAL budget.
    *
    * One shuffle on the group key; the running sum is a group-partitioned
    * ROWS window (`orderCols` must make the per-group order total). A
    * pathological corpus that is one single group degenerates to a global
    * prefix sum — route that case through budgetSelect's range-sharded
    * machinery instead.
    */
  def groupBudgetSelect(df: DataFrame, groupCol: Column, orderCols: Seq[Column],
                        tokens: Column, budget: Long): DataFrame = {
    require(budget >= 0L, s"budget must be non-negative: $budget")
    val w = Window.partitionBy(col("__grp")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__grp", groupCol)
      .withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("__grp")
  }

  /** Mixture WITH REPLACEMENT (epoch upsampling — the DoReMi / domain-
    * weights shape): meets target token shares even for UNDER-represented
    * strata by deterministically REPLICATING rows, where [[mixToTargets]]
    * can only throw data away. Stratum s's required multiplicity is
    * `r_s = p_s · factor · T / t_s` (p = normalized target shares, t_s =
    * measured stratum tokens, T = total measured tokens over the targeted
    * strata, factor = output token budget as a multiple of T). Every row
    * emits `floor(r_s)` full copies plus ONE extra copy kept iff
    * `fnv1a64(key) mod resolution < round(frac(r_s) · resolution)` — the
    * same content-hash rule as [[mixFilter]], so the draw is deterministic,
    * layout-independent, and engine-replayable; over-represented strata get
    * r_s < 1 (copy 0 itself is hash-gated), so one rule covers up- and
    * down-sampling. Returns the input columns plus `copy` (0-based replica
    * index) so downstream packing can keep replicas identifiable; rows in
    * non-targeted strata emit nothing.
    *
    * Scale shape: one partial-aggregated census shuffle of |strata| rows
    * collected driver-side, then a pure scan-side generator (explode over a
    * per-row bounded sequence whose bounds ride as literal maps) — the
    * corpus never shuffles. The gate form is stateless, so the identical
    * closure runs in a live stream or a batch experiment, like
    * [[mixFilter]].
    */
  def upsampleFilter(census: DataFrame, strataCol: String, keyCol: String,
                     textCol: String, targets: Map[String, Double],
                     factor: Double = 1.0,
                     resolution: Int = 1000000,
                     maxMultiplicity: Double = 1000.0): DataFrame => DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0.0),
      "targets must be non-empty positive shares")
    require(factor > 0.0, s"factor must be positive: $factor")
    val pTot = targets.values.sum
    val p = targets.map { case (k, v) => k -> v / pTot }
    val strata = col(strataCol).cast("string")
    val counts = census
      .filter(strata.isin(targets.keys.toSeq: _*))
      .groupBy(strata.as("__s"))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    def rOf(s: String): Double = {
      val t = counts.getOrElse(s, 0L)
      if (t == 0L) 0.0 else p(s) * factor * total / t
    }
    // multiplicity guard: a near-empty stratum given a real share makes r
    // explode (10 measured tokens against a 10^12-token budget is r = 10^11
    // copies PER ROW — a runaway generator, and almost certainly a
    // mis-specified target rather than an intent to train 10^11 epochs on
    // one document). Hard error, like the broadcast gates: the caller
    // either fixes the targets or raises the cap deliberately.
    p.keys.foreach { s =>
      val r = rOf(s)
      require(r <= maxMultiplicity,
        f"upsampleFilter: stratum '$s' needs multiplicity $r%.1f > " +
          f"maxMultiplicity $maxMultiplicity%.1f (measured ${counts.getOrElse(s, 0L)} " +
          "tokens against its target share) — a mis-specified mixture replicates " +
          "rows without bound; fix the targets or raise maxMultiplicity deliberately")
    }
    val full = p.keys.map(s => s -> math.floor(rOf(s)).toLong).toMap
    val thr = p.keys.map { s =>
      val r = rOf(s)
      s -> math.round((r - math.floor(r)) * resolution).toInt
    }.toMap
    df => {
      val sc = col(strataCol).cast("string")
      val fullC = coalesce(element_at(typedlit(full), sc), lit(0L))
      val thrC = coalesce(element_at(typedlit(thr), sc), lit(0))
      val extra = when(pmod(TextFunctions.fnv1a64(col(keyCol).cast("string")),
        lit(resolution.toLong)) < thrC, 1L).otherwise(0L)
      df.withColumn("__n", fullC + extra)
        .filter(col("__n") > 0)
        .withColumn("copy", explode(sequence(lit(0L), col("__n") - 1)))
        .drop("__n")
    }
  }

  /** Batch form of [[upsampleFilter]]: census and corpus are the same
    * DataFrame.
    */
  def upsampleToTargets(df: DataFrame, strataCol: String, keyCol: String,
                        textCol: String, targets: Map[String, Double],
                        factor: Double = 1.0,
                        resolution: Int = 1000000,
                        maxMultiplicity: Double = 1000.0): DataFrame =
    upsampleFilter(df, strataCol, keyCol, textCol, targets, factor, resolution,
      maxMultiplicity)(df)

  /** UniMax budget allocation (Chung et al., ICLR 2023: "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a total token budget across strata by
    * WATER-FILLING under a per-stratum epoch cap. Stratum s with measured
    * tokens t_s has capacity c_s = epochCap · t_s; the allocation is
    * a_s = min(c_s, θ) with the water level θ solving Σ a_s = budget
    * (all-capped when the budget covers total capacity). This is exactly
    * the paper's greedy smallest-first allocation: head strata never take
    * more than the common level, tail strata are never repeated past
    * epochCap — the fairness property temperature sampling lacks.
    *
    * θ in closed form: with capacities sorted ascending (stratum name as
    * tiebreaker) and cum_i = Σ of the first i capacities, θ is the first
    * candidate (budget − cum_i)/(k − i) that fits under the (i+1)-th cap;
    * strata before that point are consumed whole, which min(c_s, θ)
    * expresses uniformly because θ provably exceeds every capped stratum's
    * capacity.
    *
    * Emission: epochs r_s = a_s / t_s materialized exactly like
    * [[upsampleFilter]] — floor(r_s) full copies plus ONE extra copy kept
    * iff fnv1a64(key) mod resolution < round(frac(r_s) · resolution);
    * output adds `copy`, non-targeted strata emit nothing.
    *
    * Engine-replayable by construction: token sums are exact longs;
    * capacities are EXACT doubles whenever epochCap has a short mantissa
    * (so any summation order gives the identical cumulative capacities —
    * callers wanting a bit-replayable oracle should pick such a cap, e.g.
    * 2.0 or 2.5); every subsequent op (subtract, divide, compare, min,
    * floor, round) is a single correctly-rounded IEEE-754 step in a fixed
    * order, so DuckDB recomputes bit-identical thresholds.
    *
    * `budget` is absolute tokens, or a fraction of the measured total when
    * `budgetIsFraction` (keeps the whole construction one census pass).
    *
    * Scale shape: one |strata|-row partial-aggregated census shuffle
    * collected driver-side, then a pure scan-side bounded generator with
    * literal-map thresholds — the corpus never shuffles, and the returned
    * gate is stateless (runs verbatim in a live stream or a batch
    * experiment, like [[mixFilter]]).
    */
  def unimaxFilter(census: DataFrame, strataCol: String, keyCol: String,
                   textCol: String, strata: Seq[String],
                   budget: Double, epochCap: Double = 2.0,
                   budgetIsFraction: Boolean = false,
                   resolution: Int = 1000000): DataFrame => DataFrame = {
    require(strata.nonEmpty && strata.distinct.size == strata.size,
      "strata must be non-empty and distinct")
    require(budget > 0.0, s"budget must be positive: $budget")
    require(epochCap > 0.0, s"epochCap must be positive: $epochCap")
    val sc0 = col(strataCol).cast("string")
    val counts = census
      .filter(sc0.isin(strata: _*))
      .groupBy(sc0.as("__s"))
      .agg(sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach(s => require(counts.getOrElse(s, 0L) > 0L,
      s"unimaxFilter: stratum '$s' has no measured tokens — it cannot " +
        "receive a budget share; drop it from strata"))
    // integer token total (exact), then the budget in tokens
    val tot = strata.sorted.foldLeft(0L)(_ + counts(_))
    val b = if (budgetIsFraction) budget * tot.toDouble else budget
    // ascending capacity with the stratum name as a total tiebreaker — the
    // fold order is part of the replay contract
    val ord = strata.map(s => (s, counts(s), epochCap * counts(s).toDouble))
      .sortBy { case (s, _, c) => (c, s) }
    val k = ord.size
    val cumBefore = ord.scanLeft(0.0)(_ + _._3).init
    // first equal-share candidate that fits under its stratum's cap; None
    // means the budget covers total capacity and every stratum is capped
    val theta: Option[Double] = ord.zip(cumBefore).zipWithIndex.collectFirst {
      case (((_, _, c), cb), i) if (b - cb) / (k - i) <= c => (b - cb) / (k - i)
    }
    val rOf = ord.map { case (s, t, c) =>
      s -> theta.fold(c)(th => math.min(c, th)) / t.toDouble
    }.toMap
    val full = rOf.map { case (s, r) => s -> math.floor(r).toLong }
    val thr = rOf.map { case (s, r) =>
      s -> math.round((r - math.floor(r)) * resolution).toInt
    }
    df => {
      val sc = col(strataCol).cast("string")
      val fullC = coalesce(element_at(typedlit(full), sc), lit(0L))
      val thrC = coalesce(element_at(typedlit(thr), sc), lit(0))
      val extra = when(pmod(TextFunctions.fnv1a64(col(keyCol).cast("string")),
        lit(resolution.toLong)) < thrC, 1L).otherwise(0L)
      df.withColumn("__n", fullC + extra)
        .filter(col("__n") > 0)
        .withColumn("copy", explode(sequence(lit(0L), col("__n") - 1)))
        .drop("__n")
    }
  }

  /** Batch form of [[unimaxFilter]]: the corpus is its own census. */
  def unimaxMix(df: DataFrame, strataCol: String, keyCol: String,
                textCol: String, strata: Seq[String],
                budget: Double, epochCap: Double = 2.0,
                budgetIsFraction: Boolean = false,
                resolution: Int = 1000000): DataFrame =
    unimaxFilter(df, strataCol, keyCol, textCol, strata, budget, epochCap,
      budgetIsFraction, resolution)(df)

  /** Fuzzy benchmark decontamination: training documents whose n-gram
    * Jaccard similarity with ANY benchmark document reaches `threshold` —
    * the near-duplicate analog of [[contaminationReport]] (which requires a
    * shared shingle; this catches lightly-edited benchmark copies that
    * shingle-overlap reports under-score). MinHash+LSH banding generates
    * candidates across the two corpora, exact Jaccard on shingle sets
    * verifies — the cross-corpus variant of
    * [[graft.dedup.Dedup.minhashPairs]], same recall math: with the default
    * 128 hashes / 64 bands of 2 the per-pair miss probability at j=0.8 is
    * (1-j²)^64 ≈ 1e-28, so the output equals the exact cross join.
    *
    * Scale shape: the benchmark side is USUALLY small (KB-MB of benchmark
    * text vs TB of training corpus), so its banded buckets AND its shingle
    * sets broadcast and the training side streams through two map-only
    * broadcast joins (candidate generation, verification), never shuffling
    * wholesale. But "small by premise" is not a guarantee — [[dedupAgainst]]
    * passes an arbitrary ingestion DELTA as this side — so the broadcasts
    * are GATED on the bench side's estimated EXPLODED volume, not its doc
    * count: what actually broadcasts is the banded-bucket table (docs ×
    * `params.bands` rows) and the shingle sets (~one shingle per token), so
    * the gate compares `max(docs × bands, total tokens)` against
    * `broadcastMaxRows` — a doc-count gate would under-measure by orders of
    * magnitude and admit multi-GB broadcasts. Above the gate the same plan
    * degrades to shuffle joins instead of OOMing every executor. The
    * candidate-pair set is deliberately NOT hint-broadcast: it is the
    * output of a shuffle (`distinct`), so AQE sees its EXACT runtime size
    * and picks broadcast-hash vs shuffle join itself — runtime facts beat a
    * compile-time guess for a set whose size depends on how dup-heavy the
    * corpus is. Pass `benchN` if the caller already knows the exploded
    * broadcast volume (skips one stats job). NOTE the gate makes plan
    * CONSTRUCTION eager: without `benchN` a one-aggregate stats job
    * (count + token sum) runs when the DataFrame is built, not when it is
    * executed — the deliberate price of deciding broadcast-vs-shuffle from
    * a fact instead of a guess (the job scans only the small-by-premise
    * side).
    */
  def fuzzyDecontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 5, threshold: Double = 0.8,
                         params: Dedup.MinHashParams = Dedup.MinHashParams(),
                         benchN: Long = -1L,
                         broadcastMaxRows: Long = 500000L): DataFrame = {
    val bN = if (benchN >= 0) benchN else {
      val stats = bench.agg(count(lit(1)).as("d"),
        coalesce(sum(TextFunctions.tokenCount(col(textCol)).cast("long")), lit(0L)).as("t"))
        .head()
      math.max(stats.getLong(0) * params.bands, stats.getLong(1))
    }
    val bcast: DataFrame => DataFrame =
      if (bN <= broadcastMaxRows) broadcast(_) else identity
    val trainSh = Dedup.shingleSets(train, idCol, textCol, n)
    val benchSh = Dedup.shingleSets(bench, idCol, textCol, n)
      .filter(size(col("shingles")) > 0)
    def banded(sh: DataFrame): DataFrame = {
      val r = params.rowsPerBand
      val bands = posexplode(transform(sequence(lit(0), lit(params.bands - 1)),
        i => slice(col("sig"), i * r + 1, lit(r))))
      sh.filter(size(col("shingles")) > 0)
        .select(col("doc_id"), Dedup.minhashSignature(col("shingles"), params).as("sig"))
        .select(col("doc_id"), bands.as(Seq("band", "band_sig")))
        .select(col("doc_id"), xxhash64(col("band"), col("band_sig")).as("bk"))
    }
    val cand = banded(trainSh)
      .join(bcast(banded(benchSh).withColumnRenamed("doc_id", "bench_id")), "bk")
      .select(col("doc_id"), col("bench_id")).distinct()
    // no broadcast hint on cand: post-shuffle, AQE sizes it at runtime
    trainSh.join(cand, "doc_id")
      .join(bcast(benchSh.select(col("doc_id").as("bench_id"), col("shingles").as("bsh"))),
        "bench_id")
      .select(col("doc_id"), col("bench_id"),
        round(Dedup.jaccard(col("shingles"), col("bsh")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EMBEDDING-space (semantic) benchmark decontamination — the vector
    * face of the decontamination family: a training document is
    * contaminated when its embedding's cosine against ANY benchmark
    * embedding reaches `threshold`, catching paraphrases and translations
    * the n-gram faces ([[fuzzyDecontaminate]]'s shingle MinHash,
    * [[decontaminateSpans]]' exact spans) structurally cannot see. Returns
    * one row per train id: `(idCol, max_bench_cos ROUND 6, contaminated)`
    * — a report the caller filters/joins on (same contract as
    * [[contaminationReport]]'s shape; an anti-join on `contaminated`
    * drops the flagged slice).
    *
    * Scale shape: the benchmark side is SMALL by nature (a benchmark is
    * curated; the train side is the 100 TB one). Up to `maxBenchRows` the
    * benchmark is broadcast prenormed and the train side streams MAP-ONLY
    * through a BroadcastNestedLoop scoring pass (|bench| fused codegen'd
    * dots per row — the [[graft.similarity.Ann.knnGraph]] kernel shape)
    * into a partial-aggregated per-id max, so the only shuffle is |train|
    * slim (id, max) rows and the corpus itself never reshuffles. ABOVE
    * `maxBenchRows` the call's behavior is `strategy`'s decision:
    * `Auto` (the default) dispatches to [[semanticDecontaminateLsh]]
    * — random-hyperplane bucket candidates + exact re-score — whose
    * weaker score contract (NULL `max_bench_cos` for candidate-free rows,
    * detection recall ~`recall`) is documented there, and LOGS the
    * dispatch loudly (bench count, auto-sized LSH config, target recall):
    * a decontamination pass silently weakening its recall contract is how
    * contaminated data survives "decontamination", so the weaker contract
    * must reach the operator's logs even under Auto. `Dense` refuses the
    * dispatch — a hard error above `maxBenchRows` (the caller asked for
    * the exact-score contract; give it or fail, never substitute).
    * `Lsh` forces the approximate face regardless of size. The count gate
    * makes plan construction eager (one count() over the
    * small-by-premise side — the [[fuzzyDecontaminate]] trade, stated).
    * The contamination compare uses the UNROUNDED max (the oracle
    * replays the identical left-to-right IEEE dot), rounding only the
    * published score.
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                            vecCol: String, threshold: Double,
                            maxBenchRows: Long = 500000L,
                            recall: Double = 0.999,
                            seed: Long = 42L,
                            strategy: DecontaminationStrategy =
                              DecontaminationStrategy.Auto): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    import graft.functions.{VectorFunctions => VF}
    val bCount = bench.count()
    val useLsh = strategy match {
      case DecontaminationStrategy.Lsh => true
      case DecontaminationStrategy.Dense =>
        require(bCount <= maxBenchRows,
          s"semanticDecontaminate(strategy=Dense): benchmark has $bCount rows " +
            s"> maxBenchRows=$maxBenchRows — the dense exact-score contract " +
            "cannot be honored at this size; raise maxBenchRows (and executor " +
            "memory for the broadcast) or opt into strategy=Lsh / Auto, whose " +
            "weaker candidate-max contract is documented on " +
            "semanticDecontaminateLsh")
        false
      case DecontaminationStrategy.Auto => bCount > maxBenchRows
    }
    if (useLsh) {
      if (strategy == DecontaminationStrategy.Auto) {
        // autoConfig is pure driver math (microseconds) — recomputing it
        // for the log is free and guaranteed to match the callee, which
        // sizes with the identical (benchN, threshold, recall) inputs. No
        // extra Spark job here: dim is deliberately NOT logged (reading it
        // costs a head() over the bench plan the callee will run anyway).
        val (bits, tables, probe) =
          graft.similarity.Ann.autoConfig(bCount, threshold, recall)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"semanticDecontaminate: benchmark ($bCount rows > maxBenchRows=" +
            f"$maxBenchRows) dispatching to the APPROXIMATE LSH face " +
            f"(bits=$bits, tables=$tables, probeHamming=$probe, target recall " +
            f"$recall%.4f at threshold $threshold%.3f) — max_bench_cos is the " +
            "max over bucket CANDIDATES only (NULL when no bucket fired) and " +
            "contaminated detection holds at ~recall, not exactly; pass " +
            "strategy=Dense to refuse this substitution")
      }
      return semanticDecontaminateLsh(train, bench, idCol, vecCol, threshold,
        benchN = bCount, recall = recall, seed = seed)
    }
    def prep(d: DataFrame, p: String): DataFrame =
      d.select(col(idCol).as(s"${p}id"), VF.toDouble(col(vecCol)).as(s"${p}v"))
        .withColumn(s"${p}n", VF.norm(col(s"${p}v")))
    // fan out the TRAIN side (keyed — the id is unique by contract): on a
    // single-file toy corpus the whole scoring pass otherwise runs
    // one-core; no-op at scale (the knnGraph lesson)
    val t = graft.operators.Par.fanOut(prep(train, "t"), Seq("tid"))
    val scored = t.crossJoin(broadcast(prep(bench, "b")))
      .select(col("tid"),
        VF.cosinePrenormed(VF.dot(col("tv"), col("bv")), col("tn"), col("bn"))
          .as("__cos"))
      .groupBy(col("tid"))
      .agg(max(col("__cos")).as("__mc"))
    scored.select(col("tid").as(idCol),
      round(col("__mc"), 6).as("max_bench_cos"),
      (col("__mc") >= threshold).as("contaminated"))
  }

  /** The LARGE-benchmark face of [[semanticDecontaminate]] — the path that
    * used to be an error message. When the benchmark outgrows the dense
    * broadcast (> `maxBenchRows`), candidates come from random-hyperplane
    * LSH bucket collisions ([[graft.similarity.Ann.LshIndex]], the
    * [[graft.dedup.Dedup.embeddingNearDupLsh]] machinery re-aimed at a
    * bipartite train-vs-bench probe instead of a self-join), then exact
    * cosine re-scores only the collided pairs.
    *
    * CONTRACT DIFFERENCE vs the dense face, by nature of LSH: the output
    * is still one row per train id, but `max_bench_cos` is the exact max
    * over *candidate* benchmark rows only — NULL when no bucket collision
    * fired (the dense face's "true max over the whole benchmark, however
    * low" is exactly the all-pairs work this path exists to avoid), and
    * `contaminated` detection holds with recall ~`recall` at `threshold`
    * (config auto-sized by [[graft.similarity.Ann.autoConfig]], radius-1
    * multiprobe on the train side when cost-optimal).
    *
    * Scale shape: the benchmark is hashed into (table, bucket, id) tags —
    * ~20 B/row·table, broadcast when they fit an executor, shuffled
    * otherwise — and the train side streams through hashing + the
    * candidate equi-join map-only in the broadcast regime. Vectors never
    * ride through the candidate join: pairs dedup as bare (tid, bid) ids
    * first (the embeddingNearDupLsh multiplicity lesson), then the two
    * vector joins and the per-id max shuffle linearly in candidates. The
    * one row per train id comes from a final left join of the slim id
    * projection against the slim (id, max) aggregate — the corpus itself
    * never reshuffles.
    *
    * The slim `(tid, tv, tn)` train projection is PERSISTED (memory+disk):
    * the plan reads it three times (tag hashing, the candidate vector
    * re-score, the final id spine), and without the cache each read is a
    * full corpus scan + norm recomputation — two avoidable 100 TB passes.
    * A lazy result cannot unpersist behind itself, so the pin is BOUNDED
    * instead: projections register in a 2-entry LRU keyed by canonicalized
    * plan (sameResult-verified) — repeated calls over the same input share
    * ONE resident copy, and a call over a THIRD distinct corpus evicts the
    * least-recently-used projection. Eviction is always safe: an already-
    * returned plan recomputes from lineage on the cache miss (correctness
    * unaffected, only the single-scan speedup is lost for that stale
    * plan). Callers wanting everything back immediately still have
    * `spark.catalog.clearCache()`.
    */
  /** Bounded registry behind [[semanticDecontaminateLsh]]'s train-side
    * persist: at most `maxPersistedTrainSides` distinct slim projections
    * stay resident; registering a new one unpersists the least-recently-
    * used. Hash-keyed with a `sameResult` verification (the prefix-cache
    * lesson: a bare semanticHash can collide), synchronized because the
    * bench harness runs queries from one session concurrently with specs.
    */
  private val maxPersistedTrainSides = 2
  // keyed by (session identity, plan hash): two live sessions alternating
  // over the SAME corpus each keep their own resident projection instead
  // of evicting each other's every call (cache thrash — every call would
  // re-pay the full train-side materialization the registry exists to
  // avoid); the 2-entry bound is global, so a second session still costs
  // the first at most its LRU slot, never correctness
  private val trainSideCache =
    scala.collection.mutable.LinkedHashMap.empty[
      (Int, Int), (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]

  private[graft] def persistedTrainSides: Int =
    trainSideCache.synchronized(trainSideCache.size)

  /** Explicit-release hook for the bounded train-side registry: unpersists
    * every resident projection and empties the map. For callers who know
    * the decontamination phase is over and want the executor memory back
    * NOW (a long-lived application moving on to a different stage) without
    * the collateral damage of `spark.catalog.clearCache()` — which would
    * also drop caches the registry does not own. Each unpersist is guarded:
    * an entry whose session has since stopped must not fail the release of
    * the live ones.
    *
    * Pass `session` to release ONLY that session's entries: the no-arg form
    * is global, and one session's explicit release would otherwise also
    * unpersist another live session's resident projection — silently
    * re-imposing the full re-materialization cost on that session's next
    * call (ADVICE r17; thrash, never correctness).
    */
  def releaseTrainSides(session: Option[SparkSession] = None): Unit =
    trainSideCache.synchronized {
      val doomed = trainSideCache.filter { case (_, (_, cached)) =>
        session.forall(_ eq cached.sparkSession) }
      doomed.foreach { case (key, (_, old)) =>
        try old.unpersist(false) catch { case _: Throwable => () }
        trainSideCache.remove(key)
      }
    }

  private def persistTrainSideBounded(df: DataFrame): DataFrame =
    trainSideCache.synchronized {
      val canon = df.queryExecution.analyzed.canonicalized
      val key = (System.identityHashCode(df.sparkSession), canon.semanticHash())
      trainSideCache.remove(key) match {
        case Some((plan, cached)) if plan.sameResult(canon) &&
            !cached.sparkSession.sparkContext.isStopped &&
            // same-session only (defense in depth behind the key's
            // identityHashCode component): handing session A's cached
            // Dataset to session B's caller would mix Datasets across
            // sessions in downstream joins — fall through and re-persist
            // under the caller's own session instead
            (cached.sparkSession eq df.sparkSession) =>
          // someone may have clearCache()'d behind the registry (the bench
          // harness does, between queries) — re-assert the persist so the
          // single-scan property survives a hit after an external clear
          if (cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            cached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          trainSideCache.put(key, (plan, cached)) // LRU refresh
          cached
        case other =>
          // hash collision with a DIFFERENT plan, or a stale entry from a
          // stopped or foreign session: release it — correctness never
          // depends on the cache, only the scan count
          other.foreach { case (_, old) =>
            try old.unpersist(false) catch { case _: Throwable => () } }
          val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          trainSideCache.put(key, (canon, p))
          while (trainSideCache.size > maxPersistedTrainSides) {
            val (k0, (_, old)) = trainSideCache.head
            trainSideCache.remove(k0)
            // same guard as the collision path: a stale entry from a
            // stopped context must not throw out of an otherwise-valid
            // live registration (ADVICE r16)
            try old.unpersist(false) catch { case _: Throwable => () }
          }
          p
      }
    }

  def semanticDecontaminateLsh(train: DataFrame, bench: DataFrame,
                               idCol: String, vecCol: String, threshold: Double,
                               benchN: Long = -1L, recall: Double = 0.999,
                               seed: Long = 42L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    import graft.functions.{VectorFunctions => VF}
    val benchCount = if (benchN > 0) benchN else bench.count()
    // dim from one benchmark row (a bounded head(1) job): the index needs
    // the hyperplane dimensionality and the API takes none explicitly
    val dim = bench.select(size(col(vecCol)).as("d")).head().getInt(0)
    // size by the INDEXED (bench) side: recall per pair is a property of
    // (bits, tables, probe) at the threshold alone, and cost scales with
    // bench bucket occupancy — the train side pays linear hashing either
    // way, so its (possibly unknowable) count must not gate the plan
    val (bits, tables, probe) =
      graft.similarity.Ann.autoConfig(benchCount, threshold, recall)
    val index = graft.similarity.Ann.LshIndex(dim, bits, tables, seed)
    def prep(d: DataFrame, p: String): DataFrame =
      d.select(col(idCol).as(s"${p}id"), VF.toDouble(col(vecCol)).as(s"${p}v"))
        .withColumn(s"${p}n", VF.norm(col(s"${p}v")))
    val t = persistTrainSideBounded(
      graft.operators.Par.fanOut(prep(train, "t"), Seq("tid")))
    val b = prep(bench, "b")
    val bTags = index.withBuckets(b.select(col("bid"), col("bv").as("v")), "v")
      .select(col("bid"), posexplode(col("buckets")).as(Seq("table", "bucket")))
    val tTags = index.withBuckets(t.select(col("tid"), col("tv").as("v")), "v")
      .select(col("tid"), posexplode(col("buckets")).as(Seq("table", "bucket")))
    // multiprobe on the PROBING (train) side only, as in embeddingNearDupLsh:
    // (1+bits)x slim tag rows there; the indexed side keeps real buckets
    val tProbed =
      if (probe <= 0) tTags
      else {
        val masks = (0 until bits).map(1L << _)
        tTags.select(col("tid"), col("table"),
          explode(concat(array(col("bucket")),
            transform(typedlit(masks), m => col("bucket").bitwiseXOR(m)))).as("bucket"))
      }
    val buildSide =
      if (benchCount * tables <= 4000000L) broadcast(bTags) else bTags
    val cand = tProbed.join(buildSide, Seq("table", "bucket"))
      .select(col("tid"), col("bid")).distinct()
    val scored = cand
      .join(b.select(col("bid"), col("bv"), col("bn")), "bid")
      .join(t.select(col("tid"), col("tv"), col("tn")), "tid")
      .select(col("tid"),
        VF.cosinePrenormed(VF.dot(col("tv"), col("bv")), col("tn"), col("bn"))
          .as("__cos"))
      .groupBy(col("tid")).agg(max(col("__cos")).as("__mc"))
    t.select(col("tid")).join(scored, Seq("tid"), "left")
      .select(col("tid").as(idCol),
        round(col("__mc"), 6).as("max_bench_cos"),
        coalesce(col("__mc") >= threshold, lit(false)).as("contaminated"))
  }

  /** The gate form of [[fuzzyDecontaminate]]: the benchmark's LSH band-
    * bucket keys are collected ONCE into a Bloom bitmap and the returned
    * transform drops any document sharing a band bucket with the benchmark
    * — a stateless codegen'd filter (no join, no state store) that runs
    * verbatim in a live stream or a batch experiment, like
    * [[decontaminateSpansGate]]. Candidate-level semantics by design: a
    * gate cannot run the exact-Jaccard verification step (that needs the
    * benchmark shingle SETS joined per candidate), so it drops every LSH
    * CANDIDATE — a superset of the batch path's verified drops. That is
    * the right polarity for online curation (decontamination false
    * positives cost a training document; false negatives leak a benchmark)
    * and the recall math is the batch path's: a benchmark near-copy at
    * Jaccard j escapes all `bands` bands with probability
    * (1 − j^rowsPerBand)^bands.
    *
    * The Bloom is sized from the DISTINCT band-key count with `limit(max+1)`
    * bounding the collect before it happens; the guard is a hard error —
    * a streaming gate has no shuffle fallback (the bitmap rides into every
    * task's codegen), so an over-budget benchmark belongs on the batch
    * path. Documents with fewer than `n` tokens have no shingles and are
    * always kept, matching the batch candidate generator.
    */
  def fuzzyDecontaminateGate(bench: DataFrame, idCol: String, textCol: String,
                             n: Int = 5,
                             params: Dedup.MinHashParams = Dedup.MinHashParams(),
                             fpp: Double = 1e-4,
                             maxBuckets: Long = 10000000L): DataFrame => DataFrame = {
    import graft.expressions.{BloomMightContainLong, BloomUtil}
    require(maxBuckets > 0 && maxBuckets < Int.MaxValue.toLong,
      s"maxBuckets out of (0, 2^31): $maxBuckets")
    val r = params.rowsPerBand
    // band keys per row: hash (band index, band signature) to one long —
    // the exact key the batch candidate generator shuffles on, so gate
    // drops == batch candidates (pinned by spec). The signature is staged
    // as a real column: embedding the MinHash generator inside the
    // transform lambda would re-run it once per band.
    def bandKeys(sig: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(params.bands - 1)),
        i => xxhash64(i, slice(sig, i * r + 1, lit(r))))
    val keys: Array[Long] = bench
      .select(Dedup.wordShingles(col(textCol), n).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(Dedup.minhashSignature(col("__sh"), params).as("__sig"))
      .select(explode(bandKeys(col("__sig"))).as("bk"))
      .distinct()
      .limit(maxBuckets.toInt + 1)
      .collect().map(_.getLong(0))
    require(keys.length.toLong <= maxBuckets,
      s"fuzzyDecontaminateGate: benchmark exceeds $maxBuckets distinct band buckets — " +
        "a streaming gate ships its Bloom bitmap to every task and has no shuffle " +
        "fallback; decontaminate against a corpus this size with the batch " +
        "fuzzyDecontaminate, or raise maxBuckets deliberately")
    val (m, k) = BloomUtil.sized(math.max(1L, keys.length.toLong), fpp)
    val bits = new Array[Long]((m >>> 6).toInt)
    keys.foreach(BloomUtil.addLong(_, bits, k, m))
    val br = org.apache.spark.sql.graft.ColumnBridge
    def mightContain(c: org.apache.spark.sql.Column) =
      br.column(BloomMightContainLong(br.expression(c), bits, k, m))
    df => {
      val staged = df
        .withColumn("__sh", Dedup.wordShingles(col(textCol), n))
        .withColumn("__sig", when(size(col("__sh")) > 0,
          Dedup.minhashSignature(col("__sh"), params)))
      val hit = col("__sig").isNotNull &&
        exists(bandKeys(col("__sig")), mightContain)
      staged.filter(!hit).drop("__sh", "__sig")
    }
  }


  /** DSIR-style data-selection scores (Xie et al. 2023, arXiv:2302.03169):
    * per-document log-likelihood ratio between hashed-unigram language
    * models of a TARGET domain and the RAW training corpus,
    * `llr(doc) = Σ_tokens ln p̂_target(h(tok)) − ln p̂_raw(h(tok))` with
    * add-one smoothing over `buckets` hash buckets. Documents that look
    * like the target domain score high; sampling ∝ exp(llr) tilts a raw
    * corpus toward the target (importance resampling). Token-less docs
    * score 0.
    *
    * Scale shape: BOTH sides' bucket histograms ride one tagged
    * partial-aggregated shuffle of ≤ 2·`buckets` rows per partition,
    * collected driver-side in a single job (`buckets` longs each — a side
    * input, not data); the per-doc score is then
    * a single embarrassingly-parallel pass with the weight table riding
    * into codegen as a 32 KB array literal. Summation is left-to-right in
    * token order on both engines (`aggregate` here, `list_reduce` in the
    * oracle), so scores are bit-stable.
    */
  def importanceWeights(train: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def toksOf(text: org.apache.spark.sql.Column) =
      filter(split(trim(lower(text)), "\\s+"), t => length(t) > 0)
    def bucketOf(tok: org.apache.spark.sql.Column) =
      pmod(TextFunctions.fnv1a64(tok), lit(buckets.toLong))
    // both histograms in ONE job (r19, guide §2.6 overlap/§2.4 job-count):
    // the tagged union partial-aggregates to ≤ 2·buckets rows per mapper
    // and the two scans run CONCURRENTLY inside one job instead of as two
    // sequential collect jobs; counts are bucket-for-bucket identical
    val rows = target.select(lit(0).as("t"), explode(toksOf(col(textCol))).as("tok"))
      .unionAll(train.select(lit(1).as("t"), explode(toksOf(col(textCol))).as("tok")))
      .groupBy(col("t"), bucketOf(col("tok")).as("b")).count().collect()
    val ct = new Array[Long](buckets)
    val cr = new Array[Long](buckets)
    rows.foreach { r =>
      val arr = if (r.getInt(0) == 0) ct else cr
      arr(r.getLong(1).toInt) = r.getLong(2)
    }
    val (tTot, rTot) = (ct.sum, cr.sum)
    // identical expression shape to the oracle: the DIFFERENCE of the two
    // smoothed log terms, ln(p_t) - ln(p_r) — the DuckDB oracle computes the
    // same difference-of-lns, and float parity demands both engines share
    // one formula (ln(a/b) would round differently from ln(a)-ln(b))
    val w = Array.tabulate(buckets) { b =>
      math.log((ct(b) + 1.0) / (tTot + buckets.toDouble)) -
        math.log((cr(b) + 1.0) / (rTot + buckets.toDouble))
    }
    val wLit = typedlit(w.toIndexedSeq)
    train.select(col(idCol),
      round(aggregate(
        transform(toksOf(col(textCol)),
          t => element_at(wLit, bucketOf(t).cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x), 6).as("llr"))
  }

  /** Fixed-length token chunking with stride — the sequence-prep step that
    * turns documents into overlapping training windows (stride < chunk ⇒
    * overlap = chunk − stride tokens, the standard sliding-window layout).
    * One generator expression per row (`sequence` + `posexplode`), no
    * shuffle, no state: chunk i of a doc with T tokens starts at i·stride
    * while i·stride < T, and the last chunk may be short. Token-less
    * documents produce no chunks. Chunk identity is (idCol, chunk_index),
    * deterministic from content — re-runs and re-shards produce identical
    * chunks.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"), t => length(t) > 0)
    df.select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_index", "start")),
        col("__toks"))
      .select(col(idCol), col("chunk_index").cast("long").as("chunk_index"),
        least(lit(chunkTokens), size(col("__toks")) - col("start")).cast("long")
          .as("chunk_tokens"),
        array_join(slice(col("__toks"), col("start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Sub-document (passage-level) exact dedup: chunk every document into
    * NON-overlapping `chunkTokens` windows, fingerprint each full window,
    * and report fingerprints occurring more than once — repeated passages
    * and boilerplate that document-level dedup cannot see (the Lee et al.
    * 2022, arXiv:2107.06499 motivation, with fixed windows standing in for
    * suffix-array substrings). Trailing partial windows are excluded: their
    * length depends on document length, so equal text would still differ.
    *
    * Scale shape: one generator pass (no shuffle) then ONE
    * partial-aggregated shuffle keyed on the 8-byte fingerprint — the
    * shuffle carries (fp, partial counts), never chunk text.
    */
  def duplicateChunks(df: DataFrame, idCol: String, textCol: String,
                      chunkTokens: Int = 64): DataFrame =
    chunkDocs(df, idCol, textCol, chunkTokens, chunkTokens)
      .filter(col("chunk_tokens") === chunkTokens)
      .groupBy(TextFunctions.fnv1a64(col("chunk_text")).as("chunk_fp"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_occurrences") > 1)

  /** Repeated-span report: STRIDE-1 sliding `window`-token fingerprints —
    * the faithful rendering of Lee et al. 2022's exact-substring dedup at
    * window granularity. [[duplicateChunks]]'s non-overlapping windows miss
    * any repeat that is offset between two documents (a quote starting at
    * token 3 in one doc and token 40 in another never lands on the same
    * chunk boundary); stride 1 catches every repeated `window`-token run
    * wherever it sits. Returns one row per OCCURRENCE of a cross-document
    * repeated span — (id, pos, span_fp, n_docs) — the per-doc cut list a
    * span-removal pass consumes (positions are 0-based token offsets).
    *
    * Scale shape: the corpus amplifies to ~n_tokens rows, but each row is
    * (8-byte fp, id, pos) — the span TEXT never leaves the generator — so
    * the one fingerprint-keyed shuffle moves ≈ 20 bytes/token: at 100 TB of
    * text that is comparable to the corpus itself, the irreducible cost of
    * stride-1 coverage (the suffix-array construction it stands in for
    * shuffles the same order). The window census partial-aggregates, and
    * the occurrence join streams the generator side back against the
    * repeated-fp set (AQE broadcasts it when duplication is sparse — the
    * common case).
    */
  /** RAW (case-preserving) whitespace tokens — the reassembly alphabet for
    * span rewrites. Matching is case-insensitive (fingerprints lower the
    * joined window), but a rewrite must hand back the user's own casing,
    * not a lowercased corpus; token BOUNDARIES are case-independent, so
    * raw and lowered arrays align index-for-index.
    */
  private def rawToks(c: org.apache.spark.sql.Column) =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** The shared rewrite tail of [[removeRepeatedSpans]] /
    * [[decontaminateSpans]]: `__toks` + a nullable `__cuts` (array of span
    * start positions) → the rewritten text. Documents with NO cuts pass
    * through with their ORIGINAL text — newlines, tabs, and indentation
    * intact (a corpus-wide single-space re-join would structurally damage
    * every code/markdown document to cut a span from a few); only documents
    * that actually lose a span are token-rejoined. The per-row kernel is the
    * native sorted-cuts coverage sweep
    * ([[graft.expressions.SpanCutRewrite]]), O(tokens + cuts·log cuts)
    * instead of the O(tokens × cuts) `exists` scan it replaces.
    */
  private def rewriteWithCuts(textCol: String, window: Int,
                              sep: String = " "): org.apache.spark.sql.Column = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    when(col("__cuts").isNull, col(textCol))
      .otherwise(br.column(graft.expressions.SpanCutRewrite(
        br.expression(col("__toks")), br.expression(col("__cuts")), window, sep)))
  }

  /** CCNet/RefinedWeb-style boilerplate LINE removal: drops every non-blank
    * line whose normalized (trimmed, lowered) fingerprint appears in at
    * least `minDocs` DISTINCT documents — shared headers, footers, nav
    * chrome, cookie banners — while keeping each document's remaining line
    * structure (blank lines included) intact. Documents losing no line pass
    * through byte-identically, the same contract as
    * [[removeRepeatedSpans]].
    *
    * Scale shape: the line census is one partial-aggregated shuffle of
    * 8-byte line fingerprints (line text never shuffles); the boilerplate
    * set is the output of that shuffle, so AQE sizes its join back against
    * the line stream from runtime facts; per-doc cut lists exist only for
    * docs that contain boilerplate, and the rewrite is the
    * [[graft.expressions.SpanCutRewrite]] coverage kernel with window = 1
    * and a newline joiner.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
      .select(col(idCol), col("pos").cast("long").as("pos"),
        TextFunctions.fnv1a64(lower(trim(col("line")))).as("line_fp"))
    val boiler = lines.groupBy(col("line_fp"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("line_fp")
    val cuts = lines.join(boiler, "line_fp")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__cuts"))
    df.select(col(idCol), col(textCol), split(col(textCol), "\n", -1).as("__toks"))
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), rewriteWithCuts(textCol, 1, "\n").as(textCol))
  }

  /** Paragraph-level exact deduplication (the RefinedWeb/Dolma line-dedup
    * pass): every NON-FIRST occurrence of a repeated non-blank line is cut
    * corpus-wide, where "first" is the globally smallest (doc, pos) — the
    * same deterministic keep rule as [[removeRepeatedSpans]], applied at
    * line granularity. Complements [[removeBoilerplate]]: boilerplate
    * removal drops EVERY occurrence of a line frequent enough to be chrome
    * (≥ minDocs), paragraph dedup keeps exactly ONE occurrence of every
    * repeated line, however rare. Matching is on the trimmed, lowered line;
    * blank lines are never cut; documents losing no line pass through
    * byte-identically.
    *
    * Scale shape: the line census is one partial-aggregated shuffle of
    * 8-byte fingerprints (line text never shuffles); `min(struct)` picks
    * the keeper without a per-fingerprint sort window, so a line repeated
    * in a million documents costs what any fingerprint costs; singleton
    * fingerprints are dropped from the keeper table before the join back,
    * so the join is duplication-sized, and untouched documents stream
    * through the left join with a null cut list and zero rewrite work.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
      .select(col(idCol), col("pos").cast("long").as("pos"),
        TextFunctions.fnv1a64(lower(trim(col("line")))).as("line_fp"))
    val firsts = lines.groupBy(col("line_fp"))
      .agg(min(struct(col(idCol).as("__fid"), col("pos").as("__fpos"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("line_fp"), col("__first"))
    val cuts = lines.join(firsts, "line_fp")
      .filter(!(col(idCol) === col("__first.__fid") && col("pos") === col("__first.__fpos")))
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__cuts"))
    df.select(col(idCol), col(textCol), split(col(textCol), "\n", -1).as("__toks"))
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), rewriteWithCuts(textCol, 1, "\n").as(textCol))
  }

  /** Stride-1 span fingerprints `(idCol, pos, span_fp)` — the shared
    * generator behind [[repeatedSpans]] and [[decontaminateSpans]] (one
    * definition, so tokenizer/fingerprint changes cannot silently diverge
    * the census from the decontaminator). Fingerprints are over the
    * LOWERED window (case-insensitive matching); positions index the raw
    * token array. The per-row generator is the native
    * [[graft.expressions.SpanFingerprints]] kernel — fingerprint-identical
    * to the `fnv1a64(lower(array_join(slice(...))))` chain it replaced
    * (pinned by spec), without the three per-position allocations.
    */
  private def spanFpsCol(toks: org.apache.spark.sql.Column, window: Int) = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    br.column(graft.expressions.SpanFingerprints(br.expression(toks), window))
  }

  private def spanFingerprints(df: DataFrame, idCol: String, textCol: String,
                               window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    df.select(col(idCol), rawToks(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= window)
      .select(col(idCol),
        posexplode(spanFpsCol(col("__toks"), window)).as(Seq("pos", "span_fp")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("span_fp"))
  }

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    window: Int = 16): DataFrame = {
    val spans = spanFingerprints(df, idCol, textCol, window)
    val repeated = spans.groupBy(col("span_fp"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    spans.join(repeated, "span_fp")
      .select(col(idCol), col("pos"), col("span_fp"), col("n_docs"))
  }

  /** Span-removal pass over [[repeatedSpans]]' cut list: rewrites each
    * document's token stream with every NON-FIRST occurrence of a repeated
    * `window`-token span blanked out (first occurrence globally = smallest
    * (doc, pos), the deterministic Lee-et-al keep rule), overlapping cuts
    * merged by token-index coverage. Output is (id, text) with the kept
    * RAW tokens re-joined by single spaces — matching is case-insensitive
    * (fingerprints lower the window) but the rewrite preserves the user's
    * casing; only whitespace runs are normalized.
    *
    * Scale shape: the cut list is duplication-sized (occurrences of
    * repeated spans only), grouped per doc into an array side column and
    * joined back LEFT onto the corpus — untouched documents stream through
    * the join with a null cut array and zero rewrite work; the per-doc
    * coverage mask is one `filter(transform(...))` over the token array,
    * no extra shuffle beyond the cut-list aggregation.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 16): DataFrame = {
    // ONE census carrying both the repeated-span filter and the global
    // first occurrence: composing repeatedSpans (census + join) with a
    // separate firsts census + cut join re-ran the span-fingerprint scan
    // FOUR times per call (the plan duplicates the unpersisted subtree).
    // The two-level aggregate below is the countDistinct the old census
    // planned anyway (partial on (fp, id), final on fp), with the global
    // min(struct(id, pos)) riding along: level 1 takes min(pos) per
    // (fp, id), level 2 counts the distinct docs and takes the struct min
    // — min∘min composes, so (__fid, __fpos) is exactly the old global
    // first. Fingerprint passes: 4 → 2 (census + cut join), cut set
    // row-identical.
    val spans = spanFingerprints(df, idCol, textCol, window)
    val census = spans.groupBy(col("span_fp"), col(idCol))
      .agg(min(col("pos")).as("__minpos"))
      .groupBy(col("span_fp"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col(idCol).as("__fid"), col("__minpos").as("__fpos"))).as("__first"))
      .filter(col("n_docs") >= 2)
      .select(col("span_fp"), col("__first"))
    val cuts = spans.join(census, "span_fp")
      .filter(!(col(idCol) === col("__first.__fid") && col("pos") === col("__first.__fpos")))
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__cuts"))
    df.select(col(idCol), col(textCol), rawToks(col(textCol)).as("__toks"))
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), rewriteWithCuts(textCol, window).as(textCol))
  }

  /** Hashed-bigram LM perplexity scoring (the CCNet-style quality signal,
    * Wenzek et al. 2020's shape with a hashed bigram model standing in for
    * KenLM): a bigram language model is estimated from a TARGET corpus over
    * `buckets` hash buckets with add-one smoothing, and every document gets
    * `nll = −mean_i ln p̂(tok_i | tok_{i−1})` — LOW nll = looks like the
    * target domain, the signal CCNet buckets corpora by. Token-less and
    * single-token docs score 0. The per-position term is computed as the
    * DIFFERENCE of the two smoothed log terms (ln(c₂+1) − ln(c₁+B)),
    * left-to-right in token order, one division by (n−1) at the end — the
    * same float-parity contract as [[importanceWeights]], so the oracle
    * replays scores bit-for-bit.
    *
    * Scale shape: ONE partial-aggregated histogram shuffle over the
    * target (≤ 2·`buckets` rows per mapper — both histograms ride one
    * tagged pass), collected as side inputs (`buckets` longs each);
    * scoring is one embarrassingly-parallel pass with both weight
    * tables riding into codegen as array literals. Returns (idCol, nll).
    */
  def perplexityScore(df: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, buckets: Int = 16384): DataFrame = {
    val (lnBi, lnCtx) = bigramLmTables(target, textCol, buckets)
    // fan out the scoring side: the per-doc tokenize + hashed-bigram NLL
    // otherwise runs on a single scan split (no-op at scale); measured
    // neutral on q_ccnet_buckets (rangedRank dominates there) but it is
    // the correct shape for a bare scoring pass over a one-split corpus
    graft.operators.Par.fanOut(df.select(col(idCol), col(textCol)), Seq(idCol))
      .select(col(idCol), round(nllOf(textCol, lnBi, lnCtx, buckets), 6).as("nll"))
  }

  private def lowerToks(text: org.apache.spark.sql.Column) =
    filter(split(trim(lower(text)), "\\s+"), t => length(t) > 0)

  private def nllOf(textCol: String, lnBi: Array[Double], lnCtx: Array[Double],
                    buckets: Int): org.apache.spark.sql.Column = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    br.column(graft.expressions.BigramNll(
      br.expression(lowerToks(col(textCol))), lnBi, lnCtx, buckets))
  }

  /** The smoothed log tables `(ln(c_bigram + 1), ln(c_context + B))` of the
    * hashed-bigram LM estimated from `target` — the shared model build of
    * [[perplexityScore]] and [[perplexityGate]] (one definition, so the
    * batch scorer and the streaming gate cannot silently diverge on
    * tokenizer, hash, or smoothing).
    */
  private def bigramLmTables(target: DataFrame, textCol: String,
                             buckets: Int): (Array[Double], Array[Double]) = {
    require(buckets > 0, "buckets must be positive")
    def ctxBucket(tok: org.apache.spark.sql.Column) =
      pmod(TextFunctions.fnv1a64(tok), lit(buckets.toLong))
    def biBucket(prev: org.apache.spark.sql.Column, tok: org.apache.spark.sql.Column) =
      pmod(TextFunctions.fnv1a64(concat_ws(" ", prev, tok)), lit(buckets.toLong))
    val tt = target.select(lowerToks(col(textCol)).as("__t")).filter(size(col("__t")) >= 2)
    // bigram occurrences: (prev, tok) for i in 1..n-1; context = its prev.
    // BOTH histograms ride ONE pass (r19, guide §2.4/§2.6 job-count): each
    // occurrence explodes into its two tagged bucket rows — (0, bigram
    // bucket) and (1, context bucket) — and one partial-aggregated shuffle
    // of ≤ 2·buckets rows per mapper feeds a single collect. The previous
    // shape persisted the pair table and submitted two sequential
    // histogram jobs (two shuffles, two collects, a cache
    // materialization); counts are bucket-for-bucket identical, this is
    // pure job/shuffle fusion.
    val bi = tt.select(posexplode(col("__t")).as(Seq("__i", "__tok")), col("__t"))
      .filter(col("__i") >= 1)
      .select(element_at(col("__t"), col("__i")).as("__prev"), col("__tok"))
    val rows = bi
      .select(explode(array(
        struct(lit(0).as("t"), biBucket(col("__prev"), col("__tok")).as("b")),
        struct(lit(1).as("t"), ctxBucket(col("__prev")).as("b")))).as("tb"))
      .groupBy(col("tb.t").as("t"), col("tb.b").as("b"))
      .agg(count(lit(1)).as("c")).collect()
    val cBi = new Array[Long](buckets)
    val cCtx = new Array[Long](buckets)
    rows.foreach { r =>
      val arr = if (r.getInt(0) == 0) cBi else cCtx
      arr(r.getLong(1).toInt) = r.getLong(2)
    }
    // precomputed log tables: the scoring loop (native BigramNll — the HOF
    // formulation was CodegenFallback-interpreted, 8.4 s at sf0.1) does
    // pure lookups; identical doubles to computing ln per row
    (cBi.map(c => math.log(c + 1.0)), cCtx.map(c => math.log(c + buckets.toDouble)))
  }

  /** The gate form of [[perplexityScore]] for STREAMING curation (the CCNet
    * band-pass): the bigram LM is estimated ONCE from a static `target`
    * corpus at construction; the returned transform keeps rows whose
    * `round(nll, 6)` lies in `[minNll, maxNll]` — a stateless codegen'd
    * filter (weight tables ride as array-literal reference objects), so the
    * same keep rule runs verbatim in a live stream or a batch experiment,
    * like [[mixFilter]] and [[decontaminateSpansGate]]. Degenerate docs
    * (< 2 tokens) score exactly 0.0: at the default `minNll = 0.0` they
    * PASS — raise `minNll` above 0 to drop them (any real-text nll is > 0
    * in practice; CCNet's head/middle band is two-sided anyway). Null-text
    * rows DROP (a null never passes a filter), matching [[mixFilter]]'s
    * null-key behavior.
    */
  def perplexityGate(target: DataFrame, textCol: String, maxNll: Double,
                     minNll: Double = 0.0,
                     buckets: Int = 16384): DataFrame => DataFrame = {
    require(maxNll >= minNll, s"maxNll $maxNll < minNll $minNll")
    val (lnBi, lnCtx) = bigramLmTables(target, textCol, buckets)
    df => {
      val nll = round(nllOf(textCol, lnBi, lnCtx, buckets), 6)
      df.filter(nll >= minNll && nll <= maxNll)
    }
  }

  /** The distinct span-fingerprint count of `bench` — the broadcast-gate
    * fact [[decontaminateSpans]] computes itself when `benchN` is not
    * supplied. Exposed so composed pipelines (q_curate_corpus_v2) can
    * overlap this census with their OTHER independent side-input builds
    * (guide §2.6 — concurrent driver jobs back-fill each other's tails)
    * and pass the result in; supplying `benchN = benchSpanFingerprintCount(…)`
    * is exactly the decision the operator would have made alone.
    */
  def benchSpanFingerprintCount(bench: DataFrame, idCol: String,
                                textCol: String, window: Int = 16): Long =
    spanFingerprints(bench, idCol, textCol, window)
      .select(col("span_fp")).distinct().count()

  /** Surgical span-level decontamination: rewrites TRAINING documents with
    * every `window`-token run that also appears in the BENCHMARK corpus
    * blanked out (all occurrences — benchmark text must go, there is no
    * first-keeper), keeping the rest of the document. The drop-span
    * alternative to [[decontaminationFilter]]'s drop-document rule: a long
    * document quoting one benchmark answer loses 16 tokens, not its other
    * ten thousand.
    *
    * Scale shape: the benchmark's distinct span-fingerprint set is tiny by
    * premise and size-gated to broadcast (`broadcastMaxRows`, shuffle-join
    * fallback above); the training side streams its stride-1 fingerprints
    * map-only against it, and only MATCHED positions form the per-doc cut
    * arrays — clean documents rewrite through the left join untouched.
    */
  def decontaminateSpans(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, window: Int = 16,
                         benchN: Long = -1L,
                         broadcastMaxRows: Long = 500000L): DataFrame = {
    val benchFps = spanFingerprints(bench, idCol, textCol, window)
      .select(col("span_fp")).distinct()
    // the gate must count what is actually broadcast: the per-SPAN
    // fingerprint set (~tokens-per-doc rows PER benchmark document, so a
    // doc-count gate would under-measure by orders of magnitude). `benchN`
    // is therefore the known distinct-FINGERPRINT count, not a doc count.
    val bN = if (benchN >= 0) benchN else benchFps.count()
    val bcast: DataFrame => DataFrame =
      if (bN <= broadcastMaxRows) broadcast(_) else identity
    val cuts = spanFingerprints(train, idCol, textCol, window)
      .join(bcast(benchFps), "span_fp")
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("__cuts"))
    train.select(col(idCol), col(textCol), rawToks(col(textCol)).as("__toks"))
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), rewriteWithCuts(textCol, window).as(textCol))
  }

  /** The gate form of [[decontaminateSpans]] for STREAMING curation: the
    * benchmark's distinct span fingerprints build a Bloom bitmap ONCE
    * (driver-side, benchmark-sized by premise) that rides into the stream's
    * codegen as a constant; the rewrite is then a stateless per-row
    * expression — each token is kept unless one of the row's OWN
    * bloom-matching windows covers it — so the same transform runs verbatim
    * in a live stream or a batch experiment (no state store, no
    * stream-static join). Probe-only like [[decontaminationFilter]]: a
    * clean span can be false-cut at rate ≤ `fpp` — the online-curation
    * trade; the exact batch rewrite is [[decontaminateSpans]].
    */
  def decontaminateSpansGate(bench: DataFrame, idCol: String, textCol: String,
                             window: Int = 16,
                             fpp: Double = 1e-4,
                             maxFingerprints: Long = 10000000L): DataFrame => DataFrame = {
    import graft.expressions.{BloomMightContainLong, BloomUtil}
    require(maxFingerprints > 0 && maxFingerprints < Int.MaxValue.toLong,
      s"maxFingerprints out of (0, 2^31): $maxFingerprints")
    // collect the 8-byte span FINGERPRINTS, not the span strings: the same
    // spanFingerprints generator as the batch path (one tokenizer, one hash —
    // the two can't diverge), ~12× less driver traffic than ~100-byte span
    // text, and `limit(max+1)` bounds the collect BEFORE it happens. The
    // guard is a hard error, not a degrade: a streaming gate has no shuffle
    // fallback (the bitmap must ride into every task's codegen), so an
    // over-budget benchmark belongs on the batch [[decontaminateSpans]]
    // path, or the caller raises the cap deliberately.
    val fps: Array[Long] = spanFingerprints(bench, idCol, textCol, window)
      .select(col("span_fp")).distinct()
      .limit(maxFingerprints.toInt + 1)
      .collect().map(_.getLong(0))
    require(fps.length.toLong <= maxFingerprints,
      s"decontaminateSpansGate: benchmark exceeds $maxFingerprints distinct span " +
        "fingerprints — a streaming gate ships its Bloom bitmap to every task and has " +
        "no shuffle fallback; decontaminate a corpus this size with the batch " +
        "decontaminateSpans, or raise maxFingerprints deliberately")
    val (m, k) = BloomUtil.sized(math.max(1L, fps.length.toLong), fpp)
    val bits = new Array[Long]((m >>> 6).toInt)
    fps.foreach(BloomUtil.addLong(_, bits, k, m))
    val br = org.apache.spark.sql.graft.ColumnBridge
    def mightContain(c: org.apache.spark.sql.Column) =
      br.column(BloomMightContainLong(br.expression(c), bits, k, m))
    df => {
      // per-row cut starts: window positions whose lowered-text fingerprint
      // probes the bloom; the rewrite reassembles the RAW tokens via the
      // shared coverage-mask kernel. Rows with no cuts (including every doc
      // shorter than the window) keep their ORIGINAL text — same
      // whitespace-preservation contract as the batch path. Tokens and
      // fingerprints are staged as real columns so the probe lambda reads
      // an attribute — embedding the generator expression inside the lambda
      // would re-run it once PER POSITION (ArrayFilter evaluates its
      // function tree per element).
      val staged = df.withColumn("__tk", rawToks(col(textCol)))
        .withColumn("__fps", spanFpsCol(col("__tk"), window))
      val cutStarts = filter(sequence(lit(0), size(col("__fps")) - 1),
        s => mightContain(element_at(col("__fps"), s + 1)))
      val rewritten = when(size(col("__tk")) < window, col(textCol))
        .otherwise(when(size(cutStarts) === 0, col(textCol))
          .otherwise(br.column(graft.expressions.SpanCutRewrite(
            br.expression(col("__tk")),
            br.expression(cutStarts.cast("array<bigint>")),
            window))))
      staged.withColumn(textCol, rewritten).drop("__tk", "__fps")
    }
  }

  /** DSIR selection — completes [[importanceWeights]] with the paper's
    * sampling step: Gumbel-top-k over the importance scores (select the `k`
    * documents maximizing `llr + g`, `g = −ln(−ln(u))`), which draws k
    * samples WITHOUT replacement from the softmax distribution
    * ∝ exp(llr). The uniform `u` is content-addressed —
    * `(fnv1a64(id) mod 2^20 + 0.5) / 2^20` — so the "randomness" is a pure
    * function of the document id: reproducible across engines, layouts, and
    * re-runs, and replayable row-for-row by the SQL oracle (the same
    * determinism contract as [[hashStratifiedSample]]).
    *
    * Scale shape: scoring is the [[importanceWeights]] pass (histogram side
    * inputs + one narrow map); selection is TakeOrdered (per-partition
    * top-k heap + driver merge of k rows). For huge k, switch to an
    * approx-quantile threshold + filter instead of a global top-k; at the
    * verify/demo scale (and typical per-domain budgets) TakeOrdered is the
    * right plan.
    */
  def dsirSample(train: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 4096): DataFrame = {
    require(k > 0, "k must be positive")
    val res = 1L << 20
    val scored = importanceWeights(train, target, idCol, textCol, buckets)
    val u = (pmod(TextFunctions.fnv1a64(col(idCol).cast("string")), lit(res))
      .cast("double") + 0.5) / res.toDouble
    scored.select(col(idCol), col("llr"),
        round(col("llr") - log(-log(u)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Incremental (cross-corpus) dedup: the rows of `fresh` that are NOT
    * near-duplicates (n-gram Jaccard ≥ `threshold`) of any document already
    * in `corpus` — the ingestion gate of a continually-growing training set
    * (dedup the delta against the accumulated corpus without re-pairing the
    * corpus with itself). Candidates come from the cross-corpus MinHash
    * banding of [[fuzzyDecontaminate]]; the final step is a left-anti join
    * of `fresh` against the contaminated id set, so all original columns
    * survive.
    *
    * Scale shape: when the corpus dwarfs the delta, the DELTA side is the
    * small one — its banded buckets and shingle sets broadcast and the
    * corpus streams map-only (the mirror image of fuzzyDecontaminate's
    * premise, same machinery); the anti-join's right side is just the
    * matched delta ids. A delta is NOT small by premise the way a benchmark
    * is, so the inherited `broadcastMaxRows` gate matters here: a bulk
    * backfill delta above the gate falls back to shuffle joins instead of
    * broadcasting GBs to every executor. `freshN`, when passed, is the
    * delta's estimated exploded broadcast volume
    * (`max(docs × bands, total tokens)` — see [[fuzzyDecontaminate]]), not
    * its doc count.
    */
  def dedupAgainst(fresh: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, n: Int = 5, threshold: Double = 0.8,
                   params: Dedup.MinHashParams = Dedup.MinHashParams(),
                   freshN: Long = -1L,
                   broadcastMaxRows: Long = 500000L): DataFrame = {
    val dupIds = fuzzyDecontaminate(corpus, fresh, idCol, textCol, n, threshold, params,
        benchN = freshN, broadcastMaxRows = broadcastMaxRows)
      .select(col("bench_id").as(idCol)).distinct()
    fresh.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the number of distinct word `n`-gram shingles they share and the
    * shingle-set Jaccard — the "which crawls/dumps overlap" axis of a
    * corpus datasheet (per-source shingle sets are the same machinery as
    * [[Dedup.wordShingles]], so the numbers are comparable with the dedup
    * reports).
    *
    * Scale shape: the corpus collapses FIRST to distinct (source, shingle)
    * rows (one partial-aggregated shuffle); the self-join is then keyed on
    * the shingle, where each shingle carries at most |sources| rows — pair
    * fan-out is bounded by sources² per shingle regardless of document
    * count, so no hot-shingle cap is needed. Source totals (|sources| rows)
    * broadcast onto the pair counts.
    */
  def crossSourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val inv = docs
      .select(col(srcCol).as("source"),
        explode(Dedup.wordShingles(col(textCol), n)).as("s"))
      .distinct()
    val tot = inv.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val shared = inv.select(col("source").as("source_a"), col("s"))
      .join(inv.select(col("source").as("source_b"), col("s")), Seq("s"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(tot.select(col("source").as("source_a"), col("n_sh").as("__na"))), "source_a")
      .join(broadcast(tot.select(col("source").as("source_b"), col("n_sh").as("__nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("__na") + col("__nb") - col("shared")), 6).as("jaccard"))
  }

  /** BPE merge-pair statistics — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al., ACL'16 §3.2): the corpus-wide
    * frequency of every adjacent symbol pair, from which training greedily
    * merges the top pair. This computes round one (symbols = characters) at
    * the 100 TB-correct shape: words are AGGREGATED FIRST (one map-side-
    * combined shuffle collapses the corpus to its distinct-word/count
    * table, which is vocabulary-sized, not corpus-sized), and only then are
    * pairs exploded — per distinct word, weighted by its count — and
    * re-aggregated. Pair enumeration work is O(vocab × word length)
    * regardless of corpus size. Restricted to all-letter lowercase words of
    * length ≥ 2 (BPE is per-word; punctuation splits are the tokenizer's
    * pre-segmentation concern).
    *
    * Returns the `topPairs` most frequent pairs (`pair`, `n`), ties broken
    * lexicographically.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topPairs: Int = 50): DataFrame = {
    val words = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topPairs)
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): mask short token
    * spans, replace each with a numbered sentinel in the input and emit the
    * masked tokens after the same sentinel in the target — the
    * seq-to-seq denoising objective's data-prep step.
    *
    * Span placement is DETERMINISTIC and block-confined: the token stream
    * is cut into fixed `block`-token blocks, and block j masks the `span`
    * tokens starting at offset fnv1a64("{id}#{j}") mod (block − span + 1)
    * — if the span fits inside the document. Confinement to blocks means
    * spans can never overlap, so the whole transform is per-index
    * arithmetic (no sequential greedy scan): one codegen'd projection per
    * row, zero shuffles, and the identical arithmetic replays in plain SQL
    * (the oracle rebuilds every sentinel and target string value-exactly).
    * Block-hash seeding also makes the corruption STABLE under corpus
    * repartitioning and across epochs-by-reshuffle — the mask depends only
    * on (id, position), never on row order.
    */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  block: Int = 10, span: Int = 3): DataFrame = {
    require(block > span && span > 0, "need block > span > 0")
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"), t => length(t) > 0)
    val starts = lit(block - span + 1)
    // start offset of block j's span, 0-based within the block
    def startOf(j: Column) = pmod(
      TextFunctions.fnv1a64(concat(col(idCol).cast("string"), lit("#"), j.cast("string"))),
      starts.cast("long"))
    // does block j's span fit inside the document?
    def fits(j: Column, n: Column) = j * block + startOf(j) + span <= n
    // fan out (id, text) first: tokenization AND the per-token mask/rewrite
    // HOFs below are the whole cost, and a single-file corpus scans as one
    // split — one-core without the exchange. No-op at scale.
    val withToks = graft.operators.Par
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("__w"))
      .withColumn("__n", size(col("__w")))
      // token indices 1..n and block indices 0..n/block — both guarded for
      // n = 0, where sequence(1, 0) would DESCEND instead of being empty
      .withColumn("__idx", when(col("__n") > 0, sequence(lit(1), col("__n")))
        .otherwise(array().cast("array<int>")))
      .withColumn("__blocks", when(col("__n") > 0,
          sequence(lit(0), floor((col("__n") - 1) / block).cast("int")))
        .otherwise(array().cast("array<int>")))
    // ints stay well under 2^53, so floor of the double division is exact
    def blockOf(i: Column) = floor((i - 1) / block).cast("long")
    def offOf(i: Column) = pmod(i - 1, lit(block)).cast("long")
    def maskedAt(i: Column) = {
      val st = startOf(blockOf(i))
      fits(blockOf(i), col("__n")) && offOf(i) >= st && offOf(i) < st + span
    }
    val corrupted = array_join(filter(transform(col("__idx"), i => {
      val st = startOf(blockOf(i))
      when(!maskedAt(i), element_at(col("__w"), i))
        .when(offOf(i) === st,
          concat(lit("<extra_id_"), blockOf(i).cast("string"), lit(">")))
        .otherwise(lit(null).cast("string"))
    }), x => x.isNotNull), " ")
    val targets = array_join(filter(transform(col("__blocks"), j =>
      when(fits(j.cast("long"), col("__n")),
        concat(lit("<extra_id_"), j.cast("string"), lit("> "),
          array_join(slice(col("__w"),
            (j * block + startOf(j.cast("long")) + 1).cast("int"), lit(span)), " ")))
        .otherwise(lit(null).cast("string"))), x => x.isNotNull), " ")
    withToks.select(col(idCol), col("__n").cast("long").as("n_tokens"),
      size(filter(transform(col("__idx"), i => maskedAt(i)), m => m))
        .cast("long").as("n_masked"),
      corrupted.as("corrupted"), targets.as("targets"))
  }
}
