package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry.inTmpDir

/** Reproduces the README "scale probe": blows the sf0.1 test corpus up 10×
  * (each doc/vector duplicated with jitter — the realistic near-dup shape)
  * under `java.io.tmpdir`, then times the dedup/similarity pipelines on it.
  * Run: `sbt "runMain graft.ScaleProbe [mode] [factor]"` (env
  * `SPARK_GRAFT_SF_DIR` overrides the source corpus, `SPARK_GRAFT_CPUS` the
  * local worker count; the README's numbers were taken with
  * SPARK_GRAFT_CPUS=32).
  *
  * With no mode every probe of the main flow runs. A mode runs only its own
  * rows — the quick re-measure when one of them changes:
  *  - `skew`: the skewed top-k probe;
  *  - `ops`: the metered operator probes (census / split / boilerplate /
  *    upsampling) and the skip-gram compare;
  *  - `resolve`: the deep-chain duplicate-resolution row (the
  *    min-label/pointer-halving loop);
  *  - `curate`: the curate-pipeline 1x-vs-10x amortization row (the
  *    job-count-overhead verdict);
  *  - `coreset`: the k-center per-round flatness row (the running-min loop);
  *  - `stream`: the streaming state-store probe (sessionize + funnel-TTL at
  *    1x and 10x key cardinality);
  *  - `snm`: the multi-pass SNM candidate-growth probe
  *    (O(n·window·passes), per-pass contribution);
  *  - `gates`: the dispatch-gate probes at one order of magnitude above
  *    bench SF (where each gate flips and what each face costs).
  * The optional factor is the blow-up (default 10× → 50k docs / 20k
  * vectors; 50 for the 100k-vector crossover demonstration).
  */
object ScaleProbe {
  private val modes = Set("skew", "ops", "resolve", "curate", "stream",
    "coreset", "snm", "gates")

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val nCopies = args.find(a => !modes.contains(a)).map(_.toInt).getOrElse(10)
    val mode = args.find(modes.contains).getOrElse("all")
    val all = mode == "all"
    def on(m: String): Boolean = all || mode == m
    val small = nCopies <= 10
    val spark = Harness.session()
    mode match {
      case "stream" => streamStateProbe(spark); spark.stop(); return
      case "snm" => snmProbe(spark, sfDir, nCopies); spark.stop(); return
      case "gates" => gatesProbe(spark, sfDir, nCopies); spark.stop(); return
      case _ => ()
    }
    if (mode != "resolve")
      blowUpCorpus(spark, sfDir, nCopies,
        inTmpDir("graft_probe_docs"), inTmpDir("graft_probe_vecs"))

    lazy val d = spark.read.parquet(inTmpDir("graft_probe_docs"))
    lazy val v = spark.read.parquet(inTmpDir("graft_probe_vecs"))
    if (mode != "resolve") println(s"docs=${d.count()} vecs=${v.count()}")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s  rows=$n")
    }
    // Metered timer: wall-clock plus the facts that actually break at
    // 100 TB — total shuffle bytes/records and the slowest task (the skew
    // signal local wall-clock hides, because local shuffle is
    // memory-speed). ONE implementation ([[metered]]) shared with the
    // standalone probe modes.
    def timeM(name: String)(f: => Long): Long = metered(spark, name)(f)
    // doc pipelines only at the default factor — the big-factor runs target
    // the embedding crossover and 250k-doc all-pairs baselines take minutes
    if (all && small) {
      time("exact dedup") { graft.dedup.Dedup.exact(d, "text", "doc_id").count() }
      time("minhash+lsh pairs") {
        graft.dedup.Dedup.minhashPairs(d, "doc_id", "text", 5, 0.8).count() }
      time("ngram inverted index") {
        graft.dedup.Dedup.ngramJaccardPairs(d, "doc_id", "text", 5, 0.8, maxDocFreq = 1000).count() }
      time("simhash pairs") {
        graft.dedup.Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3).count() }
      time("ppjoin prefix-filter pairs") {
        graft.dedup.Dedup.ppjoinPairs(d, "doc_id", "text", 5, 4, 5).count() }
      // exact all-pairs baselines only at the default factor: at 100k
      // vectors (factor 50) the quadratic runs exceeded 30 minutes with 32
      // local workers before being killed — which IS the datapoint: past
      // ~10^5 rows only the sub-quadratic path is viable, whatever its
      // constants.
      time("embed near-dup exact") {
        graft.dedup.Dedup.embeddingNearDupExact(v, "vec_id", "embedding", 0.45).count() }
      // Forced-LSH at τ=0.45 only at the default factor: at 100k vectors the
      // 99.9%-recall config is ~2.6e9 candidate dots + a 213M-row probe
      // shuffle — the cost model prices it ≈ exact, so the DISPATCHER would
      // pick exact; forcing LSH here just reproduces that prediction slowly.
      time("embed near-dup lsh (auto)") {
        graft.dedup.Dedup.embeddingNearDupLsh(v, "vec_id", "embedding", 64, 0.45).count() }
      // High-threshold regime: p1 = 1-acos(0.7)/π ≈ 0.745, so signatures are
      // far more selective per bit and few tables hold high recall — this is
      // where hyperplane LSH decisively beats exact (low thresholds pay the
      // recall tax in candidates; see Dedup.embeddingNearDupLsh docs).
      time("embed near-dup exact @0.7") {
        graft.dedup.Dedup.embeddingNearDupExact(v, "vec_id", "embedding", 0.7).count() }
    }
    if (all) time("embed near-dup lsh  @0.7") {
      graft.dedup.Dedup.embeddingNearDupLsh(v, "vec_id", "embedding", 64, 0.7).count() }
    if (all && small) {
      // the round-5 operators on the same blown-up corpus
      time("semantic dedup (k=64)") {
        val model = graft.similarity.KMeans.fit(v, "embedding", "vec_id", k = 64, maxIter = 5)
        graft.dedup.Dedup.semanticDedup(v, "vec_id", "embedding", 64, model, 0.95).count() }
      time("fuzzy decontaminate") {
        graft.pipeline.TrainingData.fuzzyDecontaminate(
          d, d.filter(col("doc_id") % 97 === 0), "doc_id", "text").count() }
      time("repeated spans (w=16)") {
        graft.pipeline.TrainingData.repeatedSpans(d, "doc_id", "text").count() }
      time("perplexity (2^14 buckets)") {
        graft.pipeline.TrainingData.perplexityScore(
          d, d.filter(col("doc_id") % 5 === 0), "doc_id", "text").count() }
      time("dsir sample (k=5000)") {
        graft.pipeline.TrainingData.dsirSample(
          d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text", k = 5000).count() }
      time("ann quantized top-20") {
        // the jittered corpus is array<double> (float + double jitter widens)
        val q = v.filter(col("vec_id") === 0)
          .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
          .head().getSeq[Double](0).toIndexedSeq
        graft.similarity.Ann.quantizedTopK(v, "embedding", "vec_id", q, 20).count() }
    }
    if (on("ops")) {
      // Native combinatorial generators vs their HOF formulations at 10×
      // corpus (the r13 swaps: SkipGramPairs in pmiPairs, Pair/TripleCombos
      // in the market-basket family). Same rows out — the delta is pure
      // per-row interpretation overhead (sequence allocs, closure frames,
      // flatten copies), which grows with corpus size and buys nothing.
      val br = org.apache.spark.sql.graft.ColumnBridge
      val toks = graft.operators.Par.fanOut(d.select(col("text")))
        .select(graft.functions.TextFunctions.tokens(lower(col("text"))).as("__t"))
        .filter(size(col("__t")) >= 2)
      def sgNative() =
        toks.select(explode(br.column(graft.expressions.SkipGramPairs(
          br.expression(col("__t")), 3))).as("p"))
          .queryExecution.toRdd.count()
      def sgHof() =
        toks.select(explode(expr(
          """flatten(transform(sequence(1, size(__t) - 1), i ->
            |  transform(sequence(i + 1, least(i + 3, size(__t))), j ->
            |    IF(element_at(__t, i) <= element_at(__t, j),
            |       struct(element_at(__t, i) AS a, element_at(__t, j) AS b),
            |       struct(element_at(__t, j) AS a, element_at(__t, i) AS b)))))"""
            .stripMargin)).as("p"))
          .queryExecution.toRdd.count()
      // one untimed warm-up each (parquet page cache + codegen + JIT):
      // the single-shot cold samples invert the verdict — measured warm,
      // native ≈ 1.0 s vs HOF ≈ 1.5 s at 10× (steady over 3 runs)
      sgNative(); sgHof()
      time("skipgram w=3 native") { sgNative() }
      time("skipgram w=3 HOF") { sgHof() }
    }
    if ((all && small) || mode == "curate") {
      // The "fixed job-submission overhead amortizes at scale" verdict for
      // the curate pipelines, MEASURED instead of extrapolated: the exact
      // q_curate_corpus_v2 stage chain (exact dedup → Gopher gate →
      // perplexity band → surgical span decontamination → budgeted pack;
      // ~30+ sequential micro-jobs of eager censuses + AQE stages) runs on
      // the 1× corpus and the 10× blow-up. The micro-jobs cost the same
      // fixed latency regardless of data, so if the job-count verdict
      // holds, 10× the corpus must cost far less than 10× the wall.
      // Warm-measured (one untimed run per factor first).
      def curateV2(docs: org.apache.spark.sql.DataFrame): Long = {
        import graft.functions.{TextFunctions => TF}
        val train = docs.filter(col("doc_id") % 4 =!= 0)
        val bench = docs.filter(col("doc_id") % 4 === 0)
        val target = docs.filter(col("doc_id") % 5 === 0)
        val keep = graft.dedup.Dedup.exact(
          train.select(col("doc_id"), TF.normalizeText(col("text")).as("k")),
          "k", "doc_id").select(col("doc_id"))
        val g = TF.gopherFlags(col("text"))
        val gophered = train.join(keep, "doc_id")
          .filter(g.getField("f_wc") && g.getField("f_mwl") &&
            g.getField("f_symbol") && g.getField("f_bullet") &&
            g.getField("f_ellipsis") && g.getField("f_alpha"))
        val banded = graft.pipeline.TrainingData
          .perplexityGate(target, "text", maxNll = 7.85)(gophered)
        val cleaned = graft.pipeline.TrainingData
          .decontaminateSpans(banded, bench, "doc_id", "text")
        graft.pipeline.TrainingData
          .packBudgeted(cleaned, "doc_id", "text", budget = 2000)
          .queryExecution.toRdd.count()
      }
      val base1x = spark.read.parquet(s"$sfDir/documents.parquet")
      curateV2(base1x); curateV2(d) // untimed: codegen + page cache
      timeM("curate_v2 pipeline 1x") { curateV2(base1x) }
      timeM("curate_v2 pipeline 10x") { curateV2(d) }
      // layout control: the shared probe corpus is ONE snappy file (10
      // near-identical copies compress to 1.7 MB — far under
      // maxPartitionBytes), so every scan in the pipeline above is a
      // SINGLE task decoding 50k rows — the adversarial layout the
      // engine's fanOut guard exists for, and an artifact a real 10x
      // corpus (which arrives as many files) does not have. Same bytes,
      // 32-file layout: the delta is pure scan parallelism.
      val multi = inTmpDir("graft_probe_docs_multi")
      d.repartition(32, col("doc_id")).write.mode("overwrite").parquet(multi)
      val dMulti = spark.read.parquet(multi)
      curateV2(dMulti) // untimed warm-up
      timeM("curate_v2 pipeline 10x multifile") { curateV2(dMulti) }
    }
    if (on("resolve")) {
      // Deep-chain duplicate resolution, distributed path FORCED
      // (maxDriverEdges = 0): a 2^14-node path graph is the adversarial
      // depth case for min-label propagation — the "near-dup components
      // are shallow" assumption is exactly what this row refuses to take
      // on faith. With pointer halving the expected round count is
      // ~log2(depth) + settle (≈ 15-18), not 16384; the shuffle meter
      // shows per-round cost (2 joins over |edges| + |labels| rows).
      // Non-convergence throws loudly rather than timing a wrong answer.
      val depth = 1 << 14
      val chainEdges = spark.range(1, depth.toLong)
        .select(col("id").as("a"), (col("id") + 1L).as("b"))
      time(s"deep-chain resolve d=$depth") {
        graft.dedup.Dedup.resolveDuplicates(chainEdges, maxDriverEdges = 0L)
          .count() }
    }
    if ((all && small) || mode == "coreset") {
      // Greedy k-center at two k values: the running-min formulation's claim
      // is per-round wall FLAT in |centers| (O(n) dots per round vs the
      // naive form's O(n·|centers|)). Marginal s/round between the two runs
      // ≈ the small-k per-round average ⇒ flat; growing marginal cost would
      // betray an O(k)-deep round plan sneaking back in.
      def coresetWall(k: Int): Double = {
        val t0 = System.nanoTime()
        val n = graft.similarity.Coreset
          .kCenterGreedy(v, "vec_id", "embedding", k).count()
        require(n == k, s"coreset probe expected $k rows, got $n")
        (System.nanoTime() - t0) / 1e9
      }
      val (k1, k2) = (4, 20)
      val w1 = coresetWall(k1)
      val w2 = coresetWall(k2)
      println(f"kcenter k=$k1: $w1%.2f s (${w1 / k1}%.3f s/round)  " +
        f"k=$k2: $w2%.2f s (${w2 / k2}%.3f s/round)  " +
        f"marginal=${(w2 - w1) / (k2 - k1)}%.3f s/round")
      // the r17 reliable knob's price tag: checkpoint() recomputes each
      // round's state once more to write files + pays FS I/O — measure it
      // against the localCheckpoint wall at the same k so the durability
      // tradeoff is a number, not an adjective (selections are identical,
      // CoresetSpec-pinned)
      val ckptDir = java.nio.file.Files.createTempDirectory("graft_probe_ckpt")
      spark.sparkContext.setCheckpointDir(ckptDir.toString)
      val t0 = System.nanoTime()
      val nr = graft.similarity.Coreset
        .kCenterGreedy(v, "vec_id", "embedding", k2, reliable = true).count()
      val wr = (System.nanoTime() - t0) / 1e9
      require(nr == k2, s"reliable coreset probe expected $k2 rows, got $nr")
      println(f"kcenter k=$k2 RELIABLE ckpt: $wr%.2f s " +
        f"(${wr / w2}%.2fx local mode — the durability premium)")
    }
    if (on("ops") && small) {
      // round-6 operators with an unprobed shuffle surface, metered: the
      // mixture census shuffles |strata| partial rows keyed by a LOW-
      // CARDINALITY stratum (worst case: one reducer per language takes the
      // language's whole partial stream — partial aggregation is what keeps
      // that a row-count, not a corpus), and leakFreeSplit's component step
      // shuffles candidate-pair edges + per-round label frontiers (the
      // blown-up corpus is its worst realistic shape: every doc sits in a
      // 10-member near-dup clique, so the edge set is ~45 pairs per
      // original doc).
      val langs = d.groupBy(col("lang")).count()
        .orderBy(col("count").desc, col("lang")).limit(2)
        .collect().map(_.getString(0))
      timeM("mixture census + gate") {
        graft.pipeline.TrainingData.mixToTargets(
          d, "lang", "doc_id", "text",
          Map(langs(0) -> 0.7, langs(1) -> 0.3)).count() }
      timeM("leak-free split") {
        graft.pipeline.TrainingData.leakFreeSplit(d, "doc_id", "text").count() }
      // round-7 operators: boilerplate removal over wrapped docs (the
      // blown-up corpus has no newlines of its own — wrap each doc in a
      // per-lang header + global footer, the realistic chrome shape) and
      // epoch upsampling (census + pure scan-side generator: the shuffle
      // column should read ~|strata| rows)
      // toRdd.count(), not count(): the boilerplate rewrite ends in a LEFT
      // join whose right side is unique-keyed, so a bare count() lets the
      // optimizer ELIMINATE the join (and the whole census subtree with
      // it) — the first probe run timed 0.12 s of nothing. Full-plan
      // execution computes every rewritten string, like a real writer.
      timeM("boilerplate removal") {
        val wrapped = d.select(col("doc_id"),
          concat(lit("SECTION "), col("lang"), lit("\n"), col("text"),
            lit("\n(c) corpus footer line")).as("text"))
        graft.pipeline.TrainingData.removeBoilerplate(
          wrapped, "doc_id", "text", minDocs = 1000)
          .queryExecution.toRdd.count() }
      timeM("epoch upsampling (f=2)") {
        graft.pipeline.TrainingData.upsampleToTargets(
          d, "lang", "doc_id", "text",
          Map(langs(0) -> 0.5, langs(1) -> 0.5), factor = 2.0)
          .queryExecution.toRdd.count() }
      // round-11 operators on the blown-up corpus: the PMI pair census
      // (the shuffle column should read pairs+marginals, never text) and
      // the trigram novelty curve ((gram, bucket) pre-dedup'd)
      // ZCA whitening at 10x vectors: the fit's shuffle column must read
      // ~one 17 KB Gram buffer per mapper (never n·d² explode rows), and
      // the apply is map-only — shuffle bytes here are the proof of the
      // aggregate-not-explode design
      timeM("zca whiten fit+apply (d=64)") {
        val model = graft.similarity.Whitening.fitZca(v, "embedding")
        graft.similarity.Whitening.whiten(v, "vec_id", "embedding", model)
          .queryExecution.toRdd.count() }
      timeM("pmi pairs (w=3, top-100)") {
        graft.operators.Analytics.pmiPairs(d, col("text"), 3, 5L, 100)
          .queryExecution.toRdd.count() }
      timeM("ngram novelty (8 buckets)") {
        graft.operators.Analytics.ngramNovelty(
          d, col("doc_id"), col("text"), 3, 8)
          .queryExecution.toRdd.count() }
      // census band-join statistics (round-11): KS and Mann-Whitney reduce
      // the corpus to a DOMAIN-bounded bucket census in one map-side-partial
      // aggregate, then do all cumulative work census×census — shuffle
      // bytes here must track the census (a few hundred rows), NOT the
      // blown-up corpus; compare the bytes against any corpus-shaped probe
      // above to see the reduction
      timeM("ks drift (len/64 census)") {
        graft.operators.Analytics.ksDrift(
          d, length(col("text")).cast("long") / lit(64L),
          pmod(col("doc_id"), lit(2L)) === 0L)
          .queryExecution.toRdd.count() }
      timeM("mann-whitney (len/16 census)") {
        graft.operators.Analytics.mannWhitney(
          d, length(col("text")).cast("long") / lit(16L),
          pmod(col("doc_id"), lit(2L)) === 0L)
          .queryExecution.toRdd.count() }
      // Interval join on a hot-key event stream: 200k events over 30 days,
      // 10% owned by ONE user. The naive formulation (key-equi join, range
      // as a post-filter) sort-merges the hot user's ENTIRE view history
      // against each of their purchases — the buffered right group and the
      // pair count both grow quadratically with the key's share. The banded
      // join folds floor(ts/window) into the join key, so the hot user
      // splits across ~720 hour buckets and no task ever holds more than
      // one band of one key. Same output rows (asserted), different worst
      // task.
      locally {
        val baseUs = 1704067200000000L // 2024-01-01 UTC
        // every 10th event belongs to ONE hot user (events ~130 s apart —
        // dozens inside any 1 h window); the rest spread over 200 users
        // (~43 min apart — a realistic sparse tail). Purchase stride 7 is
        // coprime with both, so every user has both event types.
        def evStream(hotTenths: Int) = spark.range(200000).select(
          col("id").as("event_id"),
          when(pmod(col("id"), lit(10)) < hotTenths, 1L)
            .otherwise(pmod(col("id"), lit(200)) + 2).as("user_id"),
          timestamp_micros(lit(baseUs) + col("id") * 12960000L).as("ts"),
          when(pmod(col("id"), lit(7)) === 0, "purchase").otherwise("view")
            .as("event_type"),
          (pmod(col("id"), lit(1000)) / 10.0).as("value"))
        // at probe size the purchase side auto-broadcasts, which hides the
        // shuffle shape being probed — at 100 TB neither side fits, so
        // force the shuffle plan for the compare
        val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        for (hotTenths <- Seq(1, 3)) {
          val ev10 = evStream(hotTenths)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          ev10.count()
          val p10 = ev10.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts")
          val v10 = ev10.filter(col("event_type") === "view")
          var bandedN = 0L; var naiveN = 0L
          timeM(s"interval join banded  hot=${hotTenths}0%") {
            bandedN = graft.operators.Analytics.intervalJoin(
              p10, v10, "user_id", "ts", "ts",
              beforeUs = 3600L * 1000000L, afterUs = 0L,
              rightCols = Seq("value" -> "view_value"))
              .queryExecution.toRdd.count()
            bandedN }
          timeM(s"interval join naive   hot=${hotTenths}0%") {
            val r = v10.select(col("user_id").as("r_user"),
              unix_micros(col("ts")).as("rt"), col("value").as("view_value"))
            naiveN = p10.withColumn("lt", unix_micros(col("ts")))
              .join(r, col("user_id") === col("r_user") &&
                col("rt") >= col("lt") - 3600L * 1000000L && col("rt") <= col("lt"))
              .queryExecution.toRdd.count()
            naiveN }
          require(bandedN == naiveN, s"banded $bandedN != naive $naiveN")
          ev10.unpersist(false)
        }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      }
      // budget selection at 1% selectivity: the sharded form prunes ~99% of
      // shards before any sort (census + literal predicate), vs the naive
      // single-task global cumsum window — compare max-task and shuffle.
      // The scored input is CACHED for both paths so the compare isolates
      // the structural difference (passes + sort shape), not how many times
      // each path re-evaluates the quality expression — at corpus scale the
      // score is a materialized column either way, and budgetSelect's doc
      // says to pass precomputed columns.
      val scored = d.select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val budget = scored.agg(sum(col("nt"))).head().getLong(0) / 100
      timeM("budget select 1% (sharded)") {
        graft.operators.Analytics.budgetSelect(scored,
          Seq(negate(col("q")), col("doc_id")), col("nt"), budget)
          .queryExecution.toRdd.count() }
      timeM("budget select 1% (global win)") {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(negate(col("q")).asc, col("doc_id").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        scored.withColumn("cum", sum(col("nt")).over(w))
          .filter(col("cum") <= budget)
          .queryExecution.toRdd.count() }
      scored.unpersist(false)
    }
    // Skewed-key grouped top-k sweep: 10M ~170-byte rows (the "top documents
    // per stratum" shape), hot-key fraction f ∈ {uniform, 50%, 90%}. The
    // wall-clock with 32 local workers understates the cluster gap (local
    // shuffle is memory-speed and 32 threads saturate at 1000 keys anyway),
    // so the probe ALSO records what actually breaks at 100 TB: total shuffle
    // bytes (the window exchanges every byte of every row; the bounded agg
    // forwards <= k rows per key per mapper) and the slowest task (the
    // window sorts the hot key's f·10M rows in ONE task — its runtime grows
    // with f; the agg's partials stay balanced at any f). toRdd.count()
    // executes the FULL plan — a bare count() would let Catalyst prune the
    // payload column off the window side, deflating its shuffle.
    if (on("skew") && small) {
      for (hotPct <- Seq(0, 50, 90)) {
        val skewed = spark.range(10L * 1000 * 1000).select(
          when(col("id") % 100 < hotPct, lit(0L)).otherwise(col("id") % 1000).as("k"),
          (col("id") * 2654435761L % 1000003L).as("v"),
          col("id"),
          // sha2-derived payload: INCOMPRESSIBLE, so shuffle bytes reflect
          // real volume (a constant filler compresses to nothing and hides
          // the window's exchange); ~160 bytes/row
          concat(sha2(col("id").cast("string"), 256),
            sha2((col("id") + 1).cast("string"), 256),
            sha2((col("id") + 2).cast("string"), 224)).as("payload"))
        skewed.write.mode("overwrite").parquet(inTmpDir("graft_probe_skew"))
        val sk = spark.read.parquet(inTmpDir("graft_probe_skew"))
        timeM(s"top-5/key window   (hot=$hotPct%)") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("v").desc, col("id").desc)
          sk.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
            .select("k", "v", "id", "payload").queryExecution.toRdd.count()
        }
        timeM(s"top-5/key bounded agg (hot=$hotPct%)") {
          graft.operators.Analytics.topPerKeyAgg(sk, "k",
            Seq(-col("v"), -col("id")),
            Seq("v" -> col("v"), "id" -> col("id"), "payload" -> col("payload")), 5)
            .queryExecution.toRdd.count()
        }
      }
    }
    spark.stop()
  }

  /** THE metered timer: [[Harness.measure]] around the thunk, printed as one
    * row of wall plus the 100 TB facts (shuffle bytes/rows written, slowest
    * task). One implementation for the main flow and every standalone probe
    * mode, so probe sections stay comparable. Returns the thunk's row count
    * so probe callers can also assert/compare result parity.
    */
  private def metered(spark: SparkSession, name: String)(f: => Long): Long = {
    val (n, r) = Harness.measure(spark)(f)
    println(f"$name%-40s ${r.wallSec}%6.2f s  shuffle=${r.shuffleBytes / 1024 / 1024}%5d MB / ${r.shuffleRecords}%9d rows  maxTask=${r.maxTaskMs}%6d ms  rows=$n")
    n
  }

  /** Blow the sf corpus up nCopies× with near-dup jitter (each doc gets a
    * copy-suffixed token, each vector ±0.0005 noise — the realistic shape).
    * Ids scale by nCopies, NOT a fixed multiplier: at factor 50
    * `*10 + copy` collides (orig 1 copy 12 == orig 2 copy 2) and near-dup
    * pair counts silently drift; `pmod(id, nCopies) < f` recovers exactly
    * the first f copies. ONE implementation shared by the main flow and
    * gatesProbe so that encoding lives in a single place.
    */
  private def blowUpCorpus(spark: SparkSession, sfDir: String, nCopies: Int,
                           docsPath: String, vecsPath: String): Unit = {
    val copies = spark.range(nCopies.toLong).select(col("id").as("copy"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(copies)
      .select((col("doc_id") * nCopies + col("copy")).as("doc_id"),
        // jitter: append a copy-specific token so copies are near- not exact dups
        concat(col("text"), lit(" copytag"), col("copy")).as("text"),
        col("lang"))
      .write.mode("overwrite").parquet(docsPath)
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .crossJoin(copies)
      .select((col("vec_id") * nCopies + col("copy")).as("vec_id"),
        transform(col("embedding"),
          x => x + (rand(42) - 0.5f) * lit(0.001f)).as("embedding"))
      .write.mode("overwrite").parquet(vecsPath)
  }

  /** Multi-pass SNM candidate growth ([[graft.dedup.Dedup.sortedNeighborPairsMulti]]):
    * distinct candidate pairs must grow O(n·window·passes) — linear in
    * BOTH the corpus and the pass count, with each added pass contributing
    * its marginal pairs (logged) and never re-shuffling the corpus more
    * than its own ranked scan. Runs the 1/2/3-key ladder on the sf part
    * table and on a 10x near-dup blow-up (copies get a version-suffixed
    * name — the realistic shape: duplicates whose keys sort adjacently).
    */
  private def snmProbe(spark: SparkSession, sfDir: String,
                       nCopies: Int): Unit = {
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    // same id-scaling rule as blowUpCorpus: multiply by the factor, never
    // a fixed 10 (collisions past factor 10 drift the pair counts)
    val copies = spark.range(nCopies.toLong).select(col("id").as("copy"))
    part.crossJoin(copies).select(
        (col("p_partkey") * nCopies + col("copy")).as("p_partkey"),
        when(col("copy") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit(" v"), col("copy"))).as("p_name"),
        col("p_brand"), col("p_type"))
      .write.mode("overwrite").parquet(inTmpDir("graft_probe_part10"))
    val part10 = spark.read.parquet(inTmpDir("graft_probe_part10"))
    val keys = Seq(col("p_name"), reverse(col("p_name")),
      concat_ws(" ", col("p_brand"), col("p_type"), col("p_name")))
    def timeM(name: String)(f: => Long): Long = metered(spark, name)(f)
    for ((nm, d) <- Seq("1x" -> part, s"${nCopies}x" -> part10)) {
      val n = d.count()
      var prev = 0L
      for (p <- 1 to 3) {
        val c = timeM(f"snm $nm%-4s n=$n%8d passes=$p") {
          graft.dedup.Dedup.sortedNeighborPairsMulti(
            d, "p_partkey", keys.take(p), window = 8).count()
        }
        println(f"    pass $p marginal pairs: ${c - prev}%8d " +
          f"(cand/n/pass=${c.toDouble / n / p}%.2f, bound window-1=7)")
        prev = c
      }
    }
  }

  /** The dispatch gates, measured one order of magnitude above bench SF
    * (r16 verdict #4 — "would the gate flip where the cost model says, and
    * does each face's wall/shuffle track its claimed shape at 10x?"):
    *
    *  1. [[graft.dedup.Dedup.embeddingNearDup]] cost dispatch: the probe
    *     prints the cost model's exact-vs-LSH decision at each n alongside
    *     the measured wall of the AUTO call and (at small n) both forced
    *     faces — the flip is right where the curves cross, and the LSH
    *     face's candidate shuffle must grow ~n^(1+rho), not n².
    *  2. [[graft.pipeline.TrainingData.semanticDecontaminate]]: both faces
    *     at train = 1x/3x/10x with a FIXED bench side — the train side
    *     must stay linear (one scan, partial-aggregated max) on the dense
    *     face and one hash pass + banded candidates on the LSH face; plus
    *     the Auto flip itself (maxBenchRows below the bench count) logging
    *     its loud recall-contract warning.
    *  3. [[graft.pipeline.TrainingData.fuzzyDecontaminate]]'s
    *     broadcast→shuffle fallback: same query, same rows out, with the
    *     bench band table broadcast (default) vs forced through the
    *     shuffle join (broadcastMaxRows=1) — the fallback's extra cost is
    *     the shuffle of the TRAIN band tags, which is the linear-in-train
    *     price a >500k-row benchmark pays at cluster scale.
    */
  private def gatesProbe(spark: SparkSession, sfDir: String,
                         nCopies: Int): Unit = {
    // default 10x = one order above bench SF; `gates 50` adds a SECOND
    // decade point (100k vectors / 250k docs), `gates 500` a third (1M
    // vectors / 2.5M docs) so growth exponents are measured across
    // decades, not read off one ratio
    blowUpCorpus(spark, sfDir, nCopies,
      inTmpDir("graft_gates_docs_raw"), inTmpDir("graft_gates_vecs_raw"))
    // re-lay the fixture out as 32 files: near-dup copies compress so well
    // that the whole blow-up lands in ONE snappy file, and a one-file corpus
    // makes every scan-bound face a SINGLE task — at 500x the dense
    // decontamination face measured 221 s with maxTask == wall, i.e. the
    // probe was timing layout, not the operator. A real f-times corpus
    // arrives as many files; the curate probe measures the one-file
    // artifact DELIBERATELY (its "10x multifile" control), the gate probes
    // must not.
    for ((raw, out, key) <- Seq(
        ("graft_gates_docs_raw", "graft_gates_docs", "doc_id"),
        ("graft_gates_vecs_raw", "graft_gates_vecs", "vec_id")))
      spark.read.parquet(inTmpDir(raw)).repartition(32, col(key))
        .write.mode("overwrite").parquet(inTmpDir(out))
    // ... and make local scans SPLIT like cluster scans: the 32 files
    // compress to ~1-2 MB each, so default file-packing
    // (maxPartitionBytes=128 MB) re-coalesces them into ONE input
    // partition and every scan-bound face is STILL a single task
    // (measured: dense face at 500x, maxTask == wall at 221 s one-file
    // and 59 s 32-file alike). 4 MB slices at zero open cost give the
    // probe the ≥32-task scan a real corpus's file sizes produce on
    // their own.
    val prevMpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", 4L << 20)
    spark.conf.set("spark.sql.files.openCostInBytes", 0L)
    try {
      val v10 = spark.read.parquet(inTmpDir("graft_gates_vecs"))
      val d10 = spark.read.parquet(inTmpDir("graft_gates_docs"))
      def vAt(f: Int) = v10.filter(pmod(col("vec_id"), lit(nCopies)) < f)
      val n1 = v10.count() / nCopies
      val factors = (Seq(1, 3, 10) ++ Seq(nCopies)).distinct.filter(_ <= nCopies)

      def timeM(name: String)(f: => Long): Long = metered(spark, name)(f)
      println("=== gate 1: embeddingNearDup cost dispatch (tau=0.7) ===")
      // execute the AUTO face only through the measured decades (n ≤ 150k):
      // the candidate-growth exponent is already pinned across 2k → 20k →
      // 100k, and one more EXECUTED point at 1M is ~half an hour of LSH wall
      // that adds no exponent — past the cap the probe still prints the REAL
      // dispatch decision here, and the model-only decade ladder below
      // prices the cluster-scale regime the fixture cannot reach
      val maxExecN = 150000L
      for (f <- factors) {
        val n = n1 * f
        // print the REAL gate's decision (Dedup.nearDupDispatch is the
        // exact predicate embeddingNearDup executes) — a probe
        // re-implementing the compare silently lies when pricing changes
        val dd = graft.dedup.Dedup.nearDupDispatch(n, 0.7)
        println(f"  n=$n%7d exactCost=${dd.exactCost}%.3g lshCost=${dd.lshCost}%.3g " +
          f"(bits=${dd.config._1},tables=${dd.config._2},probe=${dd.config._3}) " +
          f"-> model picks ${dd.picked}")
        if (n <= maxExecN) {
          timeM(f"near-dup AUTO   tau=0.7 n=$n%7d") {
            graft.dedup.Dedup.embeddingNearDup(
              vAt(f), "vec_id", "embedding", 64, 0.7, n = n).count() }
        } else println(f"  AUTO execution skipped at n=$n%d (> $maxExecN exec cap)")
        if (n <= 3 * n1) {
          timeM(f"near-dup exact  tau=0.7 n=$n%7d (forced)") {
            graft.dedup.Dedup.embeddingNearDupExact(
              vAt(f), "vec_id", "embedding", 0.7).count() }
          timeM(f"near-dup lsh    tau=0.7 n=$n%7d (forced)") {
            graft.dedup.Dedup.embeddingNearDupLsh(
              vAt(f), "vec_id", "embedding", 64, 0.7, n = n).count() }
        }
      }
      // gate 1b: the dispatch decision ladder into the regime only a real
      // cluster reaches — no execution, just the REAL predicate priced per
      // decade. What to read off it: the τ=0.7 flip sits at the measured
      // 20k crossover and never flips back (LSH cost grows ~n^(1+ρ) vs n²),
      // and the auto-sized config stays bounded (bits grow ~log n, tables
      // stay within the 256 clamp) — i.e. the 100 TB plan exists and is the
      // one the operator would pick without any knob-turning.
      println("=== gate 1b: dispatch decisions, model-only decade ladder ===")
      for (tau <- Seq(0.45, 0.7); exp <- 5 to 9) {
        val n = math.pow(10, exp.toDouble).toLong
        val dd = graft.dedup.Dedup.nearDupDispatch(n, tau)
        println(f"  tau=$tau%.2f n=1e$exp%d exact=${dd.exactCost}%.3g " +
          f"lsh=${dd.lshCost}%.3g (bits=${dd.config._1},tables=${dd.config._2}," +
          f"probe=${dd.config._3}) -> ${dd.picked}")
      }

      println("=== gate 2: semanticDecontaminate faces (fixed bench, train scales) ===")
      val bench = v10.filter(pmod(col("vec_id"), lit(40)) === 7)
      val benchN = bench.count()
      println(s"  bench side fixed at $benchN rows")
      for (f <- factors) {
        timeM(f"semdecon DENSE  train=${f}%2dx") {
          graft.pipeline.TrainingData.semanticDecontaminate(
            vAt(f), bench, "vec_id", "embedding", 0.45).count() }
        timeM(f"semdecon LSH    train=${f}%2dx") {
          graft.pipeline.TrainingData.semanticDecontaminate(
            vAt(f), bench, "vec_id", "embedding", 0.45,
            strategy = graft.pipeline.TrainingData.DecontaminationStrategy.Lsh)
            .count() }
      }
      // release the LSH face's registry pins before the doc-side probes —
      // the explicit hook, exercised where a long pipeline would use it
      graft.pipeline.TrainingData.releaseTrainSides()
      timeM("semdecon AUTO flip (maxBenchRows < bench)") {
        graft.pipeline.TrainingData.semanticDecontaminate(
          vAt(nCopies), bench, "vec_id", "embedding", 0.45,
          maxBenchRows = benchN - 1).count() }
      graft.pipeline.TrainingData.releaseTrainSides()

      println(s"=== gate 3: fuzzyDecontaminate broadcast vs shuffle fallback (${nCopies}x docs) ===")
      val benchD = d10.filter(pmod(col("doc_id"), lit(97)) === 0)
      val nb = timeM("fuzzy broadcast path (default gate)") {
        graft.pipeline.TrainingData.fuzzyDecontaminate(
          d10, benchD, "doc_id", "text").count() }
      val ns = timeM("fuzzy shuffle fallback (broadcastMaxRows=1)") {
        graft.pipeline.TrainingData.fuzzyDecontaminate(
          d10, benchD, "doc_id", "text", broadcastMaxRows = 1L).count() }
      println(s"  fallback row-parity: broadcast=$nb shuffle=$ns " +
        (if (nb == ns) "OK" else "MISMATCH"))
    } finally {
      // restore even when a probe body throws: an exception here used to
      // leave the whole session pinned at 4 MB partitions / zero open cost
      // for every later probe in the same JVM (ADVICE r17)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMpb)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  /** Streaming state-store growth/eviction probe — the measurement behind
    * the live stateful ops' 100 TB posture (r14 verdict #4: the parity
    * queries gate correctness, but nothing MEASURED state bytes at 10x key
    * cardinality). Two operators, each at K and 10K keys over a 3-file
    * time-split source (`maxFilesPerTrigger=1` => 3 ordered micro-batches,
    * real cross-batch state round-trips, watermark advancing per batch):
    *
    *  - `streamingSessionize` (flatMapGroupsWithState + EventTimeTimeout):
    *    state must track OPEN sessions (~= active keys), never event
    *    history — peak state rows ~ K, memory ~ linear in K.
    *  - `streamingFunnel` with stateTtlMs: half the keys go idle after an
    *    early burst; the watermark passing idle+TTL must EVICT them —
    *    final state rows ~ K/2 while peak ~ K, and numRowsRemoved > 0.
    *
    * Printed per run: wall, peak/final state rows, peak state memory,
    * rows removed (evictions), output rows. The claims to check at 10x:
    * state rows scale with ACTIVE keys (linear, never superlinear), memory
    * per key is flat, wall grows sublinearly (micro-batch overhead
    * amortizes — the streaming analog of the curate job-count verdict).
    */
  private def streamStateProbe(spark: SparkSession): Unit = {
    import spark.implicits._
    val baseUs = 1704067200000000L // 2024-01-01 UTC
    // events for K keys: burst 1 = 5 events 5 min apart starting at a
    // per-key offset (0..96 min); ODD keys get a burst 2 two hours later
    // (even keys go idle — the funnel-TTL eviction targets). ~7.5K rows.
    def events(k: Int): org.apache.spark.sql.DataFrame =
      spark.range(k.toLong).select(col("id").as("user_id"))
        .crossJoin(spark.range(10).select(col("id").as("j")))
        .filter(col("user_id") % 2 === 1 || col("j") < 5)
        .select(col("user_id"),
          timestamp_micros(lit(baseUs) + (col("user_id") % 97) * 60000000L +
            when(col("j") < 5, col("j") * 300000000L)
              .otherwise(lit(7200000000L) + (col("j") - 5) * 300000000L)).as("ts"),
          concat(lit("s"), col("j") % 3).as("event_type"),
          (col("j") + 1).cast("double").as("value"))
    def run(name: String, k: Int, mode: String)(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val base = inTmpDir(s"graft_probe_stream_${name}_$k")
      SparkEntry.wipeTree(base)
      // 3 time-range files with ascending mtimes (the stageTimeSplitEvents
      // shape): batch order == time order
      val landing = java.nio.file.Paths.get(s"$base/in")
      val ev = events(k)
      SparkEntry.landTimeSplit(ev, base, landing)
      val src = spark.readStream.format("parquet").schema(ev.schema)
        .option("maxFilesPerTrigger", "1").load(landing.toString)
      // 4 state partitions at 1x, 8 at 10x (the key-space sizing rule the
      // parity queries use): per-batch per-partition delta-file overhead
      // stays fixed while rows/partition grows 5x
      val q = SparkEntry.withStatePartitions(spark, if (k > 10000) 8 else 4) {
        mk(src).writeStream.outputMode(mode).format("noop")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      val t0 = System.nanoTime()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val st = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      val peakRows = if (st.isEmpty) 0L else st.map(_.numRowsTotal).max
      val finalRows = q.recentProgress.lastOption
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(0L)
      val peakMem = if (st.isEmpty) 0L else st.map(_.memoryUsedBytes).max
      val removed = st.map(_.numRowsRemoved).sum
      val outRows = q.recentProgress.map(_.sink.numOutputRows).filter(_ > 0).sum
      println(f"$name%-22s k=$k%6d  $wall%6.2f s  peakState=$peakRows%7d rows/" +
        f"${peakMem / 1024}%6d KB  finalState=$finalRows%7d  evicted=$removed%6d  out=$outRows%7d")
    }
    for (k <- Seq(2000, 20000)) {
      run("sessionize gap=30m", k, "append") { df =>
        graft.streaming.StatefulOps.streamingSessionize(
          df.withWatermark("ts", "1 hour")
            .select(col("user_id"), col("ts"), col("value"))
            .as[graft.streaming.SessionEvent],
          gapMs = 1800L * 1000).toDF()
      }
      run("funnel ttl=1h", k, "update") { df =>
        graft.streaming.StatefulOps.streamingFunnel(
          df.withWatermark("ts", "1 hour")
            .select(col("user_id"), col("ts"), col("event_type"))
            .as[graft.streaming.FunnelEvent],
          stageTypes = Seq("s0", "s1", "s2"), stateTtlMs = 3600L * 1000).toDF()
      }
    }
  }
}
