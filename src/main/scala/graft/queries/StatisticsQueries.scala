package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.functions.{TextFunctions => TF}
import graft.pipeline.TrainingData
import graft.SparkEntry.t
import graft.queries.SharedSql.{duckFnvU, duckQualitySql, duckToks, duckU2S}

/** Registry queries of statistics, sampling and privacy: tests, drift, medians,
  * samplers and anonymity checks. Each query registers with its oracle right
  * after its body.
  */
private[graft] object StatisticsQueries extends QueryFamily {

  /** Mutual information between the corpus's two categorical axes (lang,
    * source), plus each marginal entropy — the redundancy number a corpus
    * datasheet reports ("does source already determine language?"). One
    * corpus scan builds the |langs|×|sources| cell census; margins and the
    * MI sum are censuses-of-the-census, so cost is independent of corpus
    * size beyond the first aggregate.
    */
  private def mutualInfoQ(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cxy"))
    val mx = cells.groupBy(col("lang")).agg(sum(col("cxy")).as("cx"))
    val my = cells.groupBy(col("source")).agg(sum(col("cxy")).as("cy"))
    val n = cells.agg(sum(col("cxy")).as("n"))
    val joined = cells.join(mx, "lang").join(my, "source").crossJoin(n)
    joined.agg(
        max(col("n")).as("n_docs"),
        round(sum(col("cxy").cast("double") / col("n").cast("double")
          * log(col("cxy").cast("double") * col("n").cast("double")
            / (col("cx").cast("double") * col("cy").cast("double")))), 6).as("mi_nats"))
      .crossJoin(
        mx.crossJoin(n).agg(round(log(max(col("n")).cast("double"))
          - sum(col("cx").cast("double") * log(col("cx").cast("double")))
            / max(col("n")).cast("double"), 6).as("h_lang")))
      .crossJoin(
        my.crossJoin(n).agg(round(log(max(col("n")).cast("double"))
          - sum(col("cy").cast("double") * log(col("cy").cast("double")))
            / max(col("n")).cast("double"), 6).as("h_source")))
  }
  query("q_mutual_info", mutualInfoQ,
    """WITH cells AS (SELECT lang, source, count(*) AS cxy FROM documents GROUP BY 1, 2),
      |mx AS (SELECT lang, sum(cxy) AS cx FROM cells GROUP BY 1),
      |my AS (SELECT source, sum(cxy) AS cy FROM cells GROUP BY 1),
      |tot AS (SELECT sum(cxy) AS n FROM cells),
      |mi AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n_docs,
      |    round(sum(CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE)
      |        / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))), 6) AS mi_nats
      |  FROM cells JOIN mx USING (lang) JOIN my USING (source), tot),
      |hx AS (SELECT round(ln(CAST(max(n) AS DOUBLE))
      |    - sum(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE))) / CAST(max(n) AS DOUBLE), 6) AS h_lang
      |  FROM mx, tot),
      |hy AS (SELECT round(ln(CAST(max(n) AS DOUBLE))
      |    - sum(CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE))) / CAST(max(n) AS DOUBLE), 6) AS h_source
      |  FROM my, tot)
      |SELECT n_docs, mi_nats, h_lang, h_source FROM mi, hx, hy""".stripMargin)

  /** Weighted sampling without replacement (Efraimidis–Spirakis race,
    * [[graft.operators.Graph.weightedSample]]): 200 documents drawn with
    * probability proportional to length, deterministically from the id
    * hash.
    */
  private def weightedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.weightedSample(
      t(s, dir, "documents"), "doc_id", col("n_chars"), k = 200)
  // Efraimidis–Spirakis race: u is the FNV bucket center (exact dyadic
  // double), key = −ln(u)/w — selection replayed on the unrounded key
  query("q_weighted_sample", weightedSampleQ,
    s"""WITH h AS (
       |  SELECT doc_id, n_chars,
       |    ${duckFnvU("('ws|' || CAST(doc_id AS VARCHAR))")} AS hu
       |  FROM documents
       |), k AS (
       |  SELECT doc_id,
       |    GREATEST(CAST(n_chars AS DOUBLE), 1e-12) AS weight,
       |    -ln((CAST(hu % 16777216 AS DOUBLE) + 0.5) / 16777216.0)
       |      / GREATEST(CAST(n_chars AS DOUBLE), 1e-12) AS rk
       |  FROM h)
       |SELECT doc_id, weight, round(rk, 6) AS race_key FROM k
       |ORDER BY rk ASC, doc_id ASC LIMIT 200""".stripMargin)

  /** Local-DP randomized response ([[Analytics.randomizedResponse]]) over
    * the purchase bit, cohorts = user_id mod 10. The flip coin is a
    * deterministic integer hash of the event id (Knuth multiplicative mod
    * 1e9+7, then mod 4) so the whole mechanism — flips included — replays
    * exactly in the oracle, and the debiased estimate can be checked
    * against the true count it is never allowed to see in production.
    */
  private def randomizedResponseQ(s: SparkSession, dir: String): DataFrame =
    Analytics.randomizedResponse(
      t(s, dir, "events"),
      cohortCol = pmod(col("user_id"), lit(10)),
      bitCol = when(col("event_type") === "purchase", 1L).otherwise(0L),
      coinCol = pmod(pmod(col("event_id"), lit(1000000007L)) * lit(2654435761L), lit(1000000007L)) % 4)
  query("q_randomized_response", randomizedResponseQ,
    """WITH f AS (
      |  SELECT (user_id % 10) AS cohort,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS bit,
      |    ((event_id % 1000000007) * 2654435761) % 1000000007 % 4 AS coin
      |  FROM events
      |), rr AS (
      |  SELECT cohort, bit,
      |    CASE WHEN coin = 0 THEN 1 - bit ELSE bit END AS reported FROM f
      |)
      |SELECT cohort, count(*) AS n,
      |  CAST(sum(bit) AS BIGINT) AS true_positives,
      |  CAST(sum(reported) AS BIGINT) AS reported_positives,
      |  CAST(4*sum(reported) - count(*) AS DOUBLE) / 2 AS debiased_estimate
      |FROM rr GROUP BY 1""".stripMargin)

  /** k-anonymity audit over the release quasi-identifiers (lang, source):
    * any combination shared by fewer than k=5 documents re-identifies its
    * members and must be suppressed or generalized before release. One
    * partial-aggregated census — the standard privacy gate shape.
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < 5)
  query("q_k_anonymity", kAnonymityQ,
    """SELECT lang, source, count(*) AS n, count(*) < 5 AS at_risk
      |FROM documents GROUP BY 1, 2""".stripMargin)

  /** Exact interpolated percentiles per group. */
  private def percentilesQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
  query("q_percentiles", percentilesQ,
    """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med,
      |round(quantile_cont(value, 0.95), 6) AS p95
      |FROM events GROUP BY event_type""".stripMargin)

  /** Sample-ratio-mismatch (SRM) check on [[trainSplitQ]]'s 80/10/10
    * content split — the experiment-platform health gate applied to data
    * splits: a biased hash, a filter applied to one split, or a text
    * distribution quirk all surface as observed shares drifting off the
    * design, and the χ² (2 dof) catches it long before a model does.
    * Exactness: the χ² numerator is assembled as Σ(100·o − n·w)²·(80/w)
    * over exact integers (LCD trick — w ∈ {80,10,10} makes the
    * multipliers {1,8,8} integral), so only the final /8000n division is
    * a double; the 5.991 (α = 0.05) flag compares the unrounded value on
    * both engines.
    */
  private def srmCheckQ(s: SparkSession, dir: String): DataFrame = {
    val splits = TrainingData.contentSplit(t(s, dir, "documents"), "text",
      valPct = 10, testPct = 10)
    val w = when(col("split") === "train", lit(80L)).otherwise(lit(10L))
    val mult = when(col("split") === "train", lit(1L)).otherwise(lit(8L))
    val dev = col("n_docs") * 100L - col("n") * w
    val chi2 = col("num").cast("double") / (col("n") * 8000L).cast("double")
    // n over a WINDOW on the 3-row census, not crossJoin(splits.agg(...)):
    // Spark does not share a scan across join sides, so the self-derived
    // cross join ran contentSplit's full-text scan (fingerprint+tokenCount
    // over every document) TWICE — measured 3.75 s vs the 0.41 s
    // single-scan sibling. The window's single-partition exchange moves
    // exactly 3 aggregate rows; the corpus scans once.
    splits.withColumn("n", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .select(col("n"),
        ((dev * dev).cast("decimal(38,0)") * mult).as("term"),
        when(col("split") === "train", col("n_docs")).otherwise(0L).as("tr"),
        when(col("split") === "val", col("n_docs")).otherwise(0L).as("va"),
        when(col("split") === "test", col("n_docs")).otherwise(0L).as("te"))
      .groupBy(col("n"))
      .agg(sum(col("term")).as("num"), sum(col("tr")).as("n_train"),
        sum(col("va")).as("n_val"), sum(col("te")).as("n_test"))
      .select(col("n"), col("n_train"), col("n_val"), col("n_test"),
        round(chi2, 6).as("chi2"), (chi2 > 5.991).as("srm_flag"))
  }
  // SRM: the train_split hash CTE, chi2 numerator as exact integers via
  // the LCD trick (w in {80,10,10} -> multipliers {1,8,8}), one division
  query("q_srm_check", srmCheckQ,
    s"""WITH f AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(5381 AS BIGINT), [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text)+1)]),
       |      (a, x) -> (a * 31 + x) % 1000000007) % 100 AS bucket
       |  FROM documents
       |), s AS (
       |  SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |    ELSE 'test' END AS split, COUNT(*) AS n_docs
       |  FROM f GROUP BY 1
       |), t AS (SELECT SUM(n_docs) AS n FROM s),
       |x AS (
       |  SELECT s.split, s.n_docs, t.n,
       |    s.n_docs * 100 - t.n * (CASE WHEN s.split = 'train' THEN 80 ELSE 10 END) AS dev,
       |    CASE WHEN s.split = 'train' THEN 1 ELSE 8 END AS mult
       |  FROM s CROSS JOIN t
       |), g AS (
       |  SELECT n, SUM(dev * dev * mult) AS num,
       |    CAST(SUM(CASE WHEN split = 'train' THEN n_docs ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN split = 'val' THEN n_docs ELSE 0 END) AS BIGINT) AS n_val,
       |    CAST(SUM(CASE WHEN split = 'test' THEN n_docs ELSE 0 END) AS BIGINT) AS n_test
       |  FROM x GROUP BY 1
       |)
       |SELECT CAST(n AS BIGINT) AS n, n_train, n_val, n_test,
       |  round(CAST(num AS DOUBLE) / CAST(n * 8000 AS DOUBLE), 6) AS chi2,
       |  CAST(num AS DOUBLE) / CAST(n * 8000 AS DOUBLE) > 5.991 AS srm_flag
       |FROM g""".stripMargin)

  /** Content-hash per-language stratified sample: the keep/drop decision is
    * `fnv1a64(doc_id) mod 1000 < rate(lang)·1000` — deterministic from row
    * content, independent of partition layout and engine, so the DuckDB
    * oracle replays the identical decision row for row (exact row-level
    * match, not a statistical gate). The RNG `sampleBy` variant stays
    * available as [[TrainingData.stratifiedSample]] (spec-gated).
    */
  private def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.hashStratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.25))
      .select(col("doc_id"), col("lang"))
  query("q_stratified_sample", stratifiedSampleQ,
    s"""WITH h AS (
       |  SELECT doc_id, lang, ${duckFnvU("CAST(doc_id AS VARCHAR)")} AS hu FROM documents
       |), hs AS (SELECT doc_id, lang, ${duckU2S("hu")} AS hsv FROM h)
       |SELECT doc_id, lang FROM hs
       |WHERE ((hsv % 1000) + 1000) % 1000 <
       |  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 WHEN 'fr' THEN 250
       |            WHEN 'es' THEN 250 WHEN 'zh' THEN 250 ELSE 0 END""".stripMargin)

  /** Exact-10-per-language deterministic sample
    * ([[TrainingData.hashReservoirK]]): the bottom-k of the content hash
    * per stratum via the bounded-heap aggregate — the oracle replays the
    * identical hash order, so membership AND rank match row for row.
    */
  private def hashReservoirQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.hashReservoirK(t(s, dir, "documents"), "lang", "doc_id", 10)
  // bottom-k hash reservoir: the oracle replays the identical signed
  // fnv1a64 order, so per-stratum membership AND rank hash-match
  query("q_hash_reservoir", hashReservoirQ,
    s"""WITH h AS (
       |  SELECT lang, doc_id, ${duckU2S(duckFnvU("CAST(doc_id AS VARCHAR)"))} AS hs
       |  FROM documents),
       |r AS (SELECT lang, doc_id,
       |        row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id) AS rn
       |      FROM h)
       |SELECT lang, doc_id, rn FROM r WHERE rn <= 10""".stripMargin)

  /** Even/odd-cohort heavy-purchaser (≥ 15 purchase events) z-test
    * ([[Analytics.twoProportionZ]]): one unit row per user, pooled
    * two-proportion z from exact counts.
    */
  private def abTestQ(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 15, 1L)
        .otherwise(0L).as("conv"))
    Analytics.twoProportionZ(perUser, pmod(col("user_id"), lit(2)), col("conv"))
  }
  query("q_ab_test", abTestQ,
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
      |         THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY 1),
      |g AS (SELECT
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
      |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      | FROM u),
      |e AS (SELECT n_a, c_a, n_b, c_b,
      |  CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
      |  CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
      |  (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE)) /
      |    (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
      | FROM g)
      |SELECT n_a, c_a, n_b, c_b,
      |  round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
      |  round((pa - pb) / sqrt(pool * (1.0 - pool) *
      |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z,
      |  abs((pa - pb) / sqrt(pool * (1.0 - pool) *
      |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))) > 1.96 AS significant
      |FROM e""".stripMargin)

  /** Per-source token-budget curation ([[TrainingData.groupBudgetSelect]]):
    * quality-descending selection within each source until its 5,000-token
    * cap — the per-domain budget that q_budget_select's single global
    * budget cannot express.
    */
  private def cappedSelectQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.groupBudgetSelect(
      t(s, dir, "documents").select(col("source"), col("doc_id"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens")),
      col("source"), Seq(col("quality").desc, col("doc_id").asc),
      col("n_tokens"), 5000L)
  // token COUNT is case-insensitive, so the lowercasing duckToks is the
  // correct twin of TF.tokenCount here
  query("q_capped_select", cappedSelectQ,
    s"""WITH qual AS (SELECT * FROM ($duckQualitySql)),
       |d AS (
       |  SELECT d.source, d.doc_id, q.quality,
       |    CAST(len($duckToks) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN qual q ON q.doc_id = d.doc_id
       |), w AS (
       |  SELECT source, doc_id, quality, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM d
       |)
       |SELECT * FROM w WHERE cum_tokens <= 5000""".stripMargin)

  /** DP count release ([[Analytics.dpNoisyCounts]]) of per-language doc
    * counts with hash-derived uniform noise on [−3, 3] — deterministic
    * stand-in for the geometric mechanism so the oracle replays the noise.
    */
  private def dpCountsQ(s: SparkSession, dir: String): DataFrame =
    Analytics.dpNoisyCounts(t(s, dir, "documents"), col("lang"), "graft-dp-2026", 3)
  query("q_dp_counts", dpCountsQ,
    s"""WITH g AS (SELECT lang AS grp, count(*) AS true_n FROM documents GROUP BY 1),
       |h AS (SELECT grp, true_n,
       |  ${duckU2S(duckFnvU("('graft-dp-2026:' || grp)"))} AS hs FROM g)
       |SELECT grp, true_n, ((hs % 7) + 7) % 7 - 3 AS noise,
       |  greatest(CAST(0 AS BIGINT), true_n + ((hs % 7) + 7) % 7 - 3) AS released
       |FROM h""".stripMargin)

  /** Chi-squared independence audit ([[Analytics.chiSquareIndependence]])
    * of language × source — "is the corpus's language mix confounded with
    * where it was crawled". Exact integer micro-units end to end.
    */
  private def chi2Q(s: SparkSession, dir: String): DataFrame =
    Analytics.chiSquareIndependence(t(s, dir, "documents"), col("lang"), col("source"))
  // identical exact-integer micro-unit accumulation: HUGEINT products,
  // floor `//` per cell (Spark: DECIMAL(38) `div`), one double division
  query("q_chi2_independence", chi2Q,
    """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents GROUP BY 1, 2),
      |ra AS (SELECT a, sum(o) AS r FROM cells GROUP BY 1),
      |cb AS (SELECT b, sum(o) AS c FROM cells GROUP BY 1),
      |tot AS (SELECT sum(o) AS n FROM cells),
      |grid AS (
      |  SELECT ra.a, cb.b, r, c, CAST(COALESCE(o, 0) AS HUGEINT) AS o, n
      |  FROM ra CROSS JOIN cb CROSS JOIN tot
      |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
      |), t AS (
      |  SELECT CAST((o*n - r*c) * (o*n - r*c) * 1000000 // (r*c*n) AS BIGINT) AS tt
      |  FROM grid
      |)
      |SELECT count(*) AS n_cells,
      |  (SELECT CAST(n AS BIGINT) FROM tot) AS n_rows,
      |  CAST(sum(tt) AS DOUBLE) / 1000000.0 AS chi2
      |FROM t""".stripMargin)

  /** Population-stability-index drift between the even- and odd-id corpus
    * halves over power-of-2 token-length buckets — the distribution-drift
    * alarm a pipeline runs between crawls. One partial-aggregated shuffle
    * (the bucket census); totals are a one-row collected side input.
    * Emits PER-BUCKET terms (exact-int-derived doubles, deterministic on
    * any engine) rather than a cross-partition double sum; the caller adds
    * ≤64 terms (token counts fit 63 bits → at most 64 buckets, which also
    * fixes the +1 smoothing denominator).
    */
  private def psiDriftQ(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(pmod(col("doc_id"), lit(2L)).as("half"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket_cap", TF.pow2BucketCap(col("n_tokens")))
      .groupBy(col("bucket_cap"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_new"))
    val trow = counts.agg(sum(col("n_ref")), sum(col("n_new"))).head()
    val (tr, tn) = (trow.getLong(0) + 64.0, trow.getLong(1) + 64.0)
    val pr = (col("n_ref") + 1L).cast("double") / tr
    val pn = (col("n_new") + 1L).cast("double") / tn
    counts.select(col("bucket_cap"), col("n_ref"), col("n_new"),
      round((pn - pr) * log(pn / pr), 6).as("psi_term"))
  }
  // +1 smoothing over the FIXED 64-bucket space (token counts fit 63
  // bits), so empty buckets never divide by zero and both engines use
  // the identical denominator
  query("q_psi_drift", psiDriftQ,
    s"""WITH d AS (
       |  SELECT doc_id % 2 AS half, CAST(len($duckToks) AS BIGINT) AS n_tokens
       |  FROM documents
       |), b AS (
       |  SELECT half, CASE WHEN n_tokens <= 1 THEN 1
       |    ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1))) END AS bucket_cap
       |  FROM d
       |), c AS (
       |  SELECT bucket_cap,
       |    count(*) FILTER (WHERE half = 0) AS n_ref,
       |    count(*) FILTER (WHERE half = 1) AS n_new
       |  FROM b GROUP BY 1
       |), t AS (SELECT sum(n_ref) AS tr, sum(n_new) AS tn FROM c)
       |SELECT bucket_cap, n_ref, n_new,
       |  round(((n_new + 1) / (tn + 64.0) - (n_ref + 1) / (tr + 64.0))
       |    * ln(((n_new + 1) / (tn + 64.0)) / ((n_ref + 1) / (tr + 64.0))), 6) AS psi_term
       |FROM c, t""".stripMargin)

  /** Two-sample KS drift ([[Analytics.ksDrift]]) between the even- and
    * odd-id document halves over length (64-char buckets) — the
    * threshold-free companion to [[psiDriftQ]]: PSI averages divergence
    * over bins, KS reports the single worst CDF gap and where it sits.
    */
  private def ksDriftQ(s: SparkSession, dir: String): DataFrame =
    Analytics.ksDrift(t(s, dir, "documents"),
      expr("n_chars div 64"), pmod(col("doc_id"), lit(2L)) === 0L)
  // KS drift: exact integer ECDFs at every occupied 64-char bucket; each
  // D term is one double expression over four integers, max is
  // order-independent, argmax tie-broken to the smallest bucket
  query("q_ks_drift", ksDriftQ,
    """WITH c AS (
      |  SELECT n_chars // 64 AS b,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
      |  FROM documents GROUP BY 1
      |), tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM c),
      |cum AS (
      |  SELECT b, SUM(ca) OVER (ORDER BY b) AS cum_a,
      |    SUM(cb) OVER (ORDER BY b) AS cum_b
      |  FROM c
      |), t AS (
      |  SELECT b, abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |    - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS d
      |  FROM cum CROSS JOIN tot
      |)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  round((SELECT max(d) FROM t), 6) AS ks_d,
      |  (SELECT min(b) FROM t WHERE d = (SELECT max(d) FROM t)) AS ks_at
      |FROM tot""".stripMargin)

  /** Deterministic Poisson-bootstrap 95% CI
    * ([[Analytics.poissonBootstrapCI]], b = 100) for mean tokens/doc —
    * the uncertainty a corpus datasheet should quote next to every mean,
    * computed in one scan with hash-derived weights so the interval
    * replays bit-for-bit.
    */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame =
    Analytics.poissonBootstrapCI(
      t(s, dir, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens")),
      col("doc_id"), col("n_tokens"), b = 100)
  // Poisson bootstrap: hash-derived inverse-CDF weights (ppm table),
  // exact BIGINT per-resample sums, one division per mean, CI bounds by
  // exact rank over the 100-row resample census
  query("q_bootstrap_ci", bootstrapCiQ,
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id, CAST(len($duckToks) AS BIGINT) AS x
       |  FROM documents
       |), rep AS (
       |  SELECT d.id, d.x, g.b
       |  FROM d CROSS JOIN (SELECT unnest(range(0, 100)) AS b) g
       |), h AS (
       |  SELECT b, x,
       |    ${duckU2S(duckFnvU("('boot#' || CAST(b AS VARCHAR) || '#' || id)"))} AS hs
       |  FROM rep
       |), uw AS (
       |  SELECT b, x, ((hs % 1000000) + 1000000) % 1000000 AS u FROM h
       |), w AS (
       |  SELECT b, x,
       |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
       |         WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
       |         WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
       |         WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7 ELSE 8 END AS w
       |  FROM uw
       |), m AS (
       |  SELECT b, CASE WHEN SUM(w) > 0
       |    THEN CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
       |    ELSE 0.0 END AS m
       |  FROM w GROUP BY 1
       |), r AS (
       |  SELECT b, m,
       |    (SELECT COUNT(*) FROM m m2
       |     WHERE m2.m < m.m OR (m2.m = m.m AND m2.b < m.b)) AS rk
       |  FROM m
       |), f AS (SELECT CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS n FROM d)
       |SELECT CAST(100 AS BIGINT) AS b_resamples,
       |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
       |  round((SELECT max(m) FROM r WHERE rk = 2), 6) AS ci_lo,
       |  round((SELECT max(m) FROM r WHERE rk = 97), 6) AS ci_hi
       |FROM f""".stripMargin)

  /** Neyman allocation ([[Analytics.neymanAllocation]]) of a 10,000-doc
    * QA-sample budget across languages, variance-optimal for estimating
    * mean tokens/doc: n_h ∝ N_h·σ_h with exact decimal moment sums,
    * fixed-point ppm weights, and largest-remainder integer seats that sum
    * to exactly 10,000.
    */
  private def neymanAllocQ(s: SparkSession, dir: String): DataFrame =
    Analytics.neymanAllocation(
      t(s, dir, "documents").select(col("lang"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens")),
      "lang", col("n_tokens"), sampleSize = 10000L)
  // Neyman allocation: exact moment census; sigma and the ppm weight are
  // the identical double expressions (w_ppm from UNROUNDED sigma); base
  // seats, remainders, and largest-remainder ranks are pure integers
  query("q_neyman_alloc", neymanAllocQ,
    s"""WITH d AS (
       |  SELECT lang, CAST(len($duckToks) AS BIGINT) AS x FROM documents
       |), c AS (
       |  SELECT lang AS stratum, COUNT(*) AS n_h, SUM(x) AS s_x, SUM(x*x) AS q_x
       |  FROM d GROUP BY 1
       |), w0 AS (
       |  SELECT stratum, CAST(n_h AS BIGINT) AS n_h,
       |    CASE WHEN n_h > 1 THEN
       |      sqrt((CAST(n_h AS DOUBLE)*CAST(q_x AS DOUBLE) - CAST(s_x AS DOUBLE)*CAST(s_x AS DOUBLE)) /
       |           (CAST(n_h AS DOUBLE)*(CAST(n_h AS DOUBLE)-1.0)))
       |    ELSE 0.0 END AS sg
       |  FROM c
       |), w AS (
       |  SELECT stratum, n_h, round(sg, 6) AS sigma,
       |    CAST(floor(CAST(n_h AS DOUBLE) * sg * 1000000.0) AS BIGINT) AS w_ppm
       |  FROM w0
       |), t AS (SELECT SUM(w_ppm) AS w_tot FROM w),
       |b AS (
       |  SELECT stratum, n_h, sigma, w_ppm,
       |    CASE WHEN w_tot > 0 THEN 10000 * w_ppm // w_tot ELSE 0 END AS base,
       |    CASE WHEN w_tot > 0 THEN 10000 * w_ppm % w_tot ELSE 0 END AS rem
       |  FROM w CROSS JOIN t
       |), lo AS (SELECT 10000 - SUM(base) AS r FROM b),
       |rk AS (
       |  SELECT b.stratum, b.n_h, b.sigma, b.w_ppm, b.base, b.rem,
       |    (SELECT COUNT(*) FROM b b2
       |     WHERE b2.rem > b.rem OR (b2.rem = b.rem AND b2.stratum < b.stratum)) AS n_better
       |  FROM b
       |)
       |SELECT stratum, n_h, sigma, w_ppm,
       |  CAST(base + CASE WHEN n_better < (SELECT r FROM lo) THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM rk""".stripMargin)

  /** t-closeness audit ([[Analytics.tCloseness]]) over (lang, source)
    * quasi-groups with document length (512-char buckets) as the ordered
    * sensitive attribute — completes the k-anonymity / l-diversity /
    * t-closeness release-gate trio: EMD in exact ppm fixed-point, so a
    * group whose lengths all sit in the top bucket is caught even when
    * l-diversity passes.
    */
  private def tClosenessQ(s: SparkSession, dir: String): DataFrame =
    Analytics.tCloseness(t(s, dir, "documents"), Seq("lang", "source"),
      expr("n_chars div 512"))
  // t-closeness: per-(lang, source) EMD vs the global length distribution
  // in exact ppm fixed-point (cum·10^6 // n — truncating integer
  // division), densified over the occupied-bucket census; only the final
  // normalization is a rounded double
  query("q_t_closeness", tClosenessQ,
    """WITH c AS (
      |  SELECT lang, source, n_chars // 512 AS b, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2, 3
      |), bk AS (SELECT b, SUM(c) AS cg FROM c GROUP BY 1),
      |g AS (SELECT lang, source, SUM(c) AS n_g FROM c GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.lang, g.source, bk.b, g.n_g, COALESCE(c.c, 0) AS c
      |  FROM g CROSS JOIN bk
      |  LEFT JOIN c ON c.lang = g.lang AND c.source = g.source AND c.b = bk.b
      |), cumg AS (
      |  SELECT lang, source, b, n_g,
      |    SUM(c) OVER (PARTITION BY lang, source ORDER BY b) AS cum_g
      |  FROM grid
      |), cuma AS (SELECT b, SUM(cg) OVER (ORDER BY b) AS cum_all FROM bk),
      |tot AS (SELECT SUM(cg) AS n_all, COUNT(*) AS n_b FROM bk),
      |terms AS (
      |  SELECT lang, source, n_g, n_b,
      |    abs(cum_g * 1000000 // n_g - cum_all * 1000000 // n_all) AS term
      |  FROM cumg JOIN cuma USING (b) CROSS JOIN tot
      |)
      |SELECT lang, source, CAST(max(n_g) AS BIGINT) AS n_g,
      |  CAST(SUM(term) AS BIGINT) AS emd_ppm,
      |  CASE WHEN max(n_b) <= 1 THEN 0.0 ELSE
      |    round(CAST(SUM(term) AS DOUBLE) /
      |      (CAST(max(n_b) - 1 AS DOUBLE) * 1000000.0), 6)
      |  END AS t_close
      |FROM terms GROUP BY lang, source""".stripMargin)

  /** Spearman rank correlation (tie-aware, via exact census midranks)
    * between document length and token count: ranks come from per-value
    * censuses (both variables are DOMAIN-bounded integers) using the same
    * 2× midrank identity as [[Analytics.mannWhitney]] — 2·cum_before + c
    * + 1 — so every rank is an exact integer and ρ is Pearson over exact
    * DECIMAL(38,0) rank moments, one closed-form double. Spearman answers
    * what [[corrMatrixQ]]'s Pearson can't: monotone-but-nonlinear
    * dependence, robust to the heavy length tail. Scale shape: two census
    * aggregates, two banded census self-joins, two hash joins back to
    * rows, one global moment aggregate.
    */
  private def spearmanQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      col("n_chars").cast("long").as("x"),
      TF.tokenCount(col("text")).cast("long").as("y"))
    def midranks(vcol: String, out: String): DataFrame = {
      val census = d.groupBy(col(vcol).as("v")).agg(count(lit(1)).as("c"))
      census
        .join(census.select(col("v").as("v2"), col("c").as("c2")),
          col("v2") < col("v"), "left")
        .groupBy(col("v"), col("c")).agg(coalesce(sum(col("c2")), lit(0L)).as("cb"))
        .select(col("v"), (col("cb") * 2L + col("c") + 1L).as(out))
    }
    val ranked = d
      .join(midranks("x", "r2x").withColumnRenamed("v", "x"), "x")
      .join(midranks("y", "r2y").withColumnRenamed("v", "y"), "y")
    // cast EACH factor to decimal BEFORE multiplying: a BIGINT r2·r2
    // product overflows silently once 2× midranks pass √(2^63) ≈ 3e9
    // (n ≈ 1.5e9 rows) — the decimal product keeps the moments exact at
    // any corpus size, which is the claim this query's scaladoc makes
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(d38(col("r2x"))).as("sx"),
      sum(d38(col("r2x")) * d38(col("r2x"))).as("sxx"),
      sum(d38(col("r2y"))).as("sy"),
      sum(d38(col("r2y")) * d38(col("r2y"))).as("syy"),
      sum(d38(col("r2x")) * d38(col("r2y"))).as("sxy"))
    val dd = (c: Column) => c.cast("double")
    val vx = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val vy = dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
    m.select(col("n"),
      when(vx * vy > 0.0,
        round((dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))) /
          sqrt(vx * vy), 6))
        .otherwise(lit(null).cast("double")).as("spearman_rho"))
  }
  // Spearman: identical 2x census midranks, exact rank moments, Pearson
  // closed form as one double expression
  query("q_spearman", spearmanQ,
    s"""WITH d AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
       |    CAST(len($duckToks) AS BIGINT) AS y
       |  FROM documents
       |), cx AS (SELECT x AS v, COUNT(*) AS c FROM d GROUP BY 1),
       |rx AS (
       |  SELECT cx.v, 2 * COALESCE(SUM(c2.c), 0) + cx.c + 1 AS r2x
       |  FROM cx LEFT JOIN cx c2 ON c2.v < cx.v GROUP BY cx.v, cx.c
       |), cy AS (SELECT y AS v, COUNT(*) AS c FROM d GROUP BY 1),
       |ry AS (
       |  SELECT cy.v, 2 * COALESCE(SUM(c2.c), 0) + cy.c + 1 AS r2y
       |  FROM cy LEFT JOIN cy c2 ON c2.v < cy.v GROUP BY cy.v, cy.c
       |), j AS (
       |  SELECT r2x, r2y FROM d JOIN rx ON rx.v = d.x JOIN ry ON ry.v = d.y
       |), m AS (
       |  SELECT COUNT(*) AS n, SUM(r2x) AS sx, SUM(r2x * r2x) AS sxx,
       |    SUM(r2y) AS sy, SUM(r2y * r2y) AS syy, SUM(r2x * r2y) AS sxy
       |  FROM j
       |)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CASE WHEN (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
       |          * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0.0
       |  THEN round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
       |    sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
       |       * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
       |  ELSE NULL END AS spearman_rho
       |FROM m""".stripMargin)

  /** Tie-corrected Mann–Whitney U ([[Analytics.mannWhitney]]) between the
    * even- and odd-id document halves over length (16-char buckets) — the
    * nonparametric LOCATION test beside [[ksDriftQ]]'s shape test: exact
    * integer rank sums (midranks via the 2× identity), exact tie term, z
    * as one replayed double expression.
    */
  private def mannWhitneyQ(s: SparkSession, dir: String): DataFrame =
    Analytics.mannWhitney(t(s, dir, "documents"),
      expr("n_chars div 16"), pmod(col("doc_id"), lit(2L)) === 0L)
  // Mann-Whitney U: doubled midrank sums via the integer identity
  // ca*(2*cum - c + 1), exact tie term c^3 - c, tie-corrected z as the
  // identical left-to-right double expression
  query("q_mann_whitney", mannWhitneyQ,
    """WITH c AS (
      |  SELECT n_chars // 16 AS b,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS cb
      |  FROM documents GROUP BY 1
      |), cc AS (SELECT b, ca, ca + cb AS c FROM c),
      |cum AS (SELECT b, ca, c, SUM(c) OVER (ORDER BY b) AS cum FROM cc),
      |p AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
      |    CAST(SUM(c - ca) AS BIGINT) AS n_b,
      |    CAST(SUM(ca * (cum * 2 - c + 1)) AS BIGINT) AS ranks2,
      |    CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum
      |  FROM cum
      |)
      |SELECT n_a, n_b, CAST(ranks2 - n_a * (n_a + 1) AS BIGINT) AS u2, tie_sum,
      |  CASE WHEN n_a > 0 AND n_b > 0 AND
      |    sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(tie_sum AS DOUBLE) /
      |       (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0)))) > 0.0
      |  THEN round(CAST(ranks2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) /
      |    (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
      |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(tie_sum AS DOUBLE) /
      |       (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0))))), 6)
      |  ELSE NULL END AS z
      |FROM p""".stripMargin)

  /** l-diversity audit — k-anonymity's stronger sibling: a quasi-identifier
    * group is at risk not just when it is SMALL but when its sensitive
    * attribute (here the power-of-2 length bucket standing in for one) is
    * UNIFORM; l < 3 means an attacker who locates the group learns the
    * sensitive value with ≤ 3-way ambiguity. Two-phase distinct aggregate:
    * partials on (group, sensitive) combine map-side.
    */
  private def lDiversityQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("sensitive", TF.pow2BucketCap(col("n_chars")))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), countDistinct(col("sensitive")).as("l_distinct"))
      .withColumn("at_risk", col("l_distinct") < 3)
  query("q_l_diversity", lDiversityQ,
    """WITH d AS (
      |  SELECT lang, source,
      |    CASE WHEN n_chars <= 1 THEN 1
      |         ELSE (CAST(1 AS BIGINT) << length(bin(n_chars - 1))) END AS sensitive
      |  FROM documents
      |)
      |SELECT lang, source, count(*) AS n,
      |  count(DISTINCT sensitive) AS l_distinct,
      |  count(DISTINCT sensitive) < 3 AS at_risk
      |FROM d GROUP BY 1, 2""".stripMargin)

  /** Exact order-statistic SELECTION without a global sort: the lower/upper
    * median and the discrete p90 of order totals picked by their exact
    * global rank through the range-sharded [[Analytics.rangedRank]] — the
    * 100 TB path to EXACT quantiles (`percentile()` buffers a group's
    * values in one aggregator; KLL approximates; this selects the k-th of
    * 10¹¹ rows with a boundary sample plus one partitioned rank pass and
    * a rank-literal filter). Target ranks come from the rank pass's own
    * total-count column, so nothing is collected.
    */
  private def medianSelectQ(s: SparkSession, dir: String): DataFrame =
    Analytics.rangedRank(
        t(s, dir, "orders").select(col("o_totalprice"), col("o_orderkey")),
        Seq.empty, Seq(col("o_totalprice"), col("o_orderkey")))
      .filter(expr("rn = (n_part + 1) div 2 OR rn = (n_part + 2) div 2 " +
        "OR rn = (n_part * 9 + 9) div 10"))
      .select(
        when(col("rn") === expr("(n_part + 1) div 2"), "median_lo")
          .when(col("rn") === expr("(n_part + 2) div 2"), "median_hi")
          .otherwise("p90").as("stat"),
        col("rn").cast("long").as("rn"),
        round(col("o_totalprice"), 6).as("value"))
  // exact rank selection: the oracle's one-reducer window replays the
  // range-sharded global rank; identical div arithmetic for the targets
  query("q_median_select", medianSelectQ,
    """WITH r AS (
      |  SELECT o_totalprice AS v,
      |    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM orders
      |)
      |SELECT CASE WHEN rn = (n + 1) // 2 THEN 'median_lo'
      |            WHEN rn = (n + 2) // 2 THEN 'median_hi'
      |            ELSE 'p90' END AS stat,
      |  CAST(rn AS BIGINT) AS rn, round(v, 6) AS value
      |FROM r
      |WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2 OR rn = (n * 9 + 9) // 10""".stripMargin)

  /** Per-GROUP exact median by rank selection: the lower median of token
    * count for every language, picked by exact per-group rank through the
    * same range-sharded machinery as [[medianSelectQ]] — the grouped
    * variant `percentile()` can't do memory-bounded (it buffers each
    * group's values in one aggregator; this holds nothing beyond the
    * boundary sample and per-shard prefix table at ANY group size or
    * skew). Target rank comes from the rank pass's own per-group total.
    */
  private def groupMedianQ(s: SparkSession, dir: String): DataFrame =
    Analytics.rangedRank(
        t(s, dir, "documents").select(col("lang"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("doc_id")),
        Seq("lang"), Seq(col("n_tokens"), col("doc_id")))
      .filter(expr("rn = (n_part + 1) div 2"))
      .select(col("lang"), col("n_part").cast("long").as("n_docs"),
        col("rn").cast("long").as("rn"), col("n_tokens").as("median_tokens"))
  // grouped exact median: per-lang rank + count windows replay the
  // range-sharded per-group rank, identical target-rank arithmetic
  query("q_group_median", groupMedianQ,
    s"""WITH d AS (
       |  SELECT lang, CAST(len($duckToks) AS BIGINT) AS n_tokens, doc_id
       |  FROM documents
       |), r AS (
       |  SELECT lang, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM d
       |)
       |SELECT lang, CAST(n AS BIGINT) AS n_docs, CAST(rn AS BIGINT) AS rn,
       |  n_tokens AS median_tokens
       |FROM r WHERE rn = (n + 1) // 2""".stripMargin)

  /** Systematic 1% sample over the quality-ordered frame: every 100th
    * document of the (quality DESC, id) order — the classic survey design
    * that guarantees even coverage of the quality spectrum (a uniform
    * hash sample can cluster; the systematic frame cannot), ranked by the
    * same range-sharded machinery, no global sort.
    */
  private def systematicSampleQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TF.qualityScore(col("text")).as("quality"))
    Analytics.rangedRank(d, Seq.empty, Seq(negate(col("quality")), col("doc_id")))
      .filter(pmod(col("rn") - 1L, lit(100L)) === 0L)
      .select(col("rn").cast("long").as("rn"), col("doc_id"), col("source"),
        col("quality"))
  }
  // systematic 1% over the (quality DESC, id) frame; rank replay via the
  // quality CTE, stride filter identical
  query("q_systematic_sample", systematicSampleQ,
    s"""WITH dq AS ($duckQualitySql),
       |d AS (
       |  SELECT doc.doc_id, doc.source, q.quality
       |  FROM documents doc JOIN dq q ON q.doc_id = doc.doc_id
       |), r AS (
       |  SELECT doc_id, source, quality,
       |    ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rn
       |  FROM d
       |)
       |SELECT CAST(rn AS BIGINT) AS rn, doc_id, source, quality
       |FROM r WHERE (rn - 1) % 100 = 0""".stripMargin)

  /** Randomization test for the weekend effect: the observed
    * weekend-vs-weekday mean-value difference against 200 hash-derived
    * random relabelings (randomization inference — the assumption-free
    * companion to [[weekendEffectQ]]'s Welch t: no normality, no variance
    * model, the null is "labels don't matter"). Every per-relabeling
    * group sum is an exact decimal (one ×200 scan-side generator,
    * map-side partials, 200 census rows), each mean difference ONE double
    * expression, and the p-value the standard (1 + #{|perm| ≥ |obs|}) /
    * (B + 1) — all deterministic from the order-key hash, so the p-value
    * itself replays bit-for-bit.
    */
  private def permTestQ(s: SparkSession, dir: String): DataFrame = {
    val b = 200
    val isW = (((dayofweek(col("o_orderdate")) + lit(5)) % lit(7)) + lit(1)) >= 6
    // exact LONG cents, not DECIMAL(19,4): the ×200 generator pushes 30M
    // rows at sf0.1 through FOUR conditional sums, and long partials run
    // ~5× the decimal aggregator's throughput (measured 7.9 → 1.6 s warm,
    // solo); 2-dp money ×100 rounds to an exact integer on both engines
    // fan out the 3-column base: the ×200 generator + 30M conditional long
    // sums all execute BEFORE any exchange (the groupBy(b) partials
    // collapse to 200 rows/partition), so on a single-file orders scan the
    // whole permutation kernel ran one-core; the exchange ships 150k slim
    // rows, the kernel then runs 32-way
    val base = graft.operators.Par.fanOut(
      t(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0).cast("long").as("y"), isW.as("w")), Seq("o_orderkey"))
    val d = (c: Column) => c.cast("double")
    // diffs stay in cents (scale cancels in the |perm| >= |obs| compare);
    // only the published obs_diff converts back to currency units
    def diff(nA: Column, sA: Column, nB: Column, sB: Column): Column =
      d(sA) / d(nA) - d(sB) / d(nB)
    val obs = base.agg(
        sum(when(col("w"), 1L).otherwise(0L)).as("na"),
        sum(when(col("w"), col("y"))).as("sa"),
        sum(when(!col("w"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("w"), col("y"))).as("sb"))
      .select(diff(col("na"), col("sa"), col("nb"), col("sb")).as("obs_diff"))
    // explode a CONSTANT literal array, not sequence(): sequence() builds a
    // fresh 200-element array PER ROW (measured 7.9 s warm at sf0.1); the
    // literal is one shared ArrayData the generator just iterates
    val reps = base.select(col("o_orderkey"), col("y"),
      explode(typedlit((0 until b).toArray)).as("b"))
    // per-(row, relabeling) coin: the Knuth multiplicative-mod-prime mix
    // q_randomized_response uses — integer-only, so the ×200 generator
    // costs arithmetic, not string hashing, on both engines
    val flip = pmod(pmod(col("o_orderkey") * b + col("b"), lit(1000000007L)) *
      lit(2654435761L), lit(1000000007L)) % 2L === 0L
    val perms = reps
      .groupBy(col("b"))
      .agg(sum(when(flip, 1L).otherwise(0L)).as("na"),
        sum(when(flip, col("y"))).as("sa"),
        sum(when(!flip, 1L).otherwise(0L)).as("nb"),
        sum(when(!flip, col("y"))).as("sb"))
      .select(col("b"), diff(col("na"), col("sa"), col("nb"), col("sb")).as("pd"))
    perms.crossJoin(obs)
      .agg(count(lit(1)).as("b_perms"),
        sum(when(abs(col("pd")) >= abs(col("obs_diff")), 1L).otherwise(0L)).as("n_ge"),
        max(col("obs_diff")).as("od"))
      .select(col("b_perms"), round(col("od") / 100.0, 6).as("obs_diff"), col("n_ge"),
        round((col("n_ge") + 1L).cast("double") /
          (col("b_perms") + 1L).cast("double"), 6).as("p_value"))
  }
  // randomization test: the Knuth modular coin per (row, relabeling),
  // exact decimal group sums per relabeling, mean diffs and the p-value
  // as the identical double expressions
  query("q_perm_test", permTestQ,
    """WITH base AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100.0) AS BIGINT) AS y,
      |    isodow(CAST(o_orderdate AS DATE)) >= 6 AS w
      |  FROM orders
      |), obs AS (
      |  SELECT CAST(SUM(CASE WHEN w THEN y END) AS DOUBLE)
      |       / CAST(SUM(CASE WHEN w THEN 1 ELSE 0 END) AS DOUBLE)
      |       - CAST(SUM(CASE WHEN NOT w THEN y END) AS DOUBLE)
      |       / CAST(SUM(CASE WHEN NOT w THEN 1 ELSE 0 END) AS DOUBLE) AS obs_diff
      |  FROM base
      |), rep AS (
      |  SELECT base.o_orderkey, base.y, g.b
      |  FROM base CROSS JOIN (SELECT unnest(range(0, 200)) AS b) g
      |), f AS (
      |  SELECT b, y,
      |    (((o_orderkey * 200 + b) % 1000000007) * 2654435761) % 1000000007 % 2 = 0 AS fl
      |  FROM rep
      |), p AS (
      |  SELECT b,
      |    CAST(SUM(CASE WHEN fl THEN y END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN fl THEN 1 ELSE 0 END) AS DOUBLE)
      |    - CAST(SUM(CASE WHEN NOT fl THEN y END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN NOT fl THEN 1 ELSE 0 END) AS DOUBLE) AS pd
      |  FROM f GROUP BY 1
      |)
      |SELECT COUNT(*) AS b_perms,
      |  round((SELECT obs_diff FROM obs) / 100.0, 6) AS obs_diff,
      |  CAST(SUM(CASE WHEN abs(pd) >= abs((SELECT obs_diff FROM obs)) THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
      |  round(CAST(SUM(CASE WHEN abs(pd) >= abs((SELECT obs_diff FROM obs)) THEN 1 ELSE 0 END) + 1 AS DOUBLE)
      |    / CAST(COUNT(*) + 1 AS DOUBLE), 6) AS p_value
      |FROM p""".stripMargin)
}
