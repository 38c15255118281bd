package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.functions.{TextFunctions => TF}
import graft.dedup.Dedup
import graft.pipeline.TrainingData
import graft.SparkEntry.{t, tableCount}
import graft.queries.SharedSql.{duckCos, duckFnvU, duckQualitySql, duckShingleCtes, duckToks, duckU2S}

/** Registry queries of the training-data pipeline: quality filters,
  * decontamination, mixing, packing and splits. Each query registers with its
  * oracle right after its body.
  */
private[graft] object TrainingDataQueries extends QueryFamily {

  /** Group-leakage-free train/val/test split (GroupShuffleSplit): the
    * split is a pure function of the GROUP key (user), not the row, so
    * all of a user's events land in one split — the guard against
    * near-duplicate leakage across splits that a row-hash split cannot
    * give. Deterministic content hash (fnv1a64, power-of-two modulus →
    * engine-portable), 12/2/2 sixteenths = 75/12.5/12.5. The audit column
    * re-derives the invariant from the DATA (max distinct splits per
    * user == 1) rather than trusting the construction. One census
    * aggregate + one 1-row broadcast; the corpus never shuffles.
    */
  private def leakageSplitQ(s: SparkSession, dir: String): DataFrame = {
    val b = pmod(TF.fnv1a64(concat(lit("split#"), col("user_id").cast("string"))),
      lit(16L))
    val split = when(b < 12, "train").when(b < 14, "val").otherwise("test")
    val tagged = t(s, dir, "events").select(col("user_id"), split.as("split"))
    val audit = tagged.groupBy(col("user_id"))
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k")).as("mx"))
    tagged.groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(audit))
      .withColumn("leak_free", col("mx") === 1L)
      .drop("mx")
  }
  // group-hash split replay: same fnv('split#' || user) % 16 buckets,
  // same 12/2/2 carve, same data-derived leak audit
  query("q_leakage_split", leakageSplitQ,
    s"""WITH tg AS (
       |  SELECT user_id,
       |    CASE WHEN m < 12 THEN 'train' WHEN m < 14 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT user_id,
       |          CAST(${duckFnvU("('split#' || CAST(user_id AS VARCHAR))")} % 16 AS BIGINT) AS m
       |        FROM events)),
       |a AS (SELECT max(k) AS mx FROM
       |        (SELECT user_id, count(DISTINCT split) AS k FROM tg GROUP BY 1))
       |SELECT split, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |  (SELECT mx FROM a) = 1 AS leak_free
       |FROM tg GROUP BY 1""".stripMargin)

  /** Walk-forward time split with a purge embargo (the leakage-safe CV for
    * temporal data: train strictly precedes validation, and the 6 h before
    * each validation window is EMBARGOED from train so look-ahead features
    * computed near the boundary cannot leak). Three equal time slices from
    * the observed [min, max] span — fold 1 trains on slice 0 and validates
    * on slice 1, fold 2 trains on slices 0-1 and validates on slice 2.
    * One corpus scan: the span bounds are a 1-row broadcast, fold
    * boundaries are integer-micros arithmetic, and all six counts come from
    * conditional sums in a single aggregate, unpivoted to one row per fold.
    */
  private def timeSplitQ(s: SparkSession, dir: String): DataFrame = {
    val embargoUs = 21600000000L // 6 hours
    val ev = t(s, dir, "events").select(unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val withB = ev.crossJoin(broadcast(bounds))
      .withColumn("b1", expr("mn + (mx - mn + 1) div 3"))       // integer div:
      .withColumn("b2", expr("mn + ((mx - mn + 1) * 2) div 3")) // `/` would go double
    val agg = withB.agg(
      sum(when(col("us") < col("b1") - embargoUs, 1L).otherwise(0L)).as("t1"),
      sum(when(col("us") >= col("b1") - embargoUs && col("us") < col("b1"), 1L).otherwise(0L)).as("e1"),
      sum(when(col("us") >= col("b1") && col("us") < col("b2"), 1L).otherwise(0L)).as("v1"),
      sum(when(col("us") < col("b2") - embargoUs, 1L).otherwise(0L)).as("t2"),
      sum(when(col("us") >= col("b2") - embargoUs && col("us") < col("b2"), 1L).otherwise(0L)).as("e2"),
      sum(when(col("us") >= col("b2"), 1L).otherwise(0L)).as("v2"))
    agg.select(expr(
      """stack(2,
        |  CAST(1 AS BIGINT), t1, e1, v1,
        |  CAST(2 AS BIGINT), t2, e2, v2) AS (fold, train_rows, embargoed_rows, val_rows)""".stripMargin))
  }
  query("q_time_split", timeSplitQ,
    """WITH e AS (SELECT epoch_us(ts) AS us FROM events),
      |b AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
      |w AS (SELECT us, mn + (mx - mn + 1) // 3 AS b1,
      |        mn + ((mx - mn + 1) * 2) // 3 AS b2
      |      FROM e, b),
      |a AS (SELECT
      |  sum(CASE WHEN us < b1 - 21600000000 THEN 1 ELSE 0 END) AS t1,
      |  sum(CASE WHEN us >= b1 - 21600000000 AND us < b1 THEN 1 ELSE 0 END) AS e1,
      |  sum(CASE WHEN us >= b1 AND us < b2 THEN 1 ELSE 0 END) AS v1,
      |  sum(CASE WHEN us < b2 - 21600000000 THEN 1 ELSE 0 END) AS t2,
      |  sum(CASE WHEN us >= b2 - 21600000000 AND us < b2 THEN 1 ELSE 0 END) AS e2,
      |  sum(CASE WHEN us >= b2 THEN 1 ELSE 0 END) AS v2
      |FROM w)
      |SELECT CAST(1 AS BIGINT) AS fold, CAST(t1 AS BIGINT) AS train_rows,
      |  CAST(e1 AS BIGINT) AS embargoed_rows, CAST(v1 AS BIGINT) AS val_rows FROM a
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(t2 AS BIGINT), CAST(e2 AS BIGINT),
      |  CAST(v2 AS BIGINT) FROM a""".stripMargin)

  /** α-temperature (α = 1/2) mixture over the five-language corpus —
    * shares derived from the census itself, not supplied.
    */
  private def temperatureMixQ(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "fr", "es", "zh", "de")
    val docs = t(s, dir, "documents").filter(col("lang").isin(langs: _*))
    TrainingData.temperatureMix(docs, "lang", "doc_id", "text", langs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }
  // α-temperature mixture, α = 1/2: shares w = sqrt(census tokens)
  // (sqrt is IEEE-correctly-rounded — engine-portable where pow is not),
  // normalizer Σw as the l-t-r fold in sorted stratum order, then the
  // q_mix_corpus binding-stratum + integer-threshold + FNV keep rule
  query("q_temperature_mix", temperatureMixQ,
    s"""WITH tok AS (
       |  SELECT doc_id, lang, len($duckToks) AS nt FROM documents
       |  WHERE lang IN ('de','en','es','fr','zh')
       |), census AS (
       |  SELECT lang, CAST(sum(nt) AS BIGINT) AS t FROM tok GROUP BY lang
       |), wv AS (
       |  SELECT lang, t, sqrt(CAST(t AS DOUBLE)) AS w FROM census
       |), wt AS (
       |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list(w ORDER BY lang)), (a, b) -> a + b) AS wt FROM wv
       |), pv AS (
       |  SELECT lang, t, w / wt.wt AS p FROM wv, wt
       |), mm AS (
       |  SELECT min(CAST(t AS DOUBLE) / p) AS m FROM pv
       |), thr AS (
       |  SELECT lang, CAST(round(p * mm.m / CAST(t AS DOUBLE) * 1000000, 0) AS BIGINT) AS th
       |  FROM pv, mm
       |), hh AS (
       |  SELECT k.doc_id, k.lang, k.nt, thr.th,
       |    ${duckFnvU("CAST(k.doc_id AS VARCHAR)")} AS hu
       |  FROM tok k JOIN thr ON thr.lang = k.lang
       |), keepd AS (
       |  SELECT lang, nt FROM (SELECT lang, nt, th, ${duckU2S("hu")} AS hsv FROM hh)
       |  WHERE ((hsv % 1000000) + 1000000) % 1000000 < th
       |)
       |SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM keepd GROUP BY lang""".stripMargin)

  /** UniMax water-filled mixture over the five-language corpus (Chung et
    * al. 2023): budget = 1.5× the measured tokens, epoch cap 2 — with this
    * census the four low-resource languages are capacity-bound (repeated
    * exactly twice, `n_rows` ≈ 2× their doc count), and the high-resource
    * one receives the remaining water level (~0.86 epochs), the allocation
    * shape temperature sampling cannot produce. Both parameters are
    * short-mantissa doubles so every capacity and cumulative sum is an
    * exact integer-valued double and the oracle replays bit-for-bit.
    */
  private def unimaxMixQ(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "fr", "es", "zh", "de")
    val docs = t(s, dir, "documents").filter(col("lang").isin(langs: _*))
    TrainingData.unimaxMix(docs, "lang", "doc_id", "text", langs,
        budget = 1.5, epochCap = 2.0, budgetIsFraction = true)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }
  // UniMax water-filling replay: capacities c = 2.0 * census tokens are
  // exact integer-valued doubles, so the windowed cumulative sum equals
  // the engine's left-to-right fold regardless of summation order; the
  // water level is the FIRST (ascending capacity, lang tiebreak)
  // equal-share candidate (B - cum)/(k - i + 1) that fits under its own
  // cap (NULL = budget covers total capacity, all capped); per-stratum
  // epochs r = min(c, theta)/t, then the q_upsample_epochs emission:
  // floor(r) full copies via unnest(range) + the FNV fractional copy
  query("q_unimax_mix", unimaxMixQ,
    s"""WITH tok AS (
       |  SELECT doc_id, lang, len($duckToks) AS nt FROM documents
       |  WHERE lang IN ('de','en','es','fr','zh')
       |), census AS (
       |  SELECT lang, CAST(sum(nt) AS BIGINT) AS t FROM tok GROUP BY lang
       |), tt AS (
       |  SELECT CAST(sum(t) AS BIGINT) AS tot FROM census
       |), cap AS (
       |  SELECT lang, t, 2.0 * CAST(t AS DOUBLE) AS c FROM census
       |), ord AS (
       |  SELECT lang, t, c,
       |    row_number() OVER (ORDER BY c, lang) AS i,
       |    count(*) OVER () AS k,
       |    COALESCE(sum(c) OVER (ORDER BY c, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cb
       |  FROM cap
       |), wl AS (
       |  SELECT th FROM (
       |    SELECT i, c, (1.5 * CAST(tt.tot AS DOUBLE) - cb) / (k - i + 1) AS th
       |    FROM ord, tt
       |  ) WHERE th <= c ORDER BY i LIMIT 1
       |), alloc AS (
       |  SELECT lang, t,
       |    (CASE WHEN (SELECT th FROM wl) IS NULL THEN c
       |          ELSE least(c, (SELECT th FROM wl)) END) / CAST(t AS DOUBLE) AS r
       |  FROM ord
       |), par AS (
       |  SELECT lang, CAST(floor(r) AS BIGINT) AS nfull,
       |    CAST(round((r - floor(r)) * 1000000, 0) AS BIGINT) AS th FROM alloc
       |), hh AS (
       |  SELECT d.doc_id, d.lang, d.nt, par.nfull, par.th,
       |    ${duckFnvU("CAST(d.doc_id AS VARCHAR)")} AS hu
       |  FROM tok d JOIN par ON par.lang = d.lang
       |), nn AS (
       |  SELECT doc_id, lang, nt,
       |    nfull + CASE WHEN ((hsv % 1000000) + 1000000) % 1000000 < th
       |                 THEN 1 ELSE 0 END AS n
       |  FROM (SELECT doc_id, lang, nt, nfull, th, ${duckU2S("hu")} AS hsv FROM hh)
       |)
       |SELECT lang, count(*) AS n_rows, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM nn, unnest(range(0, n)) AS u(c) GROUP BY lang""".stripMargin)

  /** Greedy token-budget selection by quality: the budget admits the
    * highest-quality prefix; wholly-out shards are pruned before any sort
    * (quality is the 6dp-rounded score, so the priority key is bit-portable;
    * doc_id breaks ties totally).
    */
  private def budgetSelectQ(s: SparkSession, dir: String): DataFrame =
    Analytics.budgetSelect(
      t(s, dir, "documents").select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens")),
      orderCols = Seq(negate(col("quality")), col("doc_id")),
      tokens = col("n_tokens"), budget = 15000L)
  // Budget selection: the greedy quality-priority prefix replayed as ONE
  // global cumulative window (the oracle may single-thread; the operator
  // must not) — priority = 6dp quality DESC ≡ the Spark side's negated
  // ascending key, inclusive running total, strict <= budget cut
  query("q_budget_select", budgetSelectQ,
    s"""WITH dq AS ($duckQualitySql),
       |tok AS (SELECT doc_id, len($duckToks) AS nt FROM documents),
       |j AS (
       |  SELECT d.doc_id, d.quality, CAST(t.nt AS BIGINT) AS n_tokens
       |  FROM dq d JOIN tok t USING (doc_id)
       |), c AS (
       |  SELECT doc_id, quality, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM j
       |)
       |SELECT doc_id, quality, n_tokens, cum_tokens FROM c
       |WHERE cum_tokens <= 15000""".stripMargin)

  /** Training sequences of 512 tokens across document boundaries, documents
    * laid end-to-end in doc_id order — every number in the output is pure
    * integer arithmetic on the exact sharded global prefix sum.
    */
  private def seqWindowsQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.seqWindows(
      t(s, dir, "documents").select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens")),
      Seq(col("doc_id")), col("n_tokens"), seqLen = 512L)
      .select(col("seq_id"), col("doc_id"), col("doc_off"), col("n_toks"))
  // Sequence windows: global inclusive prefix sum in doc_id order, then
  // each doc emits one row per overlapped 512-token window — all-integer
  // arithmetic, floor-division == `//` on non-negative BIGINTs
  query("q_seq_windows", seqWindowsQ,
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS nt FROM documents
       |), c AS (
       |  SELECT doc_id, nt,
       |    CAST(SUM(nt) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM tok
       |), s AS (
       |  SELECT doc_id, nt, cum, cum - nt AS strt FROM c WHERE nt > 0
       |), e AS (
       |  SELECT doc_id, nt, cum, strt,
       |    unnest(range(strt // 512, (cum - 1) // 512 + 1)) AS seq_id
       |  FROM s
       |)
       |SELECT seq_id, doc_id,
       |  greatest(CAST(0 AS BIGINT), strt - seq_id * 512) AS doc_off,
       |  least(cum, (seq_id + 1) * 512) - greatest(strt, seq_id * 512) AS n_toks
       |FROM e""".stripMargin)

  /** Curriculum interleave: within every source, documents ranked by
    * (quality DESC, id) through the range-sharded per-source rank, then
    * dealt into one global order position = (rank − 1)·|sources| + source
    * index — the "best of each source first, sources round-robin"
    * curriculum an epoch builder materializes (a pure quality sort would
    * let one source monopolize the head of training). First 1000 positions
    * returned. The source census is a bounded collect; the rank is
    * [[Analytics.rangedRank]] — no |sources|-task window.
    */
  private def curriculumQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TF.qualityScore(col("text")).as("quality"))
    val sources = d.select(col("source")).distinct()
      .orderBy(col("source")).collect().map(_.getString(0))
    val idx = typedlit(sources.zipWithIndex.map { case (s0, i) => s0 -> i }.toMap)
    Analytics.rangedRank(d, Seq("source"), Seq(negate(col("quality")), col("doc_id")))
      .select(((col("rn") - 1L) * sources.length +
          element_at(idx, col("source")).cast("long")).as("position"),
        col("doc_id"), col("source"), col("rn").cast("long").as("rn"))
      .filter(col("position") < 1000L)
  }
  // curriculum interleave: per-source (quality DESC, id) ranks dealt
  // round-robin across the sorted source census; first 1000 positions
  query("q_curriculum", curriculumQ,
    s"""WITH dq AS ($duckQualitySql),
       |d AS (
       |  SELECT doc.doc_id, doc.source, q.quality
       |  FROM documents doc JOIN dq q ON q.doc_id = doc.doc_id
       |), srcs AS (
       |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS idx,
       |    COUNT(*) OVER () AS k
       |  FROM (SELECT DISTINCT source FROM documents)
       |), r AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
       |  FROM d
       |)
       |SELECT CAST((r.rn - 1) * s.k + s.idx AS BIGINT) AS position,
       |  r.doc_id, r.source, CAST(r.rn AS BIGINT) AS rn
       |FROM r JOIN srcs s USING (source)
       |WHERE (r.rn - 1) * s.k + s.idx < 1000""".stripMargin)

  /** Quality-for-length forensics: the 20 documents whose quality score
    * deviates most from the corpus-wide quality~length OLS line
    * ([[Analytics.olsTrend]] — exact moment sums, one closed-form double).
    * A raw quality ranking mostly re-ranks by length; the residual
    * surfaces the docs that are suspiciously good (template/spam that
    * games the score) or bad FOR THEIR SIZE — the review queue a curation
    * pass actually wants. Residuals use the published (rounded) fit, so
    * the whole row replays.
    */
  private def qualityResidualsQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      TF.qualityScore(col("text")).as("quality"))
    val fit = Analytics.olsTrend(d, Seq.empty, col("n_chars"), col("quality"))
    d.crossJoin(fit.select(col("slope"), col("intercept")))
      .select(col("doc_id"), col("n_chars"), col("quality"),
        round(col("quality") - (col("slope") * col("n_chars") + col("intercept")), 6)
          .as("residual"))
      .orderBy(abs(col("residual")).desc, col("doc_id"))
      .limit(20)
  }
  // quality~length residuals: the olsTrend moment/closed-form replay on
  // the global group, residuals from the PUBLISHED (rounded) fit, top-20
  // by |residual| with id tiebreak
  query("q_quality_residuals", qualityResidualsQ,
    s"""WITH dq AS ($duckQualitySql),
       |d AS (
       |  SELECT doc.doc_id, doc.n_chars, q.quality
       |  FROM documents doc JOIN dq q ON q.doc_id = doc.doc_id
       |), j AS (
       |  SELECT CAST(n_chars AS DECIMAL(20,0)) AS x,
       |    CAST(quality AS DECIMAL(19,4)) AS y
       |  FROM d
       |), m AS (
       |  SELECT count(*) AS n, sum(x) AS sx, sum(x*x) AS sxx,
       |    sum(y) AS sy, sum(y*x) AS sxy
       |  FROM j
       |), e AS (
       |  SELECT CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
       |    CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS dx,
       |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
       |    CAST(n AS DOUBLE) AS nd
       |  FROM m
       |), f AS (
       |  SELECT round(num / NULLIF(dx, 0), 6) AS slope,
       |    round((syd - (num / NULLIF(dx, 0)) * sxd) / nd, 6) AS intercept
       |  FROM e
       |)
       |SELECT doc_id, n_chars, quality,
       |  round(quality - (slope * n_chars + intercept), 6) AS residual
       |FROM d CROSS JOIN f
       |ORDER BY abs(round(quality - (slope * n_chars + intercept), 6)) DESC, doc_id
       |LIMIT 20""".stripMargin)

  /** Per-source rank calibration of the quality score: raw quality is not
    * comparable across domains (a median news article outscores a great
    * forum post), so each document gets its within-source percent rank —
    * computed by the range-sharded [[Analytics.rangedRank]], never a
    * |sources|-task window.
    */
  private def qualityCalibratedQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TF.qualityScore(col("text")).as("quality"))
    Analytics.rangedRank(d, Seq("source"), Seq(col("quality"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("quality"),
        round(Analytics.percentRankOf(col("rn"), col("n_part")), 6).as("q_rank"))
  }
  // Rank calibration: percent_rank is (rn−1)/(n−1) of the global row
  // number — identical closed form on both engines (q_percent_rank
  // precedent), partitioned by source over the (quality, doc_id) total order
  query("q_quality_calibrated", qualityCalibratedQ,
    s"""WITH dq AS ($duckQualitySql),
       |j AS (
       |  SELECT d.doc_id, d.source, q.quality
       |  FROM documents d JOIN dq q USING (doc_id)
       |)
       |SELECT doc_id, source, quality,
       |  round(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 6) AS q_rank
       |FROM j""".stripMargin)

  /** Corpus datasheet: per source × lang rollup with exact counts and
    * integer-derived averages (float sums across partitions are order-
    * dependent — avg_chars divides two EXACT longs; quality spread uses
    * min/max, which commute).
    */
  private def corpusDatasheetQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("source"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("__nt"),
        length(col("text")).cast("long").as("__nc"),
        TF.qualityScore(col("text")).as("__q"))
    Analytics.rollupAgg(d, Seq(col("source"), col("lang")),
      Seq(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        round(sum(col("__nc")).cast("double") / count(lit(1)), 6).as("avg_chars"),
        min(col("__q")).as("min_quality"),
        max(col("__q")).as("max_quality")))
  }
  // Datasheet rollup: exact integer census per (source, lang) grouping
  // set; averages divide two exact BIGINTs, quality spread via min/max —
  // no float aggregate whose value depends on partition order
  query("q_corpus_datasheet", corpusDatasheetQ,
    s"""WITH dq AS ($duckQualitySql),
       |base AS (
       |  SELECT d.source, d.lang, len($duckToks) AS nt, len(d.text) AS nc, q.quality
       |  FROM documents d JOIN dq q USING (doc_id)
       |)
       |SELECT COALESCE(CAST(source AS VARCHAR), 'ALL') AS source,
       |  COALESCE(CAST(lang AS VARCHAR), 'ALL') AS lang,
       |  count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  round(CAST(CAST(sum(nc) AS BIGINT) AS DOUBLE) / count(*), 6) AS avg_chars,
       |  min(quality) AS min_quality,
       |  max(quality) AS max_quality
       |FROM base
       |GROUP BY ROLLUP(source, lang)""".stripMargin)

  /** Gopher quality rules as flat boolean flags + the AND-composite keep. */
  private def gopherFilterQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TF.gopherFlags(col("text")).as("g"))
      .select(col("doc_id"), col("g.f_wc").as("f_wc"), col("g.f_mwl").as("f_mwl"),
        col("g.f_symbol").as("f_symbol"), col("g.f_bullet").as("f_bullet"),
        col("g.f_ellipsis").as("f_ellipsis"), col("g.f_alpha").as("f_alpha"),
        col("g.f_stop").as("f_stop"), col("g.keep").as("keep"))
  // Gopher rules: every threshold is evaluated in integer arithmetic
  // (cross-multiplied), so the booleans are engine-exact — no float
  // ratio near a boundary.
  query("q_gopher_filter", gopherFilterQ,
    s"""WITH t AS (
       |  SELECT doc_id, text, $duckToks AS w FROM documents
       |), m AS (
       |  SELECT doc_id, len(w) AS words,
       |    coalesce(list_sum([len(x) FOR x IN w]), 0) AS chars,
       |    len(text) - len(replace(text, '#', '')) AS hashes,
       |    (len(text) - len(replace(text, '...', ''))) // 3
       |      + (len(text) - len(replace(text, '…', ''))) AS dots,
       |    greatest(len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0]), 1) AS nlines,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(trim(l), '^[-*•]')]) AS bullets,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$')]) AS ells,
       |    len([x FOR x IN w IF regexp_matches(x, '[a-z]')]) AS alphaw,
       |    len(list_intersect(list_distinct(w), ['the','be','to','of','and','that','have','with'])) AS stops
       |  FROM t)
       |SELECT doc_id,
       |  words >= 50 AND words <= 100000 AS f_wc,
       |  chars >= words*3 AND chars <= words*10 AS f_mwl,
       |  hashes*10 <= words AND dots*10 <= words AS f_symbol,
       |  bullets*10 <= nlines*9 AS f_bullet,
       |  ells*10 <= nlines*3 AS f_ellipsis,
       |  alphaw*5 >= words*4 AS f_alpha,
       |  stops >= 2 AS f_stop,
       |  (words >= 50 AND words <= 100000) AND (chars >= words*3 AND chars <= words*10)
       |    AND (hashes*10 <= words AND dots*10 <= words)
       |    AND bullets*10 <= nlines*9 AND ells*10 <= nlines*3
       |    AND alphaw*5 >= words*4 AND stops >= 2 AS keep
       |FROM m""".stripMargin)

  /** 5-gram containment report — shared by q_decontaminate and (identical
    * output, bloom-prefiltered plan) q_bloom_decontaminate.
    */
  private val duckDecontaminateSql =
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |), bs AS (
       |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 4 = 0
       |), hits AS (
       |  SELECT t.doc_id, t.n_shingles, COUNT(*) AS n_shared
       |  FROM (SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS s
       |        FROM sh WHERE doc_id % 4 != 0) t
       |  JOIN bs USING (s) GROUP BY 1, 2
       |)
       |SELECT doc_id, n_shared,
       |  round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS containment
       |FROM hits""".stripMargin

  /** Benchmark decontamination: docs with doc_id % 4 == 0 play the benchmark
    * corpus, the rest are training docs; report shared-5-gram containment.
    */
  private def decontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    TrainingData.contaminationReport(
      d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", n = 5)
  }
  query("q_decontaminate", decontaminateQ, duckDecontaminateSql)

  /** CCNet-style LM quality signal: hashed-bigram model from the doc_id%5
    * target slice, per-doc mean negative log-prob. Oracle recomputes both
    * histograms and replays the ordered summation.
    */
  private def perplexityQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    TrainingData.perplexityScore(d, d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
  }
  // hashed-bigram LM replayed end to end: target bigram/context bucket
  // histograms recomputed (pmod == unsigned % for the 2^14 bucket count),
  // per-position term = ln(c2+1) - ln(c1+B) joined from the histograms,
  // per-doc summation ordered by position (list ORDER BY ord), negate
  // then divide — the exact float op order of the engine
  query("q_perplexity", perplexityQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS ord,
       |    w[i - 1] AS prev, w[i] AS tok, len(w) - 1 AS npos
       |  FROM toksrc, unnest(range(2, len(w) + 1)) AS u(i) WHERE len(w) >= 2
       |), pb AS (
       |  SELECT doc_id, ord, npos, prev || ' ' || tok AS bg, prev FROM pos
       |), pk AS (
       |  SELECT doc_id, ord, npos,
       |    CAST(${duckFnvU("bg")} % 16384 AS BIGINT) AS b2,
       |    CAST(${duckFnvU("prev")} % 16384 AS BIGINT) AS b1
       |  FROM pb
       |), cb AS (
       |  SELECT b2 AS b, count(*) AS c FROM pk WHERE doc_id % 5 = 0 GROUP BY 1
       |), cc AS (
       |  SELECT b1 AS b, count(*) AS c FROM pk WHERE doc_id % 5 = 0 GROUP BY 1
       |), term AS (
       |  SELECT pk.doc_id, pk.ord, pk.npos,
       |    ln(coalesce(cb.c, 0) + 1.0) - ln(coalesce(cc.c, 0) + 16384.0) AS t
       |  FROM pk LEFT JOIN cb ON cb.b = pk.b2 LEFT JOIN cc ON cc.b = pk.b1
       |), docs AS (
       |  SELECT doc_id, round((-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(t ORDER BY ord)), (a, x) -> a + x))) / npos, 6) AS nll
       |  FROM term GROUP BY doc_id, npos
       |)
       |SELECT d.doc_id, coalesce(s.nll, 0.0) AS nll
       |FROM documents d LEFT JOIN docs s ON s.doc_id = d.doc_id""".stripMargin)

  /** Per-stratum fractional quality gate: keep the top 30% of documents per
    * language by quality score — the "dynamic threshold" curation step done
    * RANK-based (`rn · 10 ≤ n · 3`, exact integers) instead of
    * quantile-threshold-based, so there is no float-interpolation boundary
    * to disagree on between engines. Rides [[graft.operators.Analytics
    * .rangedRank]] — parallelism shards × languages, not |languages|.
    */
  private def topFracQualityQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Analytics
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), TF.qualityScore(col("text")).as("q"))
    Analytics.rangedRank(scored, Seq("lang"),
        Seq(negate(col("q")), col("doc_id")))
      .filter(col("rn") * 10 <= col("n_part") * 3)
      .select(col("doc_id"), col("lang"), col("q"))
  }
  // rank-based fractional gate: row_number over (quality DESC, doc_id)
  // per language + the integer keep rule — no quantile interpolation to
  // disagree on
  query("q_top_frac_quality", topFracQualityQ,
    s"""WITH dq AS ($duckQualitySql),
       |r AS (
       |  SELECT d.doc_id, d.lang, dq.quality AS q,
       |    ROW_NUMBER() OVER (PARTITION BY d.lang ORDER BY dq.quality DESC, d.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY d.lang) AS n
       |  FROM documents d JOIN dq ON dq.doc_id = d.doc_id
       |)
       |SELECT doc_id, lang, q FROM r WHERE rn * 10 <= n * 3""".stripMargin)

  /** Surgical decontamination: training docs (doc_id % 4 != 0) rewritten
    * with every 16-token run shared with the benchmark quarter removed —
    * drop-span, not drop-document. Oracle replays the cross-corpus span
    * match and the coverage rewrite.
    */
  private def decontaminateSpansQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    TrainingData.decontaminateSpans(
      d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", window = 16)
  }
  // cross-corpus span removal: train windows whose fingerprint appears in
  // the benchmark quarter become cuts (ALL occurrences), token kept iff
  // uncovered, text re-joined; train docs absent from the cut list pass
  // through with their ORIGINAL text byte-identically (whitespace intact —
  // only documents that actually lose a span are token-rejoined)
  query("q_decontaminate_spans", decontaminateSpansQ,
    s"""WITH t AS (
       |  SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w FROM documents WHERE doc_id % 4 != 0
       |), bt AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w FROM documents WHERE doc_id % 4 = 0
       |), sp0 AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    lower(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS gram
       |  FROM t, unnest(range(0, len(w) - 16 + 1)) AS u(i) WHERE len(w) >= 16
       |), sp AS (
       |  SELECT doc_id, pos, ${duckFnvU("gram")} AS hu FROM sp0
       |), sps AS (
       |  SELECT doc_id, pos, ${duckU2S("hu")} AS span_fp FROM sp
       |), bsp0 AS (
       |  SELECT lower(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS gram
       |  FROM bt, unnest(range(0, len(w) - 16 + 1)) AS u(i) WHERE len(w) >= 16
       |), bsp AS (
       |  SELECT ${duckFnvU("gram")} AS hu FROM bsp0
       |), bfp AS (
       |  SELECT DISTINCT ${duckU2S("hu")} AS span_fp FROM bsp
       |), cut AS (
       |  SELECT s.doc_id, s.pos FROM sps s JOIN bfp USING (span_fp)
       |), tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, w[i + 1] AS tk
       |  FROM t, unnest(range(0, len(w))) AS u(i)
       |  WHERE doc_id IN (SELECT doc_id FROM cut)
       |), kept AS (
       |  SELECT tk.doc_id, tk.i, tk.tk FROM tok tk
       |  WHERE NOT EXISTS (SELECT 1 FROM cut c
       |    WHERE c.doc_id = tk.doc_id AND tk.i >= c.pos AND tk.i < c.pos + 16)
       |)
       |SELECT t.doc_id,
       |  CASE WHEN t.doc_id IN (SELECT doc_id FROM cut)
       |       THEN COALESCE(k.text, '') ELSE t.text END AS text
       |FROM t LEFT JOIN (
       |  SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS text FROM kept GROUP BY doc_id
       |) k ON k.doc_id = t.doc_id""".stripMargin)

  /** Stride-1 repeated spans (Lee et al. exact-substring shape): every
    * occurrence of a 16-token run shared by ≥ 2 documents, wherever it
    * sits. Oracle regenerates every sliding window and its FNV fingerprint.
    */
  private def repeatedSpansQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", window = 16)
  // every stride-1 window regenerated, FNV-fingerprinted in HUGEINT,
  // reduced to the signed BIGINT Spark emits; repeats = fps in >= 2 docs
  query("q_repeated_spans", repeatedSpansQ,
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), tt AS (
       |  SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 16
       |), sp0 AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    array_to_string(list_slice(w, i + 1, i + 16), ' ') AS gram
       |  FROM tt, unnest(range(0, n - 16 + 1)) AS u(i)
       |), sp AS (
       |  SELECT doc_id, pos, ${duckFnvU("gram")} AS hu FROM sp0
       |), sps AS (
       |  SELECT doc_id, pos, ${duckU2S("hu")} AS span_fp FROM sp
       |), rep AS (
       |  SELECT span_fp, count(DISTINCT doc_id) AS n_docs FROM sps
       |  GROUP BY span_fp HAVING count(DISTINCT doc_id) >= 2
       |)
       |SELECT s.doc_id, s.pos, s.span_fp, r.n_docs
       |FROM sps s JOIN rep r USING (span_fp)""".stripMargin)

  /** The removal pass over the span cut list: every non-first occurrence of
    * a repeated 16-token span blanked, overlaps merged by token coverage.
    * Oracle replays first-occurrence selection and the coverage mask.
    */
  private def removeSpansQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.removeRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", window = 16)
  // the removal replay: same stride-1 census, first occurrence per fp by
  // (doc_id, pos), all other occurrences become cuts, token kept iff no
  // cut covers its index, text re-joined in token order (a doc losing
  // every token emits ''); docs with NO cuts keep their ORIGINAL text
  // byte-identically — whitespace intact
  query("q_remove_spans", removeSpansQ,
    s"""WITH t AS (
       |  SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w FROM documents
       |), tt AS (
       |  SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) >= 16
       |), sp0 AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    lower(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS gram
       |  FROM tt, unnest(range(0, n - 16 + 1)) AS u(i)
       |), sp AS (
       |  SELECT doc_id, pos, ${duckFnvU("gram")} AS hu FROM sp0
       |), sps AS (
       |  SELECT doc_id, pos, ${duckU2S("hu")} AS span_fp FROM sp
       |), rep AS (
       |  SELECT span_fp FROM sps GROUP BY span_fp HAVING count(DISTINCT doc_id) >= 2
       |), occ AS (
       |  SELECT s.doc_id, s.pos, s.span_fp,
       |    ROW_NUMBER() OVER (PARTITION BY s.span_fp ORDER BY s.doc_id, s.pos) AS rn
       |  FROM sps s JOIN rep USING (span_fp)
       |), cut AS (
       |  SELECT doc_id, pos FROM occ WHERE rn > 1
       |), tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, w[i + 1] AS tk
       |  FROM t, unnest(range(0, len(w))) AS u(i)
       |  WHERE doc_id IN (SELECT doc_id FROM cut)
       |), kept AS (
       |  SELECT tk.doc_id, tk.i, tk.tk FROM tok tk
       |  WHERE NOT EXISTS (SELECT 1 FROM cut c
       |    WHERE c.doc_id = tk.doc_id AND tk.i >= c.pos AND tk.i < c.pos + 16)
       |)
       |SELECT t.doc_id,
       |  CASE WHEN t.doc_id IN (SELECT doc_id FROM cut)
       |       THEN COALESCE(k.text, '') ELSE t.text END AS text
       |FROM t LEFT JOIN (
       |  SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS text FROM kept GROUP BY doc_id
       |) k ON k.doc_id = t.doc_id""".stripMargin)

  /** Gopher A1.2 repetition rules (top-n-gram coverage, n = 2/3/4) as flat
    * booleans; one narrow scan, per-row HashMap census, no shuffle. Oracle
    * rebuilds each n-gram census with unnest + group + deterministic
    * tie-break and replays the integer threshold comparisons.
    */
  private def repetitionGopherQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TF.repetitionFlags(col("text")).as("g"))
      .select(col("doc_id"), col("g.f_top2").as("f_top2"),
        col("g.f_top3").as("f_top3"), col("g.f_top4").as("f_top4"),
        col("g.keep").as("keep"))
  // each n-gram census rebuilt with unnest + group; tie-break (count DESC,
  // gram ASC) matches the expression's smallest-gram rule; docs too short
  // for an n-gram are absent from the census -> COALESCE 0 = the
  // expression's [0,0,0] return; thresholds in the same integer arithmetic
  query("q_repetition_gopher", repetitionGopherQ, {
    def census(n: Int) =
      s"""SELECT doc_id, cnt * len(gram) AS cov FROM (
         |    SELECT doc_id, gram, count(*) AS cnt,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
         |    FROM (
         |      SELECT doc_id, array_to_string(list_slice(w, i, i + $n - 1), ' ') AS gram
         |      FROM t, unnest(range(1, len(w) - $n + 2)) AS u(i)
         |    ) GROUP BY doc_id, gram
         |  ) WHERE rn = 1""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS w, len(text) AS chars FROM documents
       |), g2 AS (
       |  ${census(2)}
       |), g3 AS (
       |  ${census(3)}
       |), g4 AS (
       |  ${census(4)}
       |)
       |SELECT t.doc_id,
       |  COALESCE(g2.cov, 0) * 5  <= t.chars     AS f_top2,
       |  COALESCE(g3.cov, 0) * 50 <= t.chars * 9 AS f_top3,
       |  COALESCE(g4.cov, 0) * 25 <= t.chars * 4 AS f_top4,
       |  (COALESCE(g2.cov, 0) * 5  <= t.chars AND
       |   COALESCE(g3.cov, 0) * 50 <= t.chars * 9 AND
       |   COALESCE(g4.cov, 0) * 25 <= t.chars * 4) AS keep
       |FROM t
       |LEFT JOIN g2 ON g2.doc_id = t.doc_id
       |LEFT JOIN g3 ON g3.doc_id = t.doc_id
       |LEFT JOIN g4 ON g4.doc_id = t.doc_id""".stripMargin
  })

  /** Leakage-free split: near-dup components move across the train/val/test
    * boundary atomically (split = content-hash of the component root). The
    * oracle rebuilds the components with the recursive exact-Jaccard CTE,
    * roots every document, and replays the same FNV split rule.
    */
  private def leakFreeSplitQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.leakFreeSplit(t(s, dir, "documents"), "doc_id", "text",
      corpusN = tableCount(s, dir, "documents"))
  // components rebuilt via the recursive exact-Jaccard CTE, every doc
  // rooted (singletons at themselves), split = FNV hash of the ROOT —
  // so the oracle also proves no near-dup pair straddles a split
  query("q_leakfree_split", leakFreeSplitQ,
    s"""WITH RECURSIVE $duckShingleCtes,
       |edges AS (SELECT a AS u, b AS v FROM jpairs UNION SELECT b, a FROM jpairs),
       |walk(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS root FROM walk GROUP BY id),
       |ass AS (
       |  SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |), hh AS (
       |  SELECT doc_id, root, ${duckFnvU("CAST(root AS VARCHAR)")} AS hu FROM ass
       |), hs AS (
       |  SELECT doc_id, root, ((${duckU2S("hu")} % 100) + 100) % 100 AS bucket FROM hh
       |)
       |SELECT doc_id, root,
       |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM hs""".stripMargin)

  /** Corpus mixture construction: language-stratified token-share targets
    * (en 50%, the rest 12.5% each — exact binary fractions, so the share
    * normalization is order-independent in float), fractions derived from
    * the measured token census, content-hash keep decision. Output is the
    * per-language summary of the sampled corpus; DuckDB replays the whole
    * construction — census, binding-stratum minimum, threshold rounding,
    * FNV keep rule — from the same table.
    */
  private def mixCorpusQ(s: SparkSession, dir: String): DataFrame = {
    val targets = Map("en" -> 0.5, "fr" -> 0.125, "es" -> 0.125,
      "zh" -> 0.125, "de" -> 0.125)
    TrainingData.mixToTargets(t(s, dir, "documents"), "lang", "doc_id", "text", targets)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }
  // mixture construction replayed in full: token census, binding-stratum
  // minimum M = min(T_s / p_s), integer thresholds round(p_s*M/T_s*1e6)
  // (shares are exact binary fractions and the division order matches the
  // Scala expression, so the doubles are bit-identical), then the FNV
  // content-hash keep rule. CAST to DOUBLE everywhere — a bare 0.5
  // literal is DECIMAL in DuckDB and would change the arithmetic.
  query("q_mix_corpus", mixCorpusQ,
    s"""WITH tok AS (
       |  SELECT doc_id, lang, len($duckToks) AS nt FROM documents
       |  WHERE lang IN ('en','fr','es','zh','de')
       |), census AS (
       |  SELECT lang, sum(nt) AS t FROM tok GROUP BY lang
       |), mm AS (
       |  SELECT min(CAST(t AS DOUBLE) /
       |    (CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END)) AS m
       |  FROM census
       |), thr AS (
       |  SELECT lang, CAST(round(
       |    (CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END)
       |      * mm.m / CAST(t AS DOUBLE) * 1000000, 0) AS BIGINT) AS th
       |  FROM census, mm
       |), hh AS (
       |  SELECT k.doc_id, k.lang, k.nt, thr.th,
       |    ${duckFnvU("CAST(k.doc_id AS VARCHAR)")} AS hu
       |  FROM tok k JOIN thr ON thr.lang = k.lang
       |), keepd AS (
       |  SELECT lang, nt FROM (SELECT lang, nt, th, ${duckU2S("hu")} AS hsv FROM hh)
       |  WHERE ((hsv % 1000000) + 1000000) % 1000000 < th
       |)
       |SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM keepd GROUP BY lang""".stripMargin)

  /** CCNet's final move (Wenzek et al. §4.3): bucket the corpus into
    * head / middle / tail by LM-perplexity TERCILES — the quality bands
    * CCNet publishes. The tercile comes from the closed-form [[Analytics
    * .ntileOf]] over the range-sharded global rank (no one-reducer window),
    * the nll from the oracle-proven hashed-bigram LM. Output: per bucket,
    * document and token counts — the mixture table a trainer reads.
    */
  private def ccnetBucketsQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val scored = TrainingData.perplexityScore(
        d, d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
      .join(d.select(col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("nt")), "doc_id")
    val ranked = graft.operators.Analytics.rangedRank(
      scored, Seq(), Seq(col("nll"), col("doc_id")))
    ranked
      .withColumn("tile",
        graft.operators.Analytics.ntileOf(col("rn"), col("n_part"), 3))
      .withColumn("bucket", when(col("tile") === 1, "head")
        .when(col("tile") === 2, "middle").otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("n_tokens"))
  }
  // CCNet tercile buckets: the q_perplexity nll chain verbatim, then
  // NTILE(3) over (nll, doc_id) — Spark's closed-form ntileOf replays SQL
  // NTILE exactly (proven by q_ntile) — and the per-bucket census
  query("q_ccnet_buckets", ccnetBucketsQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS ord,
       |    w[i - 1] AS prev, w[i] AS tok, len(w) - 1 AS npos
       |  FROM toksrc, unnest(range(2, len(w) + 1)) AS u(i) WHERE len(w) >= 2
       |), pb AS (
       |  SELECT doc_id, ord, npos, prev || ' ' || tok AS bg, prev FROM pos
       |), pk AS (
       |  SELECT doc_id, ord, npos,
       |    CAST(${duckFnvU("bg")} % 16384 AS BIGINT) AS b2,
       |    CAST(${duckFnvU("prev")} % 16384 AS BIGINT) AS b1
       |  FROM pb
       |), cb AS (
       |  SELECT b2 AS b, count(*) AS c FROM pk WHERE doc_id % 5 = 0 GROUP BY 1
       |), cc AS (
       |  SELECT b1 AS b, count(*) AS c FROM pk WHERE doc_id % 5 = 0 GROUP BY 1
       |), term AS (
       |  SELECT pk.doc_id, pk.ord, pk.npos,
       |    ln(coalesce(cb.c, 0) + 1.0) - ln(coalesce(cc.c, 0) + 16384.0) AS t
       |  FROM pk LEFT JOIN cb ON cb.b = pk.b2 LEFT JOIN cc ON cc.b = pk.b1
       |), docs AS (
       |  SELECT doc_id, round((-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(t ORDER BY ord)), (a, x) -> a + x))) / npos, 6) AS nll
       |  FROM term GROUP BY doc_id, npos
       |), sc AS (
       |  SELECT d.doc_id, coalesce(s.nll, 0.0) AS nll, len($duckToks) AS nt
       |  FROM documents d LEFT JOIN docs s ON s.doc_id = d.doc_id
       |), tl AS (
       |  SELECT doc_id, nt,
       |    CAST(NTILE(3) OVER (ORDER BY nll, doc_id) AS BIGINT) AS tile
       |  FROM sc
       |)
       |SELECT CASE WHEN tile = 1 THEN 'head' WHEN tile = 2 THEN 'middle'
       |            ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
       |FROM tl GROUP BY 1""".stripMargin)

  /** Epoch upsampling: en and zh weighted 50/50 at twice the measured
    * (en+zh) token budget. zh is the smaller stratum, so its multiplicity
    * crosses 1 (real replication: copy indices ≥ 1 appear); en sits near
    * or below it. The oracle replays the census, the float multiplicity
    * arithmetic in the same op order, and the per-(row, fractional-copy)
    * FNV draw — the full deterministic draw, row for row.
    */
  private def upsampleEpochsQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.upsampleToTargets(t(s, dir, "documents"), "lang", "doc_id",
        "text", Map("en" -> 0.5, "zh" -> 0.5), factor = 2.0)
      .select(col("doc_id"), col("lang"), col("copy"))
  // epoch-upsampling replay: census over the targeted strata, multiplicity
  // r = share * factor * T / t in the engine's exact float op order,
  // floor(r) full copies via unnest(range), the fractional copy by the
  // same FNV(doc_id) mod-resolution rule as q_mix_corpus
  query("q_upsample_epochs", upsampleEpochsQ,
    s"""WITH tok AS (
       |  SELECT doc_id, lang, len($duckToks) AS nt FROM documents
       |  WHERE lang IN ('en','zh')
       |), census AS (
       |  SELECT lang, sum(nt) AS t FROM tok GROUP BY lang
       |), tt AS (
       |  SELECT sum(t) AS tot FROM census
       |), rr AS (
       |  SELECT lang,
       |    CAST(0.5 AS DOUBLE) * CAST(2.0 AS DOUBLE) * CAST(tt.tot AS DOUBLE) / CAST(t AS DOUBLE) AS r
       |  FROM census, tt
       |), par AS (
       |  SELECT lang, CAST(floor(r) AS BIGINT) AS nfull,
       |    CAST(round((r - floor(r)) * 1000000, 0) AS BIGINT) AS th
       |  FROM rr
       |), hh AS (
       |  SELECT k.doc_id, k.lang, par.nfull, par.th,
       |    ${duckFnvU("CAST(k.doc_id AS VARCHAR)")} AS hu
       |  FROM tok k JOIN par ON par.lang = k.lang
       |), nn AS (
       |  SELECT doc_id, lang,
       |    nfull + CASE WHEN ((hsv % 1000000) + 1000000) % 1000000 < th
       |                 THEN 1 ELSE 0 END AS n
       |  FROM (SELECT doc_id, lang, nfull, th, ${duckU2S("hu")} AS hsv FROM hh)
       |)
       |SELECT doc_id, lang, CAST(u.c AS BIGINT) AS copy
       |FROM nn, unnest(range(0, n)) AS u(c)""".stripMargin)

  /** Bloom-prefiltered decontamination — output identical to
    * [[decontaminateQ]] by construction (bloom false positives are removed
    * by the exact join), so it shares the oracle; what it adds is the
    * 100 TB shape: the native [[graft.expressions.BloomMightContain]] probe
    * filters the training scan with a ~30× smaller executor footprint than
    * a broadcast string set, and exact verification joins only the
    * survivors.
    */
  private def bloomDecontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    TrainingData.bloomDecontaminate(
      d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", n = 5)
  }
  query("q_bloom_decontaminate", bloomDecontaminateQ, duckDecontaminateSql)

  /** Top-5 documents per language by quality score — the "keep the best k
    * per stratum" curation step (window top-k over the quality signal).
    */
  private def topQualityDocsQ(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), TF.qualityScore(col("text")).as("quality"))
    // bounded-heap aggregate, not a window: each mapper ships <= k rows per
    // language into the shuffle (same rows as the window formulation —
    // spec-asserted; descending quality encoded as the negated field)
    Analytics.topPerKeyAgg(scored, "lang",
      ordAsc = Seq(negate(col("quality")), col("doc_id")),
      payload = Seq("doc_id" -> col("doc_id"), "quality" -> col("quality")), k = 5)
  }
  query("q_top_quality_docs", topQualityDocsQ,
    s"""WITH dq AS ($duckQualitySql),
       |j AS (SELECT d.lang, dq.doc_id, dq.quality
       |      FROM dq JOIN documents d ON dq.doc_id = d.doc_id)
       |SELECT lang, doc_id, quality, rn FROM (
       |  SELECT lang, doc_id, quality,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn
       |  FROM j
       |) WHERE rn <= 5""".stripMargin)

  /** End-to-end corpus curation as ONE query — the full training-data
    * pipeline composed from individually-oracled pieces: exact dedup on
    * normalized text (keep min doc_id) → quality gate (native one-pass
    * score ≥ 0.6) → benchmark decontamination (drop docs sharing any
    * 5-gram with the doc_id%4==0 benchmark split) → token-budget packing.
    * The DuckDB oracle replays the entire composition, so the INTERACTION
    * of the stages is verified, not just each stage alone. Plan shape: two
    * broadcast-able keep/drop joins + one window + one aggregate — the
    * corpus is scanned, never re-shuffled wholesale.
    */
  private def curateCorpusQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val train = d.filter(col("doc_id") % 4 =!= 0)
    val bench = d.filter(col("doc_id") % 4 === 0)
    val keep = Dedup.exact(
      train.select(col("doc_id"), TF.normalizeText(col("text")).as("k")), "k", "doc_id")
      .select(col("doc_id"))
    val q = train.join(keep, "doc_id")
      .filter(TF.qualityScore(col("text")) >= 0.6)
    val contaminated = TrainingData.contaminationReport(q, bench, "doc_id", "text", n = 5)
      .select(col("doc_id"))
    val clean = q.join(contaminated, Seq("doc_id"), "left_anti")
    TrainingData.packBudgeted(clean, "doc_id", "text", budget = 2000)
  }
  query("q_curate_corpus", curateCorpusQ,
    s"""WITH dq AS ($duckQualitySql),
       |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0),
       |keep AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id,
       |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), '\\s+', ' ', 'g')) AS k
       |    FROM train) GROUP BY k
       |),
       |q AS (
       |  SELECT t.doc_id, t.text FROM train t
       |  JOIN keep USING (doc_id)
       |  JOIN dq ON t.doc_id = dq.doc_id
       |  WHERE dq.quality >= 0.6
       |),
       |toksrc AS (SELECT doc_id, $duckToks AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |),
       |bs AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 4 = 0),
       |contaminated AS (
       |  SELECT DISTINCT t.doc_id
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
       |        WHERE doc_id IN (SELECT doc_id FROM q)) t
       |  JOIN bs USING (s)
       |),
       |clean AS (
       |  SELECT doc_id, text FROM q
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |),
       |c AS (
       |  SELECT doc_id, len($duckToks) AS n_tokens,
       |    SUM(len($duckToks)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_after
       |  FROM clean
       |)
       |SELECT CAST(FLOOR((cum_after - n_tokens) / 2000.0) AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM c GROUP BY 1""".stripMargin)

  /** End-to-end curation v2 — the CCNet-shaped pipeline: exact dedup
    * (normalized text, keep min doc_id) → Gopher A1.1 quality rules →
    * perplexity band-pass (hashed-bigram LM from the doc_id%5==0 target
    * slice, keep 0 ≤ nll ≤ 7.85 — the band that drops the worst-perplexity
    * tail) → SURGICAL span decontamination against the doc_id%4==0
    * benchmark quarter (drop-span, not drop-document) → token-budget
    * packing over the REWRITTEN text. The perplexity stage runs through the
    * streaming [[TrainingData.perplexityGate]] — so the oracle checks the
    * gate transform itself, and the identical closure is what a live
    * curation stream runs. The DuckDB oracle replays all five stages AND
    * their interactions (pack token counts are over post-rewrite text).
    *
    * The Gopher stage composes every A1.1 flag EXCEPT `f_stop`: the
    * stop-word rule tests English-ness, and the synthetic corpus contains
    * no English stopwords at all — with it the pipeline provably empties
    * (0 keeps at every SF), which would make the whole downstream replay
    * vacuous. Dropping exactly that rule is the per-corpus adaptation the
    * Gopher paper itself prescribes for non-English slices.
    *
    * Cost provenance (the suite's slowest query, ~2.8 s warm at sf0.1,
    * by design not by defect): each run re-ESTIMATES the bigram LM (two
    * histogram collects over the target), re-counts the benchmark span
    * fingerprints (the broadcast gate decides from a fact), and then
    * executes five chained stages whose solo costs sum to roughly this
    * total — there is no redundant work to remove, only model estimation
    * a production pipeline would amortize across runs.
    */
  private def curateCorpusV2Q(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val train = d.filter(col("doc_id") % 4 =!= 0)
    val bench = d.filter(col("doc_id") % 4 === 0)
    val target = d.filter(col("doc_id") % 5 === 0)
    val keep = Dedup.exact(
      train.select(col("doc_id"), TF.normalizeText(col("text")).as("k")), "k", "doc_id")
      .select(col("doc_id"))
    val g = TF.gopherFlags(col("text"))
    val gophered = train.join(keep, "doc_id")
      .filter(g.getField("f_wc") && g.getField("f_mwl") && g.getField("f_symbol") &&
        g.getField("f_bullet") && g.getField("f_ellipsis") && g.getField("f_alpha"))
    // The two driver-side side-input builds — the LM estimation (one fused
    // histogram collect over the target slice) and the decontamination
    // broadcast-gate census (distinct span-fp count over the benchmark
    // quarter) — are INDEPENDENT; build them on two driver threads so their
    // jobs overlap instead of serializing (guide §2.6). Passing the census
    // result as `benchN` reproduces exactly the broadcast decision
    // decontaminateSpans would make alone: plan and rows are identical.
    val (gate, benchN) = graft.operators.Par.both(s)(
      TrainingData.perplexityGate(target, "text", maxNll = 7.85),
      TrainingData.benchSpanFingerprintCount(bench, "doc_id", "text"))
    val banded = gate(gophered)
    val cleaned = TrainingData.decontaminateSpans(banded, bench, "doc_id", "text",
      benchN = benchN)
    TrainingData.packBudgeted(cleaned, "doc_id", "text", budget = 2000)
  }
  // curation v2 replay: dedup keep-set, Gopher A1.1 keep rule (verbatim
  // from q_gopher_filter), the full hashed-bigram nll chain (verbatim from
  // q_perplexity, renamed CTEs), the literal band [0, 7.85], the surgical
  // span rewrite against the benchmark quarter (verbatim from
  // q_decontaminate_spans, scoped to banded docs), and packing over the
  // REWRITTEN text — all five stages and their interactions
  query("q_curate_corpus_v2", curateCorpusV2Q,
    s"""WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0),
       |keep AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id,
       |      trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), '\\s+', ' ', 'g')) AS k
       |    FROM train) GROUP BY k
       |),
       |gt AS (
       |  SELECT tr.doc_id, tr.text, $duckToks AS w FROM train tr JOIN keep USING (doc_id)
       |), gm AS (
       |  SELECT doc_id, len(w) AS words,
       |    coalesce(list_sum([len(x) FOR x IN w]), 0) AS chars,
       |    len(text) - len(replace(text, '#', '')) AS hashes,
       |    (len(text) - len(replace(text, '...', ''))) // 3
       |      + (len(text) - len(replace(text, '…', ''))) AS dots,
       |    greatest(len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0]), 1) AS nlines,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(trim(l), '^[-*•]')]) AS bullets,
       |    len([l FOR l IN string_split(text, chr(10)) IF len(trim(l)) > 0 AND regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$')]) AS ells,
       |    len([x FOR x IN w IF regexp_matches(x, '[a-z]')]) AS alphaw
       |  FROM gt
       |), gk AS (
       |  SELECT doc_id FROM gm
       |  WHERE (words >= 50 AND words <= 100000) AND (chars >= words*3 AND chars <= words*10)
       |    AND (hashes*10 <= words AND dots*10 <= words)
       |    AND bullets*10 <= nlines*9 AND ells*10 <= nlines*3
       |    AND alphaw*5 >= words*4
       |),
       |ptok AS (SELECT doc_id, $duckToks AS w FROM documents),
       |ppos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS ord,
       |    w[i - 1] AS prev, w[i] AS tok, len(w) - 1 AS npos
       |  FROM ptok, unnest(range(2, len(w) + 1)) AS u(i) WHERE len(w) >= 2
       |), ppb AS (
       |  SELECT doc_id, ord, npos, prev || ' ' || tok AS bg, prev FROM ppos
       |), ppk AS (
       |  SELECT doc_id, ord, npos,
       |    CAST(${duckFnvU("bg")} % 16384 AS BIGINT) AS b2,
       |    CAST(${duckFnvU("prev")} % 16384 AS BIGINT) AS b1
       |  FROM ppb
       |), pcb AS (
       |  SELECT b2 AS b, count(*) AS c FROM ppk WHERE doc_id % 5 = 0 GROUP BY 1
       |), pcc AS (
       |  SELECT b1 AS b, count(*) AS c FROM ppk WHERE doc_id % 5 = 0 GROUP BY 1
       |), pterm AS (
       |  SELECT ppk.doc_id, ppk.ord, ppk.npos,
       |    ln(coalesce(pcb.c, 0) + 1.0) - ln(coalesce(pcc.c, 0) + 16384.0) AS t
       |  FROM ppk LEFT JOIN pcb ON pcb.b = ppk.b2 LEFT JOIN pcc ON pcc.b = ppk.b1
       |), pnll AS (
       |  SELECT doc_id, round((-(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(t ORDER BY ord)), (a, x) -> a + x))) / npos, 6) AS nll
       |  FROM pterm GROUP BY doc_id, npos
       |),
       |banded AS (
       |  SELECT tr.doc_id, tr.text FROM train tr JOIN gk USING (doc_id)
       |  LEFT JOIN pnll s ON s.doc_id = tr.doc_id
       |  WHERE coalesce(s.nll, 0.0) >= 0.0 AND coalesce(s.nll, 0.0) <= 7.85
       |),
       |bt AS (
       |  SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w FROM banded
       |), benchw AS (
       |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS w FROM documents WHERE doc_id % 4 = 0
       |), ssp0 AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    lower(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS gram
       |  FROM bt, unnest(range(0, len(w) - 16 + 1)) AS u(i) WHERE len(w) >= 16
       |), ssp AS (
       |  SELECT doc_id, pos, ${duckFnvU("gram")} AS hu FROM ssp0
       |), ssps AS (
       |  SELECT doc_id, pos, ${duckU2S("hu")} AS span_fp FROM ssp
       |), bsp0 AS (
       |  SELECT lower(array_to_string(list_slice(w, i + 1, i + 16), ' ')) AS gram
       |  FROM benchw, unnest(range(0, len(w) - 16 + 1)) AS u(i) WHERE len(w) >= 16
       |), bsp AS (
       |  SELECT ${duckFnvU("gram")} AS hu FROM bsp0
       |), bfp AS (
       |  SELECT DISTINCT ${duckU2S("hu")} AS span_fp FROM bsp
       |), cut AS (
       |  SELECT s.doc_id, s.pos FROM ssps s JOIN bfp USING (span_fp)
       |), tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i, w[i + 1] AS tk
       |  FROM bt, unnest(range(0, len(w))) AS u(i)
       |  WHERE doc_id IN (SELECT doc_id FROM cut)
       |), kept AS (
       |  SELECT tk.doc_id, tk.i, tk.tk FROM tok tk
       |  WHERE NOT EXISTS (SELECT 1 FROM cut c
       |    WHERE c.doc_id = tk.doc_id AND tk.i >= c.pos AND tk.i < c.pos + 16)
       |), rew AS (
       |  SELECT b.doc_id,
       |    CASE WHEN b.doc_id IN (SELECT doc_id FROM cut)
       |         THEN COALESCE(k.t2, '') ELSE b.text END AS rw
       |  FROM bt b LEFT JOIN (
       |    SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS t2 FROM kept GROUP BY doc_id
       |  ) k ON k.doc_id = b.doc_id
       |), pc AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(trim(rw), '\\s+'), x -> len(x) > 0)) AS n_tokens,
       |    SUM(len(list_filter(string_split_regex(trim(rw), '\\s+'), x -> len(x) > 0)))
       |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_after
       |  FROM rew
       |)
       |SELECT CAST(FLOOR((cum_after - n_tokens) / 2000.0) AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM pc GROUP BY 1""".stripMargin)

  /** PII redaction over a deterministically synthesized PII-bearing column
    * (the corpus itself has no PII spans — the same synthesis move as
    * [[syntheticMedia]]): emails / URLs / phone runs masked by
    * [[TF.redactPii]]'s RE2-safe regex chain, replayed verbatim by DuckDB.
    * Every third doc carries no PII and must pass through byte-identically.
    */
  private def redactPiiQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val raw = when(col("doc_id") % 3 === 2,
        concat(lit("clean note "), col("doc_id").cast("string")))
      .otherwise(concat(
        lit("reach u"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".org or https://ex"), (col("doc_id") % 5).cast("string"),
        lit(".com/d?id="), col("doc_id").cast("string"),
        lit(" tel +1 (415) 555-0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit(" end")))
    d.select(col("doc_id"), raw.as("raw"), TF.redactPii(raw).as("redacted"))
  }
  // the synthesized PII column is a pure function of doc_id (string
  // concat + lpad — identical builtins on both engines) and the redaction
  // chain is TF.redactPii's exact regexes with 'g' — RE2-compatible by
  // construction (no lookarounds/backreferences)
  query("q_redact_pii", redactPiiQ,
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 2 THEN 'clean note ' || CAST(doc_id AS VARCHAR)
      |         ELSE 'reach u' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR)
      |           || '.org or https://ex' || CAST(doc_id % 5 AS VARCHAR) || '.com/d?id='
      |           || CAST(doc_id AS VARCHAR) || ' tel +1 (415) 555-0'
      |           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' end' END AS raw
      |  FROM documents)
      |SELECT doc_id, raw,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(raw,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      'https?://[^\s]+', '<URL>', 'g'),
      |    '\+?([0-9][()\-\. ]*){6,}[0-9]', '<PHONE>', 'g') AS redacted
      |FROM p""".stripMargin)

  /** Boilerplate line removal over deterministically synthesized multi-line
    * docs (the corpus text itself is single-line): every doc except the
    * `doc_id % 10 == 7` slice gets a per-source header, a blank separator
    * line, and a corpus-wide footer wrapped around its text. The header
    * (~1/5 of docs each) and footer (~9/10 of docs) cross `minDocs = 30`;
    * the body lines don't. Expected: wrapped docs keep `"\n" + body` (the
    * blank line survives — only NON-blank repeated lines are boilerplate),
    * and the `% 10 == 7` slice passes through byte-identically.
    */
  private def removeBoilerplateQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val raw = when(col("doc_id") % 10 === 7, col("text"))
      .otherwise(concat(
        lit("NOTICE: auto-generated export from "), col("source"), lit("\n\n"),
        col("text"),
        lit("\ncontact support at example dot org")))
    TrainingData.removeBoilerplate(
      d.select(col("doc_id"), raw.as("text")), "doc_id", "text", minDocs = 30)
  }
  // boilerplate-line replay: same synthesized wrapper, line census by
  // trimmed-lowered FNV fingerprint over non-blank lines, drop lines in
  // >= 30 distinct docs, re-join kept lines (blank ones included) with
  // newlines; docs losing no line pass through byte-identically
  query("q_remove_boilerplate", removeBoilerplateQ,
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 7 THEN text
       |         ELSE 'NOTICE: auto-generated export from ' || source || chr(10) || chr(10)
       |           || text || chr(10) || 'contact support at example dot org' END AS raw
       |  FROM documents
       |), lpos AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ln[i] AS line
       |  FROM (SELECT doc_id, string_split(raw, chr(10)) AS ln FROM p),
       |    unnest(range(1, len(ln) + 1)) AS u(i)
       |), nb0 AS (
       |  SELECT doc_id, pos, lower(trim(line)) AS nline FROM lpos WHERE len(trim(line)) > 0
       |), nb1 AS (
       |  SELECT doc_id, pos, ${duckFnvU("nline")} AS hu FROM nb0
       |), nb AS (
       |  SELECT doc_id, pos, ${duckU2S("hu")} AS line_fp FROM nb1
       |), boiler AS (
       |  SELECT line_fp FROM nb GROUP BY line_fp HAVING count(DISTINCT doc_id) >= 30
       |), cut AS (
       |  SELECT nb.doc_id, nb.pos FROM nb JOIN boiler USING (line_fp)
       |), kept AS (
       |  SELECT l.doc_id, l.pos, l.line FROM lpos l
       |  WHERE l.doc_id IN (SELECT doc_id FROM cut)
       |    AND NOT EXISTS (SELECT 1 FROM cut c
       |      WHERE c.doc_id = l.doc_id AND c.pos = l.pos)
       |), agg AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t2 FROM kept GROUP BY doc_id
       |)
       |SELECT p.doc_id,
       |  CASE WHEN p.doc_id IN (SELECT doc_id FROM cut)
       |       THEN COALESCE(a.t2, '') ELSE p.raw END AS text
       |FROM p LEFT JOIN agg a ON a.doc_id = p.doc_id""".stripMargin)

  /** Packing in DETERMINISTIC-SHUFFLE order: trainers don't consume a
    * corpus in ingestion order — they shuffle it first, and at 100 TB the
    * shuffle must be a pure function (`fnv1a64(seed # id)`), not an RNG
    * whose result depends on partition layout. Same sharded-window pack
    * machinery, different total order; the oracle replays the hashed order
    * end to end, so pack boundaries are proven engine-identical.
    */
  private def packShuffledQ(s: SparkSession, dir: String): DataFrame = {
    val shuffled = t(s, dir, "documents").select(
      TF.fnv1a64(concat(lit("seed42#"), col("doc_id").cast("string")))
        .as("shuffle_key"),
      col("text"))
    TrainingData.packBudgeted(shuffled, "shuffle_key", "text", budget = 2000)
  }
  // shuffled packing: the same cumulative-window replay as q_pack_budgeted
  // but ordered by the content-hash shuffle key — both engines order by
  // the identical signed 64-bit FNV, so pack boundaries match exactly
  query("q_pack_shuffled", packShuffledQ,
    s"""WITH s0 AS (
       |  SELECT 'seed42#' || CAST(doc_id AS VARCHAR) AS hk,
       |    len($duckToks) AS n_tokens FROM documents
       |), d AS (
       |  SELECT ${duckU2S(duckFnvU("hk"))} AS shuffle_key, n_tokens FROM s0
       |), c AS (
       |  SELECT shuffle_key, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY shuffle_key ROWS UNBOUNDED PRECEDING) AS cum_after
       |  FROM d
       |)
       |SELECT CAST(FLOOR((cum_after - n_tokens) / 2000.0) AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM c GROUP BY 1""".stripMargin)

  /** Token-budget sequence packing: 2000-token packs in doc_id order. */
  private def packBudgetedQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.packBudgeted(t(s, dir, "documents"), "doc_id", "text", budget = 2000)
  query("q_pack_budgeted", packBudgetedQ,
    s"""WITH d AS (
       |  SELECT doc_id, len($duckToks) AS n_tokens FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_after
       |  FROM d
       |)
       |SELECT CAST(FLOOR((cum_after - n_tokens) / 2000.0) AS BIGINT) AS pack_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM c GROUP BY 1""".stripMargin)

  private val duckImportanceSelect =
    """SELECT d.doc_id, coalesce(dw.llr, 0.0) AS llr
      |FROM documents d LEFT JOIN docw dw ON dw.doc_id = d.doc_id""".stripMargin

  /** DSIR hashed-unigram LLR CTE chain (target = the `doc_id % 7` slice),
    * shared by q_importance_weights and q_dsir_sample.
    */
  private lazy val duckImportanceCtes =
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(w) AS tk, generate_subscripts(w, 1) AS ord FROM toksrc
       |), tb AS (
       |  SELECT doc_id, ord, CAST(${duckFnvU("tk")} % 4096 AS BIGINT) AS b FROM tok
       |), tc AS (SELECT b, count(*) AS c FROM tb WHERE doc_id % 7 = 0 GROUP BY 1
       |), rc AS (SELECT b, count(*) AS c FROM tb GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT count(*) FROM tb WHERE doc_id % 7 = 0) AS tt,
       |         (SELECT count(*) FROM tb) AS rt
       |), wts AS (
       |  SELECT r.b,
       |    ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 4096.0))
       |      - ln((r.c + 1.0) / (tot.rt + 4096.0)) AS wt
       |  FROM rc r LEFT JOIN tc ON tc.b = r.b CROSS JOIN tot
       |), docw AS (
       |  SELECT tb.doc_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(wts.wt ORDER BY tb.ord)), (a, x) -> a + x), 6) AS llr
       |  FROM tb JOIN wts ON wts.b = tb.b GROUP BY tb.doc_id)""".stripMargin

  /** DSIR selection: k = 100 of the corpus, target = the `doc_id % 7` slice
    * (same domain-role slice as q_importance_weights).
    */
  private def dsirSampleQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TrainingData.dsirSample(docs, docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", k = 100)
  }
  // DSIR selection on top of the importance scores: Gumbel key
  // g = -ln(-ln(u)) with u = (fnv(id) mod 2^20 + 0.5)/2^20 — the same
  // content-addressed determinism as q_stratified_sample, so the oracle
  // replays the full Gumbel-top-k draw.
  query("q_dsir_sample", dsirSampleQ,
    s"""$duckImportanceCtes,
       |scored AS ($duckImportanceSelect)
       |SELECT doc_id, llr,
       |  round(llr - ln(-ln((CAST(${duckFnvU("CAST(doc_id AS VARCHAR)")} % 1048576 AS BIGINT) + 0.5) / 1048576.0)), 6) AS score
       |FROM scored ORDER BY score DESC, doc_id LIMIT 100""".stripMargin)

  /** Cross-corpus fuzzy decontamination: the benchmark is the `doc_id % 7`
    * slice of the corpus (chosen so it contains real near-dup partners at
    * verify scale); self-matches are excluded since here bench ⊂ train.
    * Oracle = the exact cross Jaccard join, valid because banding recall at
    * j ≥ 0.8 is 1 − 1e-28 per pair.
    */
  private def fuzzyDecontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TrainingData.fuzzyDecontaminate(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text")
      .filter(col("doc_id") =!= col("bench_id"))
  }
  query("q_fuzzy_decontaminate", fuzzyDecontaminateQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |), b AS (
       |  SELECT doc_id AS bench_id, shingles AS bsh FROM sh WHERE doc_id % 7 = 0
       |), x AS (
       |  SELECT t.doc_id, b.bench_id,
       |    len(list_intersect(t.shingles, b.bsh)) AS inter,
       |    len(t.shingles) AS nt, len(b.bsh) AS nb
       |  FROM sh t CROSS JOIN b WHERE t.doc_id != b.bench_id)
       |SELECT doc_id, bench_id, round(inter / (nt + nb - inter), 6) AS jaccard
       |FROM x WHERE round(inter / (nt + nb - inter), 6) >= 0.8""".stripMargin)

  /** Semantic (embedding-space) benchmark decontamination
    * ([[TrainingData.semanticDecontaminate]]): every `vec_id % 4 != 0`
    * train embedding scored by max cosine against the broadcast
    * `% 4 == 0` benchmark quarter, flagged at 0.35 — the vector face of
    * the decontamination family (paraphrase-level leakage the n-gram
    * faces can't see). The oracle replays the dense pass: same
    * left-to-right IEEE dot (list_sum comprehension == DotProduct's
    * accumulation order), max per train id, UNROUNDED threshold compare.
    */
  private def semanticDecontaminateQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    TrainingData.semanticDecontaminate(
      emb.filter(col("vec_id") % 4 =!= 0),
      emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", threshold = 0.35)
  }
  // dense embedding decontamination: identical left-to-right dots
  // (list_sum comprehension == DotProduct), per-train max, threshold
  // compared on the UNROUNDED max exactly like the operator
  query("q_semantic_decontaminate", semanticDecontaminateQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS tid, max($duckCos) AS mc
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id % 4 != 0 AND y.vec_id % 4 = 0
       |  GROUP BY 1)
       |SELECT tid AS vec_id, round(mc, 6) AS max_bench_cos,
       |  mc >= 0.35 AS contaminated
       |FROM p""".stripMargin)

  /** The LSH face of semantic decontamination under the driver gate: same
    * train/bench split as [[semanticDecontaminateQ]] but FORCED through
    * [[TrainingData.semanticDecontaminateLsh]] (`strategy = Lsh` — the
    * explicit opt-in to the candidate-max contract, not the Auto
    * size-dispatch) and
    * projected to the CONTAMINATED slice — the slice whose scores the LSH
    * face contracts to compute exactly (every contaminated row's argmax
    * partner clears the threshold, so it is a bucket candidate and the
    * candidate max equals the true max). At this scale and threshold the
    * auto-sized radius-1 multiprobe config detects exactly the dense
    * face's contaminated set (TrainingDataSpec pins set AND scores), so
    * the dense max-cosine SQL filtered to the threshold applies verbatim
    * — a recall regression in the LSH candidate machinery hash-fails the
    * driver gate, the q_embed_near_dup_lsh pattern.
    */
  private def semanticDecontaminateLshQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    TrainingData.semanticDecontaminate(
      emb.filter(col("vec_id") % 4 =!= 0),
      emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", threshold = 0.45,
      strategy = TrainingData.DecontaminationStrategy.Lsh)
      .filter(col("contaminated"))
  }
  // the LSH face emits exactly the dense face's contaminated slice with
  // exact candidate scores (see semanticDecontaminateLshQ) — the oracle
  // is the dense max-cosine SQL filtered to the 0.45 threshold
  query("q_semantic_decontaminate_lsh", semanticDecontaminateLshQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS tid, max($duckCos) AS mc
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id % 4 != 0 AND y.vec_id % 4 = 0
       |  GROUP BY 1)
       |SELECT tid AS vec_id, round(mc, 6) AS max_bench_cos,
       |  TRUE AS contaminated
       |FROM p WHERE mc >= 0.45""".stripMargin)

  private def chunkDocsQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 32, stride = 16)
  query("q_chunk_docs", chunkDocsQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), t AS (
       |  SELECT doc_id, w, len(w) AS n FROM toksrc WHERE len(w) > 0
       |), st AS (
       |  SELECT doc_id, w, n, unnest(range(0, n, 16)) AS start FROM t)
       |SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_index,
       |  CAST(least(32, n - start) AS BIGINT) AS chunk_tokens,
       |  array_to_string(w[start+1:start+32], ' ') AS chunk_text
       |FROM st""".stripMargin)

  /** DSIR importance scores against the `doc_id % 7` slice as the target
    * domain (the same slice q_fuzzy_decontaminate treats as a benchmark —
    * here it plays the high-quality-domain role).
    */
  private def importanceWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TrainingData.importanceWeights(docs, docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text")
  }
  // fnv1a64 bucket: buckets = 4096 is a power of two, so Spark's
  // pmod(signed, 4096) and the unsigned HUGEINT's % 4096 both select the
  // low 12 bits — no signed reinterpretation needed. The weight formula is
  // the ln of the smoothed ratio (one expression shape on both engines)
  // and per-doc summation is left-to-right in token order (list_reduce ↔
  // aggregate), keeping the rounded doubles bit-stable.
  query("q_importance_weights", importanceWeightsQ, s"$duckImportanceCtes\n$duckImportanceSelect")

  /** Content-addressed 80/10/10 split over the document text hash. */
  private def trainSplitQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.contentSplit(t(s, dir, "documents"), "text", valPct = 10, testPct = 10)
  query("q_train_split", trainSplitQ,
    s"""WITH f AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(5381 AS BIGINT), [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text)+1)]),
       |      (a, x) -> (a * 31 + x) % 1000000007) % 100 AS bucket,
       |    len($duckToks) AS n_tokens
       |  FROM documents
       |)
       |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |FROM f GROUP BY 1""".stripMargin)

  /** Cluster-balanced UniMax: the water-filling allocation of
    * [[unimaxMixQ]] applied to LEARNED strata — each document's k-means
    * cluster id (fixed first-10 centroids, doc_id == vec_id identity)
    * instead of its language tag. DoReMi-style domain balancing where the
    * domains come from the embedding space: every semantic cluster gets
    * the common token water level, tiny clusters are capped at 2 epochs.
    * Strata are the clusters actually present (collected from the ≤ k-row
    * distinct), so a centroid owning no vectors can never trip the
    * zero-token guard on regenerated data.
    */
  private def clusterMixQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val assigned = graft.similarity.KMeans.Model(cents).assign(emb, "embedding")
      .select(col("vec_id").as("doc_id"), col("list").cast("string").as("cluster"))
    // NOT fanned out (measured A/B): fanOut(docs) pushed 1.55 → 2.46 s —
    // unimaxMix runs an eager census job plus the main job, and each
    // action re-pays the full-text exchange the fan-out inserts, costing
    // more than the one-core tokenCount passes it parallelizes
    val docs = t(s, dir, "documents").join(assigned, "doc_id")
    val strata = assigned.select("cluster").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    TrainingData.unimaxMix(docs, "cluster", "doc_id", "text", strata,
        budget = 1.5, epochCap = 2.0, budgetIsFraction = true)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_rows"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }
  // cluster-balanced UniMax: the q_kmeans_assign CTE labels each doc with
  // its nearest fixed centroid, then the q_unimax_mix waterline/emission
  // runs over cluster strata instead of languages (cluster ids compared
  // as VARCHAR on both sides; capacity column renamed c2 to dodge the
  // centroid CTE's name)
  query("q_cluster_mix", clusterMixQ,
    s"""WITH c AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cemb
       |  FROM embeddings WHERE vec_id < 10
       |), s AS (
       |  SELECT e.vec_id, c.cidx,
       |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) * -2.0
       |    + list_sum([CAST(c.cemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) AS d
       |  FROM embeddings e CROSS JOIN c
       |), asg AS (
       |  SELECT vec_id AS doc_id, CAST(cidx AS VARCHAR) AS clus FROM (
       |    SELECT vec_id, cidx, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn FROM s
       |  ) WHERE rn = 1
       |), tok AS (
       |  SELECT d.doc_id, a.clus, len($duckToks) AS nt
       |  FROM documents d JOIN asg a USING (doc_id)
       |), census AS (
       |  SELECT clus, CAST(sum(nt) AS BIGINT) AS t FROM tok GROUP BY clus
       |), tt AS (
       |  SELECT CAST(sum(t) AS BIGINT) AS tot FROM census
       |), cap AS (
       |  SELECT clus, t, 2.0 * CAST(t AS DOUBLE) AS c2 FROM census
       |), ordx AS (
       |  SELECT clus, t, c2,
       |    row_number() OVER (ORDER BY c2, clus) AS i,
       |    count(*) OVER () AS k,
       |    COALESCE(sum(c2) OVER (ORDER BY c2, clus
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cb
       |  FROM cap
       |), wl AS (
       |  SELECT th FROM (
       |    SELECT i, c2, (1.5 * CAST(tt.tot AS DOUBLE) - cb) / (k - i + 1) AS th
       |    FROM ordx, tt
       |  ) WHERE th <= c2 ORDER BY i LIMIT 1
       |), alloc AS (
       |  SELECT clus, t,
       |    (CASE WHEN (SELECT th FROM wl) IS NULL THEN c2
       |          ELSE least(c2, (SELECT th FROM wl)) END) / CAST(t AS DOUBLE) AS r
       |  FROM ordx
       |), par AS (
       |  SELECT clus, CAST(floor(r) AS BIGINT) AS nfull,
       |    CAST(round((r - floor(r)) * 1000000, 0) AS BIGINT) AS th FROM alloc
       |), hh AS (
       |  SELECT d.doc_id, d.clus, d.nt, par.nfull, par.th,
       |    ${duckFnvU("CAST(d.doc_id AS VARCHAR)")} AS hu
       |  FROM tok d JOIN par USING (clus)
       |), nn AS (
       |  SELECT doc_id, clus, nt,
       |    nfull + CASE WHEN ((hsv % 1000000) + 1000000) % 1000000 < th
       |                 THEN 1 ELSE 0 END AS n
       |  FROM (SELECT doc_id, clus, nt, nfull, th, ${duckU2S("hu")} AS hsv FROM hh)
       |)
       |SELECT clus AS cluster, count(*) AS n_rows, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM nn, unnest(range(0, n)) AS u(cp) GROUP BY clus""".stripMargin)
}
