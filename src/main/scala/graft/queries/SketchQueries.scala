package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.functions.{TextFunctions => TF}
import graft.SparkEntry.t
import graft.queries.SharedSql.{duckFnvU, duckToks, duckU2S}

/** Registry queries of sketches and approximate aggregates: HLL, KLL, theta,
  * KMV, AMS and count-min, each replayed exactly. Each query registers with its
  * oracle right after its body.
  */
private[graft] object SketchQueries extends QueryFamily {

  /** Exact distinct cardinality per group (map-side partial distinct). */
  private def distinctUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
  query("q_distinct_users", distinctUsers,
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin)

  /** GK-sketch percentiles — the constant-memory, single-pass face of
    * [[percentilesQ]] for 100 TB group-bys. Sketch cut points are
    * engine-specific, so the oracle checks the sketch's CONTRACT instead of
    * its value: the query re-ranks each approximate percentile against the
    * group's raw values and emits whether its rank position lands inside a
    * band 25× wider than the sketch's 1/1000 rank-error guarantee; DuckDB
    * supplies the exact group counts and expects every band check true.
    * Deterministic for fixed data (the GK sketch has no RNG), so the gate
    * cannot flake; a sketch regression lands outside the band and fails the
    * hash compare.
    */
  private def approxPercentilesQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val sk = e.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(value, 0.95, 1000)").as("ap95"))
    e.join(broadcast(sk), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("ap50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("ap95"), 1L).otherwise(0L)).as("r95"))
      .select(col("event_type"), col("n"),
        (col("r50").cast("double") / col("n")).between(0.475, 0.525).as("p50_in_band"),
        (col("r95").cast("double") / col("n")).between(0.925, 0.975).as("p95_in_band"))
  }
  query("q_approx_percentiles", approxPercentilesQ,
    """SELECT event_type, COUNT(*) AS n, true AS p50_in_band, true AS p95_in_band
      |FROM events GROUP BY event_type""".stripMargin)

  /** KMV set-similarity matrix ([[Analytics.kmvJaccard]], k = 256):
    * pairwise Jaccard of the user sets behind every event-type pair,
    * estimated from bottom-256 signatures next to the exact answer — the
    * audience-overlap question answered from |keys|·256 longs instead of
    * the full sets, with BOTH columns value-gated (the estimator is
    * deterministic from the hash).
    */
  private def kmvJaccardQ(s: SparkSession, dir: String): DataFrame =
    // (user, day) incidence, not bare users: every user eventually touches
    // every type, which would make all ten Jaccards a degenerate 1.0 —
    // the day-sliced sets actually differ and stress the estimator
    Analytics.kmvJaccard(t(s, dir, "events"), "event_type",
      concat(col("user_id").cast("string"), lit("#"),
        to_date(col("ts")).cast("string")), k = 256)
  // KMV Jaccard: bottom-256 signatures per key replayed in signed hash
  // order; shared-in-union-bottom-k estimator and the exact
  // distinct-join Jaccard both value-gated
  query("q_kmv_jaccard", kmvJaccardQ,
    s"""WITH ev AS (
       |  SELECT event_type,
       |    CAST(user_id AS VARCHAR) || '#' || CAST(CAST(ts AS DATE) AS VARCHAR) AS uv
       |  FROM events
       |), hu AS (
       |  SELECT DISTINCT event_type AS t, ${duckFnvU("uv")} AS hu FROM ev
       |), hs AS (SELECT t, ${duckU2S("hu")} AS h FROM hu),
       |r AS (
       |  SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS rn FROM hs
       |), bot AS (SELECT t, h FROM r WHERE rn <= 256),
       |tp AS (
       |  SELECT x.t AS a, y.t AS b
       |  FROM (SELECT DISTINCT t FROM hs) x JOIN (SELECT DISTINCT t FROM hs) y
       |    ON x.t < y.t
       |), tg AS (
       |  SELECT a, b, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
       |    SELECT tp.a, tp.b, bot.h, 1 AS ia, 0 AS ib FROM tp JOIN bot ON bot.t = tp.a
       |    UNION ALL
       |    SELECT tp.a, tp.b, bot.h, 0 AS ia, 1 AS ib FROM tp JOIN bot ON bot.t = tp.b
       |  ) GROUP BY 1, 2, 3
       |), u AS (
       |  SELECT a, b, ia, ib,
       |    ROW_NUMBER() OVER (PARTITION BY a, b ORDER BY h) AS rn
       |  FROM tg
       |), e AS (
       |  SELECT a, b, CAST(SUM(ia * ib) AS BIGINT) AS kmv_shared,
       |    COUNT(*) AS kmv_union_k
       |  FROM u WHERE rn <= 256 GROUP BY 1, 2
       |), sets AS (
       |  SELECT DISTINCT event_type AS t, uv AS v FROM ev
       |), sz AS (SELECT t, COUNT(*) AS n FROM sets GROUP BY 1),
       |itr AS (
       |  SELECT s1.t AS a, s2.t AS b, COUNT(*) AS n_inter
       |  FROM sets s1 JOIN sets s2 ON s1.v = s2.v AND s1.t < s2.t GROUP BY 1, 2
       |), x AS (
       |  SELECT tp.a, tp.b, CAST(COALESCE(itr.n_inter, 0) AS BIGINT) AS n_inter,
       |    CAST(sa.n + sb.n - COALESCE(itr.n_inter, 0) AS BIGINT) AS n_union
       |  FROM tp JOIN sz sa ON sa.t = tp.a JOIN sz sb ON sb.t = tp.b
       |  LEFT JOIN itr ON itr.a = tp.a AND itr.b = tp.b
       |)
       |SELECT e.a, e.b, kmv_shared, kmv_union_k,
       |  round(CAST(kmv_shared AS DOUBLE) / CAST(kmv_union_k AS DOUBLE), 6) AS jacc_est,
       |  n_inter, n_union,
       |  round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6) AS jacc_exact
       |FROM e JOIN x USING (a, b)""".stripMargin)

  /** AMS second-moment (F₂) sketch (Alon, Matias & Szegedy, STOC 1996):
    * the self-join size Σc² of the user stream estimated from nine
    * hash-derived ±1 sign sums — the one-pass, O(1)-state answer to "how
    * big would this key's self-join be" that the CM inner product
    * ([[joinSizeEstQ]]-style) answers for A⋈B. Every piece is an exact
    * integer (sign sums, their squares, the median-of-9 by exact rank),
    * so the estimate — unusual for a sketch — is value-gated by the
    * oracle, not error-band-gated. One scan-side ×9 generator with
    * map-side partials; only 9 partial rows per mapper shuffle.
    */
  private def amsF2Q(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id").cast("string").as("k"))
    val reps = ev.select(col("k"), explode(sequence(lit(0), lit(8))).as("e"))
    val sign = lit(1L) - lit(2L) * pmod(TF.fnv1a64(
      concat(lit("ams"), col("e").cast("string"), lit("#"), col("k"))), lit(2L))
    val ests = reps.select(col("e"), sign.as("s"))
      .groupBy(col("e")).agg(sum(col("s")).as("se"))
      .select(col("e"), (col("se") * col("se")).as("est"))
    val med = ests.join(ests.select(col("est").as("e2"), col("e").as("i2")),
        col("e2") < col("est") || (col("e2") === col("est") && col("i2") < col("e")),
        "left")
      .groupBy(col("e"), col("est")).agg(count(col("i2")).as("rk"))
      .filter(col("rk") === 4L).select(col("est").as("ams_f2"))
    ev.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
      .crossJoin(med)
      .select(col("exact_f2"), col("ams_f2"),
        round((col("ams_f2") - col("exact_f2")).cast("double") /
          col("exact_f2").cast("double") * 100.0, 6).as("rel_err_pct"))
  }
  // AMS F2: nine sign sums replayed from the identical hash parity,
  // squares and the median-of-9 by exact rank — value-gated, unusual
  // for a sketch
  query("q_ams_f2", amsF2Q,
    s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
       |rep AS (
       |  SELECT k.k, g.e FROM k CROSS JOIN (SELECT unnest(range(0, 9)) AS e) g
       |), h AS (
       |  SELECT e, ${duckU2S(duckFnvU("('ams' || CAST(e AS VARCHAR) || '#' || k)"))} AS hs
       |  FROM rep
       |), s AS (
       |  SELECT e, SUM(1 - 2 * (((hs % 2) + 2) % 2)) AS se FROM h GROUP BY 1
       |), est AS (SELECT e, se * se AS est FROM s),
       |r AS (
       |  SELECT e, est,
       |    (SELECT COUNT(*) FROM est e2
       |     WHERE e2.est < est.est OR (e2.est = est.est AND e2.e < est.e)) AS rk
       |  FROM est
       |), x AS (
       |  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
       |  FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id)
       |), m AS (SELECT CAST(est AS BIGINT) AS ams_f2 FROM r WHERE rk = 4)
       |SELECT exact_f2, ams_f2,
       |  round(CAST(ams_f2 - exact_f2 AS DOUBLE) / CAST(exact_f2 AS DOUBLE) * 100.0, 6) AS rel_err_pct
       |FROM x CROSS JOIN m""".stripMargin)

  /** KMV bottom-k distinct sketch ([[Analytics.kmvDistinct]], k = 256) of
    * users per event type — the hash-replayable cardinality tier next to
    * [[approxDistinctQ]]'s HLL: the oracle recomputes the exact summary
    * (k-th minimum hash) and the identical estimate expression, so this
    * one is value-gated, not error-contract-gated.
    */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame =
    Analytics.kmvDistinct(t(s, dir, "events"), "event_type",
      col("user_id"), k = 256)
  // KMV: full summary replay — the k-th smallest distinct FNV hash per
  // key in signed order, then the identical one-expression estimate;
  // below k the sketch IS the exact count
  private[queries] val kmvDistinctDef = query("q_kmv_distinct", kmvDistinctQ,
    s"""WITH hu AS (
       |  SELECT DISTINCT event_type, ${duckFnvU("CAST(user_id AS VARCHAR)")} AS hu
       |  FROM events
       |), h AS (
       |  SELECT event_type, ${duckU2S("hu")} AS h FROM hu
       |), r AS (
       |  SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM h
       |), t AS (
       |  SELECT event_type, CAST(max(rn) AS BIGINT) AS kmv_k,
       |    max_by(h, rn) AS h_k
       |  FROM r WHERE rn <= 256 GROUP BY 1
       |)
       |SELECT event_type, kmv_k, h_k,
       |  CASE WHEN kmv_k < 256 THEN CAST(kmv_k AS DOUBLE)
       |  ELSE round(255.0 / ((CAST(h_k AS DOUBLE) + 9223372036854775808.0)
       |    / 18446744073709551616.0), 6) END AS est_distinct
       |FROM t""".stripMargin)

  /** HLL++ sketch cardinality — the constant-memory face of
    * [[distinctUsers]] for 100 TB group-bys. The estimate itself is
    * engine-specific, so the oracle checks the sketch's error CONTRACT: the
    * query computes both the exact distinct count and the rsd=1% HLL
    * estimate and emits whether the relative error is within 5σ; DuckDB
    * supplies the exact counts and expects every check true. HLL is
    * deterministic for fixed data — no flake — while an estimator
    * regression (>5% error) fails the hash compare.
    */
  private def approxDistinctQ(s: SparkSession, dir: String): DataFrame =
    // Two-phase: distinct (event_type, user_id) pairs first (map-side
    // combined — only unique pairs shuffle), then count + HLL over the
    // distinct set. The HLL estimate is identical (registers are
    // multiplicity-invariant) but the expensive rsd=1% sketch runs over
    // |distinct| rows instead of riding an Expand over the full table
    // inside the mixed exact+approx aggregate (measured 3× at sf0.1).
    t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("_c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users_exact"),
        approx_count_distinct(col("user_id"), 0.01).as("hll"))
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("hll") - col("n_users_exact")).cast("double") / col("n_users_exact") <= 0.05)
          .as("hll_in_band"))
  query("q_approx_distinct", approxDistinctQ,
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact, true AS hll_in_band
      |FROM events GROUP BY event_type""".stripMargin)

  /** Sketch-merge distinct users: per-(event_type, day) HLL sketches
    * union-rolled up to event_type ([[graft.operators.Analytics.hllRollup]]
    * — the materialize-once/merge-many incremental pattern, vs
    * q_approx_distinct's direct single-pass sketch). The estimate itself is
    * sketch-impl-specific, so the contract oracle pins the exact count and
    * the error-band flag (lgK=12 → rse ≈ 1.6%; band = 5σ ≈ 8%).
    */
  private def hllRollupQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val est = Analytics.hllRollup(ev,
      Seq(col("event_type"), date_trunc("day", col("ts")).as("day")),
      Seq(col("event_type")), col("user_id"), lgK = 12)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("estimate") - col("n_users_exact")) <=
          col("n_users_exact") * 0.08).as("hll_merged_in_band"))
  }
  // sketch-merge contract: the merged-rollup estimate must land in the
  // 5-sigma band around the exact distinct count (estimate bytes are
  // DataSketches-internal — the CONTRACT is portable, the registers not)
  query("q_hll_rollup", hllRollupQ,
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
      |  true AS hll_merged_in_band
      |FROM events GROUP BY event_type""".stripMargin)

  /** Mergeable-quantile rollup: per-(event_type, day) KLL sketches of
    * `value` merged to event_type
    * ([[graft.operators.Analytics.kllRollup]]); KLL compaction is
    * randomized, so the contract is the rank-error band — merged p50/p95
    * must land between the exact ±5%-rank percentiles (k = 200 → rank
    * error ≈ 1.65%, 3× headroom) — mirroring q_approx_percentiles but
    * exercising the materialize-once/merge-many path.
    */
  private def kllRollupQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val merged = Analytics.kllRollup(ev,
      Seq(col("event_type"), date_trunc("day", col("ts")).as("day")),
      Seq(col("event_type")), col("value"), k = 200)
      .select(col("event_type"),
        kll_sketch_get_quantile_double(col("sketch"), lit(0.5)).as("p50"),
        kll_sketch_get_quantile_double(col("sketch"), lit(0.95)).as("p95"))
    val exact = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      expr("percentile(value, 0.45)").as("lo50"),
      expr("percentile(value, 0.55)").as("hi50"),
      expr("percentile(value, 0.90)").as("lo95"),
      max(col("value")).as("hi95"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("n"),
        (col("p50") >= col("lo50") && col("p50") <= col("hi50")).as("p50_in_band"),
        (col("p95") >= col("lo95") && col("p95") <= col("hi95")).as("p95_in_band"))
  }
  // merged-KLL contract: p50/p95 from the day-sketch union must sit in
  // the exact ±5%-rank band (KLL compaction is randomized — values are
  // not portable, the rank contract is)
  query("q_kll_rollup", kllRollupQ,
    """SELECT event_type, COUNT(*) AS n, true AS p50_in_band,
      |  true AS p95_in_band
      |FROM events GROUP BY event_type""".stripMargin)

  /** Theta-sketch segment overlap: one distinct-user sketch per
    * event_type ([[graft.operators.Analytics.thetaSketches]]), then every
    * pairwise intersection estimated driver-side from the serialized
    * binaries ([[graft.expressions.ThetaOps.intersect]]) — the set-algebra
    * question HLL cannot answer. At this corpus's cardinalities the
    * sketches are in exact mode (≪ 2^12 distinct), so the band is pure
    * headroom; the contract oracle pins the exact pair counts.
    */
  private def thetaIntersectQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sk = Analytics.thetaSketches(ev, col("event_type"), "event_type",
        col("user_id"), lgK = 12)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).sortBy(_._1)
    val pairs = for {
      i <- sk.indices; j <- (i + 1) until sk.length
    } yield (sk(i)._1, sk(j)._1,
      graft.expressions.ThetaOps.intersect(Seq(sk(i)._2, sk(j)._2)))
    import s.implicits._
    val est = pairs.toDF("type_a", "type_b", "est")
    val d = ev.select(col("event_type"), col("user_id")).distinct()
    val exact = d
      .join(d.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_exact"))
    exact.join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.10 + lit(1.0))
          .as("theta_in_band"))
  }
  // theta-intersection contract: exact pairwise distinct-user overlap +
  // the in-band flag (sketch registers are impl-internal; the estimates
  // are exact-mode at this scale, so the band is headroom)
  query("q_theta_intersect", thetaIntersectQ,
    """WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*) AS n_exact, true AS theta_in_band
      |FROM d a JOIN d b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin)

  /** Heavy hitters over a deterministically synthesized Zipf-ish token
    * stream (the corpus's own vocabulary is near-uniform — no true heavy
    * hitter exists in it to find): position hashes map to 15 tokens with
    * shares 50/25/12.5/…%, the Misra-Gries sketch runs k = 8 < vocabulary,
    * and the query then JOINS its own output against the exact census and
    * EMITS the error contract: for every item with exact count > n/(k+1),
    * (a) the inner join finds it in the summary (completeness — a miss
    * drops the row and fails the row-count compare), (b) est ≤ exact,
    * (c) exact − est ≤ n/(k+1). The raw estimates are merge-order-dependent
    * and never surface; the flags are guarantees, stable under any
    * partitioning — the same oracle pattern as the HLL/percentile sketch
    * gates.
    */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val d = t(s, dir, "documents")
    val stream = d
      .select(col("doc_id"), TF.tokenCount(col("text")).cast("int").as("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), explode(sequence(lit(0), col("nt") - 1)).as("i"))
    val m = pmod(TF.fnv1a64(concat(col("doc_id").cast("string"), lit("#"),
      col("i").cast("string"))), lit(1024L))
    val tok = when(m < 512, lit("t0")).when(m < 768, lit("t1"))
      .when(m < 896, lit("t2")).when(m < 960, lit("t3"))
      .when(m < 992, lit("t4")).when(m < 1008, lit("t5"))
      .when(m < 1016, lit("t6"))
      .otherwise(concat(lit("cold"), (m - 1016).cast("string")))
    val toks = stream.select(tok.as("item"))
    val sk = toks
      .agg(TF.freqItems(col("item"), k).as("hh"), count(lit(1)).as("n"))
      .select(explode(col("hh")).as("e"), col("n"))
      .select(col("e.item").as("item"), col("e.est").as("est"), col("n"))
    toks.groupBy(col("item")).agg(count(lit(1)).as("exact_count"))
      .join(sk, "item")
      .filter(col("exact_count") * (k + 1) > col("n"))
      .select(col("item"), col("exact_count"),
        (col("est") <= col("exact_count")).as("under_ok"),
        ((col("exact_count") - col("est")) * (k + 1) <= col("n")).as("band_ok"))
  }
  // heavy-hitters contract replay: the synthesized Zipf stream is a pure
  // function of (doc_id, position) — DuckDB rebuilds it, takes the EXACT
  // census, and expects exactly the guaranteed-heavy rows with both
  // contract flags true (pmod == unsigned % for the 2^10 modulus)
  query("q_heavy_hitters", heavyHittersQ,
    s"""WITH d AS (
       |  SELECT doc_id, len($duckToks) AS nt FROM documents
       |), st AS (
       |  SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR) AS hk
       |  FROM d, unnest(range(0, nt)) AS u(i) WHERE nt > 0
       |), hm AS (
       |  SELECT CAST(${duckFnvU("hk")} % 1024 AS BIGINT) AS m FROM st
       |), tk AS (
       |  SELECT CASE WHEN m < 512 THEN 't0' WHEN m < 768 THEN 't1'
       |              WHEN m < 896 THEN 't2' WHEN m < 960 THEN 't3'
       |              WHEN m < 992 THEN 't4' WHEN m < 1008 THEN 't5'
       |              WHEN m < 1016 THEN 't6'
       |              ELSE 'cold' || CAST(m - 1016 AS VARCHAR) END AS item
       |  FROM hm
       |), nn AS (SELECT count(*) AS n FROM tk),
       |ex AS (SELECT item, count(*) AS exact_count FROM tk GROUP BY item)
       |SELECT item, exact_count, true AS under_ok, true AS band_ok
       |FROM ex, nn WHERE exact_count * 9 > nn.n""".stripMargin)

  /** Count-Min point-frequency audit ([[TF.cmSketch]]): ONE 4×64 sketch
    * over the events user stream (deliberately tiny so collisions are
    * real), probed for the 20 hottest users and checked against the exact
    * census. Unlike the sketch-contract gates (HLL/KLL/theta), Count-Min
    * is fully DETERMINISTIC given the hash family — the oracle replays
    * the ENTIRE sketch (every occurrence's d bucket increments, then the
    * min-over-rows probe) in unsigned HUGEINT arithmetic and matches the
    * estimates VALUE-exactly, not just in-band. Power-of-two moduli make
    * unsigned-mod == signed floorMod ([[graft.expressions.CountMin]]).
    * Scale shape: the sketch is one 80 KB-max partial-aggregated row; the
    * census exists only because the audit needs ground truth.
    */
  private def countMinQ(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 64)
    val ev = t(s, dir, "events").select(col("user_id").cast("string").as("item"))
    val sk = ev.agg(TF.cmSketch(col("item"), d, w).as("cm"))
    ev.groupBy(col("item")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("item")).limit(20)
      .crossJoin(broadcast(sk))
      .select(col("item").as("user_id"), col("n_exact"),
        TF.cmEstimate(col("cm"), col("item"), d, w).as("cm_est"))
      .withColumn("over_ok", col("cm_est") >= col("n_exact"))
  }
  // count-min FULL replay: DuckDB rebuilds the 4×64 sketch from every
  // occurrence (d bucket increments each, double-hashed with power-of-two
  // moduli so unsigned % == floorMod) and probes min-over-rows — the
  // estimates match VALUE-exactly, a strictly stronger gate than the
  // in-band sketch contracts
  query("q_countmin", countMinQ,
    s"""WITH it AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
       |hs AS (SELECT item,
       |         CAST(${duckFnvU("item")} % 64 AS BIGINT) AS b1,
       |         1 + 2 * CAST(${duckFnvU("(item || '#cm2')")} % 32 AS BIGINT) AS b2
       |       FROM it),
       |pr AS (SELECT item, i, (b1 + i * b2) % 64 AS bucket
       |       FROM hs, range(0, 4) AS r(i)),
       |cells AS (SELECT i, bucket, count(*) AS c FROM pr GROUP BY 1, 2),
       |est AS (SELECT p.item, min(c.c) AS cm_est
       |        FROM (SELECT DISTINCT item, i, bucket FROM pr) p
       |        JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
       |        GROUP BY 1),
       |ex AS (SELECT item, count(*) AS n_exact FROM it GROUP BY 1),
       |top AS (SELECT item, n_exact FROM ex ORDER BY n_exact DESC, item LIMIT 20)
       |SELECT t.item AS user_id, t.n_exact, e.cm_est,
       |  e.cm_est >= t.n_exact AS over_ok
       |FROM top t JOIN est e ON e.item = t.item""".stripMargin)

  /** Join-size estimation from sketches (the Count-Min inner product,
    * Cormode & Muthukrishnan §4.2): |A ⋈ B| on the join key = Σ_k
    * cnt_A(k)·cnt_B(k), estimated as min_i Σ_b tableA[i,b]·tableB[i,b]
    * from two already-built CM sketches — overcounting always (collision
    * products only add), within ε·N_A·N_B w.h.p. The shuffle-planning
    * question at 100 TB ("should this join be salted? pre-aggregated?")
    * answered from two 80 KB summaries WITHOUT running the join — and the
    * sketches compose: per-partition sketches sum element-wise first.
    * Here: view-events ⋈ purchase-events on user, checked against the
    * exact inner product; the oracle replays both sketches and the
    * estimate VALUE-exactly (the q_countmin full-replay machinery).
    */
  private def joinSizeEstQ(s: SparkSession, dir: String): DataFrame = {
    val (d, w) = (4, 64)
    val ev = t(s, dir, "events")
    def sk(typ: String, as: String) = ev.filter(col("event_type") === typ)
      .select(col("user_id").cast("string").as("item"))
      .agg(TF.cmSketch(col("item"), d, w).as(as))
    def census(typ: String, as: String) = ev.filter(col("event_type") === typ)
      .groupBy(col("user_id")).agg(count(lit(1)).as(as))
    val exact = census("view", "nv").join(census("purchase", "np"), "user_id")
      .agg(coalesce(sum(col("nv") * col("np")), lit(0L)).as("n_exact"))
    val prods = expr(s"transform(sequence(0, ${d - 1}), i -> " +
      s"aggregate(zip_with(slice(a.table, i * $w + 1, $w), " +
      s"slice(b.table, i * $w + 1, $w), (x, y) -> x * y), 0L, (acc, v) -> acc + v))")
    exact.crossJoin(broadcast(sk("view", "a")))
      .crossJoin(broadcast(sk("purchase", "b")))
      .select(col("n_exact"), array_min(prods).as("cm_est"))
      .withColumn("over_ok", col("cm_est") >= col("n_exact"))
  }
  // CM inner-product replay: both sketches rebuilt cell-by-cell, the
  // row-wise dot products and their min matched value-exactly, next to
  // the exact Σ cnt_v·cnt_p inner product
  query("q_join_size_est", joinSizeEstQ,
    s"""WITH it AS (SELECT CAST(user_id AS VARCHAR) AS item, event_type
       |            FROM events WHERE event_type IN ('view', 'purchase')),
       |hs AS (SELECT item, event_type,
       |         CAST(${duckFnvU("item")} % 64 AS BIGINT) AS b1,
       |         1 + 2 * CAST(${duckFnvU("(item || '#cm2')")} % 32 AS BIGINT) AS b2
       |       FROM it),
       |pr AS (SELECT event_type, i, (b1 + i * b2) % 64 AS bucket
       |       FROM hs, range(0, 4) AS r(i)),
       |cells AS (SELECT event_type, i, bucket, count(*) AS c
       |          FROM pr GROUP BY 1, 2, 3),
       |dot AS (SELECT a.i, sum(a.c * b.c) AS p
       |        FROM cells a JOIN cells b
       |          ON a.i = b.i AND a.bucket = b.bucket
       |         AND a.event_type = 'view' AND b.event_type = 'purchase'
       |        GROUP BY 1),
       |-- every sketch row participates in the min: a row whose bucket
       |-- sets are disjoint (or an empty side) has product 0, as in the
       |-- array arithmetic — without this the min skips absent rows
       |alld AS (SELECT r.i, COALESCE(d.p, 0) AS p
       |         FROM range(0, 4) AS r(i) LEFT JOIN dot d ON d.i = r.i),
       |est AS (SELECT CAST(min(p) AS BIGINT) AS cm_est FROM alld),
       |ex AS (SELECT CAST(COALESCE(sum(v.c * p.c), 0) AS BIGINT) AS n_exact
       |       FROM (SELECT item, count(*) AS c FROM it
       |             WHERE event_type = 'view' GROUP BY 1) v
       |       JOIN (SELECT item, count(*) AS c FROM it
       |             WHERE event_type = 'purchase' GROUP BY 1) p
       |         ON p.item = v.item)
       |SELECT ex.n_exact, est.cm_est, est.cm_est >= ex.n_exact AS over_ok
       |FROM ex, est""".stripMargin)
}
