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

/** Registry queries of deduplication: exact, fuzzy, MinHash and SimHash,
  * embedding near-duplicates and record linkage. Each query registers with its
  * oracle right after its body.
  */
private[graft] object DedupQueries extends QueryFamily {

  /** Duplicate ATTRIBUTION by source: per source, how many of its
    * documents share a normalized-text fingerprint with ANY document in
    * the corpus — the "who brings the duplicates" view the global dedup
    * rate hides (a source can be small and still contribute most of the
    * dup mass). The join key is the 8-byte FNV of the normalized text —
    * the same fingerprint-not-text rule every dedup shuffle here follows.
    */
  private def dupBySourceQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TF.fnv1a64(TF.normalizeText(col("text"))).as("hk"))
    val counts = d.groupBy(col("hk")).agg(count(lit(1)).as("cnt"))
    d.join(counts, "hk")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate",
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6))
  }
  // dup attribution: identical normalization, identical FNV fingerprint,
  // per-source share of fingerprint-colliding docs
  query("q_dup_by_source", dupBySourceQ,
    s"""WITH nrm AS (
       |  SELECT doc_id, source,
       |    trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), '\\s+', ' ', 'g')) AS k
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, source, ${duckU2S(duckFnvU("k"))} AS hk FROM nrm
       |), c AS (SELECT hk, COUNT(*) AS cnt FROM h GROUP BY 1)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  round(CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
       |FROM h JOIN c USING (hk) GROUP BY 1""".stripMargin)

  /** Cross-source shingle-overlap matrix over the documents corpus
    * ([[TrainingData.crossSourceOverlap]]).
    */
  private def crossSourceOverlapQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.crossSourceOverlap(t(s, dir, "documents"), "source", "text", n = 5)
  query("q_cross_source_overlap", crossSourceOverlapQ,
    s"""WITH toksrc AS (
       |  SELECT source, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT source, unnest(list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)])) AS s
       |  FROM toksrc WHERE len(w) >= 5
       |), inv AS (SELECT DISTINCT source, s FROM sh),
       |tot AS (SELECT source, COUNT(*) AS n FROM inv GROUP BY source),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
       |      FROM inv a JOIN inv b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, p.shared,
       |  round(CAST(p.shared AS DOUBLE) / (ta.n + tb.n - p.shared), 6) AS jaccard
       |FROM p JOIN tot ta ON ta.source = p.source_a
       |       JOIN tot tb ON tb.source = p.source_b""".stripMargin)

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
  query("q_dedup_exact", dedupExact,
    "SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text")

  /** Cross-document duplicated-span detection by winnowing-style tiling:
    * non-overlapping 32-char tiles fingerprinted (fnv1a64), inverted
    * postings self-joined on fingerprint, pairs sharing ≥ 2 distinct
    * tiles reported with the shared count — the copy-detection primitive
    * between exact dedup (whole doc) and MinHash (bag similarity): it
    * localizes HOW MUCH verbatim text two documents share and survives
    * content moved around a document. Scale posture: postings are 8-byte
    * fingerprints (text never shuffles past the tiling scan); boilerplate
    * tiles shared by > 50 docs are dropped BEFORE the self-join (the
    * hot-shingle cap — quadratic pair blowup capped at 50² per tile, the
    * Dedup.autoDocFreqCap pattern); the cap is part of the documented
    * semantics and the oracle replays it.
    */
  private def tileDupesQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(length(col("text")) >= 32)
    val tiles = docs.select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text) div 32), " +
          "k -> substring(text, (k-1)*32 + 1, 32))")).as("tile"))
      .select(col("doc_id"), TF.fnv1a64(col("tile")).as("fp"))
      .distinct()
    val ok = tiles.groupBy(col("fp")).agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2 && col("m") <= 50)
      .select("fp")
    val p = tiles.join(ok, "fp")
    p.as("a").join(p.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }
  // tile postings replay: identical 32-char non-overlapping tiling,
  // identical FNV fingerprints, identical [2, 50] document-frequency cap
  query("q_tile_dupes", tileDupesQ,
    s"""WITH tl AS (
       |  SELECT DISTINCT doc_id,
       |    ${duckFnvU("substr(text, CAST((k-1)*32 + 1 AS BIGINT), 32)")} AS fp
       |  FROM documents, unnest(range(1, len(text) // 32 + 1)) AS u(k)
       |  WHERE len(text) >= 32),
       |ok AS (SELECT fp FROM tl GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
       |p AS (SELECT doc_id, tl.fp FROM tl JOIN ok ON ok.fp = tl.fp)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)

  /** Exact Jaccard with the hot-shingle guard replayed: shingles whose
    * document frequency exceeds `max(64, n/100)` (Dedup.autoDocFreqCap) are
    * excluded from the INTERSECTION counts but not the set sizes — mirroring
    * ngramJaccardPairs' default-on guard exactly. Oracle for q_ngram_jaccard
    * (the uncapped `duckShingleCtes` stays the oracle for the minhash and
    * resolve queries, whose banding handles hot shingles by bucket caps
    * instead of dropping them).
    */
  // shared pair-set CTE (hot-shingle-capped exact Jaccard, no threshold) —
  // the single-threshold oracle and the sweep oracle read the same jp set
  private val duckJaccardPairsCte =
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |), inv0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |cap AS (SELECT greatest(64, count(*) // 100) AS v FROM documents),
       |hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > (SELECT v FROM cap)),
       |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2
       |), jp AS (
       |  SELECT a, b, round(inter / (sa.n + sb.n - inter), 6) AS jaccard
       |  FROM pairs
       |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON a = sa.doc_id
       |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON b = sb.doc_id
       |)""".stripMargin

  private val duckCappedJaccardSql =
    duckJaccardPairsCte + "\nSELECT a, b, jaccard FROM jp WHERE jaccard >= 0.8"

  /** Exact 5-gram Jaccard with the default hot-shingle guard ON (df cap
    * `max(64, n/100)` — Dedup.autoDocFreqCap): one boilerplate shingle must
    * not quadratically explode the inverted-index self-join. The oracle
    * replays the identical cap ([[duckCappedJaccardSql]]).
    */
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.8,
      corpusN = tableCount(s, dir, "documents"))
  query("q_ngram_jaccard", ngramJaccard, duckCappedJaccardSql)

  private val duckJaccardSweepSql =
    duckJaccardPairsCte +
      """
        |SELECT count(*) FILTER (WHERE jaccard >= 0.5) AS n_ge_50,
        |  count(*) FILTER (WHERE jaccard >= 0.6) AS n_ge_60,
        |  count(*) FILTER (WHERE jaccard >= 0.7) AS n_ge_70,
        |  count(*) FILTER (WHERE jaccard >= 0.8) AS n_ge_80
        |FROM jp""".stripMargin

  /** Fuzzy-dedup threshold sweep: pair counts at four Jaccard cutoffs from
    * ONE pass over the exact pair set ([[Dedup.ngramJaccardPairs]] at the
    * loosest threshold, conditional counts above it). The inverted-index
    * join — the expensive part — is threshold-independent, so sweeping
    * costs the same as a single-threshold run; this is how you pick the
    * dedup threshold for a corpus without re-running the candidate join
    * per candidate value.
    */
  private def jaccardSweepQ(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 5,
        threshold = 0.5, corpusN = tableCount(s, dir, "documents"))
      .agg(count(when(col("jaccard") >= 0.5, 1)).as("n_ge_50"),
        count(when(col("jaccard") >= 0.6, 1)).as("n_ge_60"),
        count(when(col("jaccard") >= 0.7, 1)).as("n_ge_70"),
        count(when(col("jaccard") >= 0.8, 1)).as("n_ge_80"))
  query("q_jaccard_sweep", jaccardSweepQ, duckJaccardSweepSql)

  /** Directed containment over the same hot-capped pair set — oracle for
    * q_doc_containment ([[graft.dedup.Dedup.containmentPairs]]).
    */
  private val duckContainmentSql =
    duckJaccardPairsCte +
      """, cp AS (
        |  SELECT a, b,
        |    round(inter / sa.n, 6) AS contain_ab,
        |    round(inter / sb.n, 6) AS contain_ba,
        |    round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        |  FROM pairs
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON a = sa.doc_id
        |  JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON b = sb.doc_id
        |)
        |SELECT a, b, contain_ab, contain_ba, jaccard FROM cp
        |WHERE greatest(contain_ab, contain_ba) >= 0.5""".stripMargin

  /** Directed n-gram containment pairs ([[Dedup.containmentPairs]]): the
    * quote/excerpt detector — C(A→B)=|A∩B|/|A| flags a document pasted
    * inside a larger one where Jaccard stays near zero. Same hot-capped
    * inverted index as the Jaccard pass, so a corpus pays one candidate
    * join for both resemblance and containment.
    */
  private def docContainmentQ(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", n = 5,
      threshold = 0.5, corpusN = tableCount(s, dir, "documents"))
  query("q_doc_containment", docContainmentQ, duckContainmentSql)

  private val duckShingleCte =
    s"WITH $duckShingleCtes\nSELECT a, b, jaccard FROM jpairs"

  private def minhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.8,
      corpusN = tableCount(s, dir, "documents"))
  query("q_minhash_lsh", minhashLsh, duckShingleCte)

  /** Connected components over the exact-Jaccard pair graph (min label per
    * component) — the oracle for [[dedupResolve]]. Valid because the minhash
    * pair set is itself oracle-verified equal to the exact pair set
    * (q_minhash_lsh), so both engines resolve the same graph.
    */
  private val duckResolveCte =
    s"""WITH RECURSIVE $duckShingleCtes,
       |edges AS (SELECT a AS u, b AS v FROM jpairs UNION SELECT b, a FROM jpairs),
       |walk(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.id
       |)
       |SELECT id, MIN(lbl) AS keep_id FROM walk GROUP BY id""".stripMargin

  /** End-to-end dedup resolution: near-dup pairs → connected components →
    * keep/drop decision per involved doc. Oracle: a DuckDB recursive CTE
    * over the exact-Jaccard pair graph (see [[duckResolveCte]]).
    */
  private def dedupResolve(s: SparkSession, dir: String): DataFrame =
    // no orderBy: a global sort is an extra range-partition exchange and the
    // driver's compare sorts rows itself
    Dedup.resolveDuplicates(
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.8,
        corpusN = tableCount(s, dir, "documents")))
  query("q_dedup_resolve", dedupResolve, duckResolveCte)

  /** Full DuckDB recomputation of the FNV-tokened 64-bit simhash and the
    * exact hamming ≤ 3 pair set: per-token FNV in HUGEINT → per-bit ±1
    * votes → sign-packed signature → all-pairs `bit_count(xor(...))`.
    * All-pairs is fine at verify scale (500 docs → 125k pairs); Spark's
    * pigeonhole blocking must reproduce it exactly (zero false negatives by
    * construction, candidates exact-filtered).
    */
  private val duckSimhashSql =
    s"""WITH RECURSIVE pw(b, p) AS (
       |  SELECT 0, CAST(1 AS HUGEINT) UNION ALL SELECT b+1, p*2 FROM pw WHERE b < 63
       |),
       |toksrc AS (SELECT doc_id, $duckToks AS w FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS tk FROM toksrc),
       |th AS (SELECT doc_id, ${duckFnvU("tk")} AS hu FROM tok),
       |votes AS (
       |  SELECT doc_id, pw.b, SUM(CASE WHEN (hu // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN pw GROUP BY 1, 2
       |),
       |sims AS (
       |  SELECT doc_id, SUM(CASE WHEN v >= 0 THEN pw.p ELSE CAST(0 AS HUGEINT) END) AS su
       |  FROM votes JOIN pw ON votes.b = pw.b GROUP BY 1
       |),
       |simv AS (SELECT doc_id, ${duckU2S("su")} AS sh FROM sims)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
       |FROM simv x JOIN simv y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin

  /** SimHash near-dup pairs. Tokens hash with FNV-1a (engine-portable), so
    * the DuckDB oracle recomputes every document's 64-bit simhash from
    * scratch (HUGEINT FNV + bit votes) and checks the pair set row-for-row
    * — the pigeonhole blocking has zero false negatives, so Spark's output
    * IS the exact hamming ≤ 3 pair set.
    */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))
  query("q_simhash_pairs", simhashPairs, duckSimhashSql)

  /** Exact cosine near-dup pairs — shared by q_embed_near_dup and the
    * cost-dispatched q_embed_near_dup_auto (same semantics, one string to
    * keep in sync).
    */
  private val duckNearDupSql =
    s"""SELECT x.vec_id AS a, y.vec_id AS b, round($duckCos, 6) AS cos
       |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
       |WHERE round($duckCos, 6) >= 0.45""".stripMargin

  private def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupExact(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
  query("q_embed_near_dup", embedNearDup, duckNearDupSql)

  /** Cost-dispatched near-dup (the user-facing entry point): exact below
    * the measured crossover, LSH above — oracle = the exact pair SQL, valid
    * at verify scale where the dispatcher picks the exact path.
    */
  private def embedNearDupAuto(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.45, n = tableCount(s, dir, "embeddings"))
  query("q_embed_near_dup_auto", embedNearDupAuto, duckNearDupSql)

  /** SemDeDup oracle: replay the fixed-centroid assignment (the
    * q_kmeans_assign technique), restrict the exact cosine pair graph to
    * within-cluster pairs, resolve components with the recursive min-label
    * CTE (the q_dedup_resolve technique), and default untouched docs to
    * keeping themselves.
    */
  private val duckSemanticDedupSql =
    s"""WITH RECURSIVE c AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cemb
       |  FROM embeddings WHERE vec_id < 10),
       |s AS (
       |  SELECT e.vec_id, c.cidx,
       |    list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) * -2.0
       |    + list_sum([CAST(c.cemb[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE) FOR i IN range(1, 65)]) AS d
       |  FROM embeddings e CROSS JOIN c),
       |asg AS (
       |  SELECT vec_id, CAST(cidx AS BIGINT) AS list FROM (
       |    SELECT vec_id, cidx, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cidx) AS rn FROM s
       |  ) WHERE rn = 1),
       |p AS (
       |  SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
       |  JOIN asg ax ON ax.vec_id = x.vec_id
       |  JOIN asg ay ON ay.vec_id = y.vec_id AND ax.list = ay.list
       |  WHERE round($duckCos, 6) >= 0.45),
       |edges AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
       |walk(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.id),
       |comp AS (SELECT id, MIN(lbl) AS keep_id FROM walk GROUP BY id)
       |SELECT a.vec_id, a.list, COALESCE(cp.keep_id, a.vec_id) AS keep_id
       |FROM asg a LEFT JOIN comp cp ON cp.id = a.vec_id""".stripMargin

  /** SemDeDup semantic dedup over the embeddings corpus. Centroids are the
    * first 10 vectors (the q_kmeans_assign fixed-centroid scheme) so the
    * oracle replays the assignment bit-for-bit; eps matches the near-dup
    * threshold, making the within-cluster pair set the cluster-restricted
    * subset of q_embed_near_dup's pairs and the keep decision a recursive
    * CTE over it.
    */
  private def semanticDedupQ(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 10).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    Dedup.semanticDedup(emb, "vec_id", "embedding", dim = 64,
      graft.similarity.KMeans.Model(cents), eps = 0.45,
      n = tableCount(s, dir, "embeddings"))
      .select(col("vec_id"), col("list").cast("long").as("list"), col("keep_id"))
  }
  query("q_semantic_dedup", semanticDedupQ, duckSemanticDedupSql)

  private def embedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    // bits/tables = 0 → auto-size from corpus, threshold, and probe radius
    // (Ann.bitsFor / Ann.tablesFor): fixed bits degrade to near-all-pairs as
    // the corpus grows, fixed tables lose recall as bits grow. Radius-1
    // multiprobe at the 99.9% recall target drives the per-pair miss
    // probability low enough that the output equals the exact pair set at
    // verify scale — so the exact-cosine SQL oracle applies verbatim and a
    // recall regression fails the hash compare (plus a spec pins it).
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, threshold = 0.45, bits = 0, tables = 0,
      n = tableCount(s, dir, "embeddings"))
  query("q_embed_near_dup_lsh", embedNearDupLsh, duckNearDupSql)

  private def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), TF.fingerprintMod(col("text")).as("fp"))
  query("q_fingerprint", fingerprintQ,
    """SELECT doc_id,
      |list_reduce(list_prepend(CAST(5381 AS BIGINT), [CAST(ord(text[i]) AS BIGINT) FOR i IN range(1, len(text)+1)]),
      |  (a, x) -> (a * 31 + x) % 1000000007) AS fp
      |FROM documents""".stripMargin)

  /** Exact dedup after canonical normalization (case/punct/whitespace). */
  private def dedupNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      t(s, dir, "documents").select(col("doc_id"), TF.normalizeText(col("text")).as("norm_text")),
      "norm_text", "doc_id")
  query("q_dedup_normalized", dedupNormalized,
    """SELECT trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'), '\s+', ' ', 'g')) AS norm_text,
      |MIN(doc_id) AS doc_id FROM documents GROUP BY 1""".stripMargin)

  /** Policy-driven resolution: per near-dup component, keep the member with
    * the highest quality score (ties → smallest id) — the curation keep
    * rule, vs [[dedupResolve]]'s min-id. Oracle: recursive-CTE components
    * plus a quality-ordered pick per component.
    */
  private def dedupResolveBestQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    Dedup.resolveDuplicatesBy(
      Dedup.minhashPairs(d, "doc_id", "text", n = 5, threshold = 0.8,
        corpusN = tableCount(s, dir, "documents")),
      d.select(col("doc_id"), TF.qualityScore(col("text")).as("q")), "doc_id", "q")
  }
  // same recursive components; the survivor is the quality-DESC, id-ASC
  // pick per component (mirrors min(struct(-score, id)))
  query("q_dedup_resolve_best", dedupResolveBestQ,
    s"""WITH RECURSIVE $duckShingleCtes,
       |edges AS (SELECT a AS u, b AS v FROM jpairs UNION SELECT b, a FROM jpairs),
       |walk(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS root FROM walk GROUP BY id),
       |dq AS ($duckQualitySql),
       |win AS (
       |  SELECT root, id AS keep_id FROM (
       |    SELECT c.root, c.id,
       |      ROW_NUMBER() OVER (PARTITION BY c.root ORDER BY dq.quality DESC, c.id ASC) AS rn
       |    FROM comp c JOIN dq ON dq.doc_id = c.id
       |  ) WHERE rn = 1
       |)
       |SELECT c.id, w.keep_id FROM comp c JOIN win w USING (root)""".stripMargin)

  /** Paragraph-level exact dedup on a synthesized newline corpus: a header
    * line shared per source, an optional promo line on 1/4 of docs, and a
    * footer shared by every doc — the global first occurrence of each
    * repeated line survives, every other occurrence is cut, untouched docs
    * pass byte-identically. (The base corpus has no newlines, so the line
    * structure is synthesized deterministically — the q_remove_boilerplate
    * pattern; dedup here KEEPS one copy where boilerplate removal would
    * drop all of a frequent line.)
    */
  private def paragraphDedupQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val raw = concat(
      lit("From the "), col("source"), lit(" collection\n"),
      col("text"),
      when(col("doc_id") % 4 === 0,
        lit("\nSubscribe for updates at example dot org")).otherwise(lit("")),
      lit("\nAll rights reserved"))
    TrainingData.dedupParagraphs(
      d.select(col("doc_id"), raw.as("text")), "doc_id", "text")
  }
  // paragraph dedup: the q_remove_boilerplate line chain (synthesize →
  // split → fingerprint non-blank lines) but with the FIRST-KEEPER rule —
  // row_number over (line_fp ORDER BY doc_id, pos) replays Spark's
  // min(struct(doc_id, pos)) exactly; docs with no cut pass through raw
  query("q_paragraph_dedup", paragraphDedupQ,
    s"""WITH p AS (
       |  SELECT doc_id,
       |    'From the ' || source || ' collection' || chr(10) || text ||
       |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'Subscribe for updates at example dot org' ELSE '' END ||
       |    chr(10) || 'All rights reserved' AS raw
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
       |), rk AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY line_fp ORDER BY doc_id, pos) AS rn,
       |    count(*) OVER (PARTITION BY line_fp) AS cnt
       |  FROM nb
       |), cut AS (
       |  SELECT doc_id, pos FROM rk WHERE cnt >= 2 AND rn > 1
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

  /** Passage-level exact dedup: repeated 16-token windows across the corpus. */
  private def chunkDedupQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.duplicateChunks(t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 16)
  // chunk layout replayed (stride = chunk → non-overlapping), full windows
  // only, then the FNV-1a fingerprint recomputed in HUGEINT and reduced to
  // the signed BIGINT Spark emits
  query("q_chunk_dedup", chunkDedupQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), t AS (
       |  SELECT doc_id, w, len(w) AS n FROM toksrc WHERE len(w) > 0
       |), st AS (
       |  SELECT doc_id, n, w, unnest(range(0, n, 16)) AS start FROM t
       |), ch AS (
       |  SELECT doc_id, array_to_string(w[start+1:start+16], ' ') AS chunk_text
       |  FROM st WHERE least(16, n - start) = 16
       |), fp AS (
       |  SELECT doc_id, ${duckU2S(duckFnvU("chunk_text"))} AS chunk_fp FROM ch)
       |SELECT chunk_fp, count(*) AS n_occurrences,
       |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
       |FROM fp GROUP BY chunk_fp HAVING count(*) > 1""".stripMargin)

  /** Incremental dedup: the `doc_id % 7` slice plays the fresh delta, the
    * rest the accumulated corpus; output keeps every original column.
    */
  private def dedupIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TrainingData.dedupAgainst(docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
  }
  query("q_dedup_incremental", dedupIncrementalQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)]) AS shingles
       |  FROM toksrc WHERE len(w) >= 5
       |), dup AS (
       |  SELECT DISTINCT f.doc_id
       |  FROM sh f JOIN sh c ON f.doc_id % 7 = 0 AND c.doc_id % 7 != 0
       |  WHERE round(len(list_intersect(f.shingles, c.shingles))
       |    / (len(f.shingles) + len(c.shingles) - len(list_intersect(f.shingles, c.shingles))), 6) >= 0.8)
       |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id % 7 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin)

  /** Blocked edit-distance near-dup pairs ([[Dedup.editDistancePairs]]):
    * length-bucket × source blocking, Levenshtein ≤ 15 on 120-char
    * prefixes.
    */
  private def levPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
      Seq(col("source"), expr("n_chars div 64")), prefixLen = 120, maxDist = 15)
  query("q_lev_pairs", levPairsQ,
    """WITH b AS (
      |  SELECT doc_id, substring(text, 1, 120) AS t, source, n_chars // 64 AS lb
      |  FROM documents)
      |SELECT x.doc_id AS a, y.doc_id AS b, levenshtein(x.t, y.t) AS edit_dist
      |FROM b x JOIN b y ON x.source = y.source AND x.lb = y.lb AND x.doc_id < y.doc_id
      |WHERE levenshtein(x.t, y.t) <= 15""".stripMargin)

  /** Exact 5-gram Jaccard ≥ 0.8 pairs via PPJoin prefix filtering
    * ([[Dedup.ppjoinPairs]]): the third fuzzy-dedup path — same result set
    * as the exact inverted index (spec-pinned), candidates from the rare
    * prefix only.
    */
  private def ppjoinQ(s: SparkSession, dir: String): DataFrame =
    Dedup.ppjoinPairs(t(s, dir, "documents"), "doc_id", "text", n = 5,
      tNum = 4, tDen = 5)
  // PPJoin is candidate-generation only — the result contract is the
  // same exact uncapped 5-gram Jaccard the minhash queries verify against
  query("q_ppjoin", ppjoinQ, duckShingleCte)

  /** Per-source vocabulary fingerprint: within the global top-200 token
    * census, each source's 5 most OVER-represented tokens by the smoothed
    * KL contribution p_s·ln(p_s/p_g) — the "what makes this source talk
    * differently" report a curation review reads before weighting sources.
    * Restricted to the top-census domain (the bounded shortlist), so every
    * per-term double is computed from exact integer counts with the
    * identical expression on both engines; ranking uses the unrounded term.
    * Scale shape: one (source, token) census shuffle (map-side partials, no
    * text past the explode), a TakeOrdered top-200, broadcast-sized joins,
    * and the bounded top-5 aggregate.
    */
  private def sourceFingerprintQ(s: SparkSession, dir: String): DataFrame = {
    val stc = t(s, dir, "documents")
      .select(col("source"), explode(TF.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n_s"))
    val top = stc.groupBy(col("tok")).agg(sum(col("n_s")).as("n_g"))
      .orderBy(col("n_g").desc, col("tok")).limit(200)
    val ts = stc.join(top.select(col("tok")), Seq("tok"))
      .groupBy(col("source")).agg(sum(col("n_s")).as("t_s"))
    val tg = top.agg(sum(col("n_g")).as("t_g"))
    val ps = (col("n_s") + lit(1L)) / (col("t_s") + lit(200.0))
    val pg = (col("n_g") + lit(1L)) / (col("t_g") + lit(200.0))
    val terms = stc.join(top, Seq("tok")).join(ts, Seq("source")).crossJoin(tg)
      .select(col("source"), col("tok"), col("n_s"),
        (ps * log(ps / pg)).as("term"))
    Analytics.topPerKeyAgg(terms, "source",
        Seq(negate(col("term")), col("tok")),
        Seq("tok" -> col("tok"), "n_s" -> col("n_s"), "term" -> col("term")), 5)
      .select(col("source"), col("tok"), col("n_s"),
        round(col("term"), 6).as("kl_term"), col("rn").cast("long").as("rn"))
  }
  // source fingerprint: (source, token) census restricted to the global
  // top-200; smoothed KL contribution per pair from exact counts, top-5
  // per source ranked on the unrounded term
  query("q_source_fingerprint", sourceFingerprintQ,
    s"""WITH tk AS (SELECT source, unnest($duckToks) AS tok FROM documents),
       |stc AS (SELECT source, tok, COUNT(*) AS n_s FROM tk GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, SUM(n_s) AS n_g FROM stc GROUP BY 1
       |  ORDER BY n_g DESC, tok LIMIT 200
       |), ts AS (
       |  SELECT source, SUM(n_s) AS t_s
       |  FROM stc JOIN top USING (tok) GROUP BY 1
       |), tg AS (SELECT SUM(n_g) AS t_g FROM top),
       |term AS (
       |  SELECT stc.source, stc.tok, CAST(stc.n_s AS BIGINT) AS n_s,
       |    ((stc.n_s + 1) / (ts.t_s + 200.0)) *
       |      ln(((stc.n_s + 1) / (ts.t_s + 200.0)) / ((top.n_g + 1) / (tg.t_g + 200.0))) AS term
       |  FROM stc JOIN top USING (tok) JOIN ts USING (source) CROSS JOIN tg
       |), r AS (
       |  SELECT source, tok, n_s, round(term, 6) AS kl_term,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY term DESC, tok) AS rn
       |  FROM term
       |)
       |SELECT source, tok, n_s, kl_term, CAST(rn AS BIGINT) AS rn
       |FROM r WHERE rn <= 5""".stripMargin)

  /** Sorted-neighborhood near-dup pairs over part names
    * ([[Dedup.sortedNeighborPairs]], window 8) verified by the bit-exact
    * Jaro-Winkler: the SNM blocking face the fixed-prefix/length blocks
    * of q_jaro_pairs/q_lev_pairs don't cover. Filter on the UNROUNDED
    * similarity, publish rounded — the repo's float contract.
    */
  private def snmPairsQ(s: SparkSession, dir: String): DataFrame =
    // compute the similarity ONCE in a projection and filter on the
    // unrounded column: filter + select are separate operators, so the
    // filter-then-recompute form ran the O(|a|·|b|) kernel twice per
    // candidate (subexpression elimination does not cross the boundary)
    Dedup.sortedNeighborPairs(t(s, dir, "part"), "p_partkey", col("p_name"),
        window = 8)
      .select(col("a"), col("b"),
        TF.jaroWinkler(col("ka"), col("kb")).as("__jw"))
      .filter(col("__jw") >= 0.9)
      .select(col("a"), col("b"), round(col("__jw"), 6).as("sim"))
  // sorted-neighborhood pairs: DuckDB's jaro_winkler_similarity is the
  // function the native expression is bit-exact to (q_jaro_pairs), and
  // the rank window replays the same (name, key) global order
  query("q_snm_pairs", snmPairsQ,
    """WITH r AS (
      |  SELECT p_partkey, p_name,
      |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      |  FROM part)
      |SELECT a.p_partkey AS a, b.p_partkey AS b,
      |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
      |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9""".stripMargin)

  /** Multi-pass SNM ([[Dedup.sortedNeighborPairsMulti]], window 8, keys =
    * p_name, reverse(p_name), and the brand∥type∥name attribute
    * concatenation): the Hernández/Stolfo completion of q_snm_pairs,
    * at the ≥3 complementary passes the SIGMOD '95 method prescribes.
    * The reversed-name pass reaches duplicates whose edit sits in the
    * name's PREFIX (name-sorted ranks put those > window apart;
    * suffix-sorted ranks put them adjacent). The attribute-concatenation
    * pass re-sorts WITHIN small brand×type blocks, where a window
    * of 8 spans most of a block — so name pairs pushed apart in BOTH
    * global name orders still meet. Pass contributions are measured
    * (why each pass exists): at sf0.01, pass 2 adds 224 verified pairs
    * pass 1 cannot see and pass 3 adds 209 more that neither name order
    * reaches. Same bit-exact Jaro-Winkler verify; names join back by id
    * (candidates are O(n·window·passes) slim id pairs, never
    * corpus-shaped).
    */
  private def snmMultipassQ(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val names = part.select(col("p_partkey"), col("p_name"))
    Dedup.sortedNeighborPairsMulti(part, "p_partkey",
        Seq(col("p_name"), reverse(col("p_name")),
          concat_ws(" ", col("p_brand"), col("p_type"), col("p_name"))),
        window = 8)
      .join(names.select(col("p_partkey").as("a"), col("p_name").as("na")), "a")
      .join(names.select(col("p_partkey").as("b"), col("p_name").as("nb")), "b")
      // similarity computed once, filtered unrounded (see snmPairsQ)
      .select(col("a"), col("b"),
        TF.jaroWinkler(col("na"), col("nb")).as("__jw"))
      .filter(col("__jw") >= 0.9)
      .select(col("a"), col("b"), round(col("__jw"), 6).as("sim"))
  }
  // multi-pass SNM: the union of ALL THREE rank-window replays (name
  // order, reversed-name order, brand∥type∥name order),
  // canonicalized least/greatest and dedup'd, then the same bit-exact
  // jaro_winkler verify over names joined back
  query("q_snm_multipass", snmMultipassQ,
    """WITH r1 AS (
      |  SELECT p_partkey, row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      |  FROM part),
      |r2 AS (
      |  SELECT p_partkey,
      |    row_number() OVER (ORDER BY reverse(p_name), p_partkey) AS rn
      |  FROM part),
      |r3 AS (
      |  SELECT p_partkey,
      |    row_number() OVER (
      |      ORDER BY concat_ws(' ', p_brand, p_type, p_name),
      |        p_partkey) AS rn
      |  FROM part),
      |cand AS (
      |  SELECT least(a.p_partkey, b.p_partkey) AS a,
      |    greatest(a.p_partkey, b.p_partkey) AS b
      |  FROM r1 a JOIN r1 b ON b.rn > a.rn AND b.rn - a.rn < 8
      |  UNION
      |  SELECT least(a.p_partkey, b.p_partkey),
      |    greatest(a.p_partkey, b.p_partkey)
      |  FROM r2 a JOIN r2 b ON b.rn > a.rn AND b.rn - a.rn < 8
      |  UNION
      |  SELECT least(a.p_partkey, b.p_partkey),
      |    greatest(a.p_partkey, b.p_partkey)
      |  FROM r3 a JOIN r3 b ON b.rn > a.rn AND b.rn - a.rn < 8)
      |SELECT c.a, c.b,
      |  round(jaro_winkler_similarity(pa.p_name, pb.p_name), 6) AS sim
      |FROM cand c
      |JOIN part pa ON pa.p_partkey = c.a
      |JOIN part pb ON pb.p_partkey = c.b
      |WHERE jaro_winkler_similarity(pa.p_name, pb.p_name) >= 0.9""".stripMargin)

  /** Blocked Jaro–Winkler near-dup pairs ([[Dedup.jaroWinklerPairs]]):
    * the native bit-exact scorer against DuckDB's own
    * jaro_winkler_similarity as the oracle.
    */
  private def jaroPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaroWinklerPairs(t(s, dir, "documents"), "doc_id", "text",
      Seq(col("source"), expr("n_chars div 64")), prefixLen = 80, minSim = 0.85)
  query("q_jaro_pairs", jaroPairsQ,
    """WITH b AS (
      |  SELECT doc_id, substring(text, 1, 80) AS t, source, n_chars // 64 AS lb
      |  FROM documents)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |  round(jaro_winkler_similarity(x.t, y.t), 6) AS jw
      |FROM b x JOIN b y ON x.source = y.source AND x.lb = y.lb AND x.doc_id < y.doc_id
      |WHERE jaro_winkler_similarity(x.t, y.t) >= 0.85""".stripMargin)

  /** Fuzzy-dedup cluster-size histogram: how many near-dup components
    * exist at each multiplicity, singletons included — the dedup REPORT
    * (savings breakdown) on top of the resolved component table. Sizes
    * and the singleton remainder are two partial aggregates over the
    * (bounded) resolution output; the corpus count is the shared census
    * helper.
    */
  private def dupSizesQ(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupResolve(s, dir)
      .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
    val hist = comp.groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = comp.agg(coalesce(sum(col("cluster_size")), lit(0L)).as("__p"))
      .select(lit(1L).as("cluster_size"),
        (lit(tableCount(s, dir, "documents")) - col("__p")).as("n_clusters"))
    hist.unionByName(singles)
  }
  query("q_dup_sizes", dupSizesQ,
    s"""WITH RECURSIVE $duckShingleCtes,
       |edges AS (SELECT a AS u, b AS v FROM jpairs UNION SELECT b, a FROM jpairs),
       |walk(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.id),
       |r AS (SELECT id, MIN(lbl) AS keep_id FROM walk GROUP BY id),
       |cs AS (SELECT keep_id, count(*) AS cluster_size FROM r GROUP BY 1),
       |h AS (SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1),
       |p AS (SELECT CAST(coalesce(sum(cluster_size), 0) AS BIGINT) AS np FROM cs),
       |t AS (SELECT count(*) AS nd FROM documents)
       |SELECT cluster_size, n_clusters FROM h
       |UNION ALL SELECT CAST(1 AS BIGINT), nd - np FROM p, t""".stripMargin)
}
