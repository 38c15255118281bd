package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.functions.{TextFunctions => TF}
import graft.pipeline.TrainingData
import graft.SparkEntry.t
import graft.queries.SharedSql.{duckFnvU, duckQualitySql, duckToks, sqlList}

/** Registry queries of text analysis: token and length statistics, language ID,
  * tokenizers and n-gram statistics. Each query registers with its oracle right
  * after its body.
  */
private[graft] object TextQueries extends QueryFamily {

  /** BPE tokenizer-training round one: corpus-wide adjacent character-pair
    * frequencies over the aggregated word table ([[TrainingData.bpePairStats]]).
    */
  private def bpePairsQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.bpePairStats(t(s, dir, "documents"), "text", topPairs = 50)
  // words aggregated first, then pairs exploded per distinct word —
  // range(1, len) is [1, len), matching Spark's inclusive sequence(1, len−1)
  query("q_bpe_pairs", bpePairsQ,
    """WITH w AS (
      |  SELECT w, COUNT(*) AS wc FROM (
      |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2 GROUP BY w
      |), p AS (
      |  SELECT substring(w, CAST(i AS INT), 2) AS pair, wc
      |  FROM w, unnest(range(1, len(w))) AS t(i)
      |)
      |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin)

  /** T5-style span corruption ([[TrainingData.spanCorrupt]]): deterministic
    * block-confined mask spans, numbered sentinels in the input, masked
    * tokens in the target. The oracle rebuilds every corrupted and target
    * STRING value-exactly (sentinels, span contents, whitespace), so a
    * one-token drift anywhere in the mask arithmetic fails the gate.
    */
  private def spanCorruptQ(s: SparkSession, dir: String): DataFrame =
    TrainingData.spanCorrupt(t(s, dir, "documents"), "doc_id", "text")
  // full string replay of the block-confined span corruption: per-block
  // FNV starts, mask arithmetic, sentinel numbering, and target spans —
  // DuckDB list slices w[a:b] are INCLUSIVE (a 3-span is [p : p+2])
  query("q_span_corruption", spanCorruptQ,
    s"""WITH tok AS (SELECT doc_id, $duckToks AS w FROM documents),
       |base AS (SELECT doc_id, w, len(w) AS n FROM tok),
       |stt AS (SELECT doc_id, w, n,
       |  [CAST(${duckFnvU("(CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR))")} % 8 AS BIGINT)
       |   FOR j IN range(0, CASE WHEN n > 0 THEN (n-1)//10 + 1 ELSE 0 END)] AS sts
       |  FROM base)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  CAST(len([ii FOR ii IN range(1, n+1)
       |    IF ((ii-1)//10)*10 + sts[(ii-1)//10 + 1] + 3 <= n
       |       AND (ii-1)%10 >= sts[(ii-1)//10 + 1]
       |       AND (ii-1)%10 < sts[(ii-1)//10 + 1] + 3]) AS BIGINT) AS n_masked,
       |  array_to_string(list_filter([
       |    CASE WHEN NOT (((ii-1)//10)*10 + sts[(ii-1)//10 + 1] + 3 <= n
       |                   AND (ii-1)%10 >= sts[(ii-1)//10 + 1]
       |                   AND (ii-1)%10 < sts[(ii-1)//10 + 1] + 3)
       |         THEN w[ii]
       |         WHEN (ii-1)%10 = sts[(ii-1)//10 + 1]
       |         THEN '<extra_id_' || CAST((ii-1)//10 AS VARCHAR) || '>'
       |         ELSE NULL END
       |    FOR ii IN range(1, n+1)], x -> x IS NOT NULL), ' ') AS corrupted,
       |  array_to_string(['<extra_id_' || CAST(j AS VARCHAR) || '> ' ||
       |      array_to_string(w[j*10 + sts[j+1] + 1 : j*10 + sts[j+1] + 3], ' ')
       |    FOR j IN range(0, len(sts)) IF j*10 + sts[j+1] + 3 <= n], ' ') AS targets
       |FROM stt""".stripMargin)

  /** The unrolled-training CTE chain alone (census, r0..r{rounds},
    * p{r}/best{r} per round) — shared by the train oracle and the fertility
    * oracle, which reads the final symbol table `r{rounds}`.
    */
  private def duckBpeCtes(rounds: Int): String = {
    val head =
      """census AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0)) AS w FROM documents)
        |  GROUP BY 1),
        |r0 AS (SELECT word, freq, [word[i] FOR i IN range(1, len(word)+1)] AS syms FROM census)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT freq, unnest([struct_pack(a := syms[i], b := syms[i+1]) FOR i IN range(1, len(syms))]) AS pr
         |  FROM r${r - 1}),
         |best$r AS (
         |  SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM p$r GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |r$r AS (
         |  SELECT s.word, s.freq,
         |    CASE WHEN len(s.syms) <= 1 THEN s.syms
         |    ELSE string_split(list_reduce(s.syms, (acc, x) ->
         |      CASE WHEN regexp_extract(acc, '[^ ]*$$') = B.a AND x = B.b
         |           THEN acc || x ELSE acc || ' ' || x END), ' ')
         |    END AS syms
         |  FROM r${r - 1} s, best$r B)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  /** Full-replay oracle for [[graft.pipeline.BpeTrainer.train]]: the
    * training loop statically unrolled as a CTE chain — round r's pair
    * census `p{r}` over the evolving symbol table `r{r-1}`, the argmax
    * `best{r}` (count desc, then lexicographic — the trainer's exact
    * tie-break), and the merged table `r{r}` via the IDENTICAL greedy
    * leftmost string fold (`list_reduce` ↔ Spark's `aggregate` HOF). The
    * learned rules and their selection-time counts must match value-exactly
    * — a strictly stronger gate than checking the final vocabulary, since
    * one divergent round would cascade into every later pick.
    */
  private def duckBpeTrainSql(rounds: Int): String =
    "WITH " + duckBpeCtes(rounds) + "\n" + (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, a AS left_sym, b AS right_sym, cnt AS pair_count FROM best$r"
    }.mkString("\nUNION ALL\n")

  /** BPE tokenizer TRAINING ([[graft.pipeline.BpeTrainer.train]]): 8 merge
    * rounds over the word-frequency census. The oracle replays the entire
    * training loop — census, per-round pair argmax (lexicographic
    * tie-break), and the greedy leftmost merge fold — as a statically
    * unrolled CTE chain, so every learned rule AND its selection-time count
    * must match value-exactly.
    */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.BpeTrainer.train(t(s, dir, "documents"), "text", rounds = 8)
  query("q_bpe_train", bpeTrainQ, duckBpeTrainSql(8))

  /** Tokenizer fertility (subwords per word — the standard tokenizer-eval
    * metric) per language, for the 8-merge BPE vocabulary trained on this
    * corpus. Encoding goes through [[graft.pipeline.BpeTrainer.vocab]] —
    * tokens equi-join the vocab-bounded symbol table (the lookup-table
    * shape a real tokenizer uses for seen words; planner picks
    * broadcast vs shuffle by the vocab's actual size).
    */
  private def bpeFertilityQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rules = graft.pipeline.BpeTrainer.train(docs, "text", rounds = 8)
      .orderBy(col("merge_round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = graft.pipeline.BpeTrainer.vocab(docs, "text", rules)
      .select(col("word"), size(col("syms")).as("__ns"))
    val toks = filter(split(trim(lower(col("text"))), "\\s+"), x => length(x) > 0)
    docs.select(col("lang"), explode(toks).as("word"))
      .join(vocab, "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__ns")).as("n_subwords"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_tokens").cast("double"), 6))
  }
  // fertility reads the unrolled chain's FINAL symbol table r8: every doc
  // token is in the census by construction, so encode(word) == r8.syms
  query("q_bpe_fertility", bpeFertilityQ,
    s"""WITH ${duckBpeCtes(8)},
       |dtok AS (SELECT lang, unnest($duckToks) AS w FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(len(r8.syms)) AS BIGINT) AS n_subwords,
       |  round(CAST(sum(len(r8.syms)) AS DOUBLE) / count(*), 6) AS fertility
       |FROM dtok JOIN r8 ON dtok.w = r8.word GROUP BY 1""".stripMargin)

  /** Per-source language diversity (Shannon entropy in bits): the census
    * of (source, lang) counts is domain-bounded (≤ |langs| per source), so
    * the entropy sum runs as an ORDERED higher-order fold over the
    * lang-sorted count list — one defined association on both engines,
    * like [[ndcgQ]]'s DCG — with each p·log2(p) term built from exact
    * integer counts. The curation read: a "diverse" source at entropy ~2
    * bits needs per-lang quality thresholds; a monolingual one (0 bits)
    * can take a global one.
    */
  private def langEntropyQ(s: SparkSession, dir: String): DataFrame = {
    val census = t(s, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val ln2 = math.log(2.0)
    census.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sort_array(collect_list(struct(col("lang").as("l"),
          col("c").cast("double").as("c")))).as("lst"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(aggregate(col("lst"), lit(0.0), (acc, e) =>
          acc - e.getField("c") / col("n_docs").cast("double") *
            (log(e.getField("c") / col("n_docs").cast("double")) / lit(ln2))),
          6).as("entropy_bits"))
  }
  // per-source language entropy: ordered fold over the lang-sorted
  // census, the ln(2) constant embedded as the same literal both sides
  query("q_lang_entropy", langEntropyQ,
    s"""WITH c AS (
       |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
       |), g AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_langs,
       |    list(struct_pack(l := lang, c := CAST(c AS DOUBLE)) ORDER BY lang) AS lst
       |  FROM c GROUP BY 1
       |)
       |SELECT source, n_docs, n_langs,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    [ -(e.c / CAST(n_docs AS DOUBLE)) *
       |      (ln(e.c / CAST(n_docs AS DOUBLE)) / ${math.log(2.0)}) FOR e IN lst]),
       |    (x, y) -> x + y), 6) AS entropy_bits
       |FROM g""".stripMargin)

  /** Gini coefficient of token mass across documents — the corpus-
    * concentration number next to [[powerUsersQ]]'s decile curve:
    * G = (2·Σ rank·x) / (n·Σx) − (n+1)/n over the ascending-token global
    * rank. Σ rank·x is an exact DECIMAL(38,0) sum over the range-sharded
    * rank (no single-task sort at any corpus size); G is one left-to-right
    * double expression over three exact integers.
    */
  private def giniTokensQ(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("x"))
    Analytics.rangedRank(d, Seq.empty, Seq(col("x"), col("doc_id")))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_tokens"),
        sum((col("rn") * col("x")).cast("decimal(38,0)")).as("rx"))
      .select(col("n"), col("sum_tokens"),
        round(lit(2.0) * col("rx").cast("double") /
            (col("n").cast("double") * col("sum_tokens").cast("double")) -
          (col("n") + 1L).cast("double") / col("n").cast("double"), 6).as("gini"))
  }
  // Gini: ascending-token global rank (the oracle's one-reducer window
  // replays the range-sharded rank), exact rank-weighted sum, one
  // double expression
  query("q_gini_tokens", giniTokensQ,
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS x FROM documents
       |), r AS (
       |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rn FROM d
       |), m AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sum_tokens,
       |    SUM(rn * x) AS rx
       |  FROM r
       |)
       |SELECT n, sum_tokens,
       |  round(2.0 * CAST(rx AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sum_tokens AS DOUBLE))
       |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
       |FROM m""".stripMargin)

  // the classifier expression, shared by duckLangId and duckLangConfusion —
  // one definition so a heuristic change can never silently diverge the two
  private val duckLangCases = TF.stopwords.toSeq.sortBy(_._1).map {
    case (lang, words) =>
      s"{'s': len(list_intersect(toks, ${sqlList(words)})) / ${words.size}.0, 'l': '$lang'}"
  }.mkString(", ")

  private val duckLangConfusion = {
    s"""WITH t AS (SELECT lang, list_distinct($duckToks) AS toks FROM documents),
       |p AS (SELECT lang, (list_sort([$duckLangCases])[-1]).l AS lang_guess FROM t),
       |conf AS (SELECT lang, lang_guess, count(*) AS n FROM p GROUP BY 1, 2),
       |tot AS (SELECT lang, sum(n) AS t FROM conf GROUP BY 1)
       |SELECT conf.lang, lang_guess, n, round(CAST(n AS DOUBLE) / t, 6) AS frac
       |FROM conf JOIN tot ON conf.lang = tot.lang""".stripMargin
  }

  /** Language-ID confusion matrix: declared `lang` vs the n-gram
    * heuristic's prediction, with each cell's share of its true-language
    * row — the corpus-scale evaluation of the classifier the curation
    * pipeline gates on. Two aggregates; the per-language totals side is
    * |langs| rows, so the join back is planner-broadcast.
    */
  private def langConfusionQ(s: SparkSession, dir: String): DataFrame = {
    val conf = t(s, dir, "documents")
      .select(col("lang"), TF.langId(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
    val tot = conf.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
    conf.join(tot, "lang")
      .select(col("lang"), col("lang_guess"), col("n"),
        round(col("n").cast("double") / col("__t").cast("double"), 6).as("frac"))
  }
  query("q_lang_confusion", langConfusionQ, duckLangConfusion)

  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(TF.tokenCount(col("text")).cast("long")).as("total_tokens"),
        count(lit(1)).as("n_docs"))
  query("q_token_count", tokenCounts,
    s"""SELECT lang, CAST(SUM(len($duckToks)) AS BIGINT) AS total_tokens, COUNT(*) AS n_docs
       |FROM documents GROUP BY lang""".stripMargin)

  /** Sequence-length bucketing for training-batch construction: assign each
    * document to the next power-of-2 token-capacity bucket and report, per
    * bucket, the padding waste a fixed-shape batch of that capacity pays
    * (padded slots minus real tokens). The bucket is the INTEGER closed form
    * `1 << length(bin(n-1))` — no float log2, whose boundary rounding
    * differs across engines. One scan + one tiny aggregate (≤ 64 buckets);
    * the bucketing column itself is the partition key a batching writer
    * would `repartitionByRange` on at scale.
    */
  private def lengthBucketsQ(s: SparkSession, dir: String): DataFrame = {
    val padded = col("bucket_cap") * col("n_docs")
    t(s, dir, "documents")
      .select(TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket_cap", TF.pow2BucketCap(col("n_tokens")))
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .select(col("bucket_cap"), col("n_docs"), col("total_tokens"),
        (padded - col("total_tokens")).as("padding_waste"),
        round((padded - col("total_tokens")).cast("double") / padded.cast("double"), 6)
          .as("waste_frac"))
  }
  // integer power-of-2 bucket twin: same 1 << length(bin(n-1)) closed form
  query("q_length_buckets", lengthBucketsQ,
    s"""WITH d AS (SELECT CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents),
       |b AS (SELECT n_tokens,
       |        CASE WHEN n_tokens <= 1 THEN 1
       |             ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1))) END AS bucket_cap
       |      FROM d)
       |SELECT bucket_cap, count(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(bucket_cap * count(*) - SUM(n_tokens) AS BIGINT) AS padding_waste,
       |  round(CAST(bucket_cap * count(*) - SUM(n_tokens) AS DOUBLE) /
       |        CAST(bucket_cap * count(*) AS DOUBLE), 6) AS waste_frac
       |FROM b GROUP BY bucket_cap""".stripMargin)

  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = TF.tokens(lower(col("text")))
    d.select(col("doc_id"),
      TF.tokenCount(col("text")).cast("long").as("n_tokens"),
      TF.punctCount(col("text")).cast("long").as("n_punct"),
      size(filter(toks, x => x.isInCollection(TF.stopwords("en")))).cast("long").as("n_stop"))
  }
  query("q_text_quality", textQuality,
    s"""SELECT doc_id,
       |CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
       |CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       |CAST(len(list_filter($duckToks, x -> list_contains(${sqlList(TF.stopwords("en"))}, x))) AS BIGINT) AS n_stop
       |FROM documents""".stripMargin)

  private val duckLangId =
    s"""WITH t AS (SELECT doc_id, list_distinct($duckToks) AS toks FROM documents)
       |SELECT doc_id, (list_sort([$duckLangCases])[-1]).l AS lang_guess FROM t""".stripMargin

  private def langIdQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), TF.langId(col("text")).as("lang_guess"))
  query("q_lang_id", langIdQ, duckLangId)

  private def qualityScoreQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
  query("q_quality_score", qualityScoreQ, duckQualitySql)

  private def subwordCountQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TF.subwordCount(col("text")).cast("long").as("n_subwords"))
  query("q_subword_count", subwordCountQ,
    """SELECT doc_id, CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_subwords
      |FROM documents""".stripMargin)

  /** C4-style per-document filter features with exact integer numerators:
    * mean word length (non-space chars / tokens) and uppercase-character
    * ratio — both integer/integer divisions rounded at 6 dp, so the oracle
    * matches bit-exactly.
    */
  private def textStatsQ(s: SparkSession, dir: String): DataFrame = {
    val nonSpace = length(regexp_replace(col("text"), "\\s", ""))
    val nToks = TF.tokenCount(col("text"))
    val nUpper = length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", ""))
    t(s, dir, "documents").select(col("doc_id"),
      when(nToks > 0, round(nonSpace.cast("double") / nToks, 6)).otherwise(0.0).as("mean_word_len"),
      when(length(col("text")) > 0,
        round(nUpper.cast("double") / length(col("text")), 6)).otherwise(0.0).as("upper_frac"))
  }
  query("q_text_stats", textStatsQ,
    s"""SELECT doc_id,
       |CASE WHEN len($duckToks) > 0
       |  THEN round(CAST(len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($duckToks), 6)
       |  ELSE 0.0 END AS mean_word_len,
       |CASE WHEN len(text) > 0
       |  THEN round(CAST(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / len(text), 6)
       |  ELSE 0.0 END AS upper_frac
       |FROM documents""".stripMargin)

  /** Within-document repetition (a Gopher/C4-style quality filter signal):
    * the fraction of a document's word bigrams taken by its most frequent
    * bigram. High values flag boilerplate/spam. Bigrams are NON-distinct
    * occurrences (unlike the dedup shingle sets). Counting is per-document
    * state, so it runs INSIDE the row via the native
    * [[graft.expressions.BigramStats]] expression — a pure scan with zero
    * shuffles, vs the original explode + two groupBys that re-shuffled the
    * corpus's entire bigram stream twice (6.6 s → ~0.2 s at sf0.1; at
    * 100 TB the shuffle formulation is corpus-sized × 2).
    */
  private def repetitionQ(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokens(lower(col("text")))
    val stats = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.BigramStats(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks)))
    t(s, dir, "documents")
      .filter(size(toks) >= 2)
      .select(col("doc_id"), stats.as("bs"))
      .select(col("doc_id"),
        element_at(col("bs"), 1).as("top_bigram_n"),
        element_at(col("bs"), 2).as("n_bigrams"),
        round(element_at(col("bs"), 1).cast("double") / element_at(col("bs"), 2), 6)
          .as("top_bigram_frac"))
  }
  query("q_repetition", repetitionQ,
    s"""WITH toksrc AS (
       |  SELECT doc_id, $duckToks AS w FROM documents
       |), bg AS (
       |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
       |  FROM toksrc WHERE len(w) >= 2
       |), c AS (
       |  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n,
       |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
       |FROM c GROUP BY doc_id""".stripMargin)

  /** TF-IDF term statistics: top-5 terms per document by term frequency
    * (integer counts — exact across engines; idf transform is caller-side,
    * see TextFunctions.termStats).
    */
  private def tfidfQ(s: SparkSession, dir: String): DataFrame =
    // bounded-heap top-k: ≤ 5 (term, tf, df) rows per doc per mapper reach
    // the shuffle — a document's whole vocabulary never sorts in one task
    Analytics.topPerKeyAgg(
      TF.termStats(t(s, dir, "documents"), "doc_id", "text", broadcastVocab = true),
      "doc_id",
      ordAsc = Seq(negate(col("tf")), col("term")),
      payload = Seq("term" -> col("term"), "tf" -> col("tf"),
        "df" -> col("df")), k = 5)
  query("q_tfidf", tfidfQ,
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |)
       |SELECT doc_id, tf.term, tf, df, rn FROM (
       |  SELECT doc_id, term, tf,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
       |  FROM tf) tf JOIN dfreq ON tf.term = dfreq.term
       |WHERE rn <= 5""".stripMargin)

  /** Per-language Shannon entropy of the token distribution — the
    * diversity number a mixture designer reads next to raw token counts
    * (low entropy = repetitive/boilerplate-heavy slice; entropy near
    * ln(vocab) = flat distribution). Computed as `H = ln N − Σ c·ln c / N`
    * over the exact integer census, so the only floating point is the
    * final ln/divide (rounded 6dp on both engines). Scale shape: one
    * (lang, token) partial-aggregated census, then |vocab| rows reduce to
    * |langs| — no joins, no windows.
    */
  private def tokenEntropyQ(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("lang"), explode(TF.tokens(lower(col("text")))).as("tok"))
    toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
        round(log(sum(col("c")).cast("double"))
          - sum(col("c").cast("double") * log(col("c").cast("double")))
            / sum(col("c")).cast("double"), 6).as("entropy_nats"))
  }
  // exact integer census, float only at the surface: H = ln N - Σ c·ln c / N
  query("q_token_entropy", tokenEntropyQ,
    s"""WITH tok AS (SELECT lang, unnest($duckToks) AS tok FROM documents),
       |c AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2)
       |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
       |  round(ln(CAST(sum(c) AS DOUBLE))
       |    - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
       |      / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
       |FROM c GROUP BY 1""".stripMargin)

  /** Vocabulary-growth (Heaps'-law) audit: distinct-token count after the
    * first 100/200/…/500 documents — the curve that says whether a corpus
    * keeps contributing new vocabulary or has gone asymptotic (the
    * data-collection stopping signal). One pass: per-token FIRST document
    * (min doc_id), then five conditional sums unpivoted — no joins, no
    * windows, and the prefix thresholds are literals so the plan is two
    * partial-aggregated censuses at any scale.
    */
  private def vocabGrowthQ(s: SparkSession, dir: String): DataFrame = {
    val fs = t(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
    val sums = (1 to 5).map(k =>
      sum(when(col("fd") < k * 100, 1L).otherwise(0L)).as(s"v$k"))
    fs.agg(sums.head, sums.tail: _*)
      .select(expr("stack(5, 100L, v1, 200L, v2, 300L, v3, 400L, v4, 500L, v5) " +
        "AS (prefix_docs, vocab)"))
  }
  query("q_vocab_growth", vocabGrowthQ,
    s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
       |fs AS (SELECT tok, min(doc_id) AS fd FROM tok GROUP BY 1)
       |SELECT CAST(th AS BIGINT) AS prefix_docs,
       |  CAST(sum(CASE WHEN fd < th THEN 1 ELSE 0 END) AS BIGINT) AS vocab
       |FROM fs, unnest([100, 200, 300, 400, 500]) AS u(th)
       |GROUP BY 1""".stripMargin)

  /** Out-of-vocabulary rate per document against the corpus's top-20
    * vocabulary — a Gopher-style quality signal (high OOV ⇒ junk/garbled).
    * The vocabulary is a TakeOrdered over the token frequency aggregate
    * (deterministic count-desc/token-asc tiebreak) and is broadcast; counts
    * are exact integers so the oracle matches bit-for-bit.
    */
  private def oovRateQ(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(20)
      .select(col("tok"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_frac"))
  }
  query("q_oov_rate", oovRateQ,
    s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
       |    ORDER BY cnt DESC, tok LIMIT 20)
       |),
       |f AS (
       |  SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |)
       |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_frac
       |FROM f GROUP BY doc_id""".stripMargin)

  /** Top-40 token vocabulary with cumulative corpus coverage
    * ([[Analytics.vocabCoverage]]) over whitespace tokens of the lowered
    * document text.
    */
  private def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    Analytics.vocabCoverage(
      t(s, dir, "documents").select(
        explode(TF.tokens(lower(col("text")))).as("tok")),
      "tok", k = 40)
  query("q_vocab_coverage", vocabCoverageQ,
    s"""WITH toks AS (SELECT unnest($duckToks) AS tok FROM documents),
       |c AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
       |r AS (SELECT tok, n,
       |        row_number() OVER (ORDER BY n DESC, tok) AS rnk,
       |        sum(n) OVER (ORDER BY n DESC, tok
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM c)
       |SELECT tok, n, CAST(rnk AS INT) AS rnk,
       |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
       |FROM r, t WHERE rnk <= 40""".stripMargin)

  /** Percentile-band corpus trim: per source, how many documents fall in
    * the global [p5, p95] length band. The two exact-percentile bounds are
    * ONE collected row (a bounded side input, like shard boundaries);
    * the corpus itself is a single partial-aggregated pass.
    */
  private def lengthTrimQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("source"), col("n_chars"))
    val b = docs.agg(expr("percentile(n_chars, 0.05)"), expr("percentile(n_chars, 0.95)")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    docs.groupBy(col("source"))
      .agg(sum(when(col("n_chars") >= lo && col("n_chars") <= hi, 1L).otherwise(0L)).as("kept"),
        count(lit(1)).as("total"))
      .withColumn("kept_frac",
        round(col("kept").cast("double") / col("total").cast("double"), 6))
  }
  query("q_length_trim", lengthTrimQ,
    """WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
      |                  quantile_cont(n_chars, 0.95) AS hi FROM documents)
      |SELECT source,
      |  CAST(sum(CASE WHEN n_chars >= lo AND n_chars <= hi THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |  count(*) AS total,
      |  round(CAST(sum(CASE WHEN n_chars >= lo AND n_chars <= hi THEN 1 ELSE 0 END) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS kept_frac
      |FROM documents, b GROUP BY source""".stripMargin)

  /** Per-source nucleus (top-p = 0.9) vocabulary ([[Analytics.nucleusVocab]]):
    * how many distinct tokens carry 90% of each source's token mass — the
    * concentration signal that separates boilerplate-heavy sources (tiny
    * nucleus) from diverse prose.
    */
  private def topPVocabQ(s: SparkSession, dir: String): DataFrame =
    Analytics.nucleusVocab(t(s, dir, "documents"), col("source"), col("text"), 900)
  // nucleus membership by the cross-multiplied prefix test
  // (cum−cnt)·1000 < p·total; cnt DESC, tok ASC is a total order, so the
  // RANGE default frame equals Spark's ROWS frame
  query("q_top_p_vocab", topPVocabQ,
    s"""WITH toks AS (
       |  SELECT source AS grp, unnest($duckToks) AS tok FROM documents
       |), c AS (
       |  SELECT grp, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
       |), w AS (
       |  SELECT grp, cnt,
       |    sum(cnt) OVER (PARTITION BY grp ORDER BY cnt DESC, tok) AS cum,
       |    sum(cnt) OVER (PARTITION BY grp) AS total
       |  FROM c
       |)
       |SELECT grp, count(*) AS nucleus_size, CAST(sum(cnt) AS BIGINT) AS nucleus_mass,
       |  CAST(max(total) AS BIGINT) AS total_tokens,
       |  round(CAST(sum(cnt) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6) AS coverage
       |FROM w WHERE (cum - cnt) * 1000 < 900 * total GROUP BY 1""".stripMargin)

  /** Word-trigram novelty curve over 8 ingestion batches
    * ([[Analytics.ngramNovelty]]): distinct trigrams first seen per batch —
    * the marginal-value measurement that says when a crawl stops paying.
    */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame =
    Analytics.ngramNovelty(t(s, dir, "documents"), col("doc_id"), col("text"), 3, 8)
  query("q_ngram_novelty", ngramNoveltyQ,
    s"""WITH ids AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
       |toksrc AS (SELECT doc_id, $duckToks AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w)-1)]) AS grams
       |  FROM toksrc WHERE len(w) >= 3
       |), gb AS (
       |  SELECT DISTINCT
       |    least(CAST(7 AS BIGINT), CAST((doc_id - mn) * 8 // greatest(1, mx - mn + 1) AS BIGINT)) AS bucket,
       |    unnest(grams) AS gram
       |  FROM sh, ids
       |), novel AS (SELECT min(bucket) AS bucket FROM gb GROUP BY gram),
       |nb AS (SELECT bucket, count(*) AS novel_grams FROM novel GROUP BY 1),
       |seen AS (SELECT bucket, count(*) AS seen_grams FROM gb GROUP BY 1)
       |SELECT seen.bucket, seen_grams,
       |  CAST(COALESCE(novel_grams, 0) AS BIGINT) AS novel_grams,
       |  round(CAST(COALESCE(novel_grams, 0) AS DOUBLE) / seen_grams, 6) AS novelty_frac
       |FROM seen LEFT JOIN nb ON seen.bucket = nb.bucket""".stripMargin)

  /** Per-source sentence segmentation profile: sentences split on [.!?]+
    * runs, blank fragments dropped, average sentence length as one exact
    * int division. The explode is scan-side (generator before the only
    * shuffle, the per-source aggregate).
    */
  private def sentenceStatsQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        explode(filter(split(col("text"), "[.!?]+"),
          x => length(trim(x)) > 0)).as("sent"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(length(trim(col("sent")))).as("total_chars"))
      .withColumn("avg_sentence_chars",
        round(col("total_chars").cast("double") / col("n_sentences"), 6))
  query("q_sentence_stats", sentenceStatsQ,
    """WITH s AS (
      |  SELECT source, unnest(list_filter(string_split_regex(text, '[.!?]+'),
      |    x -> len(trim(x)) > 0)) AS sent
      |  FROM documents
      |)
      |SELECT source, count(*) AS n_sentences,
      |  CAST(sum(len(trim(sent))) AS BIGINT) AS total_chars,
      |  round(CAST(sum(len(trim(sent))) AS DOUBLE) / count(*), 6) AS avg_sentence_chars
      |FROM s GROUP BY 1""".stripMargin)

  /** Windowed token-pair PMI ([[Analytics.pmiPairs]]): collocations within
    * a ±3-token window, minCount 5, top-100 — the skip-gram count census
    * an embedding pipeline precomputes.
    */
  private def pmiPairsQ(s: SparkSession, dir: String): DataFrame =
    Analytics.pmiPairs(t(s, dir, "documents"), col("text"),
      window = 3, minCount = 5L, k = 100)
  // identical pair comprehension, slot marginals, and the one ln per
  // output row: ((4.0·N)·c_ab)/(c_a·c_b) left-associated on both engines
  query("q_pmi_pairs", pmiPairsQ,
    s"""WITH t AS (SELECT $duckToks AS w FROM documents),
       |p0 AS (
       |  SELECT unnest(flatten([[
       |      CASE WHEN w[i] <= w[j] THEN {'a': w[i], 'b': w[j]}
       |           ELSE {'a': w[j], 'b': w[i]} END
       |      FOR j IN range(i + 1, least(i + 3, len(w)) + 1)]
       |    FOR i IN range(1, len(w))])) AS s
       |  FROM t WHERE len(w) >= 2
       |),
       |pc AS (SELECT s.a AS a, s.b AS b, count(*) AS c_ab FROM p0 GROUP BY 1, 2),
       |m AS (SELECT tok, sum(c) AS c_t FROM (
       |    SELECT a AS tok, c_ab AS c FROM pc
       |    UNION ALL SELECT b, c_ab FROM pc) GROUP BY 1),
       |n AS (SELECT sum(c_ab) AS np FROM pc)
       |SELECT a, b, c_ab,
       |  round(ln(4.0 * np * c_ab / (ma.c_t * mb.c_t)), 6) AS pmi
       |FROM pc CROSS JOIN n
       |  JOIN m ma ON ma.tok = a
       |  JOIN m mb ON mb.tok = b
       |WHERE c_ab >= 5
       |ORDER BY pmi DESC, a, b LIMIT 100""".stripMargin)
}
