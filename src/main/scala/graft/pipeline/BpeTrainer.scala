package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a Spark job — the missing third
  * leg of the tokenizer tier next to pair counting
  * ([[graft.functions.TextFunctions]] bpePairStats) and subword token
  * counting: it learns the merge table itself (Sennrich et al. 2016, the
  * algorithm behind GPT/Llama-family vocabularies).
  *
  * Scale design: classic BPE never iterates over the corpus — it iterates
  * over the WORD-FREQUENCY CENSUS, which is bounded by the vocabulary
  * (Heaps' law: ~millions of types for a 100 TB corpus), not the token
  * count. So round cost is: one pair-census shuffle over |vocab| rows
  * (partial-aggregated, key space = |symbol pairs|) plus a TakeOrdered(1)
  * argmax — the corpus itself is touched exactly once, to build the census.
  *
  * The merge step is the canonical greedy leftmost scan, expressed as a
  * string fold (`aggregate` HOF): append the next symbol with a space, or —
  * when the accumulator's last token is `a` and the next symbol is `b` —
  * without one. A fold is inherently sequential PER WORD (greedy merging
  * is order-dependent), and words are short, so this is per-row constant
  * work; across words it is embarrassingly parallel. The same fold runs in
  * the DuckDB oracle via `list_reduce`, so training replays value-exactly:
  * identical merge choices, identical pair counts, every round. Ties on
  * pair count break lexicographically — training is fully deterministic.
  *
  * Each round's census is persisted and the previous round's evicted:
  * lineage would otherwise re-run every prior round's fold per job. At real
  * scale you would checkpoint every ~50 rounds for the same reason.
  */
object BpeTrainer {

  /** One greedy-merge round applied to a space-joined symbol column. */
  private def mergeFold(syms: org.apache.spark.sql.Column, a: String, b: String) = {
    val folded = aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      element_at(syms, 1),
      (acc, x) => when(
        regexp_extract(acc, "[^ ]*$", 0) === a && x === b,
        concat(acc, x)).otherwise(concat(acc, lit(" "), x)))
    when(size(syms) <= 1, syms).otherwise(split(folded, " "))
  }

  /** Train `rounds` BPE merges over whitespace-tokenized, lowercased text.
    * Returns the merge table: (merge_round, left_sym, right_sym,
    * pair_count), one row per learned merge, pair_count = the
    * frequency-weighted number of adjacent occurrences at selection time.
    * Stops early if the vocabulary is fully merged.
    *
    * Two execution paths, same algorithm, spec-asserted equal:
    *  - census ≤ `maxDriverVocab` types: collect the word census ONCE and
    *    run every round driver-side. Training iterates the CENSUS, not the
    *    corpus, and each distributed round is 1-2 cluster jobs over a table
    *    that is tiny until Heaps' law catches up — at the test scales the
    *    8-round loop was pure scheduling overhead (measured 2.3 s for ~ms
    *    of compute). Tie-breaks compare UTF-8 bytes unsigned, exactly
    *    Spark's binary string order, so the paths pick identical merges.
    *  - otherwise: the distributed per-round loop below (one pair-census
    *    shuffle + argmax per round) — a 100 TB corpus has a multi-million
    *    row census, which is still cluster-job territory, and the corpus
    *    itself is touched exactly once either way.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int,
            maxDriverVocab: Long = 1L << 20): DataFrame = {
    val spark = docs.sparkSession
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"), t => length(t) > 0)
    val census = docs.select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // the size gate materializes at most maxDriverVocab+1 census rows — the
    // census shuffle is paid either way; this adds no corpus-scale work
    require(maxDriverVocab >= 0 && maxDriverVocab < Int.MaxValue,
      s"maxDriverVocab out of range: $maxDriverVocab")
    val gated = census.limit(maxDriverVocab.toInt + 1).collect()
    if (gated.length <= maxDriverVocab) {
      import spark.implicits._
      return trainDriver(gated.map(r => (r.getString(0), r.getLong(1))), rounds)
        .toDF("merge_round", "left_sym", "right_sym", "pair_count")
    }
    // per-character initial symbols (substr is 1-based, one char each)
    var state = census.withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    // the grand-parent round: kept cached until the CURRENT round's argmax
    // job has materialized `state` (one fold from the cached parent), so no
    // round ever recomputes more than one fold and no extra job is spent
    // materializing caches
    var grandParent: DataFrame = null
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val best = state
        // single-symbol words have no pairs — and sequence(1, 0) would
        // DESCEND ([1,0]) rather than produce an empty list
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      // the argmax job just materialized `state`; its parent is now safe to evict
      if (grandParent != null) grandParent.unpersist(false)
      if (best.isEmpty) done = true
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, cnt))
        grandParent = state
        state = state.withColumn("syms", mergeFold(col("syms"), a, b))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r += 1
      }
    }
    if (grandParent != null) grandParent.unpersist(false)
    state.unpersist(false)
    import spark.implicits._
    merges.toSeq.toDF("merge_round", "left_sym", "right_sym", "pair_count")
  }

  /** Driver-side training over a collected census — the SAME algorithm as
    * the distributed loop, selection-for-selection: symbols are Unicode
    * code points (Spark `substr` semantics, not UTF-16 chars), the argmax
    * tie-breaks on count desc then (a, b) ascending in UNSIGNED UTF-8 BYTE
    * order (Spark's binary string comparison — `String.compareTo` differs
    * for supplementary characters), and the merge is the identical greedy
    * leftmost fold. BpeTrainerSpec asserts path equality on the classic
    * corpus; the DuckDB oracle replays the whole loop against whichever
    * path the gate picks.
    */
  /** The greedy leftmost merge of one (a, b) rule over a symbol array —
    * the driver-side twin of [[mergeFold]] (spec-asserted equal through
    * the train/vocab path-parity tests).
    */
  private def mergeWordDriver(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = out.last + x
      else out += x
    }
    out.toArray
  }

  private[pipeline] def trainDriver(census: Array[(String, Long)],
                                    rounds: Int): Seq[(Long, String, String, Long)] = {
    def codePointSyms(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    def utf8Lt(x: String, y: String): Boolean = {
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      xb.length < yb.length
    }
    var words = census.map { case (w, f) => (codePointSyms(w), f) }
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) done = true
      else {
        val ((a, b), c) = cnt.reduceLeft { (x, y) =>
          if (y._2 > x._2) y
          else if (y._2 < x._2) x
          else if (utf8Lt(y._1._1, x._1._1)) y
          else if (utf8Lt(x._1._1, y._1._1)) x
          else if (utf8Lt(y._1._2, x._1._2)) y else x
        }
        merges += ((r.toLong, a, b, c))
        words = words.map { case (syms, f) => (mergeWordDriver(syms, a, b), f) }
        r += 1
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge table to text inline: per word, replay the
    * merges in order and emit the final subword symbols — the ENCODE half
    * of the tokenizer as a single column expression.
    *
    * ONLY for small rule sets: each chained fold embeds the previous one
    * ~5 times (the accumulator appears in the guard, init, and both
    * branches), so the Catalyst tree grows ~5× PER RULE — at 8 rules
    * that is ~10⁵ nodes and analysis itself OOMs. For a real vocabulary
    * use [[vocab]] and join tokens against the materialized symbol table
    * (linear plan, and the lookup-table shape a tokenizer wants anyway).
    */
  def encode(textCol: String,
             merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"), t => length(t) > 0)
    val perWord = (w: org.apache.spark.sql.Column) => {
      val init = transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
      merges.foldLeft(init) { case (s, (a, b)) => mergeFold(s, a, b) }
    }
    flatten(transform(toks, perWord))
  }

  /** The trained symbol table: (word, syms) after replaying `merges` in
    * order over the word census — the ENCODE path for corpus-scale work.
    * Each round is its own projection over the previous round's OUTPUT
    * ATTRIBUTE, so the plan grows linearly in rule count (unlike [[encode]]'s
    * nested expression); encoding a corpus is then one equi-join of
    * exploded tokens against this vocab-bounded table.
    */
  def vocab(docs: DataFrame, textCol: String,
            merges: Seq[(String, String)],
            maxDriverVocab: Long = 1L << 20): DataFrame = {
    val spark = docs.sparkSession
    val toks = filter(split(trim(lower(col(textCol))), "\\s+"), t => length(t) > 0)
    val census = docs.select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // same gate as train: below it, replay the merges driver-side over the
    // collected census instead of paying `rounds` chained fold expressions
    // (a regexp per symbol per round) over a tiny table; above it, the
    // chained projections run as ONE stage over the vocab-bounded census.
    // Path parity is spec-asserted (BpeTrainerSpec).
    require(maxDriverVocab >= 0 && maxDriverVocab < Int.MaxValue,
      s"maxDriverVocab out of range: $maxDriverVocab")
    val gated = census.limit(maxDriverVocab.toInt + 1).collect()
    if (gated.length <= maxDriverVocab) {
      import spark.implicits._
      return gated.map { r =>
        val w = r.getString(0)
        var syms = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        merges.foreach { case (a, b) => syms = mergeWordDriver(syms, a, b) }
        (w, r.getLong(1), syms.toSeq)
      }.toSeq.toDF("word", "freq", "syms")
    }
    val init = census.withColumn("syms",
      transform(sequence(lit(1), length(col("word"))), i => col("word").substr(i, lit(1))))
    merges.foldLeft(init) { case (d, (a, b)) =>
      d.withColumn("syms", mergeFold(col("syms"), a, b))
    }
  }
}
