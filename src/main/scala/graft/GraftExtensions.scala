package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.dedup.Dedup
import graft.expressions.{BigramStats, DotProduct, DotProductInt8, Fnv1a64, MinHashSignature, QualityScoreRaw, SimHash64, WordShingles}
import graft.streaming.LocalCheckpointFileManager

/** Session extension registering the engine's native expressions as SQL
  * functions, so `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the
  * Column API, and making [[graft.streaming.LocalCheckpointFileManager]] the
  * session's checkpoint file manager unless the session already names one.
  * Install via
  * `spark.sql.extensions=graft.GraftExtensions` or a session builder's
  * `withExtensions(new GraftExtensions)`, as [[Harness.builder]] does.
  *
  * Hadoop configuration: the session also drops the per-key source records
  * ("provenance") of its SparkContext's Hadoop conf, keeping every key and
  * value. Hadoop records the file each default key came from
  * (`core-default.xml`, `mapred-default.xml`, `yarn-default.xml`), and
  * `Configuration.write` ships each key's sources in a GZIP stream of its
  * own. Spark serializes the session's Hadoop conf, a copy of the
  * SparkContext's, into every file-write task and every file-scan and
  * state-store broadcast. With 1,094 keys one `SerializableConfiguration`
  * is 112.7 KB and takes about 7 ms to write and 9 ms to read back, warm,
  * on a 4-core box; without the sources it is 68.9 KB, about 1 ms and
  * 1.5 ms. Afterwards `getPropertySources` returns null for every key until
  * one is set again; Spark reads it only to log where a key came from.
  *
  * Generated code: the session sets `spark.sql.artifact.isolation.enabled`
  * to false unless it already has a value for it. With isolation on (Spark's
  * default) every session, and so every streaming query's cloned session,
  * gets its own artifact class loader, and that loader is part of the key of
  * Spark's codegen cache; each new stream then compiles again the classes
  * the JVM has already compiled (13, 19 and 29 per lifecycle of the as-of,
  * sessionize and funnel streams, on a 4-core box). With it off every
  * session shares the application's loader and one cache. The engine adds
  * no jars, files or archives to a session and clones none itself, so
  * nothing depends on isolation: with it off a session has no artifact
  * state and its tasks run on the application class path, which holds
  * every graft class. A session that adds artifacts of its own opts out
  * by setting the key to true when it is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** The resolution rule the session defaults ride on. */
  private object NoRule extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "math_funcs", "1.0.0", "", "built-in")

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
                       builder: FunctionBuilder): Unit =
    ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: AS-OF JOIN logical node → sort-merge exec,
    // plus the pruning rule Catalyst cannot apply to a node it doesn't know
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinColumnPruning)
    // the analyzer is built, and this builder run, before the session can
    // start a stream, so every checkpoint sees the key; a value the session
    // already has is kept, and one set later replaces this default. A
    // stream's cloned session runs it again; clearing twice is harmless.
    ext.injectResolutionRule { session =>
      val key = LocalCheckpointFileManager.ConfKey
      if (session.conf.getOption(key).isEmpty)
        session.conf.set(key, classOf[LocalCheckpointFileManager].getName)
      // this key has a default, so only getAll tells a set value from it
      if (!session.conf.getAll.contains(GraftExtensions.IsolationKey))
        session.conf.set(GraftExtensions.IsolationKey, "false")
      GraftExtensions.dropProvenance(session.sparkContext.hadoopConfiguration)
      NoRule
    }
    register(ext, "vec_dot",
      "vec_dot(a, b) - dot product of two array<double> vectors",
      { args: Seq[Expression] =>
        require(args.length == 2, "vec_dot takes 2 arguments")
        DotProduct(args.head, args(1))
      })
    register(ext, "vec_dot_i8",
      "vec_dot_i8(a, b) - integer dot product of two array<tinyint> quantized vectors",
      { args: Seq[Expression] =>
        require(args.length == 2, "vec_dot_i8 takes 2 arguments")
        DotProductInt8(args.head, args(1))
      })
    register(ext, "simhash64",
      "simhash64(tokens) - 64-bit SimHash of an array<string> token column",
      { args: Seq[Expression] =>
        require(args.length == 1, "simhash64 takes 1 argument")
        SimHash64(args.head)
      })
    register(ext, "word_shingles",
      "word_shingles(tokens, n) - distinct word n-gram shingles of an array<string>",
      { args: Seq[Expression] =>
        require(args.length == 2, "word_shingles takes 2 arguments")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles n must be an integer literal, got $other")
        }
        WordShingles(args.head, n)
      })
    register(ext, "minhash_signature",
      "minhash_signature(shingles) - 128-hash MinHash signature (default params)",
      { args: Seq[Expression] =>
        require(args.length == 1, "minhash_signature takes 1 argument")
        val p = Dedup.MinHashParams()
        MinHashSignature(args.head, p.as, p.bs)
      })
    register(ext, "fnv1a64",
      "fnv1a64(s) - FNV-1a 64-bit hash of a string (engine-portable)",
      { args: Seq[Expression] =>
        require(args.length == 1, "fnv1a64 takes 1 argument")
        Fnv1a64(args.head)
      })
    register(ext, "bigram_stats",
      "bigram_stats(tokens) - [top bigram count, total bigrams] of an array<string>",
      { args: Seq[Expression] =>
        require(args.length == 1, "bigram_stats takes 1 argument")
        BigramStats(args.head)
      })
    register(ext, "top_ngram_stats",
      "top_ngram_stats(tokens, n) - [top n-gram count, its char length, total n-grams] of an array<string>",
      { args: Seq[Expression] =>
        require(args.length == 2, "top_ngram_stats takes 2 arguments")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"top_ngram_stats n must be an integer literal, got $other")
        }
        graft.expressions.TopNgramStats(args.head, n)
      })
    register(ext, "top_k_rows",
      "top_k_rows(ord_struct, payload_struct, k) - bounded top-k aggregate: payloads of the k smallest ord structs, ascending",
      { args: Seq[Expression] =>
        require(args.length == 3, "top_k_rows takes 3 arguments")
        val k = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"top_k_rows k must be an integer literal, got $other")
        }
        graft.expressions.TopKStructsAgg(args.head, args(1), k)
      })
    register(ext, "quality_score_raw",
      "quality_score_raw(text) - unrounded composite quality score (English stopwords)",
      { args: Seq[Expression] =>
        require(args.length == 1, "quality_score_raw takes 1 argument")
        QualityScoreRaw(args.head, graft.functions.TextFunctions.stopwords("en"))
      })
    register(ext, "span_fingerprints",
      "span_fingerprints(tokens, w) - FNV-1a fingerprints of every stride-1 w-token window (lowered), one per start",
      { args: Seq[Expression] =>
        require(args.length == 2, "span_fingerprints takes 2 arguments")
        val w = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"span_fingerprints w must be an integer literal, got $other")
        }
        graft.expressions.SpanFingerprints(args.head, w)
      })
    register(ext, "span_cut_rewrite",
      "span_cut_rewrite(tokens, cuts, w) - tokens not covered by any [cut, cut+w) window, space-joined",
      { args: Seq[Expression] =>
        require(args.length == 3, "span_cut_rewrite takes 3 arguments")
        val w = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"span_cut_rewrite w must be an integer literal, got $other")
        }
        graft.expressions.SpanCutRewrite(args.head, args(1), w)
      })
    register(ext, "freq_items_mg",
      "freq_items_mg(item, k) - Misra-Gries heavy-hitters aggregate: <= k (item, est) counters, undercount <= n/(k+1)",
      { args: Seq[Expression] =>
        require(args.length == 2, "freq_items_mg takes 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"freq_items_mg k must be an integer literal, got $other")
        }
        graft.expressions.FreqItemsAgg(args.head, k)
      })
  }
}

object GraftExtensions {

  /** Spark's per-session artifact isolation, which the session turns off. */
  private[graft] val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Hadoop's private map from each key to the resources that set it, or
    * None on a Hadoop without one. */
  private lazy val updatingResource: Option[java.lang.reflect.Field] =
    scala.util.Try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      f
    }.toOption

  /** Drops the source Hadoop records for every key of `conf`, keeping every
    * key and value. JobConf's class initialisation registers the MapReduce
    * and YARN defaults and reloads every live conf, which records the
    * sources again, so it is forced first; then the properties are loaded
    * and the record cleared.
    */
  private[graft] def dropProvenance(conf: Configuration): Unit = {
    Class.forName("org.apache.hadoop.mapred.JobConf")
    conf.synchronized {
      conf.size()
      updatingResource.foreach(_.get(conf) match {
        case m: java.util.Map[_, _] => m.clear()
        case _ =>
      })
    }
  }
}
