package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 batch source that SYNTHESIZES a deterministic document
  * corpus of any size — the connector face of the engine (the reference's
  * sources are Kafka topics, `core.clj:78`; this sandbox has no broker, so
  * the connector surface is demonstrated on a source whose rows are a pure
  * function of (seed, doc_id) and therefore oracle-replayable).
  *
  * Usage: `spark.read.format("graft.sources.v2.SyntheticDocs")
  * .option("n_docs", n).option("n_partitions", p).option("seed", s).load()`.
  *
  * Scale design:
  *  - `planInputPartitions` slices the id space into `n_partitions`
  *    independent ranges — a 10¹²-doc corpus plans the same way, no
  *    driver-side materialization of anything but range bounds.
  *  - Range predicates on `doc_id` PRUNE partitions at planning time
  *    (pushFilters narrows the [lo, hi) id window; partitions that fall
  *    outside are never created). All filters are also returned as
  *    residuals, so Spark re-evaluates them — pruning is an optimization,
  *    never a correctness dependence.
  *  - `pruneColumns` is honored in the reader: unprojected columns —
  *    including the expensive `text` — are never generated.
  *
  * Row derivation (shared with the DuckDB oracle via the FNV-1a helpers):
  * `h = fnv1a64(seed + ":" + doc_id)` unsigned; `lang = langs[h mod 5]`,
  * `source = sources[(h div 8) mod 4]`, `k = 10 + (h mod 90)` words of
  * fixed width 4 ⇒ `n_chars = 5k − 1` exactly; word i is
  * `"w" + (fnv1a64(seed + ":" + doc_id + ":" + i) mod 1000)` zero-padded
  * (the seed prefixes BOTH hashes — an oracle derived without it
  * disagrees on every row).
  */
class SyntheticDocs extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyntheticDocs.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // DSv2 options are case-insensitive everywhere else (inferSchema gets a
    // CaseInsensitiveStringMap; getTable receives the original-cased map) —
    // reading the raw map would silently IGNORE an N_DOCS/Seed spelling and
    // fall back to defaults (a seed mismatch also breaks oracle replay)
    val opts: util.Map[String, String] = new CaseInsensitiveStringMap(properties)
    val nDocs = SyntheticDocs.longOpt(opts, "n_docs", 1000L)
    val nParts = SyntheticDocs.longOpt(opts, "n_partitions", 8L)
    val rpb = SyntheticDocs.longOpt(opts, "rows_per_batch", 1000L)
    // fail LOUDLY at table resolution: n_partitions=0 would silently plan an
    // empty corpus, rows_per_batch=0 a stream that never advances
    require(nDocs >= 0, s"n_docs must be >= 0: $nDocs")
    require(nParts > 0 && nParts <= Int.MaxValue, s"n_partitions must be positive: $nParts")
    require(rpb > 0, s"rows_per_batch must be positive: $rpb")
    new SyntheticDocsTable(nDocs, nParts.toInt,
      SyntheticDocs.longOpt(opts, "seed", 42L), rpb)
  }
}

object SyntheticDocs {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  val langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  val sources: IndexedSeq[String] = IndexedSeq("cc", "web", "books", "code")

  private def longOpt(m: util.Map[String, String], k: String, dflt: Long): Long =
    Option(m.get(k)).map(_.toLong).getOrElse(dflt)

  /** FNV-1a 64 over the UTF-8 bytes — bit-identical to
    * [[graft.expressions.Fnv1a64]] and the oracle's HUGEINT replay.
    */
  def fnv1a64(s: String): Long = {
    var h = -3750763034362895579L // 14695981039346656037 as signed
    s.getBytes("UTF-8").foreach { b =>
      h = (h ^ (b & 0xffL)) * 1099511628211L
    }
    h
  }

  private def uMod(h: Long, m: Long): Long = java.lang.Long.remainderUnsigned(h, m)

  /** The row's driving hash — computed ONCE per row in the reader; the
    * per-field derivations below take it pre-computed.
    */
  def rowHash(seed: Long, docId: Long): Long = fnv1a64(s"$seed:$docId")

  def wordCountFromHash(h: Long): Long = 10L + uMod(h, 90L)
  def langFromHash(h: Long): String = langs(uMod(h, 5L).toInt)
  def sourceFromHash(h: Long): String =
    sources(uMod(java.lang.Long.divideUnsigned(h, 8L), 4L).toInt)

  def lang(seed: Long, docId: Long): String = langFromHash(rowHash(seed, docId))
  def source(seed: Long, docId: Long): String = sourceFromHash(rowHash(seed, docId))

  def textFromHash(seed: Long, docId: Long, h: Long): String = {
    val k = wordCountFromHash(h).toInt
    val sb = new java.lang.StringBuilder(5 * k - 1)
    var i = 0
    while (i < k) {
      if (i > 0) sb.append(' ')
      val w = uMod(fnv1a64(s"$seed:$docId:$i"), 1000L)
      sb.append('w').append(('0' + w / 100).toChar)
        .append(('0' + w / 10 % 10).toChar).append(('0' + w % 10).toChar)
      i += 1
    }
    sb.toString
  }

  def text(seed: Long, docId: Long): String =
    textFromHash(seed, docId, rowHash(seed, docId))

  /** Shared id-range slicer for the batch scan and the micro-batch planner —
    * ONE implementation so a boundary fix can never break batch/stream
    * parity (the invariant SyntheticDocsSpec's stream == batch test pins).
    */
  def sliceRange(lo: Long, hi: Long, nParts: Int, seed: Long,
                 fields: Seq[String]): Array[InputPartition] = {
    val n = math.max(0L, hi - lo)
    if (n == 0L) Array.empty
    else {
      val parts = math.min(nParts.toLong, n).toInt
      // BigInt for the proportional bounds: n·p overflows Long once
      // n ≥ Long.Max/parts (~5.8e17 at 16 partitions) — and "plans at any
      // corpus size" is this source's design claim
      def bound(p: Int): Long = lo + ((BigInt(n) * p) / parts).toLong
      (0 until parts).map { p =>
        DocsRange(bound(p), bound(p + 1), seed, fields): InputPartition
      }.toArray
    }
  }
}

private[v2] class SyntheticDocsTable(nDocs: Long, nParts: Int, seed: Long,
                                     rowsPerBatch: Long)
    extends Table with SupportsRead {
  override def name(): String = s"synthetic_docs($nDocs, seed=$seed)"
  override def schema(): StructType = SyntheticDocs.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SyntheticDocsScanBuilder(nDocs, nParts, seed, rowsPerBatch)
}

private[v2] class SyntheticDocsScanBuilder(nDocs: Long, nParts: Int, seed: Long,
                                           rowsPerBatch: Long = 1000L)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private var required: StructType = SyntheticDocs.schema
  private var lo: Long = 0L
  private var hi: Long = nDocs // exclusive
  private var pushed: Array[Filter] = Array.empty
  private var aggKinds: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Narrow the id window from doc_id range predicates; EVERYTHING is
  // returned as residual (Spark re-evaluates), so pruning can only skip
  // whole out-of-range partitions, never change results. pushedFilters()
  // reports ONLY the range predicates actually consumed — advertising the
  // rest as "pushed" would make the plan metadata lie to pushdown audits.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // saturating increment: `v + 1` at Long.MaxValue wraps NEGATIVE, and
    // `doc_id <= Long.MaxValue` (truth: every row) would plan ZERO
    // partitions — a silent wrong answer the residual re-evaluation cannot
    // undo, because rows from never-created partitions cannot be
    // resurrected
    def inc(v: Long): Long = if (v == Long.MaxValue) Long.MaxValue else v + 1
    pushed = filters.filter {
      case EqualTo("doc_id", v: Long) => lo = math.max(lo, v); hi = math.min(hi, inc(v)); true
      case GreaterThan("doc_id", v: Long) => lo = math.max(lo, inc(v)); true
      case GreaterThanOrEqual("doc_id", v: Long) => lo = math.max(lo, v); true
      case LessThan("doc_id", v: Long) => hi = math.min(hi, v); true
      case LessThanOrEqual("doc_id", v: Long) => hi = math.min(hi, inc(v)); true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def isDocId(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: NamedReference => nr.fieldNames.sameElements(Array("doc_id"))
      case _ => false
    }

  // COUNT(*) / MIN(doc_id) / MAX(doc_id) over an id range are CLOSED FORM —
  // answered from the partition bounds without generating a single row.
  // Pushdown is PARTIAL (Spark still runs the final merge), and Spark only
  // offers an aggregate when no residual filter sits below it, so this can
  // never change results. Other aggregates/groupings are declined.
  override def supportCompletePushDown(a: Aggregation): Boolean = false
  override def pushAggregation(a: Aggregation): Boolean = {
    val ok = a.groupByExpressions.isEmpty && a.aggregateExpressions.nonEmpty &&
      a.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => isDocId(m.column)
        case m: Max => isDocId(m.column)
        case _ => false
      }
    if (ok) aggKinds = Some(a.aggregateExpressions.toIndexedSeq.map {
      case _: CountStar => "count"
      case _: Min => "min"
      case _: Max => "max"
    })
    ok
  }

  // at-most-`l` ids survive: truncate the planned window (Spark keeps its
  // own Limit above — isPartiallyPushed — so this is purely a prune)
  override def pushLimit(l: Int): Boolean = {
    hi = math.min(hi, lo + math.max(0, l))
    true
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new SyntheticDocsScan(math.max(lo, 0L), math.min(hi, nDocs), nParts, seed,
      required, rowsPerBatch, aggKinds)
}

/** One planned id range — public so tests can audit the pruned span. */
case class DocsRange(lo: Long, hi: Long, seed: Long,
                     fields: Seq[String]) extends InputPartition

private[v2] class SyntheticDocsScan(lo: Long, hi: Long, nParts: Int, seed: Long,
                                    required: StructType,
                                    rowsPerBatch: Long = 1000L,
                                    aggKinds: Option[Seq[String]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = aggKinds match {
    // min/max are nullable: an EMPTY range still emits its one partial row
    // (count 0, min/max null) so the final merge sees count(*) = 0, not a
    // NULL sum over zero partials
    case Some(kinds) => StructType(kinds.zipWithIndex.map { case (k, i) =>
      StructField(s"${k}_$i", LongType, nullable = k != "count") })
    case None => required
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SyntheticDocsMicroBatch(lo, hi, nParts, seed, required, rowsPerBatch)
  override def description(): String =
    s"SyntheticDocs[lo=$lo, hi=$hi, cols=${required.fieldNames.mkString(",")}" +
      aggKinds.map(k => s", pushedAgg=${k.mkString(",")}").getOrElse("") + "]"

  override def planInputPartitions(): Array[InputPartition] = aggKinds match {
    case Some(kinds) =>
      // one closed-form row ALWAYS — even an empty range, whose partial row
      // carries count 0 / null min/max (zero partials would merge count to
      // a NULL sum and crash a non-nullable count(*))
      Array(AggRange(lo, math.max(lo, hi), kinds): InputPartition)
    case None =>
      SyntheticDocs.sliceRange(lo, hi, nParts, seed, required.fieldNames.toIndexedSeq)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    case r: DocsRange => new DocsReader(r)
    case a: AggRange => new AggReader(a)
    case other => throw new IllegalArgumentException(s"unknown partition: $other")
  }
}

/** One closed-form partial-aggregate row for the whole surviving id range. */
case class AggRange(lo: Long, hi: Long, kinds: Seq[String]) extends InputPartition

private[v2] class AggReader(r: AggRange) extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = { val first = !done; done = true; first }
  override def get(): InternalRow = {
    val empty = r.hi <= r.lo
    new GenericInternalRow(r.kinds.map {
      case "count" => java.lang.Long.valueOf(math.max(0L, r.hi - r.lo))
      case "min" => if (empty) null else java.lang.Long.valueOf(r.lo)
      case "max" => if (empty) null else java.lang.Long.valueOf(r.hi - 1L)
    }.toArray[Any])
  }
  override def close(): Unit = ()
}

/** A replayable micro-batch cursor over the id space: an offset IS a doc_id
  * watermark, so any (start, end] interval replans the identical ranges —
  * exactly-once replay after failure comes free from determinism (the same
  * property a Kafka (partition, offset) pair gives the reference's source,
  * `core.clj:78`). Each batch advances by `rowsPerBatch` ids.
  */
private[v2] case class DocsOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

private[v2] class SyntheticDocsMicroBatch(lo: Long, hi: Long, nParts: Int,
                                          seed: Long, required: StructType,
                                          rowsPerBatch: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Admission-control pacing (the path Spark actually uses once
  // SupportsAdmissionControl is implemented): the next batch end derives
  // from the ENGINE's start offset — stateless, so restart safety needs no
  // driver-side ratchet — and Trigger.AvailableNow drains the WHOLE corpus
  // in rowsPerBatch slices instead of silently stopping after one (a
  // source without this trait gets its no-arg latestOffset captured once).
  override def prepareForTriggerAvailableNow(): Unit = () // corpus end is already fixed
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(rowsPerBatch)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[DocsOffset].id
    val step = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => rowsPerBatch
    }
    DocsOffset(math.min(hi, a + math.max(1L, step)))
  }
  // Admission pacing lives HERE, not in planInputPartitions: Spark commits
  // the full (start, end] interval it was given, so a planner-side cap
  // would silently drop the tail of a batch. latestOffset advances the
  // published watermark by rowsPerBatch per call until the corpus end.
  private var published = lo
  override def initialOffset(): Offset = DocsOffset(lo)
  override def latestOffset(): Offset = {
    published = math.min(hi, published + rowsPerBatch)
    DocsOffset(published)
  }
  // ratchet the cursor on every offset the engine hands back (checkpoint
  // restore goes through deserializeOffset, completed batches through
  // commit) — a fresh instance must never publish an offset BELOW the
  // checkpointed watermark, which would regress the offset log and replay
  // already-emitted ids into an append sink
  override def deserializeOffset(json: String): Offset = {
    val o = json.toLong
    published = math.max(published, o)
    DocsOffset(o)
  }
  override def commit(end: Offset): Unit =
    published = math.max(published, end.asInstanceOf[DocsOffset].id)
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    SyntheticDocs.sliceRange(start.asInstanceOf[DocsOffset].id,
      end.asInstanceOf[DocsOffset].id, nParts, seed,
      required.fieldNames.toIndexedSeq)

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new DocsReader(partition.asInstanceOf[DocsRange])
}

private[v2] class DocsReader(r: DocsRange) extends PartitionReader[InternalRow] {
  private var id = r.lo - 1
  // resolve field extractors ONCE per partition — the hot loop computes the
  // row hash a single time and never string-matches column names per row
  private val extractors: Array[(Long, Long) => Any] = r.fields.map {
    case "doc_id" => (docId: Long, _: Long) => java.lang.Long.valueOf(docId)
    case "lang" => (_: Long, h: Long) =>
      UTF8String.fromString(SyntheticDocs.langFromHash(h))
    case "source" => (_: Long, h: Long) =>
      UTF8String.fromString(SyntheticDocs.sourceFromHash(h))
    case "n_chars" => (_: Long, h: Long) =>
      java.lang.Long.valueOf(5L * SyntheticDocs.wordCountFromHash(h) - 1L)
    case "text" => (docId: Long, h: Long) =>
      UTF8String.fromString(SyntheticDocs.textFromHash(r.seed, docId, h))
    case other => throw new IllegalArgumentException(s"unknown column: $other")
  }.toArray
  // whether ANY projected column actually consumes the row hash — a
  // doc_id-only scan (the common join-key projection) or a residual-filter
  // count must not pay the dominant per-row cost (string build + UTF-8
  // encode + FNV) for a value nothing reads
  private val needsHash: Boolean =
    r.fields.exists(f => f != "doc_id")
  override def next(): Boolean = { id += 1; id < r.hi }
  override def get(): InternalRow = {
    val h = if (needsHash) SyntheticDocs.rowHash(r.seed, id) else 0L
    val values = new Array[Any](extractors.length)
    var i = 0
    while (i < extractors.length) { values(i) = extractors(i)(id, h); i += 1 }
    new GenericInternalRow(values)
  }
  override def close(): Unit = ()
}
