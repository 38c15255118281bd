package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.ReferenceOps
import graft.streaming._
import graft.SparkEntry.{stagedEventsSchema, stageTimeSplitEvents, streamBase, wipeTree, withStatePartitions}

/** A stream gate over the time-split events, as an incrementalized plan plus
  * its sink: `start` begins the gate's streams over the files in `landing`,
  * with sinks and checkpoints under `base`, and `read` reads the result
  * back once they have drained. `read` takes `landing` too, so a gate can
  * build a batch twin from the same files. [[StreamGateQueries.run]] runs
  * one as a registry query; a spec can start and read one over its own
  * directories.
  */
private[graft] final case class SplitGate(
    tag: String,
    start: (SparkSession, String, String) => Seq[StreamingQuery],
    read: (SparkSession, String, String) => DataFrame)

/** Registry queries of the stream gates: each runs a live Structured Streaming
  * lifecycle, and a gate with a batch twin shares its oracle. Each query
  * registers with its oracle right after its body; a time-split gate is one
  * [[SplitGate]] value registered as `query(name, run(gate), oracle)`.
  */
private[graft] object StreamGateQueries extends QueryFamily {

  /** S1+S2+S5+T5 under the driver gate: the SAME Part-3 topology as
    * [[topologyTransactions]], but executed through the live Structured
    * Streaming runtime inside the query — file-stream sources (schema
    * declared, directory-watched, checkpoint-tracked: the broker-less
    * topic binding), the topology compiler over STREAMING DataFrames,
    * [[graft.streaming.StreamRunner.fileSink]] (checkpointed append sink,
    * `Trigger.AvailableNow`), then the sink directory read back as the
    * result. The oracle is the batch experiment's SQL verbatim — stream
    * parity IS the claim (`core.clj:224-234`'s run-experiment promises the
    * live topology computes what the simulation computed; this gate checks
    * it every round against DuckDB, so a streaming-runtime regression is
    * driver-visible, not just spec-visible). Fresh checkpoint/sink dirs
    * per invocation: this query measures a COLD end-to-end streaming run,
    * lifecycle included.
    */
  private def streamParityQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // FIXED per-sfdir base, wiped at entry: a fresh nanoTime tree per
    // invocation leaked ~6 directories per bench+verify round (cold + 3
    // warm + retries); wiping the previous tree on the way in keeps at
    // most ONE tree alive per sf dir while still giving every invocation
    // the cold checkpoint/sink this query exists to measure
    val base = streamBase(s, "parity", dir)
    wipeTree(base)
    val ordersSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    val eventsSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    // stage each single-file table into a watched landing directory — the
    // file source's contract is "files arrive under a path" (like topic
    // partitions), not "read this one file"
    def stage(table: String): String = {
      val in = java.nio.file.Paths.get(s"$dir/$table.parquet")
      // a directory-style table would Files.copy as an EMPTY dir and the
      // stream would silently drain zero rows — fail loud instead (staging
      // a multi-file table means copying its part files, not the dir node)
      require(java.nio.file.Files.isRegularFile(in),
        s"stream_parity stages single-file tables; $in is not a regular file")
      val landing = java.nio.file.Paths.get(s"$base/in_$table")
      java.nio.file.Files.createDirectories(landing)
      java.nio.file.Files.copy(in, landing.resolve(s"$table.parquet"))
      landing.toString
    }
    val purchases = StreamRunner
      .fileSource(s, stage("orders"), ordersSchema, format = "parquet")
      .select(col("o_orderkey").as("key"), col("o_custkey").as("user_id"),
        col("o_totalprice").as("amount"))
    val donations = StreamRunner
      .fileSource(s, stage("events"), eventsSchema, format = "parquet")
      .select(col("event_id").as("key"), col("user_id"),
        (col("value") * 100).as("donation_amount_cents"))
    val engine = StreamRunner.start(
      ReferenceOps.transactionTopology,
      Map("purchase-made" -> purchases, "humble-donation-made" -> donations),
      (sink, df) => StreamRunner.fileSink(
        df, s"$base/$sink", s"$base/ckpt_$sink"))
    engine.awaitAll() // AvailableNow: terminates once the input is drained
    engine.stop()
    s.read.parquet(s"$base/large-transaction-made")
  }
  // stream parity: the LIVE streaming run must produce the batch
  // experiment's exact multiset — one oracle string serves both faces
  query("q_stream_parity", streamParityQ, ReferenceQueries.topologyExperimentDef.oracleSql)

  /** The staged events as a stream: `maxFilesPerTrigger=1` turns the three
    * time-range files into three ordered micro-batches.
    */
  private def events(s: SparkSession, landing: String): DataFrame =
    StreamRunner.fileSource(s, landing, stagedEventsSchema, format = "parquet",
      options = Map("maxFilesPerTrigger" -> "1"))

  /** The append-mode file sink at `base/out`, checkpointed at `base/ckpt`. */
  private def appendOut(df: DataFrame, base: String): Seq[StreamingQuery] =
    Seq(StreamRunner.fileSink(df, s"$base/out", s"$base/ckpt"))

  /** The update-mode idempotent sink at `base/out`, checkpointed at
    * `base/ckpt`: each micro-batch lands in its own `_batch_id` partition.
    */
  private def updateOut(df: DataFrame, base: String): Seq[StreamingQuery] =
    Seq(StreamRunner.idempotentParquetSink(df, s"$base/out", s"$base/ckpt"))

  private def out(s: SparkSession, base: String): DataFrame = s.read.parquet(s"$base/out")

  /** Runs one time-split gate as a COLD end-to-end streaming lifecycle, the
    * only code that stages, starts and reads one: stage the events as three
    * time-range files (memoized per JVM, see [[stageTimeSplitEvents]]), wipe
    * the gate's own tree, start its streams, await every one
    * (`AvailableNow`: each terminates once the input drains), and read the
    * result back.
    *
    * The tree is a FIXED per-(tag, sf dir, app) base wiped at entry: a fresh
    * tree per invocation leaked directories every bench and verify round,
    * and wiping on the way in keeps at most one tree per gate alive while
    * every run still gets the cold checkpoint and sink it exists to measure.
    *
    * SIZE THE STATE PARTITIONS TO THE KEY SPACE: a stateful query's
    * shuffle-partition count is burned into its checkpoint at first start,
    * and every micro-batch writes one state-store delta file + fsync PER
    * PARTITION — 32 partitions × 3 batches = 96 store commits for 1.5k keys
    * was pure per-file overhead (the Kafka Streams analog is sizing task
    * count to the key space). The batch-side conf is restored as soon as the
    * streams have started; each run starts a FRESH checkpoint, so the
    * burned-in value never conflicts.
    */
  private def run(gate: SplitGate)(s: SparkSession, dir: String): DataFrame = {
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, gate.tag, dir)
    wipeTree(base)
    withStatePartitions(s, 4)(gate.start(s, landing, base)).foreach(_.awaitTermination())
    gate.read(s, landing, base)
  }

  /** STATEFUL streaming under the driver gate — the arbitrary-state
    * (`flatMapGroupsWithState`) runtime path that [[streamParityQ]]'s
    * stateless topology never exercises: the events table is staged as
    * THREE time-range files (every ts in file i ≤ every ts in file i+1,
    * the Kafka per-partition ordering guarantee the operator models),
    * `maxFilesPerTrigger=1` forces three ordered micro-batches with real
    * cross-batch state-store round-trips (mtime-spaced files — the file
    * source admits oldest-first), and
    * [[graft.streaming.StatefulOps.streamingAsofEnrich]] carries each
    * user's latest view across batches to enrich later-batch purchases.
    * The oracle is the batch q_asof_join SQL verbatim — live stateful
    * runtime == batch custom operator, hash-checked every round (the
    * parity was previously only spec-visible). Equal-ts view/purchase
    * collisions would make arrival order authoritative where ASOF is
    * order-blind; the data has none (verified at every SF), and the
    * StatefulOpsSpec pins the trade. Its tree is its own (`asof`): the
    * staging base holds the landing files the run reads.
    */
  private[graft] val asofGate = SplitGate("asof",
    { (s, landing, base) =>
      import s.implicits._
      appendOut(StatefulOps
        .streamingAsofEnrich(events(s, landing).as[EnrichEvent], refType = "view",
          factType = "purchase")
        .select(col("event_id"), col("user_id"), col("value"), col("prior_view_value")), base)
    },
    (s, _, base) => out(s, base))
  // the batch q_asof_join SQL verbatim: the live flatMapGroupsWithState
  // runtime over 3 ordered micro-batches must compute exactly what the
  // batch AS-OF operator computes
  query("q_stream_stateful_parity", run(asofGate), AnalyticsQueries.asofJoinDef.oracleSql)

  /** `dropDuplicatesWithinWatermark` under the driver gate — the streaming
    * dedup runtime ([[graft.streaming.StreamRunner.streamingDedup]], the
    * live face of [[graft.dedup.Dedup.exact]]) over the SAME staged 3-file
    * time-split source as [[asofGate]]: three ordered
    * micro-batches with real cross-batch dedup-state round-trips (a key
    * first seen in batch 0 must still suppress its batch-2 repeats through
    * the state store). The retention delay deliberately covers the whole
    * corpus span, so zero evictions fire and the live output is EXACTLY
    * batch `SELECT DISTINCT` — the oracle. (With a shorter delay the
    * emitted multiset depends on per-batch watermark progression —
    * eviction + re-emission is pinned by StreamingSpec's controlled
    * MemoryStream fixture instead, where batch boundaries are exact.)
    * Output projects the KEY columns only: dropDuplicates keeps the
    * first-encountered row per key, and which same-key row a batch
    * encounters first is partition-order nondeterministic — the key set
    * is not.
    */
  private[graft] val dedupGate = SplitGate("dedup",
    (s, landing, base) => appendOut(StreamRunner
      .streamingDedup(events(s, landing).withColumn("day", to_date(col("ts")).cast("timestamp")),
        "ts", "3650 days", Seq("user_id", "event_type", "day"))
      .select(col("user_id"), col("event_type"), col("day")), base),
    (s, _, base) => out(s, base))
  // live dropDuplicatesWithinWatermark with a span-covering retention ==
  // batch DISTINCT over the key columns (see dedupGate)
  query("q_stream_dedup_parity", run(dedupGate),
    """SELECT DISTINCT user_id, event_type,
      |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day FROM events""".stripMargin)

  /** `mapGroupsWithState` with EventTimeTimeout under the driver gate —
    * the live face of the batch funnel (q_funnel): the staged 3-batch
    * events stream drives [[graft.streaming.StatefulOps.streamingFunnel]]
    * (signup → view → purchase), whose per-user stage list must survive
    * cross-batch state round-trips (a user signing up in batch 0 and
    * purchasing in batch 2 completes only if state carried). The TTL (90
    * days > the 30-day corpus span) keeps the EventTimeTimeout machinery
    * LIVE — watermark tracked, per-key timeout timestamps set and
    * re-clamped every batch — without an eviction firing, so the final
    * per-user progress equals the batch funnel exactly (the oracle is
    * q_funnel's SQL verbatim); an actually-firing timeout (eviction flush
    * + fresh-funnel restart) is pinned by StatefulOpsSpec where batch
    * boundaries are controlled. mapGroupsWithState emits cumulative
    * progress per (key, batch) in UPDATE mode — no append-mode file sink —
    * so batches land via the idempotent foreachBatch sink and the FINAL
    * row per user (max `_batch_id`) is the funnel result.
    */
  private[graft] val funnelGate = SplitGate("funnel",
    { (s, landing, base) =>
      import s.implicits._
      updateOut(StatefulOps.streamingFunnel(
        events(s, landing).withWatermark("ts", "1 hour")
          .select(col("user_id"), col("ts"), col("event_type")).as[FunnelEvent],
        Seq("signup", "view", "purchase"), stateTtlMs = 90L * 24 * 3600 * 1000).toDF(), base)
    },
    // try_element_at: a user who never reaches stage k has a short
    // stage_times array — out-of-bounds must be NULL (q_funnel's shape),
    // not an ANSI error
    (s, _, base) => out(s, base)
      .groupBy(col("user_id"))
      .agg(max_by(col("stage_times"), col("_batch_id")).as("__st"))
      .select(col("user_id"),
        try_element_at(col("__st"), lit(1)).as("t_signup"),
        try_element_at(col("__st"), lit(2)).as("t_view"),
        try_element_at(col("__st"), lit(3)).as("t_purchase")))
  // the batch q_funnel SQL verbatim: live mapGroupsWithState over 3
  // ordered micro-batches must compute exactly the batch funnel
  query("q_stream_funnel_parity", run(funnelGate), AnalyticsQueries.funnelDef.oracleSql)

  /** Watermark-closed tumbling windows under the driver gate — the live
    * face of [[graft.streaming.StreamRunner.windowedAgg]] (SURVEY §2.5's
    * windowed aggregation) over the staged 3-batch events stream: per
    * (1-day window, event_type) counts and exact decimal sums, append-mode
    * file sink. In append mode a window row is emitted ONLY once the
    * watermark passes its end — so the result is the set of windows the
    * final watermark (max staged ts − 1 h) closed, and the last day's
    * partial window correctly stays in state when the AvailableNow run
    * drains; the oracle applies the same closure predicate in SQL. The
    * decimal cast happens BEFORE the windowed sum so the streamed
    * per-batch partial aggregation is exact (a double sum's value would
    * depend on accumulation order across batches).
    */
  private[graft] val windowGate = SplitGate("window",
    (s, landing, base) => appendOut(StreamRunner
      .windowedAgg(events(s, landing).withColumn("v", col("value").cast("decimal(18,2)")),
        "ts", "event_type", "v", "1 day", "1 hour")
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total").cast("double").as("total")), base),
    (s, _, base) => out(s, base))
  // watermark-closed tumbling windows: the live append-mode emission =
  // batch day buckets restricted to windows the final watermark
  // (max ts − 1 h) closed; day buckets are epoch-aligned on both sides
  query("q_stream_window_parity", run(windowGate),
    """WITH b AS (SELECT date_trunc('day', ts) AS ws, event_type,
      |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
      |SELECT ws, event_type, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
      |FROM b GROUP BY ws, event_type
      |HAVING ws + INTERVAL 1 DAY <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)""".stripMargin)

  /** STREAM-STREAM interval join under the driver gate — the live face of
    * [[graft.operators.Analytics.intervalJoin]] (q_interval_join's exact
    * shape: each purchase joined to the same user's views in the trailing
    * hour) via [[graft.streaming.StreamRunner.streamIntervalJoin]], both
    * sides file-streamed from the staged 3-batch split with watermarks.
    * Exactness over the split is structural, not delay-tuned: the split is
    * time-ordered, so a match's view (rt ≤ lt) is always in the same or an
    * EARLIER batch than its purchase — the probe side only ever looks at
    * state already built, and eviction (watermark vs the join's time
    * bound) can only remove rows whose match window future batches have
    * provably left behind. The joined pairs land in an append sink; the
    * read-back aggregates per purchase BATCH-side, so the streamed face
    * under gate is the join itself. Oracle = the batch q_interval_join SQL
    * verbatim. (MemoryStream parity incl. cross-batch buffering was
    * already spec'd; this puts the join-state runtime under the hash gate
    * every round.)
    */
  private[graft] val joinGate = SplitGate("join",
    { (s, landing, base) =>
      val purchases = events(s, landing).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
      val views = events(s, landing).filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
      appendOut(StreamRunner.streamIntervalJoin(
          purchases, views, "user_id", "ts", "ts",
          beforeUs = 3600L * 1000000L, afterUs = 0L,
          rightCols = Seq("value" -> "view_value"))
        .select(col("event_id"), col("user_id"), col("view_value")), base)
    },
    (s, _, base) => out(s, base)
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"),
        sum(col("view_value").cast("decimal(18,2)")).cast("double").as("view_total")))
  // the batch q_interval_join SQL verbatim: live stream-stream join
  // state over 3 ordered micro-batches == the batch interval join
  query("q_stream_join_parity", run(joinGate), AnalyticsQueries.intervalJoinDef.oracleSql)

  /** Session windows with a FIRING event-time timeout under the driver
    * gate — [[graft.streaming.StatefulOps.streamingSessionize]]
    * (`flatMapGroupsWithState` + EventTimeTimeout) live over the staged
    * 3-batch stream: the first gated query where state timeouts actually
    * FIRE (the funnel gate's TTL outlives the corpus; here every mid-corpus
    * session's 30-min gap elapses and the timeout flush emits it). A
    * session is emitted either in-stream (a later event for the user
    * exceeds the gap — watermark-independent) or by timeout (watermark
    * passes last+gap), so the only emission the final watermark governs is
    * each user's LAST session — the oracle applies exactly that predicate.
    * Two precision traps the oracle mirrors: the operator's state is
    * MILLISECOND (java.sql.Timestamp.getTime), so gap decisions diff
    * `epoch_ms`, not micros, and emitted start/end are ms-truncated
    * (`date_trunc('milliseconds')`; trunc is monotone, so trunc∘min =
    * min∘trunc). `total_value` is NOT projected: its per-session double
    * accumulation order is undefined between equal-ts events.
    */
  private[graft] val sessionizeGate = SplitGate("sess",
    { (s, landing, base) =>
      import s.implicits._
      appendOut(StatefulOps.streamingSessionize(
          events(s, landing).withWatermark("ts", "1 hour")
            .select(col("user_id"), col("ts"), col("value")).as[SessionEvent],
          gapMs = 1800L * 1000)
        .select(col("user_id"), col("n_events"), col("session_start"), col("session_end")), base)
    },
    (s, _, base) => out(s, base))
  // live sessionize == batch sessions at MILLISECOND precision (the
  // operator's state is Timestamp.getTime ms): gap decisions diff
  // epoch_ms; start/end are ms-truncated; each user's LAST session is
  // emitted only if the final watermark (max ts − 1 h) strictly passed
  // its last+gap timeout — every other session was closed in-stream
  query("q_stream_sessionize_parity", run(sessionizeGate),
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
      |  FROM x
      |), g AS (
      |  SELECT user_id, seq, COUNT(*) AS n_events,
      |    date_trunc('milliseconds', MIN(ts)) AS session_start,
      |    date_trunc('milliseconds', MAX(ts)) AS session_end,
      |    MAX(seq) OVER (PARTITION BY user_id) AS max_seq
      |  FROM s GROUP BY user_id, seq
      |)
      |SELECT user_id, n_events, session_start, session_end
      |FROM g
      |WHERE seq < max_seq
      |   OR epoch_ms(session_end) + 1800000 <
      |      (SELECT epoch_ms(MAX(ts) - INTERVAL 1 HOUR) FROM events)""".stripMargin)

  /** Streaming KMV distinct-count sketch under the driver gate — the live
    * face of [[graft.operators.Analytics.kmvDistinct]]
    * ([[graft.streaming.StatefulOps.streamingKmvDistinct]]): per event
    * type, the k smallest distinct FNV-1a hashes of the user ids carried
    * as state across the 3 staged micro-batches, snapshot emitted per
    * batch in update mode. KMV state is a pure SET function — the k
    * smallest distinct hashes are arrival-order independent — so the LAST
    * snapshot per group equals the batch sketch EXACTLY (k, k-th minimum,
    * and the 6-dp estimate), and the oracle is the batch q_kmv_distinct
    * SQL verbatim. The value-exactness contract (not just an error band)
    * is what makes a sketch portable across engines; this gate extends it
    * to the streaming runtime.
    */
  private[graft] val kmvGate = SplitGate("kmv",
    { (s, landing, base) =>
      import s.implicits._
      updateOut(StatefulOps.streamingKmvDistinct(
        events(s, landing).select(col("event_type").as("group"),
          col("user_id").cast("string").as("item")).as[KmvEvent], k = 256).toDF(), base)
    },
    (s, _, base) => out(s, base)
      .groupBy(col("group"))
      .agg(max_by(struct(col("kmv_k"), col("h_k"), col("est_distinct")),
        col("_batch_id")).as("__f"))
      .select(col("group").as("event_type"), col("__f.kmv_k").as("kmv_k"),
        col("__f.h_k").as("h_k"), col("__f.est_distinct").as("est_distinct")))
  // the batch q_kmv_distinct SQL verbatim: KMV state is a pure set
  // function (k smallest distinct hashes, arrival-order independent),
  // so the live final snapshot must equal the batch sketch value-exactly
  query("q_stream_kmv_parity", run(kmvGate), SketchQueries.kmvDistinctDef.oracleSql)

  /** The three RECURSIVE stateful runtimes under the driver gate — EMA,
    * Welford anomaly, token-bucket rate limit — whose per-event folds are
    * NOT SQL-expressible (each output feeds the next event's state:
    * recursive IEEE / integer chains no window formulation reproduces),
    * so value-replay oracles are impossible. This gate uses the
    * INVARIANT form instead: each op runs LIVE over the staged 3-batch
    * split (three concurrent update-mode streams, real cross-batch
    * state-store round-trips) AND as its own batch twin over the landed
    * files (the identical fold — `flatMapGroupsWithState` in batch mode
    * for ema/anomaly, [[graft.streaming.StatefulOps.rateLimitBatch]] for
    * the bucket), and the query emits one row per op: (op, n_rows,
    * n_mismatch) from a full-outer join on event_id comparing EXACT values
    * (bit equality — same Scala arithmetic in same per-key order is the
    * contract). The oracle pins n_mismatch = 0 and anchors n_rows to
    * DuckDB's OWN count(*) of events — a dropped, duplicated, or diverging
    * row anywhere in the live runtime hash-mismatches the round. Stated
    * honestly: this is live == engine-batch-twin under an independent
    * row-count anchor, not an independent value replay — the strongest
    * gate the non-replayable folds admit.
    */
  private[graft] val recursiveGate = {
    // the three folds over `ev`, each with the columns compared; the bucket's
    // batch twin is its own fold, not the stateful one run in batch
    def ops(s: SparkSession, ev: DataFrame): Seq[(String, DataFrame, Seq[String])] = {
      import s.implicits._
      val emaIn = ev.select(col("user_id"), col("ts"), col("event_id"), col("value")).as[EmaEvent]
      val rateIn = ev.select(col("user_id"), col("ts"), col("event_id")).as[RateEvent]
      Seq(
        ("anomaly", StatefulOps.streamingAnomaly(emaIn, zMax = 3.0).toDF(),
          Seq("value", "z", "anomaly")),
        ("ema", StatefulOps.streamingEma(emaIn, alpha = 0.3).toDF(), Seq("ema")),
        ("rate_limit", (if (ev.isStreaming)
            StatefulOps.streamingRateLimit(rateIn, capTokens = 2L, ratePerSec = 1L)
          else StatefulOps.rateLimitBatch(rateIn, capTokens = 2L, ratePerSec = 1L)).toDF(),
          Seq("admitted", "tokens_after_micro")))
    }
    def cmp(op: String, live: DataFrame, twin: DataFrame, cols: Seq[String]): DataFrame = {
      // presence markers + null-safe <=> per column: the earlier
      // isNull-either-side form counted a row whose compared column is
      // legitimately null on BOTH sides as a mismatch, so a future stateful
      // op emitting nullable values would hash-fail the gate as a false
      // positive. Only a row missing from one side entirely (presence
      // marker null after the full outer join) or a genuine value
      // divergence (not <=>) counts now.
      val l = live.select(col("event_id") +: lit(true).as("__pl") +: cols.map(col): _*)
      val t = twin.select(col("event_id") +: lit(true).as("__pt") +:
        cols.map(c => col(c).as(s"__b_$c")): _*)
      val mism = (col("__pl").isNull || col("__pt").isNull ||
        cols.map(c => !(col(c) <=> col(s"__b_$c"))).reduce(_ || _))
      l.join(t, Seq("event_id"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(mism, 1L).otherwise(0L)).as("n_mismatch"))
        .select(lit(op).as("op"), col("n_rows"), col("n_mismatch"))
    }
    SplitGate("recur",
      // three concurrent update-mode streams, one sink per op
      (s, landing, base) => ops(s, events(s, landing)).map { case (op, live, _) =>
        StreamRunner.idempotentParquetSink(live, s"$base/$op", s"$base/ckpt_$op")
      },
      (s, landing, base) => ops(s, s.read.parquet(landing))
        .map { case (op, twin, cols) => cmp(op, s.read.parquet(s"$base/$op"), twin, cols) }
        .reduce(_ unionByName _))
  }
  // invariant gate for the NON-SQL-expressible recursive folds (see
  // recursiveGate): zero live-vs-twin mismatches, row counts
  // anchored to DuckDB's own count of events — one row per op
  query("q_stream_recursive_parity", run(recursiveGate),
    """SELECT 'anomaly' AS op, (SELECT count(*) FROM events) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_mismatch
      |UNION ALL
      |SELECT 'ema', (SELECT count(*) FROM events), 0
      |UNION ALL
      |SELECT 'rate_limit', (SELECT count(*) FROM events), 0""".stripMargin)
}
