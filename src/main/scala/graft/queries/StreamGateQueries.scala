package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ReferenceOps
import graft.SparkEntry.{stagedEventsSchema, stageTimeSplitEvents, streamBase, wipeTree, withStatePartitions}

/** Registry queries of the stream gates: each runs a live Structured Streaming
  * lifecycle, and a gate with a batch twin shares its oracle. Each query
  * registers with its oracle right after its body.
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
    val purchases = graft.streaming.StreamRunner
      .fileSource(s, stage("orders"), ordersSchema, format = "parquet")
      .select(col("o_orderkey").as("key"), col("o_custkey").as("user_id"),
        col("o_totalprice").as("amount"))
    val donations = graft.streaming.StreamRunner
      .fileSource(s, stage("events"), eventsSchema, format = "parquet")
      .select(col("event_id").as("key"), col("user_id"),
        (col("value") * 100).as("donation_amount_cents"))
    val engine = graft.streaming.StreamRunner.start(
      ReferenceOps.transactionTopology,
      Map("purchase-made" -> purchases, "humble-donation-made" -> donations),
      (sink, df) => graft.streaming.StreamRunner.fileSink(
        df, s"$base/$sink", s"$base/ckpt_$sink"))
    engine.awaitAll() // AvailableNow: terminates once the input is drained
    engine.stop()
    s.read.parquet(s"$base/large-transaction-made")
  }
  // stream parity: the LIVE streaming run must produce the batch
  // experiment's exact multiset — one oracle string serves both faces
  query("q_stream_parity", streamParityQ, ReferenceQueries.topologyExperimentDef.oracleSql)

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
    * StatefulOpsSpec pins the trade.
    */
  private def streamStatefulParityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = streamBase(s, "stateful", dir)
    val landing = java.nio.file.Paths.get(stageTimeSplitEvents(s, dir))
    // fresh streaming run dirs per invocation (the part under gate)
    val runBase = s"$base/run"
    wipeTree(runBase)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing.toString, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .as[graft.streaming.EnrichEvent]
    val enriched = graft.streaming.StatefulOps
      .streamingAsofEnrich(src, refType = "view", factType = "purchase")
      .select(col("event_id"), col("user_id"), col("value"),
        col("prior_view_value"))
    // SIZE THE STATE PARTITIONS TO THE KEY SPACE: a stateful query's
    // shuffle-partition count is burned into its checkpoint at first
    // start, and every micro-batch writes one state-store delta file +
    // fsync PER PARTITION — 32 partitions × 3 batches = 96 store commits
    // for 1.5k keys was pure per-file overhead (the Kafka Streams analog
    // is sizing task count to the key space). The batch-side conf is
    // restored immediately; each run starts a FRESH checkpoint, so the
    // burned-in value never conflicts.
    val q = withStatePartitions(s, 4) {
      graft.streaming.StreamRunner.fileSink(
        enriched.toDF(), s"$runBase/out", s"$runBase/ckpt")
    }
    q.awaitTermination() // AvailableNow: terminates once the input drains
    s.read.parquet(s"$runBase/out")
  }
  // the batch q_asof_join SQL verbatim: the live flatMapGroupsWithState
  // runtime over 3 ordered micro-batches must compute exactly what the
  // batch AS-OF operator computes
  query("q_stream_stateful_parity", streamStatefulParityQ, AnalyticsQueries.asofJoinDef.oracleSql)

  /** `dropDuplicatesWithinWatermark` under the driver gate — the streaming
    * dedup runtime ([[graft.streaming.StreamRunner.streamingDedup]], the
    * live face of [[graft.dedup.Dedup.exact]]) over the SAME staged 3-file
    * time-split source as [[streamStatefulParityQ]]: three ordered
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
  private def streamDedupParityQ(s: SparkSession, dir: String): DataFrame = {
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "dedup", dir)
    wipeTree(base)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .withColumn("day", to_date(col("ts")).cast("timestamp"))
    val deduped = graft.streaming.StreamRunner
      .streamingDedup(src, "ts", "3650 days",
        Seq("user_id", "event_type", "day"))
      .select(col("user_id"), col("event_type"), col("day"))
    val q = withStatePartitions(s, 4) {
      graft.streaming.StreamRunner.fileSink(
        deduped, s"$base/out", s"$base/ckpt")
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
  }
  // live dropDuplicatesWithinWatermark with a span-covering retention ==
  // batch DISTINCT over the key columns (see streamDedupParityQ)
  query("q_stream_dedup_parity", streamDedupParityQ,
    """SELECT DISTINCT user_id, event_type,
      |  CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day FROM events""".stripMargin)

  /** `mapGroupsWithState` with EventTimeTimeout under the driver gate —
    * the live face of the batch funnel ([[funnelQ]]): the staged 3-batch
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
  private def streamFunnelParityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "funnel", dir)
    wipeTree(base)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[graft.streaming.FunnelEvent]
    val prog = graft.streaming.StatefulOps.streamingFunnel(
      src, Seq("signup", "view", "purchase"),
      stateTtlMs = 90L * 24 * 3600 * 1000)
    val q = withStatePartitions(s, 4) {
      prog.toDF().writeStream
        .outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.streaming.StreamRunner.writeBatchIdempotent(b, id, s"$base/out"))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    // try_element_at: a user who never reaches stage k has a short
    // stage_times array — out-of-bounds must be NULL (q_funnel's shape),
    // not an ANSI error
    s.read.parquet(s"$base/out")
      .groupBy(col("user_id"))
      .agg(max_by(col("stage_times"), col("_batch_id")).as("__st"))
      .select(col("user_id"),
        try_element_at(col("__st"), lit(1)).as("t_signup"),
        try_element_at(col("__st"), lit(2)).as("t_view"),
        try_element_at(col("__st"), lit(3)).as("t_purchase"))
  }
  // the batch q_funnel SQL verbatim: live mapGroupsWithState over 3
  // ordered micro-batches must compute exactly the batch funnel
  query("q_stream_funnel_parity", streamFunnelParityQ, AnalyticsQueries.funnelDef.oracleSql)

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
  private def streamWindowParityQ(s: SparkSession, dir: String): DataFrame = {
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "window", dir)
    wipeTree(base)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .withColumn("v", col("value").cast("decimal(18,2)"))
    val agg = graft.streaming.StreamRunner
      .windowedAgg(src, "ts", "event_type", "v", "1 day", "1 hour")
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total").cast("double").as("total"))
    val q = withStatePartitions(s, 4) {
      graft.streaming.StreamRunner.fileSink(agg, s"$base/out", s"$base/ckpt")
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
  }
  // watermark-closed tumbling windows: the live append-mode emission =
  // batch day buckets restricted to windows the final watermark
  // (max ts − 1 h) closed; day buckets are epoch-aligned on both sides
  query("q_stream_window_parity", streamWindowParityQ,
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
  private def streamJoinParityQ(s: SparkSession, dir: String): DataFrame = {
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "join", dir)
    wipeTree(base)
    def src() = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
    val joined = graft.streaming.StreamRunner.streamIntervalJoin(
      purchases, views, "user_id", "ts", "ts",
      beforeUs = 3600L * 1000000L, afterUs = 0L,
      rightCols = Seq("value" -> "view_value"))
    val q = withStatePartitions(s, 4) {
      graft.streaming.StreamRunner.fileSink(
        joined.select(col("event_id"), col("user_id"), col("view_value")),
        s"$base/out", s"$base/ckpt")
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"),
        sum(col("view_value").cast("decimal(18,2)")).cast("double").as("view_total"))
  }
  // the batch q_interval_join SQL verbatim: live stream-stream join
  // state over 3 ordered micro-batches == the batch interval join
  query("q_stream_join_parity", streamJoinParityQ, AnalyticsQueries.intervalJoinDef.oracleSql)

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
  private def streamSessionizeParityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "sess", dir)
    wipeTree(base)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("value"))
      .as[graft.streaming.SessionEvent]
    val sessions = graft.streaming.StatefulOps
      .streamingSessionize(src, gapMs = 1800L * 1000)
    val q = withStatePartitions(s, 4) {
      graft.streaming.StreamRunner.fileSink(
        sessions.toDF().select(col("user_id"), col("n_events"),
          col("session_start"), col("session_end")),
        s"$base/out", s"$base/ckpt")
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
  }
  // live sessionize == batch sessions at MILLISECOND precision (the
  // operator's state is Timestamp.getTime ms): gap decisions diff
  // epoch_ms; start/end are ms-truncated; each user's LAST session is
  // emitted only if the final watermark (max ts − 1 h) strictly passed
  // its last+gap timeout — every other session was closed in-stream
  query("q_stream_sessionize_parity", streamSessionizeParityQ,
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
  private def streamKmvParityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "kmv", dir)
    wipeTree(base)
    val src = graft.streaming.StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
      .select(col("event_type").as("group"),
        col("user_id").cast("string").as("item"))
      .as[graft.streaming.KmvEvent]
    val snaps = graft.streaming.StatefulOps.streamingKmvDistinct(src, k = 256)
    val q = withStatePartitions(s, 4) {
      snaps.toDF().writeStream
        .outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.streaming.StreamRunner.writeBatchIdempotent(b, id, s"$base/out"))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .groupBy(col("group"))
      .agg(max_by(struct(col("kmv_k"), col("h_k"), col("est_distinct")),
        col("_batch_id")).as("__f"))
      .select(col("group").as("event_type"), col("__f.kmv_k").as("kmv_k"),
        col("__f.h_k").as("h_k"), col("__f.est_distinct").as("est_distinct"))
  }
  // the batch q_kmv_distinct SQL verbatim: KMV state is a pure set
  // function (k smallest distinct hashes, arrival-order independent),
  // so the live final snapshot must equal the batch sketch value-exactly
  query("q_stream_kmv_parity", streamKmvParityQ, SketchQueries.kmvDistinctDef.oracleSql)

  /** The three RECURSIVE stateful runtimes under the driver gate — EMA,
    * Welford anomaly, token-bucket rate limit — whose per-event folds are
    * NOT SQL-expressible (each output feeds the next event's state:
    * recursive IEEE / integer chains no window formulation reproduces),
    * so value-replay oracles are impossible. This gate uses the
    * INVARIANT form instead: each op runs LIVE over the staged 3-batch
    * split (three concurrent update-mode streams, real cross-batch
    * state-store round-trips) AND as its own batch twin (the identical
    * fold — `flatMapGroupsWithState` in batch mode for ema/anomaly,
    * [[graft.streaming.StatefulOps.rateLimitBatch]] for the bucket), and
    * the query emits one row per op: (op, n_rows, n_mismatch) from a
    * full-outer join on event_id comparing EXACT values (bit equality —
    * same Scala arithmetic in same per-key order is the contract). The
    * oracle pins n_mismatch = 0 and anchors n_rows to DuckDB's OWN
    * count(*) of events — a dropped, duplicated, or diverging row
    * anywhere in the live runtime hash-mismatches the round. Stated
    * honestly: this is live == engine-batch-twin under an independent
    * row-count anchor, not an independent value replay — the strongest
    * gate the non-replayable folds admit.
    */
  private def streamRecursiveParityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StatefulOps, StreamRunner, EmaEvent, RateEvent}
    val landing = stageTimeSplitEvents(s, dir)
    val base = streamBase(s, "recur", dir)
    wipeTree(base)
    def src() = StreamRunner
      .fileSource(s, landing, stagedEventsSchema, format = "parquet",
        options = Map("maxFilesPerTrigger" -> "1"))
    def upd(df: DataFrame, name: String) = df.writeStream
      .outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) =>
        StreamRunner.writeBatchIdempotent(b, id, s"$base/$name"))
      .option("checkpointLocation", s"$base/ckpt_$name")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val queries = withStatePartitions(s, 4) { Seq(
      upd(StatefulOps.streamingEma(
        src().select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .as[EmaEvent], alpha = 0.3).toDF(), "ema"),
      upd(StatefulOps.streamingAnomaly(
        src().select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .as[EmaEvent], zMax = 3.0).toDF(), "anomaly"),
      upd(StatefulOps.streamingRateLimit(
        src().select(col("user_id"), col("ts"), col("event_id"))
          .as[RateEvent], capTokens = 2L, ratePerSec = 1L).toDF(), "rate_limit"))
    }
    queries.foreach(_.awaitTermination()) // concurrent AvailableNow streams
    val staged = s.read.parquet(landing)
    def cmp(op: String, live: DataFrame, twin: DataFrame,
            cols: Seq[String]): DataFrame = {
      // presence markers + null-safe <=> per column: the earlier
      // isNull-either-side form counted a row whose compared column is
      // legitimately null on BOTH sides as a mismatch, so a future stateful
      // op emitting nullable values would hash-fail the gate as a false
      // positive. Only a row missing from one side entirely (presence
      // marker null after the full outer join) or a genuine value
      // divergence (not <=>) counts now.
      val l = live.select(col("event_id") +: lit(true).as("__pl") +:
        cols.map(col): _*)
      val t = twin.select(col("event_id") +: lit(true).as("__pt") +:
        cols.map(c => col(c).as(s"__b_$c")): _*)
      val mism = (col("__pl").isNull || col("__pt").isNull ||
        cols.map(c => !(col(c) <=> col(s"__b_$c"))).reduce(_ || _))
      l.join(t, Seq("event_id"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(mism, 1L).otherwise(0L)).as("n_mismatch"))
        .select(lit(op).as("op"), col("n_rows"), col("n_mismatch"))
    }
    val emaTwin = StatefulOps.streamingEma(
      staged.select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[EmaEvent], alpha = 0.3).toDF()
    val anomTwin = StatefulOps.streamingAnomaly(
      staged.select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[EmaEvent], zMax = 3.0).toDF()
    val rateTwin = StatefulOps.rateLimitBatch(
      staged.select(col("user_id"), col("ts"), col("event_id"))
        .as[RateEvent], capTokens = 2L, ratePerSec = 1L).toDF()
    cmp("anomaly", s.read.parquet(s"$base/anomaly"), anomTwin,
        Seq("value", "z", "anomaly"))
      .unionByName(cmp("ema", s.read.parquet(s"$base/ema"), emaTwin, Seq("ema")))
      .unionByName(cmp("rate_limit", s.read.parquet(s"$base/rate_limit"),
        rateTwin, Seq("admitted", "tokens_after_micro")))
  }
  // invariant gate for the NON-SQL-expressible recursive folds (see
  // streamRecursiveParityQ): zero live-vs-twin mismatches, row counts
  // anchored to DuckDB's own count of events — one row per op
  query("q_stream_recursive_parity", streamRecursiveParityQ,
    """SELECT 'anomaly' AS op, (SELECT count(*) FROM events) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_mismatch
      |UNION ALL
      |SELECT 'ema', (SELECT count(*) FROM events), 0
      |UNION ALL
      |SELECT 'rate_limit', (SELECT count(*) FROM events), 0""".stripMargin)
}
