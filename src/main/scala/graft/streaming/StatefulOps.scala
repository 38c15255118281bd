package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** A closed user session emitted by [[StatefulOps.streamingSessionize]]. */
final case class SessionOut(user_id: Long, n_events: Long, total_value: Double,
                            session_start: Timestamp, session_end: Timestamp)

/** One input event for the stateful operators. */
final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

private final case class SessionState(n: Long, total: Double, start: Long, last: Long)

/** One input event for [[StatefulOps.streamingFunnel]]. */
final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)

/** A user's funnel progress: completion times of the completed stage
  * PREFIX — the batch operator's null-padded columns minus the nulls
  * (funnel columns are null only from the first broken stage on, so the
  * non-null prefix is the whole row).
  */
final case class FunnelProgress(user_id: Long, stage_times: Seq[Timestamp])

/** One input event for [[StatefulOps.streamingAsofEnrich]] — a mixed stream
  * of reference updates and facts on one key, like the events table's
  * view/purchase interleave.
  */
final case class EnrichEvent(user_id: Long, ts: Timestamp, event_id: Long,
                             event_type: String, value: Double)

/** A fact enriched with the latest at-or-before reference value. */
final case class EnrichedFact(user_id: Long, event_id: Long, value: Double,
                              prior_view_value: Double)

private final case class ViewState(tsMicros: Long, seq: Long, value: Double)

final case class EmaEvent(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
final case class EmaOut(user_id: Long, event_id: Long, ema: Double)

/** One input item for [[StatefulOps.streamingHeavyHitters]]; `seq` fixes
  * the processing order inside a micro-batch (Misra-Gries estimates are
  * order-dependent in their non-guaranteed tail; the CONTRACT holds for
  * any order).
  */
final case class HHEvent(group: String, seq: Long, item: String)

/** One counter of the current Misra-Gries summary for `group`: estimate
  * `est` after `n` items total — `n` identifies the snapshot (the final
  * rows per group are those with the maximum n).
  */
final case class HHSnapshot(group: String, item: String, est: Long, n: Long)

/** One input item for [[StatefulOps.streamingKmvDistinct]]. */
final case class KmvEvent(group: String, item: String)

/** A group's KMV cardinality snapshot after a micro-batch: the summary
  * size (`kmv_k` — below k it IS the exact distinct count), the k-th
  * minimum hash, and the estimate.
  */
final case class KmvSnapshot(group: String, kmv_k: Long, h_k: Long,
                             est_distinct: Double)
private final case class EmaState(ema: Double)

final case class AnomalyOut(user_id: Long, event_id: Long, value: Double,
                            z: Double, anomaly: Boolean)
private final case class WelfordState(n: Long, mean: Double, m2: Double)

/** One input event for [[StatefulOps.streamingRateLimit]]. */
final case class RateEvent(user_id: Long, ts: Timestamp, event_id: Long)

/** A token-bucket admission decision: `tokens_after_micro` is the bucket
  * level (in millionths of a token) AFTER this event's refill-and-consume.
  */
final case class RateDecision(user_id: Long, event_id: Long, admitted: Boolean,
                              tokens_after_micro: Long)

/** Custom streaming state via `flatMapGroupsWithState` — the arbitrary-state
  * face of the engine (the batch analog is
  * [[graft.operators.Analytics.sessionize]]). Kafka Streams exposes this as
  * Processor API state stores; Structured Streaming's equivalent keeps state
  * per group key in the state store with watermark-driven timeouts.
  *
  * Scale notes: state is one small fixed-size record per OPEN session (not
  * per event); the state store shuffles on the group key once; event-time
  * timeout means idle keys are closed and evicted by watermark progress, so
  * state size tracks concurrent activity, not history.
  */
object StatefulOps {

  implicit private val sessionOutEnc: Encoder[SessionOut] = Encoders.product[SessionOut]
  implicit private val stateEnc: Encoder[SessionState] = Encoders.product[SessionState]
  /** The funnel's state encoder, resolved once per JVM. Each query's
    * operator resolves its state encoder again, and resolving a `Seq` field
    * gives its element a lambda variable numbered from a JVM-wide counter,
    * which the generated state deserializer's source embeds. A fresh
    * encoder thus gave every query new source text, and Spark compiled it
    * again; a bound encoder resolves to itself. */
  implicit private val funnelStateEnc: Encoder[(Seq[Long], Long)] =
    ExpressionEncoder[(Seq[Long], Long)]().resolveAndBind()

  /** Streaming sessionization: events grouped by user; a session closes (and
    * emits one [[SessionOut]] row) when no event arrives within `gapMs` of
    * the last one, tracked by event-time timeout against the watermark.
    *
    * Input must already have a watermark on `ts`.
    *
    * Late-event trade (the Append-mode approximation, same family as
    * [[streamingAsofEnrich]]'s): a cross-batch late event that still lands
    * within `gapMs` of the OPEN session — on either side — merges into it
    * (extending `session_start` backwards when older), so the emitted
    * session stays internally consistent (start ≤ every counted event,
    * no internal gap beyond `gapMs` introduced by the merge). An admitted
    * late event MORE than `gapMs` before the open session's start emits
    * immediately as its own closed singleton session — a batch replay
    * would always keep it separate from the open session (though it might
    * merge several such strays with each other, which this path cannot).
    * Events later than the late-events watermark never arrive here at
    * all; batch replay is authoritative.
    */
  def streamingSessionize(events: Dataset[SessionEvent], gapMs: Long,
                          outputMode: OutputMode = OutputMode.Append()): Dataset[SessionOut] = {
    require(gapMs > 0, s"session gap must be positive millis, got $gapMs " +
      "(a zero/negative gap closes every event into a singleton and can " +
      "set an already-expired event-time timeout)")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        outputMode, GroupStateTimeout.EventTimeTimeout()) {
        case (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap elapsed with no new events: close and emit the session
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, s.total, new Timestamp(s.start), new Timestamp(s.last)))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t >= s.start - gapMs && t - s.last <= gapMs =>
                  // within gapMs of the OPEN session on either side.
                  // min(start, t): a late-but-admitted event older than the
                  // open session must extend it BACKWARDS — keeping start
                  // untouched emitted sessions whose start postdated events
                  // they counted. The lower bound matters too: without it
                  // the guard `t - s.last <= gapMs` is vacuously true for
                  // ANY late event (t ≤ s.last makes the difference
                  // negative), so an event hours older than the session
                  // would merge and emit a session with an internal gap
                  // far beyond gapMs — which a batch replay always splits.
                  cur = Some(SessionState(s.n + 1, s.total + e.value,
                    math.min(s.start, t), math.max(s.last, t)))
                case Some(s) if t < s.start - gapMs =>
                  // admitted-late stray MORE than gapMs before the open
                  // session: batch replay would always keep it separate —
                  // emit it as its own closed singleton session and leave
                  // the open session untouched. (Strays between the same
                  // two batches that batch replay would merge with EACH
                  // OTHER still emit individually — the Append-mode
                  // approximation, stated in the scaladoc.)
                  closed ::= SessionOut(userId, 1, e.value,
                    new Timestamp(t), new Timestamp(t))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.n, s.total, new Timestamp(s.start), new Timestamp(s.last))
                  cur = Some(SessionState(1, e.value, t, t))
                case None =>
                  cur = Some(SessionState(1, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp above the current watermark (the funnel/asof pattern):
              // a batch whose newest event is late enough that last + gap
              // sits at/below the eviction watermark would THROW here and
              // terminate the query; clamping times the session out on the
              // next watermark advance instead
              state.setTimeoutTimestamp(math.max(s.last + gapMs,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming ordered funnel — the live face of
    * [[graft.operators.Analytics.funnel]]: per user, stage i completes at
    * the first `stageTypes(i)` event STRICTLY after stage i−1's completion
    * (microsecond precision, like the batch operator). State is one
    * bounded record per key (≤ |stages| epoch-micros longs); one
    * state-store shuffle on the key. Emits the key's full progress row
    * each micro-batch it receives events (Update-mode semantics).
    *
    * Parity contract: with per-key event-time-ordered delivery ACROSS
    * micro-batches — the Kafka per-partition ordering guarantee this
    * operator models — the final progress equals the batch operator's row
    * for every key (spec-asserted). Events INSIDE a micro-batch are sorted
    * by event time first, so intra-batch disorder is absorbed; a
    * cross-batch late event for an earlier stage cannot rewind
    * already-advanced state — the streaming trade, stated.
    *
    * State-scale guard: per-key state is O(|stages|), but NOTHING bounds
    * the KEY space — an unbounded user population grows the store forever.
    * `stateTtlMs > 0` turns on watermark-based expiry (the input must
    * carry `withWatermark` on `ts`): a key idle past its last event time
    * + TTL emits one final progress row and is evicted; a later event for
    * it starts a fresh funnel. The default (0) keeps the unbounded
    * behavior for bounded key spaces and the batch-parity specs.
    *
    * CHECKPOINT COMPATIBILITY: adding the TTL widened the state encoding
    * from `Seq[Long]` to `(Seq[Long], Long)` — a streaming query
    * checkpointed under the old encoding cannot be restored by this
    * version (the state deserializer fails); restart from a fresh
    * checkpoint after upgrading.
    */
  def streamingFunnel(events: Dataset[FunnelEvent],
                      stageTypes: Seq[String],
                      stateTtlMs: Long = 0L): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    require(stageTypes.nonEmpty, "funnel needs at least one stage")
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    val timeoutConf = if (stateTtlMs > 0) GroupStateTimeout.EventTimeTimeout()
                      else GroupStateTimeout.NoTimeout
    // state = (stage times, max event time ever seen). The deadline anchors
    // on the MONOTONIC max-seen, not the current batch's max: a stray LATE
    // event must never shorten the key's eviction deadline below
    // last-event-time + TTL (it would split one funnel into two).
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Seq[Long], Long), FunnelProgress](timeoutConf) {
        case (userId, batch, state: GroupState[(Seq[Long], Long)]) =>
          if (state.hasTimedOut) {
            // eviction flush: emit the final progress, then forget the key
            val times = state.getOption.map(_._1).getOrElse(Seq.empty[Long])
            state.remove()
            FunnelProgress(userId, times.map(toTs))
          } else {
            var (times, maxSeen) =
              state.getOption.getOrElse((Seq.empty[Long], Long.MinValue))
            val evs = batch.toSeq.map(e => (micros(e.ts), e.event_type)).sortBy(_._1)
            evs.foreach { case (us, tpe) =>
              if (times.length < stageTypes.length &&
                  tpe == stageTypes(times.length) &&
                  (times.isEmpty || us > times.last))
                times = times :+ us
            }
            if (evs.nonEmpty) maxSeen = math.max(maxSeen, evs.last._1)
            state.update((times, maxSeen))
            if (stateTtlMs > 0 && maxSeen != Long.MinValue)
              // clamp above the current watermark: a batch of only-late
              // events must not set an already-expired timeout (throws)
              state.setTimeoutTimestamp(math.max(
                maxSeen / 1000L + stateTtlMs,
                state.getCurrentWatermarkMs() + 1L))
            FunnelProgress(userId, times.map(toTs))
          }
      }
  }

  /** Streaming AS-OF enrichment — the live face of the custom batch operator
    * [[graft.operators.Analytics.asofJoinMerge]] / `q_asof_join`: every
    * `factType` event is emitted with the value of the key's latest
    * `refType` event at-or-before it (facts with no prior reference are
    * dropped, matching the driver query's `isNotNull` filter).
    *
    * State is ONE fixed-size record per key — the latest reference
    * (ts, seq, value) — exactly the O(1) merge state of
    * [[graft.plans.AsofJoinExec]] kept in the state store instead of a
    * merge iterator; one state-store shuffle on the key.
    *
    * Parity contract (spec-asserted): with per-key event-time-ordered
    * delivery ACROSS micro-batches — the Kafka per-partition guarantee this
    * models — the emitted facts equal the batch operator's matched rows.
    * Events INSIDE a micro-batch are sorted by (ts, seq) first, so
    * intra-batch disorder is absorbed; a cross-batch late reference cannot
    * rewind facts already emitted against older state — the streaming
    * trade, stated.
    *
    * State-scale guard: per-key state is ONE record, but nothing bounds
    * the key space. `stateTtlMs > 0` enables watermark-based expiry (the
    * input must carry `withWatermark` on `ts`): a key idle past its last
    * event time + TTL is evicted silently — a fact arriving after
    * eviction has no reference and is dropped, exactly like a fact with
    * no prior reference. Default (0) keeps the unbounded behavior.
    *
    * CHECKPOINT COMPATIBILITY: adding the TTL widened the state encoding
    * from `ViewState` to `(ViewState, Long)` — a streaming query
    * checkpointed under the old encoding cannot be restored by this
    * version; restart from a fresh checkpoint after upgrading.
    */
  def streamingAsofEnrich(events: Dataset[EnrichEvent], refType: String,
                          factType: String,
                          stateTtlMs: Long = 0L): Dataset[EnrichedFact] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    val timeoutConf = if (stateTtlMs > 0) GroupStateTimeout.EventTimeTimeout()
                      else GroupStateTimeout.NoTimeout
    // `maxSeen` makes the eviction deadline MONOTONIC: a stray late event
    // must never shorten it below last-event-time + TTL (that would evict
    // a live reference early and silently drop its facts). Facts-only keys
    // write no state, so there is nothing to expire for them.
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(ViewState, Long), EnrichedFact](
        OutputMode.Append(), timeoutConf) {
        case (userId, batch, state: GroupState[(ViewState, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = List.newBuilder[EnrichedFact]
            var cur = state.getOption.map(_._1)
            var maxSeen = state.getOption.map(_._2).getOrElse(Long.MinValue)
            val evs = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            evs.foreach { e =>
              if (e.event_type == refType) {
                val m = micros(e.ts)
                val newer = cur.forall(s =>
                  s.tsMicros < m || (s.tsMicros == m && s.seq <= e.event_id))
                if (newer) cur = Some(ViewState(m, e.event_id, e.value))
              } else if (e.event_type == factType) {
                cur.foreach(s => out += EnrichedFact(userId, e.event_id, e.value, s.value))
              }
            }
            if (evs.nonEmpty) maxSeen = math.max(maxSeen, micros(evs.last.ts))
            cur.foreach { s =>
              state.update((s, maxSeen))
              if (stateTtlMs > 0)
                state.setTimeoutTimestamp(math.max(
                  maxSeen / 1000L + stateTtlMs,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming recursive EMA — the live counterpart of the batch
    * [[graft.operators.Analytics.emaTrunc]] family: per key,
    * `ema ← α·x + (1−α)·ema` (pandas adjust=False; the first event seeds
    * `ema = x`), one smoothed row emitted per event. This is the filter
    * form a stream processor actually runs: O(1) state per key (a single
    * double — no window, no history), one state-store shuffle.
    *
    * Parity contract (spec-asserted): with per-key event-time-ordered
    * delivery across micro-batches, the emitted series equals the batch
    * recursive fold exactly — the arithmetic is a deterministic
    * left-to-right IEEE recurrence in both. Events inside a micro-batch
    * are sorted by (ts, event_id) first, so intra-batch disorder is
    * absorbed.
    */
  def streamingEma(events: Dataset[EmaEvent], alpha: Double): Dataset[EmaOut] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[EmaState]) =>
          var cur = state.getOption
          val out = batch.toSeq
            .sortBy(e => (micros(e.ts), e.event_id))
            .map { e =>
              val next = cur match {
                case Some(s) => alpha * e.value + (1 - alpha) * s.ema
                case None    => e.value
              }
              cur = Some(EmaState(next))
              EmaOut(userId, e.event_id, next)
            }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Continuous heavy hitters: the live face of the batch Misra-Gries
    * aggregate ([[graft.expressions.FreqItemsAgg]]) — per group, at most
    * `k` counters EVER (state is O(k·|groups|), independent of stream
    * length and vocabulary), emitting the full summary after every
    * micro-batch. Same update rule as the batch expression (present → +1;
    * room → insert at 1; full → decrement all, drop zeros), so a
    * single-partition ordered replay matches the batch aggregate row for
    * row (spec-pinned), and the mergeable-summaries contract — every item
    * with true frequency > n/(k+1) present, estimates undercounting by at
    * most n/(k+1) — holds across any batch split.
    *
    * No timeout: a group's summary is k counters forever, which is the
    * point — for unbounded GROUP spaces, fold the group into the item (one
    * global summary) or wrap with the TTL pattern of [[streamingFunnel]].
    */
  def streamingHeavyHitters(events: Dataset[HHEvent], k: Int): Dataset[HHSnapshot] = {
    import events.sparkSession.implicits._
    require(k > 0, s"k must be positive: $k")
    events.groupByKey(_.group)
      .flatMapGroupsWithState[(Map[String, Long], Long), HHSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[(Map[String, Long], Long)]) =>
          val (m0, n0) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val counts = scala.collection.mutable.Map[String, Long](m0.toSeq: _*)
          var n = n0
          // null items are skipped entirely (no n increment), exactly like
          // the batch FreqItemsAgg — the row-for-row parity depends on it
          batch.toSeq.sortBy(_.seq).filter(_.item != null).foreach { e =>
            n += 1
            counts.get(e.item) match {
              case Some(c) => counts(e.item) = c + 1
              case None if counts.size < k => counts(e.item) = 1L
              case None =>
                counts.keys.toSeq.foreach { i =>
                  val d = counts(i) - 1
                  if (d <= 0) counts.remove(i) else counts(i) = d
                }
            }
          }
          state.update((counts.toMap, n))
          counts.toSeq.sortBy { case (i, c) => (-c, i) }
            .map { case (i, c) => HHSnapshot(group, i, c, n) }.iterator
      }
  }

  /** Continuous distinct-count: the live face of the batch KMV sketch
    * ([[graft.operators.Analytics.kmvDistinct]]). State per group is the k
    * smallest distinct FNV-1a hashes seen so far — O(k) FOREVER, stream
    * length and value cardinality notwithstanding — merged each micro-batch
    * by sorted-union-truncate (the KMV merge is associative, commutative,
    * and idempotent, so arrival order and batch splits cannot change the
    * summary). Emits the group's snapshot after every batch it appears in.
    *
    * Parity contract (spec-asserted): after any sequence of micro-batches,
    * the latest snapshot per group equals the batch operator on the same
    * rows EXACTLY — same signed-ascending hash order, same k-th minimum,
    * same HALF_UP 6-dp estimate — because both sides run the identical
    * integer summary and one identical double expression.
    *
    * No timeout: a group's summary is k longs forever (the point of a
    * sketch); for unbounded GROUP spaces wrap with the TTL pattern of
    * [[streamingFunnel]].
    */
  def streamingKmvDistinct(events: Dataset[KmvEvent], k: Int): Dataset[KmvSnapshot] = {
    import events.sparkSession.implicits._
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536]: $k")
    events.groupByKey(_.group)
      .flatMapGroupsWithState[Array[Long], KmvSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[Array[Long]]) =>
          val cur = state.getOption.getOrElse(Array.empty[Long])
          // null items are skipped, like the batch side's null-eating hash
          val hs = batch.filter(_.item != null)
            .map(e => graft.expressions.Fnv1a.hash(
              e.item.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          val merged = (cur ++ hs).distinct.sorted.take(k)
          state.update(merged)
          if (merged.isEmpty) Iterator.empty
          else {
            val kk = merged.length
            val hk = merged.last
            val est =
              if (kk < k) kk.toDouble
              else BigDecimal((k - 1).toDouble /
                  ((hk.toDouble + math.pow(2, 63)) / math.pow(2, 64)))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            Iterator(KmvSnapshot(group, kk.toLong, hk, est))
          }
      }
  }

  /** Streaming per-key anomaly gate: each event is z-scored against the
    * key's RUNNING history (Welford's online mean/variance — O(1) state:
    * three numbers per key) BEFORE being folded in, and flagged when
    * |z| > `zMax` with at least `minN` prior observations. The filter
    * form of the batch [[graft.operators.Analytics.madOutliers]] idea:
    * a stream processor cannot see the future corpus, so the robust
    * batch median becomes the online running moments — the standard
    * monitoring trade, stated.
    *
    * Parity contract (spec-asserted): with per-key event-time-ordered
    * delivery across micro-batches, the emitted (z, anomaly) series
    * equals the same Welford fold run in batch — the recurrence is a
    * deterministic chain of IEEE ops in both.
    */
  def streamingAnomaly(events: Dataset[EmaEvent], zMax: Double,
                       minN: Long = 5L): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[WelfordState, AnomalyOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[WelfordState]) =>
          var cur = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val out = batch.toSeq
            .sortBy(e => (micros(e.ts), e.event_id))
            .map { e =>
              val z =
                if (cur.n >= minN && cur.m2 > 0.0)
                  (e.value - cur.mean) / math.sqrt(cur.m2 / (cur.n - 1))
                else 0.0
              val n1 = cur.n + 1
              val d1 = e.value - cur.mean
              val mean1 = cur.mean + d1 / n1
              cur = WelfordState(n1, mean1, cur.m2 + d1 * (e.value - mean1))
              AnomalyOut(userId, e.event_id, e.value, z,
                cur.n - 1 >= minN && math.abs(z) > zMax)
            }
          state.update(cur)
          out.iterator
      }
  }

  /** The shared event-time token-bucket fold: refill at `ratePerSec`
    * tokens/second of ELAPSED EVENT TIME (micro-token integer arithmetic —
    * elapsed-micros × rate — so every decision is exact and
    * engine-replayable), cap at `capTokens`, admit iff a full token is
    * available. A key's first-ever event finds a full bucket. Time moves
    * the bucket forward for admitted AND rejected events alike (rejection
    * does not stop the refill clock).
    */
  private[streaming] def bucketFold(capMicro: Long, ratePerSec: Long)(
      userId: Long, evs: Seq[RateEvent],
      init: Option[(Long, Long)]): (Seq[RateDecision], (Long, Long)) = {
    def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    var (last, toks) = init.getOrElse((Long.MinValue, capMicro))
    val out = evs.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
      val m = micros(e.ts)
      if (last != Long.MinValue && m > last) {
        // saturate BEFORE multiplying: a key silent for months at a high
        // rate would overflow (gap · rate) in Long and wedge the bucket
        // at a negative level forever (state persists across batches)
        val gap = m - last
        toks = if (gap >= capMicro / ratePerSec + 1L) capMicro
               else math.min(capMicro, toks + gap * ratePerSec)
      }
      last = math.max(last, m)
      val admit = toks >= 1000000L
      if (admit) toks -= 1000000L
      RateDecision(userId, e.event_id, admit, toks)
    }
    (out, (last, toks))
  }

  /** Streaming per-key rate limiter (token bucket in EVENT time): each
    * key's events are admitted while its bucket holds a full token; the
    * bucket refills at `ratePerSec` and caps at `capTokens` — the
    * ingestion-side defense against a single key (bot, hot tenant,
    * runaway producer) flooding a pipeline. State is one (last-ts, level)
    * record per key; one state-store shuffle.
    *
    * Parity contract (spec-asserted): with per-key event-time-ordered
    * delivery across micro-batches, decisions equal [[rateLimitBatch]]'s —
    * both run the IDENTICAL integer fold. Intra-batch disorder is absorbed
    * by the (ts, event_id) sort; a cross-batch late event refills from the
    * max-seen timestamp (time never runs backwards in the bucket).
    */
  def streamingRateLimit(events: Dataset[RateEvent], capTokens: Long,
                         ratePerSec: Long): Dataset[RateDecision] = {
    import events.sparkSession.implicits._
    require(capTokens > 0 && capTokens <= 1000000000000L && ratePerSec > 0 && ratePerSec <= 1000000000000L,
      s"cap/rate must be in (0, 1e12]: $capTokens/$ratePerSec")
    val capMicro = capTokens * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), RateDecision](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (userId, batch, state: GroupState[(Long, Long)]) =>
          val (out, next) =
            bucketFold(capMicro, ratePerSec)(userId, batch.toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
  }

  /** Batch replay of [[streamingRateLimit]] — the same fold over each key's
    * fully-sorted history (admission feeds back into the bucket level, so
    * this is a per-key sequential recurrence, not a window: one shuffle on
    * the key, linear per-key work, exactly like the streaming operator's
    * state progression).
    */
  def rateLimitBatch(events: Dataset[RateEvent], capTokens: Long,
                     ratePerSec: Long): Dataset[RateDecision] = {
    import events.sparkSession.implicits._
    require(capTokens > 0 && capTokens <= 1000000000000L && ratePerSec > 0 && ratePerSec <= 1000000000000L,
      s"cap/rate must be in (0, 1e12]: $capTokens/$ratePerSec")
    val capMicro = capTokens * 1000000L
    events.groupByKey(_.user_id).flatMapGroups { (userId, evs) =>
      bucketFold(capMicro, ratePerSec)(userId, evs.toSeq, None)._1.iterator
    }
  }
}
