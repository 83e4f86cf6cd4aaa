package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table.
  *
  * The reference has no streaming engine — its incremental semantics
  * are poll-on-cron + full reload (SURVEY §2.10). This module is the
  * Spark-native upgrade path: the same aggregations usable as a batch
  * query today run unchanged over `readStream` with watermarks.
  * Transform builders take a DataFrame so batch and streaming share ONE
  * definition (tested both ways in StreamingSpec).
  */
object EventStreams {

  /** Tumbling 1-hour counts/sums per event_type (works on batch or
    * streaming input; with streaming input add the watermark first).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Heavy hitters (top users by event volume) per tumbling window —
    * the streaming face of hh1's Misra-Gries `freq_items` aggregate.
    * ONE definition serves both engines: in batch it's an ordinary
    * ObjectHashAggregate; in streaming the SAME mergeable summary is
    * the state-store value (serialize/merge are the aggregate's own),
    * so per-key state is O(k), not O(distinct users) — the property
    * that makes per-window top-k viable on an unbounded stream. With
    * k >= distinct keys per group the summary is exact, which is what
    * StreamingSpec uses to assert stream == batch bit-for-bit.
    */
  def windowHeavyHitters(events: DataFrame, window_ : String = "1 hour",
                         k: Int = 8): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(graft.functions.FreqItems.freq_items(
        col("user_id").cast("string"), k).as("hh"))
      .select(col("w.start").as("window_start"), col("event_type"),
        explode(col("hh")).as("e"))
      .select(col("window_start"), col("event_type"),
        col("e.item").cast("bigint").as("user_id"), col("e.est").as("n"))

  /** Streaming wiring for [[windowHeavyHitters]]: watermarked so closed
    * windows finalize (append mode) and their O(k) summaries evict.
    */
  def streamingWindowHeavyHitters(events: DataFrame,
                                  window_ : String = "1 hour",
                                  k: Int = 8): DataFrame =
    windowHeavyHitters(events.withWatermark("ts", "2 hours"), window_, k)

  /** Approximate distinct users per tumbling window via the
    * Datasketches HLL aggregate — the third member of the
    * sketch-as-state family (with [[windowHeavyHitters]]'s Misra-Gries
    * and the drift gate's histogram vector): per-window state is the
    * KB-bounded sketch, never the user set, so unbounded-cardinality
    * windows stream in O(sketch) memory. In the sparse regime (below
    * the dense-mode threshold) the estimate is EXACT, which is what
    * the spec uses to pin stream == batch == true count.
    */
  def windowApproxDistinct(events: DataFrame,
                           window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14)))
          .as("n_users_est"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users_est"))

  /** Streaming wiring for [[windowApproxDistinct]]. */
  def streamingWindowApproxDistinct(events: DataFrame,
                                    window_ : String = "1 hour"): DataFrame =
    windowApproxDistinct(events.withWatermark("ts", "2 hours"), window_)

  /** Per-window binned-CDF drift against a STATIC reference CDF — the
    * streaming data-drift gate. The whole statistic is ONE aggregation
    * (bin counts as a fixed-width conditional-sum vector) plus pure
    * array projections (running sums via higher-order functions, sup
    * against the broadcast reference literal), because streaming
    * forbids chained aggregations and window functions — the shape is
    * dictated by the execution model, and the SAME definition runs in
    * batch, where ks2's join+window formulation must produce
    * bit-identical drift values (AnalyticsSpec asserts it).
    * Reference CDF = one double per bin (bin = floor(value/10),
    * clamped to the grid); state per window is O(nBins).
    */
  def binnedWindowDrift(events: DataFrame, refCdf: Seq[Double],
                        window_ : String = "1 day"): DataFrame = {
    val nBins = refCdf.length
    val bin = least(floor(col("value") / 10).cast("int"), lit(nBins - 1))
    val binned = events.withColumn("__bin", bin)
    val hist = array((0 until nBins).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L))): _*)
    binned
      .groupBy(window(col("ts"), window_).as("w"))
      .agg(count(lit(1)).as("n_day"), hist.as("__hist"))
      .withColumn("__cum", transform(sequence(lit(1), lit(nBins)),
        i => aggregate(slice(col("__hist"), lit(1), i), lit(0L),
          (a, x) => a + x)))
      .select(col("w.start").cast("date").as("day"), col("n_day"),
        round(array_max(zip_with(col("__cum"), typedLit(refCdf),
          (c, r) => abs(c.cast("double") / col("n_day") - r))), 9)
          .as("drift"))
  }

  /** Streaming wiring for [[binnedWindowDrift]]: watermarked so closed
    * windows emit exactly once in append mode.
    */
  def streamingBinnedDrift(events: DataFrame, refCdf: Seq[Double],
                           window_ : String = "1 day"): DataFrame =
    binnedWindowDrift(events.withWatermark("ts", "2 days"), refCdf, window_)

  /** Sliding 1h/30m windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows (10-minute gap) per user — built-in
    * session_window works for both batch and streaming.
    */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming wiring: watermarked tumbling aggregation ready for
    * `writeStream` (used with MemoryStream in tests; with a file/kafka
    * source in production).
    */
  def streamingTumbling(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "2 hours"))

  /** Click -> purchase attribution: join each click to the same user's
    * purchases inside `[click_ts, click_ts + within)`. ONE definition
    * serves both engines:
    *  - batch: an ordinary equi+range join (equi key user_id, range as
    *    a post-filterable condition — no nested loop);
    *  - streaming (both sides watermarked, see
    *    [[streamingAttribution]]): Spark's stream-stream interval join —
    *    the time bound in the join condition is what lets the state
    *    store evict rows once the watermark passes `click_ts + within`,
    *    keeping state bounded regardless of stream length.
    */
  def clickPurchaseJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      within: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("buy_ts"), col("value").as("buy_value"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") < col("click_ts") + expr(s"INTERVAL '$within'"),
      joinType)
      .select(col("click_id"), col("c_user").as("user_id"),
        col("click_ts"), col("buy_ts"), col("buy_value"))
  }

  /** Stream-stream wiring for [[clickPurchaseJoin]]: watermark both
    * sides so the interval join's state is evictable. `left_outer`
    * additionally emits unmatched clicks with null purchase columns —
    * but only once the watermark proves no in-window purchase can
    * still arrive (the streaming-correct "no conversion" signal).
    */
  def streamingAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      within: String = "1 hour",
      joinType: String = "inner"): DataFrame =
    clickPurchaseJoin(
      clicks.withWatermark("ts", "2 hours"),
      purchases.withWatermark("ts", "2 hours"),
      within, joinType)

  /** Event dedup by id for at-least-once sources:
    * dropDuplicatesWithinWatermark, so the seen-ids state is EVICTED
    * once the watermark passes — bounded state, unlike plain streaming
    * dropDuplicates which keeps every id forever.
    */
  def streamingDedupedEvents(
      events: DataFrame, delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- custom state: running per-user counters via mapGroupsWithState
  final case class Event(ts: Timestamp, user_id: Long, event_type: String,
      value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** flatMapGroupsWithState-style custom stateful op: emits the running
    * (count,total) per user after each batch — the KeyValueGroupedDataset
    * state surface the reference's KV tracker maps onto in a true
    * streaming deployment.
    */
  def runningPerUser(
      spark: SparkSession,
      events: Dataset[Event]): Dataset[UserRunning] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          it.foreach { e => n += 1; total += e.value }
          val next = UserRunning(uid, n, total)
          state.update(next)
          next
      }
  }

  final case class Seen(done: Boolean)
  final case class FirstSeen(user_id: Long, first_ts: Timestamp)

  /** Streaming new-user detection: emits each user_id EXACTLY ONCE —
    * at its first appearance — with the earliest event time in that
    * first micro-batch. The state is one boolean per key (the
    * smallest possible state store entry); the day rollup over the
    * emitted stream is the streaming dual of the batch growth curve
    * ([[graft.queries.Series.cum1CumulativeUniques]]). Per-key
    * event-time order across batches is the same
    * Kafka-partitioned-by-user contract streamingEventTrigrams
    * documents; within a batch the earliest (ts) wins explicitly.
    */
  def streamingFirstSeen(
      spark: SparkSession,
      events: Dataset[Event]): Dataset[FirstSeen] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seen, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[Seen]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(Seen(true))
            val first = it.minBy(_.ts.getTime)
            Iterator.single(FirstSeen(uid, first.ts))
          }
      }
  }

  // ---- streaming sequence mining: contiguous trigrams with carry ----
  final case class SeqEvent(ts: Timestamp, event_id: Long, user_id: Long,
      event_type: String)
  final case class SeqCarry(s1: String, s2: String, n: Int)
  final case class Trigram(user_id: Long, e1: String, e2: String, e3: String)

  /** Streaming dual of the batch contiguous-trigram miner
    * ([[graft.queries.Mining2.seq1EventTrigrams]]): per-user state is
    * ONLY the last two event types (O(1) per key — the minimal carry
    * for a width-3 pattern window), and each arriving event closes at
    * most one trigram. Events are ordered (ts, event_id) within each
    * micro-batch; ACROSS batches the per-key stream must arrive in
    * event-time order (the Kafka-partitioned-by-user contract) — the
    * same assumption every per-key log consumer makes. Downstream
    * pattern counting is then the ordinary windowed/global aggregate
    * over the emitted trigram stream.
    */
  def streamingEventTrigrams(
      spark: SparkSession,
      events: Dataset[SeqEvent]): Dataset[Trigram] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqCarry, Trigram](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[SeqEvent], state: GroupState[SeqCarry]) =>
          var c = state.getOption.getOrElse(SeqCarry("", "", 0))
          val out = collection.mutable.ArrayBuffer.empty[Trigram]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (c.n == 2) out += Trigram(uid, c.s1, c.s2, e.event_type)
            c = SeqCarry(if (c.n >= 1) c.s2 else e.event_type,
              e.event_type, math.min(c.n + 1, 2))
          }
          state.update(c)
          out.iterator
      }
  }

  final case class SessionState(start: Long, lastTs: Long, n: Long,
      total: Double)
  final case class ClosedSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, session_value: Double)

  /** True streaming sessionization with custom state:
    * flatMapGroupsWithState + EventTimeTimeout. A user's session state
    * accumulates while events arrive within `gapMs`; when the
    * watermark passes lastEvent+gap the state times out and the CLOSED
    * session is emitted — the hand-rolled equivalent of
    * session_window, needed whenever per-session state is richer than
    * an aggregate (dedup sets, ML features, ...). Input must be
    * watermarked on `ts` by the caller.
    */
  def streamingSessions(
      spark: SparkSession,
      events: Dataset[Event],
      gapMs: Long = 10 * 60 * 1000L): Dataset[ClosedSession] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, new Timestamp(s.start),
              new Timestamp(s.lastTs + gapMs), s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption.orNull
            val closed = collection.mutable.ArrayBuffer.empty[ClosedSession]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (cur == null) cur = SessionState(t, t, 1L, e.value)
              else if (t - cur.lastTs >= gapMs) {
                closed += ClosedSession(uid, new Timestamp(cur.start),
                  new Timestamp(cur.lastTs + gapMs), cur.n, cur.total)
                cur = SessionState(t, t, 1L, e.value)
              } else cur = SessionState(math.min(cur.start, t),
                math.max(cur.lastTs, t), cur.n + 1, cur.total + e.value)
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.lastTs + gapMs)
            }
            closed.iterator
          }
      }
  }
}
