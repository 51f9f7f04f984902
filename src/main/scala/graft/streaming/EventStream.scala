package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Streaming operators over the events table: tumbling-window
  * aggregation, stream-static enrichment, a stream-stream interval join,
  * and sessionization both as a batch gaps-and-islands computation and
  * as stateful `flatMapGroupsWithState` streams (SURVEY.md §2.9 — the
  * reference is micro-batch incremental; these are the Spark-native
  * streaming forms of its ST1/ST3 machinery).
  *
  * One-shot drains (st0, st5, st6, st7, st8) drain the static events
  * table once. An AvailableNow drain of an uncapped file source over a
  * fresh checkpoint reads the whole table in ONE micro-batch, so it is a
  * batch read, and each drain query runs as a batch plan. st0, st5 and
  * st8 share one body with their stream form: the body runs unchanged on
  * a streaming DataFrame, and the streaming spec drains it as a real
  * Structured Streaming query (file source, AvailableNow, memory sink)
  * and proves the batch plan row- and schema-equal to that execution.
  * st6 and st7 are window-function batch plans; their stream forms are
  * the separate `flatMapGroupsWithState` operators
  * [[sessionizeStreaming]] and [[sessionizeStreamingEventTime]], which
  * the spec drains and proves equal to them on generated event sets.
  *
  * Scale: the windowed aggregate is keyed on (window, event_type) — state
  * size is windows × types, independent of input volume; the watermark
  * bounds state retention. Sessionization state is one small record per
  * active user key, timed out by the processing-time/watermark policy.
  */
object EventStream {

  /** Tumbling 1-hour windows per event type: (window_ms, event_type, n,
    * total). As a stream the same body runs watermarked in Complete mode.
    */
  def windowAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(unix_millis(col("w.start")).as("window_ms"), col("event_type"),
        col("n"), col("total"))

  /** st0: the window aggregation drained once as a Complete-mode stream.
    * Complete mode emits the full state every batch and the watermark
    * never gates its output, so the one batch's result is
    * [[windowAggBatch]] of the table; count and the DECIMAL(18,2) sum are
    * order-exact, so the batch plan is bit-identical.
    */
  def windowAggStreaming(spark: SparkSession, dir: String): DataFrame =
    windowAggBatch(graft.Tables.events(spark, dir))

  /** STREAM-STATIC enrichment body: events joined to the customer→nation
    * dimension (a static broadcastable table) and aggregated per nation —
    * the standard continuous-enrichment shape (fact stream × dimension
    * snapshot). The join is STATELESS: each micro-batch hash-joins
    * against the broadcast dimension, so the only streaming state is the
    * constant #nations aggregate, and the broadcast keeps enrichment off
    * the shuffle entirely.
    */
  private[streaming] def enrichAggOf(spark: SparkSession, dir: String,
      events: DataFrame): DataFrame = {
    val dim = broadcast(
      graft.Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        .join(graft.Tables.nation(spark, dir),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("user_id"), col("n_name")))
    events.join(dim, Seq("user_id"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
  }

  /** st8: [[enrichAggOf]] drained once. The join is stateless and the
    * Complete-mode aggregate of the one batch is the batch aggregate
    * (count and the decimal sum are order-exact).
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame =
    enrichAggOf(spark, dir, graft.Tables.events(spark, dir))

  /** Click/error projections and the interval condition of the
    * stream-stream join — one definition for the batch plan and the
    * watermarked stream.
    */
  private[streaming] def clicksOf(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
  private[streaming] def errorsOf(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("ets"))
  private[streaming] def intervalJoinCond: Column =
    col("user_id") === col("err_user") &&
      col("ets") >= col("cts") - expr("INTERVAL 2 HOURS") &&
      col("ets") <= col("cts")
  private[streaming] def intervalJoinProject(joined: DataFrame): DataFrame =
    joined.select(col("click_id"), col("err_id"),
      unix_millis(col("cts")).as("click_ms"),
      unix_millis(col("ets")).as("err_ms"))

  /** st5: clicks joined to the same user's errors from the preceding
    * 2 hours. As a stream both sides are watermarked so Spark buffers each
    * side only for (watermark + interval) — the streaming twin of
    * [[graft.ops.TemporalJoins]]. Drained once, an INNER join forms every
    * match inside the one batch (the watermark only evicts state
    * afterwards), so the drain equals this batch join exactly.
    */
  def intervalJoinStreaming(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    intervalJoinProject(clicksOf(ev).join(errorsOf(ev), intervalJoinCond))
  }

  /** Batch sessionization: gaps-and-islands with a session break when the
    * per-user gap exceeds `gapMinutes`. One shuffle on user_id; the two
    * windows share the same partitioning.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("__prev")) > gapSec * 1000, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"))
  }

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionState(start: Long, last: Long, n: Long, seq: Long)
  case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
      start_ms: Long, end_ms: Long)

  /** st6: [[sessionizeStreaming]] drained once over the events table —
    * every session except each user's LAST. Exactness: the one batch
    * gives each user's handler all their events, sorted by (ts,
    * event_id) — the same total order as [[sessionizeBatch]]'s window —
    * and it emits every gap-closed session while the final one stays in
    * state (NoTimeout: the trailing no-data batch fires no timeouts and
    * emits nothing). Column order/types match the stream's [[SessionOut]]
    * encoding (user_id/event_id are int64 in the source; a narrower
    * source would be upcast by `.as[Ev]`, so this plan upcasts
    * identically).
    */
  def sessionizeStreamingFromDir(spark: SparkSession, dir: String,
      gapMinutes: Int): DataFrame = {
    val events = graft.Tables.events(spark, dir)
    val byUser = Window.partitionBy(col("user_id"))
    sessionizeBatch(events.select(col("user_id").cast("long").as("user_id"),
        col("ts"), col("event_id").cast("long").as("event_id")), gapMinutes)
      .withColumn("__mx", max(col("session_seq")).over(byUser))
      .filter(col("session_seq") < col("__mx"))
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("start_ms"), col("end_ms"))
  }

  /** One open session interval per user: [start, end] with its event
    * count. Intervals in a state list are disjoint and separated by more
    * than the gap.
    */
  case class Interval(start: Long, end: Long, n: Long)
  case class IntervalState(intervals: List[Interval])
  case class SessionWin(user_id: Long, n_events: Long, start_ms: Long, end_ms: Long)

  /** Event-time-timeout sessionization — the CONTINUOUS-stream form of
    * [[sessionizeStreaming]]: a session closes when the watermark passes
    * `end + gap`, so an idle user's final session is emitted without
    * waiting for their next event (the NoTimeout variant's gap).
    *
    * Folds INCREMENTALLY: each event merges into a per-user set of open
    * session intervals one at a time — no `toSeq.sortBy` buffer of the
    * micro-batch, so a bot user with 10⁸ events in one batch costs
    * O(#open intervals) memory, not O(events). Out-of-order events
    * within the watermark are handled exactly: an event either extends
    * an adjacent interval, bridges two intervals into one (sessions that
    * looked separate merge when the gap between them is filled), or
    * opens a new interval. This is the session-window merge algorithm
    * Spark's native `session_window` aggregation applies internally,
    * here with exact event counts carried through merges.
    *
    * State is bounded and self-cleaning: a user's state holds only OPEN
    * intervals (closed ones are emitted and dropped), and the state is
    * REMOVED once no interval remains — idle users cost nothing, unlike
    * a per-user counter design. Output therefore carries no session_seq;
    * sessions are identified by (user_id, start_ms), which the batch
    * twin reproduces.
    *
    * Drained with watermark delay 0 against a static table, the emitted
    * set is exactly the batch sessions with `end + gap <= max event ts`
    * — the final (still-open) session of each user whose last activity
    * is within the gap of the stream's end stays in state.
    */
  def sessionizeStreamingEventTime(events: Dataset[Ev], gapMinutes: Int,
      delay: String = "0 seconds"): Dataset[SessionWin] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000
    // merge one event into the disjoint interval list (kept sorted by
    // start): at most the two adjacent intervals can be within the gap
    def mergeEvent(ivs: List[Interval], t: Long): List[Interval] = {
      val (near, far) = ivs.partition(iv => t >= iv.start - gapMs && t <= iv.end + gapMs)
      val merged =
        if (near.isEmpty) Interval(t, t, 1L)
        else Interval(math.min(near.map(_.start).min, t),
          math.max(near.map(_.end).max, t), near.map(_.n).sum + 1L)
      (merged :: far).sortBy(_.start)
    }
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IntervalState, SessionWin](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[IntervalState]) =>
          val wm = state.getCurrentWatermarkMs()
          var ivs = state.getOption.map(_.intervals).getOrElse(Nil)
          if (!state.hasTimedOut)
            for (e <- evs) ivs = mergeEvent(ivs, e.ts.getTime)
          // intervals are disjoint with > gap between them, so the
          // closable prefix (by start) is exactly those with end+gap <= wm
          val (closed, open) = ivs.partition(_.end + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(IntervalState(open))
            // arm for the earliest possible close; the -1/+1 bracket keeps
            // the fire point correct whether the engine's comparison
            // against the watermark is strict or not, and satisfies the
            // "timeout must be set beyond the watermark" requirement
            state.setTimeoutTimestamp(
              math.max(open.map(_.end).min + gapMs - 1, wm + 1))
          }
          closed.sortBy(_.start)
            .map(iv => SessionWin(user, iv.n, iv.start, iv.end)).iterator
      }
  }

  /** st7: [[sessionizeStreamingEventTime]] drained once over the events
    * table — the sessions with `end + gap <= max event time`. Exactness:
    * the data batch folds every event with the watermark still at its
    * initial value (nothing closes); the engine then runs a final batch
    * with watermark `max(ts) − 0` (delay 0, ms-floored — `unix_millis`
    * floors the same way the engine's event-time stats do), where
    * event-time timeouts fire for every group whose earliest open
    * interval is closable and each handler emits exactly its intervals
    * with `end + gap <= wm`. The interval-merge fold is order-independent
    * (1-D union under within-gap adjacency), so the folded intervals ARE
    * the batch gaps-and-islands sessions. Column order/types match the
    * stream's [[SessionWin]] encoding.
    */
  def sessionizeStreamingEventTimeFromDir(spark: SparkSession, dir: String,
      gapMinutes: Int): DataFrame = {
    val gapMs = gapMinutes * 60L * 1000
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts"), col("event_id").cast("long").as("event_id"))
    val wm = ev.agg(max(unix_millis(col("ts"))).as("__wm"))
    sessionizeBatch(ev, gapMinutes)
      .crossJoin(broadcast(wm)) // 1-row broadcast, never a real cartesian
      .filter(col("end_ms") + lit(gapMs) <= col("__wm"))
      .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
  }

  /** Streaming exact dedupe for continuous ingest: duplicate records
    * (same content key) are dropped with BOUNDED state —
    * `dropDuplicatesWithinWatermark` retains a key only for the watermark
    * delay, so state size is ingest-rate × delay, never corpus size. The
    * batch twin is a plain `dropDuplicates`; at 100 TB/day this is the
    * only dedupe shape whose state survives unbounded streams.
    */
  def dedupeStreaming(events: Dataset[Ev], delay: String = "1 hour"): Dataset[Ev] =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateful streaming sessionization with per-user session ORDINALS
    * (session_seq): one state record per user; closed sessions are
    * emitted when the gap is exceeded within the stream or on state
    * timeout. The batch twin above is the oracle for its semantics.
    *
    * Per-key memory bound — read before using on a continuous stream:
    * the ordinal semantics require a total event order per user, so each
    * invocation SORTS the user's micro-batch (`evs.toSeq.sortBy`) —
    * memory is O(user's events in ONE micro-batch). That is fine for a
    * one-shot AvailableNow drain (st6's proof in the streaming spec) and for
    * micro-batches bounded by trigger interval × per-user rate, but a
    * bot-grade key in a huge batch pays O(batch) memory. For continuous
    * deployments prefer [[sessionizeStreamingEventTime]] (st7): it folds
    * incrementally in O(#open intervals) and closes idle sessions at the
    * watermark, at the cost of not carrying an ordinal.
    */
  def sessionizeStreaming(events: Dataset[Ev], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(-1, -1, 0, 0))
          val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
          for (e <- sorted) {
            val t = e.ts.getTime
            if (st.n == 0) st = SessionState(t, t, 1, st.seq + 1)
            else if (t - st.last > gapMs) {
              out += SessionOut(user, st.seq, st.n, st.start, st.last)
              st = SessionState(t, t, 1, st.seq + 1)
            } else st = st.copy(last = t, n = st.n + 1)
          }
          state.update(st)
          out.iterator
      }
  }
}
