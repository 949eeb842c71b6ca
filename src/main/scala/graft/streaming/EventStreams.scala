package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines over the events schema
  * (SURVEY.md §2.3 #28).
  *
  * The same transform serves batch and stream (`q_events_window` is the
  * batch twin the driver oracle-checks); the streaming form adds a
  * watermark so state for closed windows is dropped — the knob that
  * keeps a 100 TB/day stream bounded.
  */
object EventStreams {

  /** Hourly tumbling-window counts + value sums per event type.
    * Works on a batch OR streaming frame with (ts: long nanos,
    * event_type, value).
    */
  def windowedAgg(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val ts = timestamp_micros(expr("ts div 1000"))
    val based = events.withColumn("ts_sec", ts)
    val marked = watermark.fold(based)(w => based.withWatermark("ts_sec", w))
    marked
      .groupBy(window(col("ts_sec"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("w.start").cast("long").as("wstart"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** Batch sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Window functions, one shuffle by user — and the exact
    * twin of [[sessionizeStream]]'s stateful output.
    * Output: (user_id, sess_id, n_events, start_sec, sum_value).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapNanos = gapMinutes.toLong * 60L * 1000000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev").isNull || col("ts") - col("prev") > gapNanos, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min(expr("ts div 1000000000")).as("start_sec"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
  }

  case class Ev(user_id: Long, ts: Long, value: Double)
  case class EvT(user_id: Long, ts: Long, value: Double, ets: java.sql.Timestamp)
  case class SessionOut(user_id: Long, start_sec: Long, n_events: Long, sum_value: Double)
  case class SessState(start: Long, last: Long, n: Long, sum: Double)

  /** Streaming sessionization via flatMapGroupsWithState with event-time
    * timeout: sessions are emitted when the watermark passes last event
    * + gap. Custom state keeps one open session per user — bounded
    * regardless of stream length.
    */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapNanos = gapMinutes.toLong * 60L * 1000000000L
    val gapMs = gapMinutes.toLong * 60L * 1000L

    val withTime = events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", s"$gapMinutes minutes")
      .as[EvT]

    withTime
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start / 1000000000L, s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts)
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts - s.last <= gapNanos =>
                  cur = Some(SessState(s.start, e.ts, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += SessionOut(user, s.start / 1000000000L, s.n, s.sum)
                  cur = Some(SessState(e.ts, e.ts, 1L, e.value))
                case None =>
                  cur = Some(SessState(e.ts, e.ts, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000000L + gapMs)
            }
            out.iterator
          }
      }
  }

  /** Streaming exact deduplication: drop events whose (user_id, ts,
    * event_type) was already seen, keeping dedup state only inside the
    * watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    * twin of an exact-dedup batch pass, with state bounded by event-time
    * instead of growing with the stream. Works on batch frames too
    * (plain dropDuplicates semantics there).
    */
  def dedupStream(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val ts = timestamp_micros(expr("ts div 1000"))
    val based = events.withColumn("ts_sec", ts)
    watermark match {
      case Some(w) => based.withWatermark("ts_sec", w)
        .dropDuplicatesWithinWatermark("user_id", "ts", "event_type")
      case None => based.dropDuplicates("user_id", "ts", "event_type")
    }
  }

  /** Stream-stream interval join: each left event paired with the same
    * user's right events at most `maxDelayMinutes` earlier (right.ts ∈
    * [left.ts − delay, left.ts]) — the click-to-impression enrichment
    * shape. Both sides are watermarked, so the join state store
    * retains only the delay+watermark horizon per side; without the
    * time bound a stream-stream join would buffer both streams
    * forever. Works identically on batch frames (same join, watermarks
    * ignored). Output: (user_id, l_ts, l_value, r_ts, r_value).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         maxDelayMinutes: Int,
                         watermark: Option[String] = None): DataFrame = {
    def secs(df: DataFrame, p: String) = {
      // integral ns→µs division into timestamp_micros: `ts /
      // 1000000000.0` is DOUBLE division with ~256 ns ulp at
      // current-epoch nanoseconds (1.7e18 > 2^53), which can flip the
      // inclusive `r <= l` boundary for events nanoseconds apart —
      // the same int64-above-2^53 failure RangeJoin guards against
      val based = df.select(col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"), col("value").as(s"${p}_value"))
        .withColumn(s"${p}_sec", timestamp_micros(expr(s"${p}_ts div 1000")))
      watermark.fold(based)(w => based.withWatermark(s"${p}_sec", w))
    }
    val l = secs(left, "l")
    val r = secs(right, "r")
    l.join(r,
        col("l_user") === col("r_user") &&
          col("r_sec") >= col("l_sec") - expr(s"INTERVAL $maxDelayMinutes MINUTES") &&
          col("r_sec") <= col("l_sec"))
      .select(col("l_user").as("user_id"), col("l_ts"), col("l_value"),
        col("r_ts"), col("r_value"))
  }

  /** Sessionization-style running state per user: last event type and
    * a running value total, via streaming-compatible aggregation.
    */
  def perUserTotals(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val ts = timestamp_micros(expr("ts div 1000"))
    val based = events.withColumn("ts_sec", ts)
    val marked = watermark.fold(based)(w => based.withWatermark("ts_sec", w))
    marked
      .groupBy(window(col("ts_sec"), "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").cast("long").as("wstart"), col("user_id"),
        col("n_events"), col("total_value"))
  }
}
