package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort and funnel analytics over event streams — the two queries
  * every product-events lake answers daily, expressed as plain
  * aggregation plans (no per-user driver state, no UDFs):
  *
  *  - cohortRetention: one min-aggregate for each user's cohort day,
  *    one broadcast-joinable (user→cohort is user-count-sized) join
  *    back, one (cohort, offset) countDistinct — two exchanges total;
  *  - funnel: a chain of min-aggregates, each stage a semi-join-shaped
  *    filter against the previous stage's per-user timestamp. K stages
  *    = K tiny aggregates over progressively SHRINKING user sets; the
  *    event table is scanned once per stage with the stage predicate
  *    pushed down.
  */
object EventAnalytics {

  private val DayNanos = 86400L * 1000 * 1000 * 1000

  /** Retention matrix: users grouped by first-activity day (cohort),
    * counted distinct per (cohort_day, day_offset). Output:
    * (cohort_day — epoch day, day_offset, n_users).
    */
  def cohortRetention(events: DataFrame, user: String = "user_id",
                      tsNanos: String = "ts"): DataFrame = {
    val day = expr(s"$tsNanos DIV ${DayNanos}L")
    val firsts = events.groupBy(col(user))
      .agg(min(day).as("cohort_day"))
    events.select(col(user), day.as("__day"))
      .join(firsts, user)
      .groupBy(col("cohort_day"), (col("__day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col(user)).as("n_users"))
  }

  /** Ordered funnel with a max gap between consecutive stages: a user
    * converts to stage i+1 at their EARLIEST stage-i+1 event that is
    * strictly after their stage-i conversion and within `maxGapNanos`
    * of it (the standard first-touch funnel semantics — deterministic,
    * so the DuckDB oracle matches exactly). Output: one row per stage,
    * (stage — 1-based index, event_type, users).
    */
  def funnel(events: DataFrame, stages: Seq[String], maxGapNanos: Long,
             user: String = "user_id", tsNanos: String = "ts",
             typeCol: String = "event_type"): DataFrame = {
    require(stages.size >= 2, s"funnel: need >= 2 stages, got $stages")
    require(maxGapNanos > 0, s"funnel: maxGapNanos $maxGapNanos")
    val spark = events.sparkSession
    import spark.implicits._
    // Each stage's conversion table is localCheckpointed: stage i+1's
    // plan starts from stage i's MATERIALIZED (user, t) rows, not its
    // lineage, so K stages cost K scans of `events` + K tiny
    // checkpoints — not the K(K+1)/2 chained re-executions the naive
    // per-stage count() lineage would run (each checkpoint is
    // user-count-sized, the progressively shrinking side of the join).
    var conv = events.where(col(typeCol) === stages.head)
      .groupBy(col(user)).agg(min(col(tsNanos)).as("__t"))
      .localCheckpoint()
    var out = Seq((1, stages.head, conv.count()))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      conv = events.where(col(typeCol) === st)
        .join(conv, user)
        .where(col(tsNanos) > col("__t") && col(tsNanos) <= col("__t") + maxGapNanos)
        .groupBy(col(user)).agg(min(col(tsNanos)).as("__t"))
        .localCheckpoint()
      out = out :+ ((i + 1, st, conv.count()))
    }
    out.toDF("stage", "event_type", "users")
  }
}
