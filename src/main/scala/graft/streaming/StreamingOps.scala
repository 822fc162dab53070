package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Structured Streaming surface (SURVEY.md §2.10).
  *
  * The reference's "real-time" is request/response plus global counters
  * (`api/main.py:30-32,344-346`); the idiomatic Spark form is a streaming
  * query: running aggregates in update mode (H6), event-time windows with
  * watermarks (beyond-reference, flagged in SURVEY §2.10), and custom
  * per-key state via mapGroupsWithState. All transforms below work on
  * both batch and streaming DataFrames — same Column expressions, which
  * is the point: score logic written once (serve/RiskScore) runs in
  * either mode.
  */
object StreamingOps {

  /** H6: running prediction-count / fraud-rate / latency stats.
    * On a stream: outputMode("update"), one global row. */
  def runningStats(scored: DataFrame, scoreCol: String = "risk_score",
                   latencyCol: String = "latency_ms"): DataFrame =
    scored.agg(
      count(lit(1)).as("prediction_count"),
      avg(col(latencyCol)).as("avg_latency_ms"),
      sum((col(scoreCol) >= 0.6).cast("long")).as("fraud_count"),
      avg(col(scoreCol)).as("avg_score"))

  /** H6 in hash-gateable form: the score average derives from an exact
    * long sum (`Util.exactSum` — associative at any batch/merge order,
    * zero association error), so a streaming final row equals the
    * batch fold bit-for-bit; `runningStats`' plain avg() would drift
    * from a batch twin by merge-order ulps. `score_sum` is the
    * long-sum total scaled back to a double; callers derive
    * avg = score_sum / prediction_count. */
  def runningStatsExact(scored: DataFrame, scoreCol: String = "risk_score",
                        digits: Int = 6): DataFrame =
    scored.agg(
      count(lit(1)).as("prediction_count"),
      sum((col(scoreCol) >= 0.6).cast("long")).as("fraud_count"),
      graft.queries.Util.exactSum(col(scoreCol), digits).as("score_sum"))

  /** H6 alternative (SURVEY §2.10): piggyback the running stats on the
    * scoring query itself via Dataset.observe — the metrics ride the
    * existing action (no second pass over the data) and surface through
    * QueryExecutionListener / StreamingQueryListener. Returns the
    * observed frame; read the metrics from the listener event or, in
    * batch, from `df.queryExecution.observedMetrics` after an action. */
  def observedScoring(scored: DataFrame, name: String = "score_stats",
                      scoreCol: String = "risk_score"): DataFrame =
    scored.observe(name,
      count(lit(1)).as("prediction_count"),
      sum((col(scoreCol) >= 0.6).cast("long")).as("fraud_count"),
      avg(col(scoreCol)).as("avg_score"))

  /** Event-time tumbling-window counts with a watermark for late data. */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
                     watermarkDelay: String = "10 minutes",
                     windowLen: String = "5 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Event-time SESSION windows (dynamic gap-based windows — the
    * streaming analog of the batch sessionize operator): sessions close
    * after `gap` of per-key inactivity, finalized past the watermark. */
  def sessionCounts(events: DataFrame, tsCol: String = "ts",
                    keyCol: String = "user_id",
                    watermarkDelay: String = "10 minutes",
                    gap: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"), col("total_value"))

  /** Streaming DEDUP — the streaming half of the batch dedup family
    * (TextOps/Dedup): drop events whose key (e.g. a content hash from
    * `TextOps`/`Dedup.fingerprint`, or an event id for exactly-once
    * semantics over an at-least-once source) was already seen within
    * the watermark horizon. `dropDuplicatesWithinWatermark` keeps a key
    * in state only until the watermark passes it — BOUNDED state, unlike
    * plain dropDuplicates on a stream, which grows forever. Duplicates
    * arriving inside the delay are removed exactly; later ones are the
    * documented trade for bounded state at 100 TB/day ingest. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  // -- custom keyed state: running per-user profile ------------------------

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class UserProfile(user_id: Long, n: Long, total: Double, maxValue: Double)

  /** mapGroupsWithState updater: the streaming analog of the batch
    * expanding-window features (W1-W5) — per-user running count/sum/max
    * maintained incrementally across micro-batches. */
  def updateProfile(userId: Long, events: Iterator[Event],
                    state: GroupState[UserProfile]): UserProfile = {
    val prev = state.getOption.getOrElse(UserProfile(userId, 0L, 0.0, Double.MinValue))
    val next = events.foldLeft(prev) { (p, e) =>
      UserProfile(userId, p.n + 1, p.total + e.value, math.max(p.maxValue, e.value))
    }
    state.update(next)
    next
  }
}
