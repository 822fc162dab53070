package graft.operators

import java.sql.Timestamp
import graft.SparkSpec
import graft.queries.Util.addCols

/** Golden tests for the window feature engine (SURVEY.md §2.5 W1-W12):
  * hand-computed expanding stats for a 2-user fixture, including the
  * parity traps (inclusive frames, stddev null at n=1, pandas pct-rank
  * tie semantics).
  */
class BehaviorWindowsSpec extends SparkSpec {
  import spark.implicits._

  private val C = BehaviorWindows.Cols()

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val events = Seq(
    // (event_id, ts, user_id, value)
    (1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
    (2L, ts("2024-01-01 11:00:00"), 1L, 20.0),
    (3L, ts("2024-01-01 12:00:00"), 1L, 30.0),
    (4L, ts("2024-01-02 09:00:00"), 2L, 5.0),
    (5L, ts("2024-01-02 09:00:00"), 2L, 5.0), // tie in ts AND value
    (6L, ts("2024-01-02 10:00:00"), 2L, 8.0)
  ).toDF("event_id", "ts", "user_id", "value")

  test("cumulative features: inclusive expanding frames, std null at n=1") {
    val out = addCols(events, BehaviorWindows.cumulativeFeatures(C))
      .orderBy("event_id")
      .select("event_id", "prior_count", "cum_sum", "cum_mean", "cum_std",
        "cum_max", "cum_min", "is_first")
      .collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 0, 1, 2))
    assert(out.map(_.getDouble(2)).toSeq == Seq(10.0, 30.0, 60.0, 5.0, 10.0, 18.0))
    assert(out.map(_.getDouble(3)).toSeq == Seq(10.0, 15.0, 20.0, 5.0, 5.0, 6.0))
    assert(out(0).isNullAt(4) && out(3).isNullAt(4)) // stddev_samp at n=1
    assert(math.abs(out(1).getDouble(4) - math.sqrt(50.0)) < 1e-12)
    assert(out.map(_.getDouble(5)).toSeq == Seq(10.0, 20.0, 30.0, 5.0, 5.0, 8.0))
    assert(out.map(_.getDouble(6)).toSeq == Seq(10.0, 10.0, 10.0, 5.0, 5.0, 5.0))
    assert(out.map(_.getInt(7)).toSeq == Seq(1, 0, 0, 1, 0, 0))
  }

  test("lag features: inter-arrival seconds, fillna(0) on first") {
    val out = addCols(events, BehaviorWindows.lagFeatures(C))
      .orderBy("event_id").select("event_id", "time_diff", "value_diff").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(0.0, 3600.0, 3600.0, 0.0, 0.0, 3600.0))
    assert(out.map(_.getDouble(2)).toSeq == Seq(0.0, 10.0, 10.0, 0.0, 0.0, 3.0))
  }

  test("pandas pct-rank: average-rank/n, ties averaged, ∈ (0,1]") {
    val out = events.select($"event_id",
      BehaviorWindows.pandasPctRank(C).as("pr")).orderBy("event_id").collect()
    // user 1: values 10,20,30 -> 1/3, 2/3, 3/3
    assert(math.abs(out(0).getDouble(1) - 1.0 / 3) < 1e-12)
    assert(math.abs(out(2).getDouble(1) - 1.0) < 1e-12)
    // user 2: values 5,5,8 -> pandas avg rank (1+2)/2=1.5 -> 0.5, 0.5, 1.0
    assert(math.abs(out(3).getDouble(1) - 0.5) < 1e-12)
    assert(math.abs(out(4).getDouble(1) - 0.5) < 1e-12)
    assert(math.abs(out(5).getDouble(1) - 1.0) < 1e-12)
  }

  test("sessionize: new session after gap > threshold") {
    val out = BehaviorWindows.withSessionId(events, C, gapSeconds = 1800L)
      .orderBy("event_id").select("session_id").collect().map(_.getLong(0))
    // user1: gaps 3600s -> sessions 1,2,3; user2: 0s then 3600s -> 1,1,2
    assert(out.toSeq == Seq(1L, 2L, 3L, 1L, 1L, 2L))
  }

  test("lookback families: literal mode reproduces the reference's triplication; range mode doesn't") {
    val literal = graft.queries.Util.addCols(events,
      BehaviorWindows.lookbackFamilies(C, Seq(1, 7), literalCumulative = true))
      .orderBy("event_id").collect()
    // reference quirk: the 1d and 7d families are identical copies
    literal.foreach { r =>
      assert(r.getAs[Double]("user_amt_sum_1d") == r.getAs[Double]("user_amt_sum_7d"))
    }
    val ranged = graft.queries.Util.addCols(events,
      BehaviorWindows.lookbackFamilies(C, Seq(1, 7), literalCumulative = false))
      .orderBy("event_id").collect()
    // honest mode: a 1-day window can hold fewer rows than a 7-day one
    assert(ranged.exists(r =>
      r.getAs[Long]("user_txn_count_1d") <= r.getAs[Long]("user_txn_count_7d")))
    // user1 spans 2h -> both windows see everything; user2 same day
    assert(ranged.forall(r =>
      r.getAs[Double]("user_amt_sum_1d") <= r.getAs[Double]("user_amt_sum_7d")))
  }

  test("trailing range window counts events in window, inclusive") {
    val out = addCols(events, BehaviorWindows.trailingFeatures(C, 3600L, "1h"))
      .orderBy("event_id").select("cnt_1h").collect().map(_.getLong(0))
    // user1: [1, 2(incl 10:00), 2(incl 11:00)]; user2: [2 ties, 2, 2]
    assert(out.toSeq == Seq(1L, 2L, 2L, 2L, 2L, 3L))
  }
}
