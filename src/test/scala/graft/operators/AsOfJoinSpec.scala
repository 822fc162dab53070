package graft.operators

import java.sql.Timestamp
import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("left as-of: latest right row at-or-before, nulls before any right row") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 110.0),
      (2L, ts("2024-01-01 11:00:00"), 50.0)
    ).toDF("key", "ts", "price")
    val trades = Seq(
      (10L, 1L, ts("2024-01-01 09:00:00")), // before any quote -> null
      (11L, 1L, ts("2024-01-01 10:00:00")), // equal ts -> inclusive match 100
      (12L, 1L, ts("2024-01-01 11:59:00")), // -> 100
      (13L, 1L, ts("2024-01-01 13:00:00")), // -> 110
      (14L, 2L, ts("2024-01-01 12:00:00")), // -> 50
      (15L, 3L, ts("2024-01-01 12:00:00"))  // key with no quotes -> null
    ).toDF("trade_id", "key", "ts")
    val out = AsOfJoin.leftAsOf(trades, quotes, "key", "ts", Seq("price"))
      .orderBy("trade_id").collect()
    assert(out(0).isNullAt(3))
    assert(out(1).getDouble(3) == 100.0)
    assert(out(2).getDouble(3) == 100.0)
    assert(out(3).getDouble(3) == 110.0)
    assert(out(4).getDouble(3) == 50.0)
    assert(out(5).isNullAt(3))
  }

  test("forward as-of: earliest right row at-or-after, nulls after the last") {
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 110.0),
      (2L, ts("2024-01-01 11:00:00"), 50.0)
    ).toDF("key", "ts", "price")
    val trades = Seq(
      (10L, 1L, ts("2024-01-01 09:00:00")), // -> next quote 100
      (11L, 1L, ts("2024-01-01 10:00:00")), // equal ts -> inclusive match 100
      (12L, 1L, ts("2024-01-01 11:59:00")), // -> 110
      (13L, 1L, ts("2024-01-01 13:00:00")), // after last quote -> null
      (14L, 2L, ts("2024-01-01 10:00:00")), // -> 50
      (15L, 3L, ts("2024-01-01 12:00:00"))  // key with no quotes -> null
    ).toDF("trade_id", "key", "ts")
    val out = AsOfJoin.leftAsOfForward(trades, quotes, "key", "ts", Seq("price"))
      .orderBy("trade_id").collect()
    assert(out(0).getDouble(3) == 100.0)
    assert(out(1).getDouble(3) == 100.0)
    assert(out(2).getDouble(3) == 110.0)
    assert(out(3).isNullAt(3))
    assert(out(4).getDouble(3) == 50.0)
    assert(out(5).isNullAt(3))
  }
}
