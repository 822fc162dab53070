package graft.functions

import java.sql.Timestamp
import graft.SparkSpec

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("pandasDayOfWeek: Mon=0..Sun=6 (2024-01-01 is a Monday)") {
    val df = Seq(
      Timestamp.valueOf("2024-01-01 12:00:00"), // Mon
      Timestamp.valueOf("2024-01-06 12:00:00"), // Sat
      Timestamp.valueOf("2024-01-07 12:00:00")  // Sun
    ).toDF("ts")
    val out = df.select(TimeFeatures.pandasDayOfWeek($"ts")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(0, 5, 6))
  }

  test("time flags: weekend/night/business") {
    val df = Seq(
      Timestamp.valueOf("2024-01-06 23:00:00"), // Sat night
      Timestamp.valueOf("2024-01-03 10:00:00")  // Wed business hours
    ).toDF("ts")
    val out = df.select(TimeFeatures.isWeekend($"ts"), TimeFeatures.isNight($"ts"),
      TimeFeatures.isBusinessHours($"ts")).collect()
    assert(out(0).getInt(0) == 1 && out(0).getInt(1) == 1 && out(0).getInt(2) == 0)
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0 && out(1).getInt(2) == 1)
  }

  test("cutRightClosed matches pd.cut right-closed edges; null passthrough") {
    val df = Seq[Option[Double]](Some(50.0), Some(50.01), Some(5000.0),
      Some(5000.01), Some(0.0), None).toDF("v")
    val out = df.select(AmountFeatures.cutRightClosed($"v",
      Seq(50, 100, 200, 500, 1000, 5000)).as("bin")).collect()
    assert(out(0).getInt(0) == 0)   // 50.0 -> (-inf,50]
    assert(out(1).getInt(0) == 1)   // 50.01 -> (50,100]
    assert(out(2).getInt(0) == 5)   // 5000 -> (1000,5000]
    assert(out(3).getInt(0) == 6)   // 5000.01 -> (5000,inf)
    assert(out(4).getInt(0) == 0)
    assert(out(5).isNullAt(0))
  }

  test("round-number flags: numpy float-modulo parity") {
    val df = Seq(10.0, 10.5, 100.0, 3.0).toDF("v")
    val out = df.select(AmountFeatures.hasDecimal($"v"),
      AmountFeatures.isRound($"v", 10.0), AmountFeatures.isRound($"v", 100.0)).collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((0, 1, 0), (1, 0, 0), (0, 1, 1), (0, 0, 0)))
  }

  test("sigmoid midpoint and monotonicity") {
    val df = Seq(500.0, 0.0, 10000.0).toDF("v")
    val out = df.select(AmountFeatures.sigmoid($"v", 0.003, 500.0)).collect().map(_.getDouble(0))
    assert(math.abs(out(0) - 0.5) < 1e-12)
    assert(out(1) < 0.5 && out(2) > 0.99)
  }

  test("F13 formatting: currency grouping, K/M human form, fixed decimals") {
    val df = Seq(1234567.891, 999.4, 2000.0, 0.125).toDF("x")
    val out = df.select(
      Formatting.currency($"x"),
      Formatting.human($"x"),
      Formatting.fixed($"x", 4)).collect()
    assert(out(0).getString(0) == "$1,234,567.89")
    assert(out(0).getString(1) == "1.23M")
    assert(out(1).getString(1) == "999.40")
    assert(out(2).getString(1) == "2.00K")
    assert(out(3).getString(2) == "0.1250")
  }
}
