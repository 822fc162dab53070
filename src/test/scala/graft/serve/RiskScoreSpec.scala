package graft.serve

import graft.SparkSpec

/** Golden tests for the heuristic scorer — the four dashboard presets
  * from the reference (`streamlit_app.py:308-313`, USER_GUIDE): the
  * heuristic path is a pure function of inputs, so scores/buckets/
  * reasons are exactly reproducible.
  */
class RiskScoreSpec extends SparkSpec {
  import spark.implicits._

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-0.003 * (x - 500.0)))

  // (amount, hour, deviceMissing, unusualProduct)
  private val presets = Seq(
    ("normal", 29.99, 14, false, false),
    ("medium", 1200.0, 14, false, false),
    ("suspicious", 8500.0, 2, true, false),
    ("high_risk", 15000.0, 3, true, true)
  )

  test("heuristic scores match the reference's sequential capped bumps") {
    val df = presets.toDF("name", "amount", "hour", "dev_missing", "unusual")
    val out = df.select($"name", RiskScore.heuristicScore($"amount", $"hour",
      $"dev_missing", $"unusual").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("normal") - sigmoid(29.99)) < 1e-12)
    // elif branch caps at 0.85 (api/main.py:206-208): sigmoid(1200)+0.08 > 0.85
    assert(out("medium") == 0.85)
    // every later bump re-caps at 0.95 — the heuristic never exceeds 0.95
    assert(out("suspicious") == 0.95)
    assert(out("high_risk") == 0.95)
  }

  test("risk buckets and fraud flag at documented thresholds") {
    val df = Seq(0.1, 0.2, 0.45, 0.6, 0.95).toDF("s")
    val out = df.select(RiskScore.riskLevel($"s"), RiskScore.isFraud($"s")).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("MINIMAL", "LOW", "MEDIUM", "HIGH", "CRITICAL"))
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 0, 0, 1, 1))
  }

  test("blend = 0.4·model + 0.6·heuristic, clipped to [0,1]") {
    val df = Seq((0.5, 0.5), (1.0, 1.0), (0.0, 0.0)).toDF("m", "h")
    val out = df.select(RiskScore.blend($"m", $"h")).collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.5, 1.0, 0.0))
  }

  test("confidence = |score-0.5|*2") {
    val df = Seq(0.5, 1.0, 0.0, 0.75).toDF("s")
    val out = df.select(RiskScore.confidence($"s")).collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 1.0, 1.0, 0.5))
  }

  test("reasons string lists triggered rules in order") {
    val df = Seq((8500.0, 2, true, true)).toDF("amount", "hour", "dev", "unusual")
    val out = df.select(RiskScore.reasons($"amount", $"hour", $"dev", $"unusual"))
      .collect()(0).getString(0)
    assert(out == "very_high_amount,missing_device,unusual_product,unusual_hour")
  }
}
