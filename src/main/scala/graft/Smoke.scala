package graft


/** Smoke-check main: runs SparkEntry.entry (the flagship pipeline on
  * sf0.001) and prints row count + a sample — mirrors the driver's t1. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.select("event_id", "user_id", "value", "cum_sum", "cum_mean",
        "time_diff", "risk_score", "risk_level")
      .show(10, truncate = false)
    df.explain("formatted")
    spark.stop()
  }
}
