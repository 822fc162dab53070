package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only skew-evidence probe (round-7 verdict item 7): plant ONE hot
  * user owning ~35% of a 6M-row events replica, then time the skewed
  * join three ways — plain sort-merge (AQE skew handling off), AQE
  * skew-join, and Salting.saltedJoin — plus the salted vs plain
  * AGGREGATION pair, to measure (not just assert) what each mitigation
  * buys. Broadcast is disabled throughout: the probe models the
  * broadcast-infeasible dim that motivates salting; with a small dim
  * you would broadcast and skew would be moot.
  *
  * Usage: runMain graft.tools.SkewProbe [sf1EventsDir]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft_sf1/events.parquet")
    val spark = graft.Session.local(conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))

    // plant the hot key: 5x-replicated events (5M rows) with HALF of all
    // rows reassigned to user 1, deterministically by event hash; props
    // rides along as the incompressible payload so the hot partition's
    // shuffle bytes are real (a constant pad lz4-compresses below the
    // skew thresholds)
    val skewPath = "/tmp/graft_skew/events_skew.parquet"
    val fs = new org.apache.hadoop.fs.Path(skewPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(skewPath, "_SUCCESS"))) {
      spark.read.parquet(src)
        .withColumn("__r", explode(sequence(lit(0), lit(4))))
        .withColumn("event_id",
          col("event_id") + col("__r") * 100000000000000L)
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(100)) < 50, lit(1L))
            .otherwise(col("user_id")))
        .select(col("user_id"), col("event_id"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(skewPath)
    }
    val big = spark.read.parquet(skewPath)
    val dim = spark.read.parquet(src).select(col("user_id")).distinct()
      .withColumn("tag", md5(col("user_id").cast("string")))
    dim.cache(); println(s"[skew] dim users=${dim.count()}, big rows=${big.count()}")

    def time(tag: String, k: Int = 3)(f: => Long): Unit = {
      val ts = (1 to k).map { _ =>
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[skew] $tag: min ${ts.map(_._1).min}%.2f s, " +
        f"med ${ts.map(_._1).sorted.apply(k / 2)}%.2f s (rows=${ts.head._2})")
    }
    def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
      val saved = kvs.map { case (key, _) => key -> spark.conf.getOption(key) }
      kvs.foreach { case (key, v) => spark.conf.set(key, v) }
      try body finally saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None)    => spark.conf.unset(key)
      }
    }
    // the drain does real CPU per JOINED row (md5 over payload+tag) in
    // the same stage that holds the join output — so a hot partition
    // serializes that work onto one core and wall-clock shows it
    def drain(df: DataFrame): Long =
      df.agg(count(lit(1)),
        sum(length(md5(concat(col("props"), col("tag"))))))
        .head().getLong(0)

    // -- skewed JOIN: plain SMJ vs AQE skew-join vs salted ----------------
    withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time("join plain SMJ (skew handling OFF)") {
        drain(big.join(dim, Seq("user_id")))
      }
    }
    withConf("spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      time("join AQE skew-join") {
        drain(big.join(dim, Seq("user_id")))
      }
    }
    withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time("join salted (nSalts=16)") {
        drain(graft.operators.Salting.saltedJoin(big, dim, "user_id", "event_id"))
      }
    }

    // -- skewed AGG: plain vs salted --------------------------------------
    // expectation to verify, not assume: partial aggregation already
    // flattens algebraic-agg skew (hot key -> one row per map task
    // before the shuffle), so salting should buy ~nothing here
    time("agg plain groupBy") {
      big.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("total"),
          min("value").as("min_value"), max("value").as("max_value"))
        .agg(count(lit(1)), sum("total")).head().getLong(0)
    }
    time("agg salted (nSalts=16)") {
      graft.operators.Salting.saltedAgg(big, "user_id", "event_id", "value")
        .agg(count(lit(1)), sum("total")).head().getLong(0)
    }
    spark.stop()
  }
}
