package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** `features`: the fraud-feature and evaluation slice of
  * `SparkEntry.queries`, each query run through the `noop` sink, in whole
  * passes over the slice. One pass is the unit of work. */
object Features {

  /** The slice by family; a family's trace figure sums its queries' medians. */
  val families: Seq[(String, Seq[String])] = Seq(
    "target_enc" -> Seq("q13_target_encoding"),
    "windows" -> Seq("q20_cum_features", "q21_lag_features", "q22_pct_rank_pandas",
      "q23_trailing_24h", "q24_sessionize", "q25_sliding_window", "q26_time_split"),
    "scalar" -> Seq("q30_time_features", "q31_amount_features", "q32_risk_score"),
    "eval" -> Seq("q40_confusion", "q41_roc_auc", "q42_pr_curve", "q43_best_f1",
      "q44_threshold_grid", "q45_avg_precision", "q46_min_cost", "q47_recall_floor"),
    "full_features" -> Seq("q90_full_features"))

  val slice: Seq[String] = families.flatMap(_._2)

  /** A plain scan of every table the slice reads. */
  def scanSources(spark: SparkSession, dir: String): Unit = {
    Tables.events(spark, dir).write.format("noop").mode("overwrite").save()
    Tables.orders(spark, dir).write.format("noop").mode("overwrite").save()
  }

  def run(a: Main.Args): Main.Result = {
    val queries = SparkEntry.queries
    val missing = slice.filterNot(queries.contains)
    require(missing.isEmpty, s"slice queries not in SparkEntry.queries: $missing")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/slice.json"),
      slice.map(q => "\"" + q + "\"").mkString("[", ", ", "]"))

    // set-up is everything before the first timed pass: the cold session
    // start, the warm-up, and the start of the session the passes run in.
    // The warm-up is graft.Verify over the slice, which reuses the active
    // session, writes every query's result (run.py hash-compares each with
    // its DuckDB oracle), fills the JIT and codegen caches and stops the
    // session. A JVM is cold once, so set-up is measured once per run.
    val s0 = System.nanoTime()
    Main.session(a)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val v0 = System.nanoTime()
    graft.Verify.main(Array(a.data, s"${a.work}/verify") ++ slice)
    val verifyS = (System.nanoTime() - v0) / 1e9
    val spark = Main.session(a)
    val setupS = (System.nanoTime() - s0) / 1e9
    var attempted, failed = 0L
    val errors = ArrayBuffer[String]()
    def pass(timers: Trace.Timers): (Double, Double) = {
      val w0 = System.nanoTime()
      val c0 = Trace.processCpuNs
      slice.foreach { q =>
        attempted += 1
        val t0 = System.nanoTime()
        try queries(q)(spark, a.data).write.format("noop").mode("overwrite").save()
        catch {
          case e: Exception =>
            failed += 1
            errors += s"$q: ${e.getMessage}"
        }
        timers.add(q, System.nanoTime() - t0)
      }
      ((System.nanoTime() - w0) / 1e9, (Trace.processCpuNs - c0) / 1e9)
    }

    val counters = if (a.trace) Some(Trace.attach(spark.sparkContext)) else None
    val timed = new Trace.Timers
    val before = counters.map(Trace.snap(spark.sparkContext, _))
    val passes = ArrayBuffer[(Double, Double)]()
    val (jit0, gc0) = (Trace.jitMs, Trace.gcMs)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do passes += pass(timed) while (System.nanoTime() < deadline)
    val (jitS, gcS) = ((Trace.jitMs - jit0) / 1e3, (Trace.gcMs - gc0) / 1e3)
    val after = counters.map(Trace.snap(spark.sparkContext, _))
    val rss = Trace.peakRssMb
    val heapMb = Trace.liveHeapMb

    val queryMedianS = slice.map(q => q -> timed.medianS(q))
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(passes.map(_._1).toSeq),
      "cpu_s" -> Stats.median(passes.map(_._2).toSeq),
      "live_heap_mb" -> heapMb,
      "p50_ms" -> Stats.median(queryMedianS.map(_._2)) * 1e3)

    val layers = (before, after) match {
      case (Some(b), Some(e)) =>
        val scans = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); scanSources(spark, a.data); (System.nanoTime() - t0) / 1e9
        }
        Trace.layerMetrics(b, e, passes.size) ++ Trace.jvmTotals ++
          Seq("sources.scan_s" -> Stats.median(scans)) ++
          families.map { case (f, qs) => s"queries.${f}_s" -> qs.map(timed.medianS).sum }
      case _ => Nil
    }
    val detail = Seq("passes" -> passes.size.toDouble, "session_start_s" -> sessionS,
        "verify_pass_s" -> verifyS, "jit_s_in_passes" -> jitS, "gc_s_in_passes" -> gcS,
        "peak_rss_mb" -> rss) ++
      queryMedianS.map { case (q, s) => s"$q.median_s" -> s } ++
      passes.zipWithIndex.map { case (p, i) => s"pass_${i + 1}_s" -> p._1 }
    Main.Result(attempted, failed, failed == 0, e2e, layers, detail, errors.toSeq)
  }
}
