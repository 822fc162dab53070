package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.functions.FreqSketchAgg

/** Dev-only evidence probe for the Misra–Gries census path (q101):
  * measures what the sketch actually buys over an exact census when the
  * vocabulary is LARGE — the regime the driver corpora can't exhibit
  * (their synthetic text holds ~31 distinct tokens, so q101's exact
  * census shuffles nothing worth counting).
  *
  * Stream: 50M tokens, ~20% of mass on 10 hot tokens, the rest spread
  * over a ~10M-distinct cold tail (deterministic xxhash64 mixing — the
  * Heaps'-law shape of a real token stream). Both paths answer the same
  * question ("which tokens exceed N/(k+1), k=64?"):
  *   - exact: groupBy(token).count + threshold filter — correct, but
  *     the shuffle carries the WHOLE vocabulary (state ∝ distinct
  *     tokens: the thing that grows without bound at 100 TB);
  *   - sketch: one FreqSketchAgg pass — state ≤ k counters per map
  *     task and k on the wire, vocabulary-independent.
  * Reported: wall time (k=3, median) + total shuffle bytes written per
  * job (task-metrics listener). Numbers land in BASELINE.md.
  *
  * Usage: runMain graft.tools.CensusProbe [nTokens]
  */
object CensusProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    val spark = graft.Session.local()
    import spark.implicits._

    val shuffleBytes = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleBytes.add(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    // ~20% of rows land on 10 hot tokens (≈1M rows each), the rest on a
    // ~10M-distinct cold tail (≈4 rows each); k=64 → threshold ≈ n/65,
    // so exactly the hot tokens are guaranteed-heavy
    val toks = spark.range(n).select(
      when(pmod(xxhash64(col("id"), lit(1)), lit(100)) < 20,
        concat(lit("hot_"), pmod(col("id"), lit(10))))
        .otherwise(concat(lit("cold_"),
          pmod(xxhash64(col("id"), lit(2)), lit(n / 5))))
        .as("token"))

    val k = 64
    def timed(tag: String, reps: Int = 3)(f: => String): Unit = {
      val runs = (1 to reps).map { _ =>
        shuffleBytes.reset()
        val t0 = System.nanoTime()
        val res = f
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let straggler task-end events drain
        (sec, shuffleBytes.sum(), res)
      }
      val med = runs.map(_._1).sorted.apply(reps / 2)
      println(f"[census] $tag: med $med%.2f s, " +
        f"shuffle ${runs.map(_._2).max / 1024.0 / 1024.0}%.1f MiB — ${runs.head._3}")
    }

    timed("exact census (groupBy whole vocab, then threshold)") {
      val heavy = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > n / (k + 1).toDouble)
        .collect()
      s"${heavy.length} heavy"
    }
    timed("MG sketch (k=64, one pass, bounded state)") {
      val summary = toks.as[String]
        .select(new FreqSketchAgg(k).toColumn.name("s")).head()
      s"${summary.size} counters, ${summary.count(_._1.startsWith("hot_"))} hot present"
    }
    // the honest hybrid a real pipeline would run: sketch pass finds the
    // CANDIDATE heavy set, a second pass counts ONLY those exactly —
    // two vocabulary-independent shuffles (candidate set ≤ k)
    timed("sketch + exact recount of candidates") {
      val summary = toks.as[String]
        .select(new FreqSketchAgg(k).toColumn.name("s")).head()
      val cand = summary.keySet.toSeq
      val exact = toks.filter(col("token").isInCollection(cand))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > n / (k + 1).toDouble).collect()
      s"${exact.length} confirmed heavy"
    }
    spark.stop()
  }
}
