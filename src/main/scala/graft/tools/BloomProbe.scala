package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.functions.BloomSketch

/** Dev-only evidence probe for the Bloom-prefiltered decontamination
  * path (q108): measures what the sketch buys over the exact join when
  * the eval inventory is LARGE — the regime the driver corpora can't
  * exhibit (their eval closures are a few thousand grams, where the
  * exact broadcast is trivially fine).
  *
  * Setup: 2M-gram eval inventory, 50M-gram corpus stream with ~2% true
  * members (deterministic xxhash64 mixing). Three plans answer the same
  * question ("how many corpus grams hit the inventory?"):
  *   - exact, forced broadcast: every executor holds all eval STRINGS
  *     (~64 B/gram on the JVM heap) — the q82 shape, the thing that
  *     OOMs first as eval closures grow;
  *   - exact, unhinted: AQE sees the eval side exceed the broadcast
  *     threshold and shuffles BOTH sides — the fallback, whose shuffle
  *     carries the whole corpus gram stream;
  *   - bloom prefilter + unhinted verify join (the q108 plan): the
  *     inventory crosses the wire once as a ~1.2 byte/gram literal and
  *     only ~(members + FPP) of the corpus reaches the join.
  * Reported: wall (k=3, median), total shuffle bytes per job
  * (task-metrics listener), and the wire-size contrast (serialized
  * sketch vs exact gram bytes). Numbers land in BASELINE.md.
  *
  * Usage: runMain graft.tools.BloomProbe [nCorpus] [nEval]
  */
object BloomProbe {
  def main(args: Array[String]): Unit = {
    val nCorpus = args.headOption.map(_.toLong).getOrElse(50000000L)
    val nEval = if (args.length > 1) args(1).toLong else 2000000L
    val spark = graft.Session.local()

    val shuffleBytes = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffleBytes.add(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    val eval = spark.range(nEval)
      .select(md5(concat(lit("eg_"), col("id"))).as("eg"))
    // ~2% of corpus grams are true members (uniform over the inventory),
    // the rest are disjoint by construction (eg_ vs xx_ preimages)
    val corpus = spark.range(nCorpus).select(
      when(pmod(xxhash64(col("id"), lit(7)), lit(100)) < 2,
        md5(concat(lit("eg_"), pmod(xxhash64(col("id"), lit(8)), lit(nEval)))))
        .otherwise(md5(concat(lit("xx_"), col("id")))).as("g"))

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
      println(f"[bloom] $tag: med $med%.2f s, " +
        f"shuffle ${runs.map(_._2).max / 1024.0 / 1024.0}%.1f MiB — ${runs.head._3}")
    }

    timed("exact join, forced broadcast (the q82 shape)") {
      s"${corpus.join(broadcast(eval), col("g") === col("eg")).count()} hits"
    }
    timed("exact join, unhinted (AQE shuffles both sides)") {
      s"${corpus.join(eval, col("g") === col("eg")).count()} hits"
    }
    // sketch build measured INSIDE the timed block — the probe charges
    // the bloom path its full cost, including the inventory pass
    timed("bloom build + prefilter + unhinted verify join (the q108 plan)") {
      val bloom = BloomSketch.build(eval, "eg", nEval, 0.01)
      val hits = corpus
        .filter(BloomSketch.mightContain(col("g"), bloom))
        .join(eval, col("g") === col("eg")).count()
      f"$hits hits, sketch ${bloom.length / 1024.0 / 1024.0}%.1f MiB"
    }
    val exactBytes = eval.select(sum(length(col("eg")))).head().getLong(0)
    println(f"[bloom] wire contrast: exact gram bytes ${exactBytes / 1024.0 / 1024.0}%.1f MiB " +
      f"vs sketch ${BloomSketch.build(eval, "eg", nEval, 0.01).length / 1024.0 / 1024.0}%.1f MiB")
    spark.stop()
  }
}
