package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Bpe
import graft.sources.Tables

/** Dev-only evidence probe for BATCHED distributed BPE training
  * (round-10 verdict #3; extended to production merge counts in round
  * 11 per verdict #5): the serial branch ran ONE Spark job per merge,
  * so a real 32K–50K-merge vocabulary would pay that many job barriers.
  * The batched branch applies every prefix of the total-ordered pair
  * list that provably replays identically (Bpe.selectBatch — parity
  * proven in BpeSpec), so each pair-count job can retire several
  * merges.
  *
  * The sf documents corpus alone has a SMALL vocabulary — replicas add
  * rows, never vocabulary, so its merge supply dries up long before 1K.
  * `vocabBoost > 0` appends a deterministic hex-word soup (xxhash64 hex
  * strings: 16-char alphabet, heavy shared substructure) that sustains
  * thousands of productive merges — a larger-vocabulary corpus shape,
  * not a different algorithm path.
  *
  * Reports, per batchSize, for B merges forced through the distributed
  * branch: wall seconds, Spark job count, jobs and wall per merge, and
  * cross-batch parity (every batch size must produce the identical
  * merge table).
  *
  * Usage: runMain graft.tools.BpeProbe [sfDir] [numMerges] [batchList] [vocabBoost]
  *   e.g. runMain graft.tools.BpeProbe /root/testdata/sf0.1 1024 16,64,256 200000
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val merges = args.lift(1).map(_.toInt).getOrElse(64)
    val batches = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 16))
    val vocabBoost = args.lift(3).map(_.toLong).getOrElse(0L)
    val spark = graft.Session.local()

    val jobs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.increment()
    })

    val base = Tables.documents(spark, sfDir).select(col("text"))
    val corpus =
      if (vocabBoost <= 0) base
      else base.unionByName(
        spark.range(vocabBoost).select(
          concat_ws(" ", (0 until 4).map(j =>
            lower(hex(xxhash64(col("id") + lit(j * 1000003L))))): _*).as("text")))

    var ref: Seq[Bpe.Merge] = null
    for (batch <- batches) {
      jobs.reset()
      val t0 = System.nanoTime()
      val out = Bpe.train(corpus, "text", numMerges = merges,
        localThreshold = 0L, batchSize = batch)
      val sec = (System.nanoTime() - t0) / 1e9
      if (ref == null) ref = out
      else require(out == ref,
        s"batch=$batch produced a different merge table — parity broken")
      println(f"BPEPROBE batch=$batch%3d merges=${out.length}%d " +
        f"jobs=${jobs.sum()}%d wall=$sec%.1f s " +
        f"jobs/merge=${jobs.sum().toDouble / out.length}%.2f " +
        f"ms/merge=${sec * 1000 / out.length}%.0f")
    }
    spark.stop()
  }
}
