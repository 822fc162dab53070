package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Ivf, Pq}
import graft.sources.Tables

/** Dev-only evidence probe (round-13 verdict #6): the distributed
  * codebook branches (`Ivf.buildDistributed` / `Pq.trainDistributed`,
  * full-corpus Lloyd refinement over the bounded-sample seeds) are
  * spec-proven bit-stable and boundary-parity at toy scale; this
  * measures their recall@5 against the LOCAL bounded-sample branches
  * on a real corpus — the number behind BASELINE.md's
  * refined-vs-sample row.
  *
  * Usage: runMain graft.tools.CodebookProbe [sfDir] [refineIters]
  */
object CodebookProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val refineIters = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Session.local()

    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
    val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").persist()
    val nExact = exact.count()

    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = exact.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / nExact
    }

    // IVF: local bounded-sample vs distributed-refined coarse quantizer
    for (nProbe <- Seq(4, 8)) {
      val local = Ivf.build(e, "vec_id", "embedding", nLists = 16)
      val rl = recall(Ivf.search(local, q, "vec_id", "embedding", nProbe, topK = 5))
      val dist = Ivf.buildDistributed(e, "vec_id", "embedding", nLists = 16,
        refineIters = refineIters)
      val rd = recall(Ivf.search(dist, q, "vec_id", "embedding", nProbe, topK = 5))
      println(f"[codebook] IVF nLists=16 nProbe=$nProbe: local=$rl%.3f refined=$rd%.3f")
    }

    // PQ: local vs distributed-refined codebooks, flat ADC+R search
    val cbL = Pq.train(e, "vec_id", "embedding", m = 8, k = 256)
    val encL = Pq.encode(e.select("vec_id", "embedding"), "embedding", cbL)
    val rl = recall(Pq.searchReranked(encL, "vec_id", "embedding", cbL,
      q, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true))
    val cbD = Pq.trainDistributed(e, "vec_id", "embedding", m = 8, k = 256,
      refineIters = refineIters)
    val encD = Pq.encode(e.select("vec_id", "embedding"), "embedding", cbD)
    val rd = recall(Pq.searchReranked(encD, "vec_id", "embedding", cbD,
      q, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true))
    println(f"[codebook] PQ m=8 k=256 shortlist=50: local=$rl%.3f refined=$rd%.3f " +
      f"(refineIters=$refineIters)")
    spark.stop()
  }
}
