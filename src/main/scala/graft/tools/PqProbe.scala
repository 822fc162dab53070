package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Ivf, Pq}
import graft.sources.Tables

/** Dev-only evidence probe for IVF×PQ residual coding (round-10,
  * verdict #7): measures recall@5 vs exact brute force for the
  * RAW-vector-coded and RESIDUAL-coded IVFPQ paths at identical
  * (nLists, m, k, nProbe, shortlist) — the number behind q118's floor
  * and the BASELINE.md row. Residuals concentrate near zero, so the
  * same codebook budget quantizes them more finely; recall at the SAME
  * nProbe is the payoff.
  *
  * Usage: runMain graft.tools.PqProbe [sfDir] [nProbe] [m] [shortlist]
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nProbe = args.lift(1).map(_.toInt).getOrElse(8)
    val m = args.lift(2).map(_.toInt).getOrElse(8)
    val shortlist = args.lift(3).map(_.toInt).getOrElse(50)
    val spark = graft.Session.local()

    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
    val index = Ivf.build(e, "vec_id", "embedding", nLists = 16)
    val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").persist()
    val nExact = exact.count()

    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = exact.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / nExact
    }

    for (mode <- Seq("raw", "residual", "resid-ma2", "resid-ma3")) {
      val t0 = System.nanoTime()
      val approx = mode match {
        case "raw" =>
          val cb = Pq.train(e, "vec_id", "embedding", m = m, k = 256)
          val enc = Pq.encode(index.assigned, "embedding", cb)
          Pq.ivfSearchReranked(index, cb, enc, q, "vec_id", "embedding",
            nProbe = nProbe, shortlist = shortlist, topK = 5, dropSelf = true)
        case other =>
          val r = if (other == "resid-ma2") 2 else if (other == "resid-ma3") 3 else 1
          val cb = Pq.trainResidual(index, m = m, k = 256)
          val enc = Pq.encodeResidual(index, cb, rAssign = r)
          Pq.ivfSearchRerankedResidual(index, cb, enc, q, "vec_id", "embedding",
            nProbe = nProbe, shortlist = shortlist, topK = 5, dropSelf = true)
      }
      val r = recall(approx)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PQPROBE mode=$mode%-8s nProbe=$nProbe m=$m shortlist=$shortlist recall@5=$r%.3f wall=$sec%.1f s")
    }
    spark.stop()
  }
}
