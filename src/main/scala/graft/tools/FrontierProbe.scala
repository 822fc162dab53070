package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Bq, Embeddings, Hnsw, Ivf, Opq, Pq, Sq}
import graft.serve.{LocalAnn, ModelRegistry}

/** The serving tier's OPERATING MANUAL (round-19 verdict stretch #8):
  * one table of (breadth knob, recall@5 vs exact, p50 / p99 per-query
  * latency) per ANN family, on the clustered mixture corpus (the hard
  * geometry — q167/q176's fixture). The breadth knob is each family's
  * own: nProbe for ivf, ADC shortlist for pq/opq, decode shortlist for
  * sq8, efSearch for hnsw (closest-M and §4-heuristic arms). Latency
  * is the serving path (`LocalAnn.search`, in-process — RouterProbe
  * already prices the wire and fleet layers on top).
  * Usage: runMain graft.tools.FrontierProbe [n] [nQueries]
  */
object FrontierProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000L)
    val nq = if (args.length > 1) args(1).toInt else 50
    val spark = graft.Session.local()

    val e = graft.sources.SyntheticData
      .clusteredEmbeddings(spark, n).cache()
    e.count()
    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
      .sortBy(_._1).toSeq
    // exact ground truth (hash-proven machinery: cosineTopK)
    val exact = Embeddings.cosineTopK(e.filter(col("vec_id") < nq), e,
        "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val reg = java.nio.file.Files
      .createTempDirectory("graft_frontier").toString
    // one artifact per family over the same corpus
    ModelRegistry.registerIvf(spark, reg, "ivf",
      Ivf.build(e, "vec_id", "embedding", nLists = 64))
    val cb = Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
    ModelRegistry.registerPq(spark, reg, "pq", cb,
      Some(Pq.encode(e.select("vec_id", "embedding"), "embedding", cb)))
    val rot = Opq.trainRotation(e, "embedding", dim = 64, m = 8)
    val er = Opq.rotate(e, "vec_id", "embedding", rot)
    val cbr = Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
    ModelRegistry.registerOpq(spark, reg, "opq", rot, Some(cbr),
      Some(Pq.encode(er, "embedding", cbr)))
    val qz = Sq.train(e, "embedding", dim = 64)
    ModelRegistry.registerSq(spark, reg, "sq8", qz,
      Some(Sq.encode(e.select("vec_id", "embedding"), "embedding", qz)))
    val bqz = Bq.train(dim = 64, nBits = 256)
    ModelRegistry.registerBq(spark, reg, "bq", bqz,
      Some(Bq.encode(e.select("vec_id", "embedding"), "embedding", bqz)))
    val rows = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
      .toSeq
    ModelRegistry.registerHnsw(spark, reg, "hnsw_h",
      Hnsw.build(rows, m = 8, efConstruction = 64, heuristic = true))
    ModelRegistry.registerHnsw(spark, reg, "hnsw_c",
      Hnsw.build(rows, m = 8, efConstruction = 64))

    def pct(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.length - 1, (p * s.length).toInt))
    }
    println(s"[frontier] n=$n queries=$nq corpus=clustered-mixture " +
      "(family, knob, recall@5, p50 ms, p99 ms)")
    for (name <- Seq("ivf", "pq", "opq", "sq8", "bq", "hnsw_c", "hnsw_h")) {
      val idx = LocalAnn.load(spark, reg, name)
      val knobs = name match {
        case "ivf" => Seq(1, 2, 4, 8, 16)
        case "hnsw_c" | "hnsw_h" => Seq(8, 16, 32, 64, 128)
        case _ => Seq(8, 16, 32, 64, 128, 256)
      }
      knobs.foreach { k =>
        // warmup
        queries.take(5).foreach { case (qid, v) =>
          LocalAnn.search(idx, qid, v, k, 5) }
        val times = new Array[Double](queries.length)
        var hits = 0
        queries.zipWithIndex.foreach { case ((qid, v), i) =>
          val t0 = System.nanoTime()
          val res = LocalAnn.search(idx, qid, v, k, 5)
          times(i) = (System.nanoTime() - t0) / 1e6
          hits += res.count(h => exact((qid, h.neighborId)))
        }
        val recall = hits.toDouble / exact.size
        println(f"[frontier] $name%7s knob=$k%4d recall@5=$recall%.3f " +
          f"p50=${pct(times, 0.5)}%7.3f ms p99=${pct(times, 0.99)}%7.3f ms")
      }
    }
    spark.stop()
  }
}
