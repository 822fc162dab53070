package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Embeddings, Hnsw}

/** q176 design probe: closest-M vs §4-heuristic HNSW recall on the
  * clustered mixture fixture (`SyntheticData.clusteredEmbeddings` —
  * the geometry that discriminates, per the q167 discipline), across
  * an (m, efConstruction, efSearch) grid at identical budgets. Also
  * reports level-0 reachability from the entry point (the exhaustive-
  * search-≡-brute-force precondition the q175/q177/q178 oracles lean
  * on) and build times. Usage: runMain graft.tools.HnswProbe [n].
  */
object HnswProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000L
    val spark = graft.Session.local()
    def t[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[hnsw-probe] $label: $sec%.2f s")
      (r, sec)
    }
    val path = s"/tmp/hnsw_probe_corpus_$n"
    if (!new java.io.File(path).exists()) {
      graft.sources.SyntheticData.clusteredEmbeddings(spark, n, k = 8, dim = 64)
        .select("vec_id", "embedding")
        .write.mode("overwrite").parquet(path)
    }
    val e = spark.read.parquet(path)
    val q = e.filter(col("vec_id") < 50)
    val rows = e.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
    val queries = rows.filter(_._1 < 50)
    val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def reachable(g: Hnsw.Graph): Int = {
      val seen = collection.mutable.HashSet[Int](g.entry)
      val stack = collection.mutable.ArrayDeque[Int](g.entry)
      while (stack.nonEmpty) {
        val c = stack.removeLast()
        g.links(c)(0).foreach(x => if (seen.add(x)) stack.append(x))
      }
      seen.size
    }

    for (m <- Seq(4, 8, 16); efc <- Seq(64, 100)) {
      val (gC, tC) = t(s"build closest  m=$m efC=$efc") {
        Hnsw.build(rows, m = m, efConstruction = efc, heuristic = false) }
      val (gH, tH) = t(s"build heuristic m=$m efC=$efc") {
        Hnsw.build(rows, m = m, efConstruction = efc, heuristic = true) }
      println(f"[hnsw-probe] reach m=$m efC=$efc closest=${reachable(gC)} heuristic=${reachable(gH)} of ${rows.size}")
      for (ef <- Seq(8, 16, 32, 64)) {
        def recall(g: Hnsw.Graph): Double = {
          val hits = queries.flatMap { case (qid, qv) =>
            Hnsw.search(g, qv, efSearch = ef, topK = 5, dropId = Some(qid))
              .map(h => (qid, h._1))
          }
          hits.count(exact.contains).toDouble / exact.size
        }
        println(f"[hnsw-probe] m=$m%2d efC=$efc%3d ef=$ef%3d  closest=${recall(gC)}%.3f  heuristic=${recall(gH)}%.3f  (build ${tC}%.1f/${tH}%.1f s)")
      }
    }
    spark.stop()
  }
}
