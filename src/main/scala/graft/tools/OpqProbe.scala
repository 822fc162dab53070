package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Embeddings, Opq, Pq}

/** Round-15 measurement probe: raw-PQ vs OPQ-rotated-PQ recall@5 on
  * the q157 planted anisotropic corpus — pins q159's floors from
  * measurement, not hope. Not part of the driver battery. */
object OpqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local()

    val e = Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN x * CAST(3.5 AS FLOAT)" +
        " ELSE x * CAST(0.5 AS FLOAT) END)").as("embedding"))
    val q = e.filter(col("vec_id") < 20)
    val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").cache()
    val nExact = exact.count()

    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = exact.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      hits.toDouble / nExact
    }

    for (k <- Seq(64, 256)) {
      var t0 = System.nanoTime()
      val cbRaw = Pq.train(e, "vec_id", "embedding", m = 8, k = k)
      val encRaw = Pq.encode(e.select("vec_id", "embedding"), "embedding", cbRaw)
      val raw = recallOf(Pq.searchReranked(encRaw, "vec_id", "embedding", cbRaw,
        q, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true))
      val tRaw = (System.nanoTime() - t0) / 1e9

      t0 = System.nanoTime()
      val rot = Opq.trainRotation(e, "embedding", dim = 64, m = 8)
      val er = Opq.rotate(e, "vec_id", "embedding", rot)
      val qr = Opq.rotate(q, "vec_id", "embedding", rot)
      val cbO = Pq.train(er, "vec_id", "embedding", m = 8, k = k)
      val encO = Pq.encode(er, "embedding", cbO)
      val opq = recallOf(Pq.searchReranked(encO, "vec_id", "embedding", cbO,
        qr, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true))
      val tOpq = (System.nanoTime() - t0) / 1e9
      println(f"[opq-probe] $dir k=$k nExact=$nExact raw=$raw%.3f (${tRaw}%.1f s) " +
        f"opq=$opq%.3f (${tOpq}%.1f s) eigTop=${rot.eigenvalues.max}%.4f")
      println("[opq-probe] perm=" + rot.perm.take(16).mkString(","))
    }

    // ---- round-17 (verdict "Missing #4"): the MIXTURE corpus — k
    // clusters, each with its own orthonormal principal axes and a
    // long/short axis split (SyntheticData.clusteredEmbeddings), the
    // geometry a single global rotation cannot align for every cluster
    // at once. Raw-PQ vs OPQ-P vs OPQ-NP at identical budgets.
    val mix = graft.sources.SyntheticData
      .clusteredEmbeddings(spark, 60000L, k = 8, dim = 64)
      .select("vec_id", "embedding").cache()
    mix.count()
    locally {
      val qm = mix.filter(col("vec_id") < 20)
      val exactM = Embeddings.cosineTopK(qm, mix, "vec_id", "vec_id",
        "embedding", k = 5).select("query_id", "neighbor_id").cache()
      val nM = exactM.count()
      def recallM(approx: org.apache.spark.sql.DataFrame): Double =
        exactM.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / nM
      def armM(rot: Option[Opq.Rotation]): Double = {
        val (er, qr) = rot match {
          case Some(r) => (Opq.rotate(mix, "vec_id", "embedding", r),
            Opq.rotate(qm, "vec_id", "embedding", r))
          case None => (mix, qm)
        }
        val cb = Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        recallM(Pq.searchReranked(Pq.encode(er, "embedding", cb), "vec_id",
          "embedding", cb, qr, "vec_id", "embedding", shortlist = 50,
          topK = 5, dropSelf = true))
      }
      val rRaw = armM(None)
      val rotP = Opq.trainRotation(mix, "embedding", dim = 64, m = 8)
      val rP = armM(Some(rotP))
      val (rotNP, errsNP) = Opq.trainRotationNP(mix, "vec_id", "embedding",
        dim = 64, m = 8, k = 64, iters = 8)
      val rNP = armM(Some(rotNP))
      println(f"[opq-mix-probe] mixture n=60000 k8/d64 m=8 k=64: " +
        f"raw=$rRaw%.3f OPQ-P=$rP%.3f OPQ-NP=$rNP%.3f " +
        f"npErr ${errsNP.head}%.4f -> ${errsNP.last}%.4f " +
        f"(${(1 - errsNP.last / errsNP.head) * 100}%.1f%% down)")
      exactM.unpersist()
    }
    mix.unpersist()

    // ---- round-16 head-to-head (verdict #3): OPQ-P vs OPQ-NP at
    // identical budgets on (a) the axis-aligned planted corpus and
    // (b) the same corpus scrambled by a fixed random orthogonal map —
    // the geometry where a single eigen-allocation should lose.
    val scrambler = {
      val rnd = new scala.util.Random(20160814L)
      val g = Array.fill(64, 64)(rnd.nextGaussian())
      // Gram-Schmidt to a proper orthogonal matrix
      for (i <- 0 until 64) {
        for (j <- 0 until i) {
          val d = (0 until 64).map(t => g(i)(t) * g(j)(t)).sum
          for (t <- 0 until 64) g(i)(t) -= d * g(j)(t)
        }
        val n = math.sqrt(g(i).map(x => x * x).sum)
        for (t <- 0 until 64) g(i)(t) /= n
      }
      Opq.Rotation(64, Array.tabulate(64)(identity), g, Array.fill(64)(0.0))
    }
    for ((label, corpus) <- Seq(
        "aligned" -> e,
        "scrambled" -> Opq.rotate(e, "vec_id", "embedding", scrambler))) {
      val qc = corpus.filter(col("vec_id") < 20)
      val exactC = Embeddings.cosineTopK(qc, corpus, "vec_id", "vec_id",
        "embedding", k = 5).select("query_id", "neighbor_id").cache()
      val nC = exactC.count()
      def recallC(approx: org.apache.spark.sql.DataFrame): Double =
        exactC.join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / nC
      def arm(rot: Opq.Rotation): Double = {
        val er = Opq.rotate(corpus, "vec_id", "embedding", rot)
        val qr = Opq.rotate(qc, "vec_id", "embedding", rot)
        val cb = Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        recallC(Pq.searchReranked(Pq.encode(er, "embedding", cb), "vec_id",
          "embedding", cb, qr, "vec_id", "embedding", shortlist = 50,
          topK = 5, dropSelf = true))
      }
      var t0 = System.nanoTime()
      val rotP = Opq.trainRotation(corpus, "embedding", dim = 64, m = 8)
      val rP = arm(rotP)
      val tP = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val (rotNP, errsNP) = Opq.trainRotationNP(corpus, "vec_id", "embedding",
        dim = 64, m = 8, k = 64, iters = 8)
      val rNP = arm(rotNP)
      val tNP = (System.nanoTime() - t0) / 1e9
      println(f"[opq-np-probe] $dir $label%9s m=8 k=64: OPQ-P=$rP%.3f " +
        f"(${tP}%.1f s)  OPQ-NP=$rNP%.3f (${tNP}%.1f s)  " +
        f"npErr ${errsNP.head}%.4f -> ${errsNP.last}%.4f " +
        f"(${(1 - errsNP.last / errsNP.head) * 100}%.1f%% down)")
      exactC.unpersist()
    }
    spark.stop()
  }
}
