package graft.tools

import graft.operators.Dedup

/** Scratch probe: time q65's two stages (pair generation vs connected
  * components) and print the CC round count. Dev-only. */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()
    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val pairs = t("pairs (verified LSH) materialize") {
      val p = graft.queries.TextQueries.verifiedNearDupPairs(spark, dir).cache()
      println(s"[probe] n_pairs=${p.count()}"); p
    }
    for (rep <- 1 to 3) {
      val (labels, rounds) = t(s"cc rep$rep") {
        val lr = Dedup.connectedComponentsWithRounds(pairs, "doc1", "doc2")
        lr._1.collect(); lr
      }
      println(s"[probe] rounds=$rounds labels=${labels.count()}")
    }
    spark.stop()
  }
}
