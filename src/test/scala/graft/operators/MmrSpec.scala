package graft.operators

import graft.SparkSpec

/** MMR re-ranking contracts (round 17, Carbonell & Goldstein 1998):
  * hand-checkable greedy on a tiny fixture, diversity behavior on a
  * near-duplicate-heavy candidate set, layout determinism, and the
  * λ-extremes (λ=10 ⇒ pure relevance order). */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  test("select: hand-checked greedy on a 4-candidate fixture") {
    // two near-identical high-relevance candidates (1, 2) and two
    // orthogonal mid-relevance ones (3, 4): pure relevance would pick
    // (1, 2) first; MMR must interleave diversity
    val e1 = Array(1f, 0f, 0f, 0f)
    val e1b = Array(0.999f, 0.04f, 0f, 0f)
    val e2 = Array(0f, 1f, 0f, 0f)
    val e3 = Array(0f, 0f, 1f, 0f)
    val cands = Seq(
      (1L, 0.95, e1), (2L, 0.94, e1b), (3L, 0.80, e2), (4L, 0.70, e3))
    val picks = Mmr.select(cands, k = 3, lambdaTenths = 7)
    assert(picks.map(_._1) == Seq(1L, 3L, 4L),
      s"expected the diverse picks, got $picks")
    assert(picks.map(_._2) == Seq(1, 2, 3))
    // step-1 score is the relevance; later steps are 7R−3M at 1e-7
    assert(picks.head._3 == 0.95)
    // step 2 for id 3: 0.7·0.80 − 0.3·sim(e2, e1) = 0.56 − 0
    assert(math.abs(picks(1)._3 - 0.56) < 1e-12)
  }

  test("pure relevance at lambdaTenths = 10; redundancy-only at 0 " +
    "still leads with the top-relevance pick") {
    val rnd = new scala.util.Random(7)
    val cands = (0 until 12).map(i =>
      (i.toLong, (100 - i).toDouble / 100.0, Array.fill(6)(rnd.nextFloat())))
    val rel = Mmr.select(cands, k = 5, lambdaTenths = 10)
    assert(rel.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    val div = Mmr.select(cands, k = 5, lambdaTenths = 0)
    assert(div.head._1 == 0L) // step 1 is argmax rel regardless of λ
  }

  test("rerank: deterministic across relayout; duplicate-heavy top-N is " +
    "diversified (no two picks are near-identical when alternatives exist)") {
    val rnd = new scala.util.Random(23)
    // 5 near-duplicate groups sharing one relevance direction e0: every
    // group is ~equally relevant to the query (cos ≈ 0.8), group 0
    // slightly more (0.82), and within-group sims are ≈ 1 while
    // cross-group sims are ≈ 0.65 — the shape where pure relevance
    // returns one group's duplicates and MMR must fan out
    val rows = for {
      g <- 0 until 5; j <- 0 until 8
    } yield {
      val a = if (g == 0) 0.82 else 0.80
      val b = math.sqrt(1.0 - a * a)
      val v = new Array[Float](8)
      v(0) = (a + (rnd.nextDouble() - 0.5) * 0.004).toFloat
      v(1 + g) = b.toFloat
      ((g * 8 + j).toLong, v)
    }
    val corpus = rows.toDF("vid", "v")
    val queries = Seq((999L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("vid", "v")
    val cands = Embeddings.cosineTopK(queries, corpus, "vid", "vid", "v", k = 20)
      .join(corpus.select($"vid".as("neighbor_id"), $"v"), Seq("neighbor_id"))
    // pure relevance: all five picks are group 0's duplicates
    val relOnly = Mmr.rerank(cands, "query_id", "neighbor_id", "sim", "v",
      k = 5, lambdaTenths = 10).collect().map(r => r.getLong(1) / 8).distinct
    assert(relOnly.toSeq == Seq(0L))
    // MMR: the redundancy term forces the picks across groups
    val out = Mmr.rerank(cands, "query_id", "neighbor_id", "sim", "v",
      k = 5, lambdaTenths = 7).collect()
      .map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2)
    val groups = out.map(_._1 / 8).distinct
    assert(groups.length >= 3,
      s"MMR picked from only ${groups.length} duplicate groups: ${out.toSeq}")
    val out2 = Mmr.rerank(cands.repartition(13, $"neighbor_id" % 3),
      "query_id", "neighbor_id", "sim", "v", k = 5, lambdaTenths = 7)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2)
    assert(out2.toSeq == out.toSeq)
  }
}
