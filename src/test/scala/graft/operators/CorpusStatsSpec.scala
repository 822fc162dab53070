package graft.operators

import graft.SparkSpec

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("jsDivergenceVsCorpus: a single source IS the corpus -> js exactly 0") {
    val docs = Seq((1L, "a", "x y z x"), (2L, "a", "y q")).toDF("id", "src", "text")
    val r = CorpusStats.jsDivergenceVsCorpus(docs, "src", "text").collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("js") == 0.0)
    assert(r.head.getAs[Long]("n_tokens") == 6L)
    assert(r.head.getAs[Long]("n_types") == 4L)
  }

  test("jsDivergenceVsCorpus matches a brute-force dense reference (closed-form tail)") {
    // two sources with PARTIALLY overlapping vocab — the absent-token
    // closed form must equal summing 0.5*ln2*p_g over the dense tail
    val docs = Seq(
      (1L, "a", "x x y z"), (2L, "a", "x w"),
      (3L, "b", "y y q q r"), (4L, "b", "x r r")).toDF("id", "src", "text")
    def ref(srcToks: Map[String, Long], allToks: Map[String, Long]): Double = {
      val ts = srcToks.values.sum.toDouble
      val tg = allToks.values.sum.toDouble
      // .toSeq first: mapping over the key SET would dedupe equal
      // contributions (z and w tie exactly) and silently drop terms
      allToks.keys.toSeq.map { t =>
        val ps = srcToks.getOrElse(t, 0L) / ts
        val pg = allToks(t) / tg
        val m = (ps + pg) / 2
        (if (ps > 0) 0.5 * ps * math.log(ps / m) else 0.0) +
          0.5 * pg * math.log(pg / m)
      }.sum
    }
    val toks = Map(
      "a" -> Map("x" -> 3L, "y" -> 1L, "z" -> 1L, "w" -> 1L),
      "b" -> Map("y" -> 2L, "q" -> 2L, "r" -> 3L, "x" -> 1L))
    val global = (toks("a").keySet ++ toks("b").keySet).map(t =>
      t -> (toks("a").getOrElse(t, 0L) + toks("b").getOrElse(t, 0L))).toMap
    val got = CorpusStats.jsDivergenceVsCorpus(docs, "src", "text")
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Double]("js")).toMap
    for (s <- Seq("a", "b"))
      assert(math.abs(got(s) - ref(toks(s), global)) < 1e-12, s)
    // bounded in [0, ln 2], js_norm in [0, 1]
    got.values.foreach(v => assert(v >= 0 && v <= math.log(2.0) + 1e-12))
  }

  test("mixConcentration: uniform mix hits the entropy/HHI extremes, single source the other end") {
    val uniform = (0 until 4).flatMap(s => Seq.fill(25)(s"src$s")).toDF("src")
    val u = CorpusStats.mixConcentration(uniform, "src").first()
    assert(u.getAs[Long]("n_categories") == 4)
    assert(math.abs(u.getAs[Double]("entropy") - math.log(4.0)) < 1e-12)
    assert(math.abs(u.getAs[Double]("entropy_norm") - 1.0) < 1e-12)
    assert(math.abs(u.getAs[Double]("hhi") - 0.25) < 1e-12)
    assert(math.abs(u.getAs[Double]("effective_n") - 4.0) < 1e-9)
    val single = Seq.fill(50)("only").toDF("src")
    val s = CorpusStats.mixConcentration(single, "src").first()
    assert(s.getAs[Double]("entropy") == 0.0 && s.getAs[Double]("hhi") == 1.0)
    assert(s.getAs[Double]("entropy_norm") == 0.0) // k=1 guard, not 0/0
  }

  test("zipfFit recovers the exponent of a planted power law") {
    // counts c_r = floor(10000 / r^1.2), ranks 1..200 — exact Zipf with
    // alpha 1.2 up to floor noise
    val rows = (1 to 200).flatMap { r =>
      val c = (10000.0 / math.pow(r, 1.2)).toInt
      Seq.fill(c)(s"w$r%03d")
    }
    val docs = rows.grouped(500).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("id", "text")
    val fit = CorpusStats.zipfFit(docs, "text", topK = 200).first()
    assert(fit.getAs[Long]("n_vocab") == 200L)
    assert(fit.getAs[Long]("k_fit") == 200L)
    assert(math.abs(fit.getAs[Double]("alpha") - 1.2) < 0.02, fit)
    assert(fit.getAs[Double]("r2") > 0.999, fit)
  }
}
