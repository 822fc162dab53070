package graft.operators

import graft.SparkSpec

/** BM25 + hybrid retrieval edge contracts (the bulk correctness is
  * oracle-gated by q149/q150; this pins hand-computed values and the
  * sparse/coverage semantics the oracle's natural corpus can't isolate). */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // dl: 4, 2, 3; "cat" appears 2x in d0, 1x in d1, 0x in d2
  private lazy val docs = Seq(
    (0L, "cat cat dog bird"),
    (1L, "cat fish"),
    (2L, "dog dog fish")
  ).toDF("doc_id", "text")

  test("bm25 matches the hand-computed Okapi value; no-hit docs are absent") {
    val out = Retrieval.bm25(docs, "doc_id", "text", Seq("cat"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, df=2, idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6); avgdl = 3.0
    val idf = math.log(1.6)
    def score(tf: Double, dl: Double): Double = {
      val raw = idf * tf * (1.2 + 1.0) /
        (tf + (dl * 0.75 * 3.0 / 9.0 + 0.25) * 1.2)
      math.round(raw * 1e9) / 1e9.toDouble
    }
    assert(out.keySet == Set(0L, 1L), "doc 2 has no query term - absent")
    assert(math.abs(out(0L) - score(2.0, 4.0)) < 1e-12)
    assert(math.abs(out(1L) - score(1.0, 2.0)) < 1e-12)
    // higher tf on comparable length ranks first
    assert(out(0L) > out(1L))
  }

  test("multi-term scores are the exact-long sum of per-term scores") {
    val both = Retrieval.bm25(docs, "doc_id", "text", Seq("cat", "dog"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cat = Retrieval.bm25(docs, "doc_id", "text", Seq("cat"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dog = Retrieval.bm25(docs, "doc_id", "text", Seq("dog"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact-long arithmetic: the combined score IS the sum of the
    // single-term runs' scores (both are sums of the same rounded longs)
    for (id <- Seq(0L, 1L, 2L)) {
      val expect = cat.getOrElse(id, 0.0) + dog.getOrElse(id, 0.0)
      assert(math.abs(both(id) - expect) < 1e-12, s"doc $id")
    }
  }

  test("hybrid: shortlist docs without embeddings drop; self excluded; rerank is cosine-ordered") {
    // embeddings only for docs 0 and 1; query = doc 0's own vector
    val emb = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val qv = emb.filter($"vec_id" === 0)
    val res = Retrieval.hybrid(docs, "doc_id", "text", Seq("cat", "dog"),
        emb, "vec_id", "embedding", qv, shortlist = 10, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 2 hits "dog" lexically but has no embedding -> dropped;
    // doc 0 is the query itself -> excluded; only doc 1 remains
    assert(res.length == 1)
    assert(res.head._1 == 0L && res.head._2 == 1L)
    assert(math.abs(res.head._3 - 0.6) < 1e-6) // cos((1,0),(0.6,0.8)) = 0.6
  }

  test("bm25Batch is bit-equal to per-query bm25 runs and counts matched terms") {
    val batch = Retrieval.bm25Batch(docs, "doc_id", "text",
        Seq(0 -> Seq("cat"), 1 -> Seq("cat", "dog"), 2 -> Seq("fish")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    val singles = Seq(0 -> Seq("cat"), 1 -> Seq("cat", "dog"), 2 -> Seq("fish"))
      .flatMap { case (q, ts) =>
        Retrieval.bm25(docs, "doc_id", "text", ts).collect()
          .map(r => (q, r.getLong(0)) -> r.getDouble(1))
      }.toMap
    assert(batch.keySet == singles.keySet,
      "batch sparse semantics must match the per-query runs")
    for ((k, (score, _)) <- batch) {
      // exact-long sums of the identical shapes: BIT-equal, not close
      assert(java.lang.Double.doubleToLongBits(score) ==
        java.lang.Double.doubleToLongBits(singles(k)), s"pair $k")
    }
    // n_terms_matched: doc 0 = "cat cat dog bird" matches both of
    // query 1's terms; doc 1 = "cat fish" matches only "cat"
    assert(batch((1, 0L))._2 == 2L)
    assert(batch((1, 1L))._2 == 1L)
    // empty query set / empty terms are rejected
    intercept[IllegalArgumentException] {
      Retrieval.bm25Batch(docs, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25Batch(docs, "doc_id", "text", Seq(0 -> Seq.empty))
    }
  }

  test("bm25Batch dedups repeated query terms (bm25's isin semantics)") {
    // a duplicated term must NOT fan out the broadcast join and double
    // __tf — the bit-equality contract with bm25() covers such input
    // (round-14 advice)
    val dup = Retrieval.bm25Batch(docs, "doc_id", "text",
        Seq(1 -> Seq("cat", "cat", "dog"))).collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    val clean = Retrieval.bm25(docs, "doc_id", "text", Seq("cat", "dog"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dup.keySet == clean.keySet)
    for ((id, (score, _)) <- dup)
      assert(java.lang.Double.doubleToLongBits(score) ==
        java.lang.Double.doubleToLongBits(clean(id)), s"doc $id")
    assert(dup(0L)._2 == 2L) // "cat cat dog bird": 2 DISTINCT terms, not 3
  }
}
