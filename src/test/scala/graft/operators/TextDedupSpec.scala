package graft.operators

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "a"), // near dup
    (4L, "completely different words entirely here now", "a"),
    (5L, "unrelated text in another block", "b")
  ).toDF("doc_id", "text", "source")

  test("tokens + stats") {
    val out = docs.filter($"doc_id" === 1)
      .select(TextOps.nTokens($"text"), TextOps.charSum($"text"),
        TextOps.hitCount($"text", Seq("the", "fox"))).collect()(0)
    assert(out.getInt(0) == 9)
    assert(out.getInt(1) == 35) // total chars across the 9 tokens
    assert(out.getInt(2) == 3) // 'the' twice + 'fox'
  }

  test("normalize: case fold + control strip + collapse, and idempotent") {
    // \u0001 = an embedded control byte MID-TOKEN: normalize must
    // convert it to a separator, not drop or keep it
    val d = Seq((1L, "  Hello\tWORLD\n\n  x\u0001y  "), (2L, "already clean"))
      .toDF("doc_id", "text")
    val out = d.select($"doc_id", TextOps.normalize($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world x y")
    assert(out(2L) == "already clean")
    // idempotence: normalizing a normalized form is the identity
    val twice = d.select(
        (TextOps.normalize(TextOps.normalize($"text")) ===
          TextOps.normalize($"text")).as("eq"))
      .collect().forall(_.getBoolean(0))
    assert(twice)
  }

  test("exact dedup summary and groups") {
    val s = TextOps.exactDupSummary(docs, $"text").collect()(0)
    assert(s.getAs[Long]("n_docs") == 5 && s.getAs[Long]("n_distinct_text") == 4)
    val g = TextOps.dupGroups(docs, $"doc_id", $"text").collect()
    assert(g.length == 1 && g(0).getAs[Long]("keep_id") == 1 &&
      g(0).getAs[Long]("n_copies") == 2)
  }

  test("jaccard pairs: identical docs = 1.0; near dup high; blocked by source") {
    val pairs = TextOps.jaccardPairs(docs, "doc_id", "text", "source", 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.7) // 7 shared of 9 union (dog/cat differ)
    assert(!pairs.contains((4L, 5L))) // cross-source blocked
  }

  test("minhash: identical docs share full signature; est_jaccard = 1") {
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cands((1L, 2L)) == 1.0)
  }

  test("short docs (fewer tokens than shingleLen) don't fake-collide in MinHash") {
    // one whole-doc shingle, not an empty set: distinct short docs get
    // distinct signatures; identical short docs still match fully
    val short = Seq((1L, "foo", "a"), (2L, "bar", "a"), (3L, "foo", "a"))
      .toDF("doc_id", "text", "source")
    val cands = Dedup.minHashCandidates(short, "doc_id", "text", shingleLen = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cands.get((1L, 3L)).contains(1.0)) // identical docs
    assert(!cands.contains((1L, 2L)) || cands((1L, 2L)) < 1.0) // distinct docs
    val fp = Dedup.fingerprint(short, "doc_id", "text", shingleLen = 3)
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getLong(2))).toMap
    assert(fp(1L)._1 != null && fp(1L)._2 == 1L) // non-null single shingle
    assert(fp(1L) == fp(3L) && fp(1L) != fp(2L))
  }

  test("simhash: identical docs at hamming 0; near dups close") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", "source", maxDist = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) < pairs.getOrElse((1L, 4L), 33))
  }

  test("jaccard oversized-block reroute (LSH candidates) keeps near-dup pairs") {
    // cap=2 forces the 4-doc 'a' block through MinHash-LSH candidate
    // generation + exact verification instead of the quadratic join
    val rerouted = TextOps.jaccardPairs(docs, "doc_id", "text", "source", 0.5,
        maxBlockSize = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rerouted((1L, 2L)) == 1.0)
    assert(rerouted((1L, 3L)) > 0.7)
    // small block 'b' (1 doc) unaffected; no cross-block pairs appear
    assert(rerouted.keys.forall { case (a, b) => a < b && b <= 4L })
  }

  test("simhash oversized-block reroute is exact (pigeonhole bit-banding)") {
    val quad = Dedup.simHashPairs(docs, "doc_id", "text", "source", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rerouted = Dedup.simHashPairs(docs, "doc_id", "text", "source",
        maxDist = 10, maxBlockSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rerouted == quad) // any pair at hamming<=10 shares one of 11 bit-groups
  }

  test("fingerprint: deterministic, equal for identical docs") {
    val fp = Dedup.fingerprint(docs, "doc_id", "text", shingleLen = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(4L))
  }

  test("connected components: chains collapse to the min id, islands stay apart") {
    // chain 1-2-3 (1-3 never paired directly) + a separate island 7-9
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 9L)).toDF("doc1", "doc2")
    val comp = Dedup.connectedComponents(pairs, "doc1", "doc2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // empty pair list -> empty components, no crash
    assert(Dedup.connectedComponents(
      pairs.limit(0), "doc1", "doc2").count() == 0)
    // a longer chain still converges: 10-11-...-16
    val chain = (10L until 16L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val c2 = Dedup.connectedComponents(chain, "doc1", "doc2")
      .collect().map(r => r.getLong(1)).distinct
    assert(c2.toSeq == Seq(10L))
    // self-pair-only nodes still get an output row (x, x)
    val selfOnly = Seq((42L, 42L), (1L, 2L)).toDF("doc1", "doc2")
    val c3 = Dedup.connectedComponents(selfOnly, "doc1", "doc2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c3 == Map(42L -> 42L, 1L -> 1L, 2L -> 1L))
  }

  test("connected components: pathological chain converges in O(log n) rounds") {
    // a 50-node path is the adversarial case for min-label propagation
    // (diameter 49 -> 49 rounds); the large-star/small-star contraction
    // must finish in <= ceil(log2 n) + 1 alternation rounds
    val n = 50
    val chain = (0L until (n - 1).toLong).map(i => (i + 1, i)).toDF("doc1", "doc2")
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(chain, "doc1", "doc2")
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n && out.forall(_._2 == 0L))
    val bound = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 1
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("language id: deterministic argmax with priority tie-break") {
    val d = Seq((1L, "the cat is on the mat", "en"),
      (2L, "le chat est la", "fr"),
      (3L, "xyzzy qwerty", "zh")).toDF("doc_id", "text", "lang")
    val out = d.select($"doc_id", TextOps.predictLang($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "unknown")
  }
}
