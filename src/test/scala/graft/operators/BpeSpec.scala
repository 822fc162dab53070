package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.NativeVector

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference BPE trainer (plain Scala, no Spark): the
    * textbook algorithm over a word histogram, with the SAME total-order
    * tie-break (freq desc, then UTF-8-byte-order left/right asc — the
    * order Spark's orderBy uses; Java's String '<' would diverge on
    * supplementary-plane symbols). Deliberately written structurally
    * differently (maps + sorted scans) so agreement with the
    * distributed trainer is evidence, not shared code. */
  private def utf8Key(s: String): Seq[Int] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq.map(_ & 0xff)

  private def refTrain(wordCounts: Map[String, Long],
                       numMerges: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] = wordCounts.map { case (w, c) =>
      (w.map(_.toString).toVector :+ Bpe.EndOfWord) -> c
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    while (r < numMerges) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        pairCounts((syms(i), syms(i + 1))) =
          pairCounts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (pairCounts.isEmpty) return out.toSeq
      import scala.math.Ordering.Implicits.seqOrdering
      val ((a, b), f) = pairCounts.toSeq
        .sortBy { case ((x, y), c) => (-c, utf8Key(x), utf8Key(y)) }.head
      out += ((a, b, f))
      words = words.map { case (syms, c) =>
        val merged = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            merged += (a + b); i += 2
          } else { merged += syms(i); i += 1 }
        }
        merged.toVector -> c
      }.groupMapReduce(_._1)(_._2)(_ + _)
      r += 1
    }
    out.toSeq
  }

  test("bpe_merge expression: left-to-right non-overlapping fuse") {
    val out = spark.range(1)
      .select(NativeVector.bpeMerge(
        typedLit(Seq("a", "a", "a", "b", "a", "a")), lit("a"), lit("a")).as("m"))
      .first().getAs[scala.collection.Seq[String]]("m")
    // "aaabaa" under (a,a): [aa, a, b, aa] — the overlap does NOT chain
    assert(out == Seq("aa", "a", "b", "aa"))
  }

  test("classic hand example: 'low lower lowest' learns the lo/low stem first") {
    val docs = Seq((1L, "low low low lower lower lowest")).toDF("id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 4)
    val ref = refTrain(Map("low" -> 3L, "lower" -> 2L, "lowest" -> 1L), 4)
    assert(merges.map(m => (m.left, m.right, m.freq)) == ref, s"$merges vs $ref")
    // the first two merges build the shared stem on all 6 words
    assert(merges.head.left == "l" && merges.head.right == "o" && merges.head.freq == 6)
    assert(merges(1).left == "lo" && merges(1).right == "w" && merges(1).freq == 6)
  }

  test("BOTH branches match the independent reference on real documents (local ≡ distributed ≡ ref)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val local = Bpe.train(docs, "text", numMerges = 12) // histogram fits → local branch
    val dist = Bpe.train(docs, "text", numMerges = 12, localThreshold = 0L)
    val hist = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = refTrain(hist, 12)
    assert(local.map(m => (m.left, m.right, m.freq)) == ref,
      s"\nlocal $local\nwant  $ref")
    assert(dist == local, s"\ndist  $dist\nlocal $local")
    assert(local.map(_.rank) == (0 until 12))
  }

  test("batched merges == one-at-a-time == reference on real documents, any layout") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val oneAtATime = Bpe.train(docs, "text", numMerges = 12,
      localThreshold = 0L, batchSize = 1)
    val batched = Bpe.train(docs, "text", numMerges = 12,
      localThreshold = 0L, batchSize = 8)
    assert(batched == oneAtATime, s"\nbatched $batched\nserial  $oneAtATime")
    // partition-layout determinism: the merge table is a pure function
    // of the histogram, not of how its rows are laid out
    val relaid = Bpe.train(docs.repartition(7), "text", numMerges = 12,
      localThreshold = 0L, batchSize = 8)
    assert(relaid == batched)
  }

  test("batched merges == reference on adversarial corpora (ties, self-pairs, collisions)") {
    val corpora = Seq(
      // tie frenzy: every 'x a b' makes freq(x,a) == freq(a,b); the
      // created (x,ab) pair ties with other candidates
      "x a b " * 7 + "c d " * 7,
      // self-pairs with odd runs: created (aa,a) pairs are unbounded
      // by any unpicked sharer — the batch must close after (a,a)
      "aaa aaaa aa b aaab " * 5,
      // atom collision: merging builds "ab" while "a b"-adjacent and
      // "ab"-atom contexts coexist across words
      "ab ab a b a b ab c abc ab c a bc " * 3,
      // dense tiny alphabet: maximal symbol sharing between top pairs
      "abc bca cab abcabc ccc bb a " * 4)
    for ((text, ci) <- corpora.zipWithIndex) {
      val docs = Seq((ci.toLong, text)).toDF("id", "text")
      val words = text.trim.split("\\s+").groupBy(identity)
        .map { case (w, g) => w -> g.length.toLong }
      val ref = refTrain(words, 20)
      val batched = Bpe.train(docs, "text", numMerges = 20,
        localThreshold = 0L, batchSize = 8)
      assert(batched.map(m => (m.left, m.right, m.freq)) == ref,
        s"corpus $ci:\nbatched $batched\nref     $ref")
    }
  }

  test("batched merges == reference on randomized small-alphabet corpora") {
    val rng = new scala.util.Random(20260814L)
    for (seed <- 1 to 4) {
      val words = Seq.fill(40)(
        Seq.fill(1 + rng.nextInt(5))("abc" (rng.nextInt(3))).mkString)
      val text = words.mkString(" ")
      val docs = Seq((seed.toLong, text)).toDF("id", "text")
      val hist = words.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val ref = refTrain(hist, 15)
      val batched = Bpe.train(docs, "text", numMerges = 15,
        localThreshold = 0L, batchSize = 8)
      assert(batched.map(m => (m.left, m.right, m.freq)) == ref,
        s"seed $seed corpus '$text':\nbatched $batched\nref     $ref")
    }
  }

  test("selectBatch validator: position-sharing rule, tie hazard, self-pair and collision closes") {
    def sel(top: Seq[(String, String, Long)], k: Int = 64, maxB: Int = 8,
            known: Set[String] = Set(Bpe.EndOfWord)) =
      Bpe.selectBatch(top.toArray, k, maxB, known)
    // same-side sharing is harmless: (e,r),(e,w),(n,w) all batch
    assert(sel(Seq(("e", "r", 100L), ("e", "w", 90L), ("n", "w", 85L))).size == 3)
    // cross-side sharing destroys counts: (b,c).left == (a,b).right
    assert(sel(Seq(("a", "b", 100L), ("b", "c", 90L))) == Seq(("a", "b", 100L)))
    //  (x,a).right == (a,b).left
    assert(sel(Seq(("a", "b", 100L), ("x", "a", 90L))) == Seq(("a", "b", 100L)))
    // tie hazard: unpicked (x,a) at freq 90 bounds a created (x,ab)
    // that could beat (c,d) on the lexical tie-break
    assert(sel(Seq(("a", "b", 100L), ("c", "d", 90L), ("x", "a", 90L)))
      == Seq(("a", "b", 100L)))
    // same sharer strictly below the candidate is safe
    assert(sel(Seq(("a", "b", 100L), ("c", "d", 90L), ("x", "a", 89L))).size == 2)
    // self-pair accepted but closes the batch
    assert(sel(Seq(("a", "a", 100L), ("c", "d", 90L))) == Seq(("a", "a", 100L)))
    // output colliding with a known atom closes the batch
    assert(sel(Seq(("a", "b", 100L), ("c", "d", 90L)), known = Set("ab"))
      == Seq(("a", "b", 100L)))
    // candidates at the collected-tail frequency are not batchable
    // (ties may hide below the horizon); the argmax itself always is
    assert(sel(Seq(("a", "b", 5L), ("c", "d", 5L)), k = 2) == Seq(("a", "b", 5L)))
  }

  test("bpe_apply == replaying the merge table via chained bpe_merge, on real words") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.train(docs, "text", numMerges = 20)
    val mergesLit = typedLit(merges.map(m => (m.left, m.right)))
      .cast("array<struct<a:string,b:string>>")
    val words = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), concat(split(col("w"), "").cast("array<string>"),
        array(lit(Bpe.EndOfWord))).as("syms"))
    // lowest-rank-present application (one native pass)
    val fast = words.select(col("w"), NativeVector.bpeApply(col("syms"), mergesLit).as("t"))
    // replay in rank order (20 chained projections) — the trainer's own
    // definition of applying the table
    val slow = merges.foldLeft(words) { (df, m) =>
      df.withColumn("syms", NativeVector.bpeMerge(col("syms"), lit(m.left), lit(m.right)))
    }.select(col("w"), col("syms").as("t2"))
    assert(fast.join(slow, "w").filter(col("t") =!= col("t2")).isEmpty)
    // detokenization property: concatenating a word's tokens (marker
    // stripped) reconstructs the word exactly, for every word
    val broken = fast.filter(
      regexp_replace(concat_ws("", col("t")), "</w>", "") =!= col("w"))
    assert(broken.isEmpty)
  }

  test("bpe_apply == rank-order replay on a COLLIDING merge table (review finding)") {
    // Table whose outputs collide: rank 2 builds "xyz" via (x, yz) while
    // rank 4 builds the same string via (xy, z). On the word "wxyz" an
    // unconstrained greedy lowest-rank-present walk fuses rank 0, then
    // rank 4 (-> w, xyz), then REVISITS rank 3 (w, xyz) which replay
    // already passed — emitting [wxyz] where replay emits [w, xyz].
    // The monotone-rank constraint must reproduce replay exactly.
    val merges = Seq(("x", "y"), ("y", "z"), ("x", "yz"), ("w", "xyz"), ("xy", "z"))
    val mergesLit = typedLit(merges).cast("array<struct<a:string,b:string>>")
    val word = Seq(Tuple1(Seq("w", "x", "y", "z"))).toDF("syms")
    val fast = word.select(NativeVector.bpeApply(col("syms"), mergesLit).as("t"))
      .head().getAs[scala.collection.Seq[String]](0)
    val slow = merges.foldLeft(word) { case (df, (a, b)) =>
      df.withColumn("syms", NativeVector.bpeMerge(col("syms"), lit(a), lit(b)))
    }.head().getAs[scala.collection.Seq[String]](0)
    assert(slow == Seq("w", "xyz")) // replay's answer, by construction
    assert(fast == slow, s"apply $fast vs replay $slow")
  }

  test("tokenizeCorpus: empty/blank documents survive with zero tokens") {
    val docs = Seq((1L, "low lower"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 3)
    val out = Bpe.tokenizeCorpus(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(2)).forall(_ >= 0))
    assert(out(1).getLong(2) == 0 && out(2).getLong(2) == 0)
    assert(out(0).getLong(2) > 0)
  }

  test("vocabulary replay: symbol frequencies conserve total symbol mass") {
    val docs = Seq((1L, "aa aa ab")).toDF("id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 2)
    val vocab = Bpe.vocabulary(docs, "text", merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // Whatever merge path is taken, every word's symbol multiset must
    // concatenate back to word + </w>: character mass (marker stripped —
    // merged symbols may have absorbed it) and marker mass both conserve.
    val charMass = vocab
      .map { case (s, f) => s.replace(Bpe.EndOfWord, "").length * f }.sum
    assert(charMass == 2 * 2 + 2 * 1, vocab) // "aa"×2 + "ab"×1 characters
    val markerMass = vocab.map { case (s, f) =>
      Bpe.EndOfWord.r.findAllIn(s).size * f
    }.sum
    assert(markerMass == 3, vocab) // one </w> per word occurrence
  }
}
