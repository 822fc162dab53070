package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Embeddings

class NativeVectorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (0 until 1000).map(i => (i.toLong, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vid", "v")
  }

  test("native dot product is bit-identical to the higher-order fold") {
    val pairs = vecs.select($"vid".as("i"), $"v".as("a"))
      .join(vecs.limit(50).select($"vid".as("j"), $"v".as("b")))
    val diff = pairs.select(
      (NativeVector.dot($"a", $"b") - Embeddings.dot($"a", $"b")).as("d"))
      .agg(max(abs($"d"))).first().getDouble(0)
    assert(diff == 0.0) // same left-to-right accumulation order
  }

  test("native dot reads array<double> correctly (typed getter, not a float reinterpret)") {
    // double inputs once silently mis-read through getFloat — q74's
    // near-dup verify stage surfaced sims of 0.93 for true cosine 0.9999
    val d = vecs.select($"vid", $"v".cast("array<double>").as("v"))
    val pairs = d.select($"vid".as("i"), $"v".as("a"))
      .join(d.limit(50).select($"vid".as("j"), $"v".as("b")))
    val diff = pairs.select(
      (NativeVector.dot($"a", $"b") - Embeddings.dot($"a", $"b")).as("d"))
      .agg(max(abs($"d"))).first().getDouble(0)
    assert(diff == 0.0)
    // and non-numeric arrays are rejected at analysis time, not mis-read
    val bad = Seq((Seq("x", "y"), Seq("a", "b"))).toDF("a", "b")
    intercept[Exception] {
      bad.select(NativeVector.dot($"a", $"b")).collect()
    }
  }

  test("native sorted intersect equals array_intersect size on sorted distinct arrays") {
    val arrs = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq[Long](), Seq(1L))
    ).toDF("a", "b")
    val out = arrs.select(
      NativeVector.sortedIntersect($"a", $"b").as("native"),
      size(array_intersect($"a", $"b")).as("builtin")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("native simhash32 equals the higher-order fold signature") {
    val docs = Seq("the quick brown fox", "lorem ipsum dolor sit amet", "x")
      .toDF("text")
    val th = transform(graft.operators.TextOps.tokens($"text"), t => xxhash64(t))
    val out = docs.select(
      NativeVector.simhash32(th).as("native"),
      graft.operators.Dedup.simHash($"text").as("hof")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native dot survives whole-stage codegen over a large pair join") {
    val pairs = vecs.select($"vid".as("i"), $"v".as("a"))
      .join(vecs.select($"vid".as("j"), $"v".as("b")))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (nNative, tNative) = time(
      pairs.select(NativeVector.dot($"a", $"b").as("d"))
        .filter($"d" > 1e9).count()) // impossible filter: forces all dots
    val (nHof, tHof) = time(
      pairs.select(Embeddings.dot($"a", $"b").as("d"))
        .filter($"d" > 1e9).count())
    assert(nNative == 0 && nHof == 0)
    info(f"1M x dim-64 dots: native $tNative%.2fs vs higher-order $tHof%.2fs")
    assert(tNative < tHof) // codegen'd loop beats interpreted lambdas
  }

  test("token_class_counts equals the three regexp_counts on adversarial strings") {
    // run boundaries, whitespace variants (incl. \x0B vertical tab),
    // non-ASCII (2- and 3-byte UTF-8), empties, class transitions
    val rows = Seq(
      "", " ", "abc", "abc123", "123abc456", "a1b2c3",
      "  leading and trailing  ", "tabs\tand\nnewlines\f\r",
      "café naïve 世界", "UPPER lower", "a.b,c;d",
      "run1 2run 3 4 5x", "!!!???", " nbsp ", "0", "z",
      "abécd12é34", "---0---a---") ++
      (0 until 200).map(i => s"doc $i with ${i * 7} tokens; punct#$i!")
    val df = rows.toDF("t")
    val cmp = df.select(
      NativeVector.tokenClassCounts($"t").as("tc"),
      regexp_count($"t", lit("[a-z]+")).cast("long").as("ra"),
      regexp_count($"t", lit("[0-9]+")).cast("long").as("rn"),
      regexp_count($"t", lit("[^a-z0-9\\s]")).cast("long").as("ro"))
      .filter($"tc.n_alpha" =!= $"ra" || $"tc.n_num" =!= $"rn" ||
        $"tc.n_other" =!= $"ro")
    assert(cmp.isEmpty, cmp.collect().mkString("\n"))
  }

  test("token_class_counts: one fused pass beats three regex scans") {
    val docs = spark.range(200000L).select(concat_ws(" ",
      lit("lorem ipsum 42 dolor sit 7 amet!"), col("id").cast("string"),
      lit("consectetur 1337 adipiscing elit, sed do eiusmod tempor."))
      .as("t"))
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // warm-up both paths, then time
    docs.select(NativeVector.tokenClassCounts($"t")).count()
    docs.select(regexp_count($"t", lit("[a-z]+"))).count()
    val (tNative, a) = time(docs.select(
      NativeVector.tokenClassCounts($"t").as("tc"))
      .agg(sum($"tc.n_alpha")).first().getLong(0))
    val (tRegex, b) = time(docs.select(
      (regexp_count($"t", lit("[a-z]+")) + regexp_count($"t", lit("[0-9]+"))
        + regexp_count($"t", lit("[^a-z0-9\\s]"))).cast("long").as("s"))
      .agg(sum($"s")).first().getLong(0))
    info(f"200k docs: fused loop $tNative%.2fs vs 3 regex scans $tRegex%.2fs (sums $a/$b)")
    assert(tNative < tRegex)
  }

  /** Brute-force reference for ngram_stats: count the space-joined gram
    * strings exactly as the q105 oracle does. */
  private def gramRef(toks: Seq[String], n: Int): (Long, Long, Long) = {
    val total = math.max(toks.length - n, 0) + 1
    val grams = (0 until total).map(i => toks.slice(i, i + n).mkString(" "))
    val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
    (total.toLong, counts.size.toLong, counts.values.max.toLong)
  }

  test("ngram_stats matches brute-force joined-string counting (random docs, both paths)") {
    val rnd = new scala.util.Random(11)
    // small vocab forces heavy repetition (exercises top/dup); lengths
    // 0..40 cover len < n clipping and the single-empty-gram case
    val docs = (0 until 400).map { i =>
      val len = rnd.nextInt(41)
      (i.toLong, Seq.fill(len)(s"w${rnd.nextInt(6)}"))
    }
    // n=22 drives bitsPerId to 2, so any doc with >2 distinct tokens
    // takes the string-keyed fallback — both code paths under one ref
    for (n <- Seq(1, 2, 3, 22)) {
      val got = docs.toDF("id", "toks")
        .select($"id", NativeVector.ngramStats($"toks", n).as("st"))
        .select($"id", $"st.total", $"st.distinct", $"st.top")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      docs.foreach { case (id, toks) =>
        assert(got(id) == gramRef(toks, n), s"doc $id n=$n toks=$toks")
      }
    }
  }

  test("ngram_stats stays inside whole-stage codegen") {
    // input must depend on the row (a literal constant-folds at plan
    // time); the expression must live INSIDE a WholeStageCodegen stage,
    // not fall back to interpreted projection
    val df = spark.range(4L)
      .select(split(concat(lit("a b a b w"), $"id"), " ").as("toks"))
      .select(NativeVector.ngramStats($"toks", 2).as("st"))
    val inCodegen = df.queryExecution.executedPlan.exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.toString.contains("ngramstats")
      case _ => false
    }
    assert(inCodegen, df.queryExecution.executedPlan.toString)
    // "a b a b w0": 2-grams "a b", "b a", "a b", "b w0"
    val r = df.select($"st.total", $"st.distinct", $"st.top").first()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 2L)))
  }

  test("operators leave the session's function registry untouched") {
    import graft.operators.{Bpe, Bq, Dedup, Pq, TextOps}
    val small = vecs.filter($"vid" < 200)
    val queries = small.filter($"vid" < 5)
    val cb = Pq.train(small, "vid", "v", m = 8, k = 16)
    Pq.searchReranked(Pq.encode(small, "v", cb), "vid", "v", cb, queries,
      "vid", "v", shortlist = 20, topK = 3).collect()
    val bq = Bq.train(dim = 64, nBits = 64)
    Bq.searchReranked(Bq.encode(small, "v", bq), "vid", "v", bq, queries,
      "vid", "v", shortlist = 20, topK = 3).collect()
    val docs = Seq((1L, "low lower lowest"), (2L, "newer wider low"),
      (3L, "low lower lowest"), (4L, "")).toDF("doc_id", "text")
      .withColumn("bk", lit(0))
    Bpe.tokenizeCorpus(docs, "doc_id", "text",
      Bpe.train(docs, "text", numMerges = 3)).collect()
    TextOps.jaccardPairs(docs, "doc_id", "text", "bk", 0.5).collect()
    TextOps.repetitionSignals(docs, "doc_id", "text").collect()
    Dedup.simHashPairs(docs, "doc_id", "text", "bk", maxDist = 3).collect()
    val bloom = BloomSketch.build(docs, "text", 4, 0.01)
    docs.select(BloomSketch.mightContain($"text", bloom),
      NativeVector.tokenClassCounts($"text")).collect()
    val names = Seq("float_dot", "sorted_long_intersect", "simhash32",
      "bloom_might_contain", "token_class_counts", "ngram_stats",
      "bpe_merge", "bpe_apply", "pq_encode", "bq_pack")
    val registered = names.filter(spark.catalog.functionExists)
    assert(registered.isEmpty, s"operators registered $registered")
  }
}
