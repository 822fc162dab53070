package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.serve.{LocalAnn, ModelRegistry}

/** Binary quantization contracts (round 20 — FAISS IndexBinaryFlat
  * shape): the exhaustive-shortlist exactness lever, tight-shortlist
  * recall, registry round trip, serving bit-parity, and the tombstone
  * mask / compaction lifecycle composing onto the new family for free. */
class BqSpec extends SparkSpec {
  import spark.implicits._

  // clustered 8-d corpus: four planted directions + deterministic jitter
  private lazy val corpus = (0 until 160).map { i =>
    val c = i % 4
    val base = Array.tabulate(8)(d => if (d == c) 1.0f else 0.05f)
    val jit = ((i * 7) % 13 - 6) / 120.0f
    (i.toLong, base.map(x => x + jit * ((i % 3) + 1)))
  }.toDF("vec_id", "embedding")

  private def queries = corpus.filter($"vec_id" < 12)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy("query_id", "neighbor_id").collect().map(r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  test("exhaustive shortlist reproduces brute force bit-for-bit; encode " +
    "is deterministic and parks wrong-width rows") {
    val q = Bq.train(dim = 8, nBits = 128)
    val enc = Bq.encode(corpus.select("vec_id", "embedding"), "embedding", q)
    // deterministic: same seed, same words
    val enc2 = Bq.encode(corpus.select("vec_id", "embedding"), "embedding",
      Bq.train(dim = 8, nBits = 128))
    assert(enc.select("vec_id", "bq_codes").except(
      enc2.select("vec_id", "bq_codes")).isEmpty)
    val exhaustive = rows(Bq.searchReranked(enc, "vec_id", "embedding", q,
      queries, "vec_id", "embedding", shortlist = 160, topK = 5,
      dropSelf = true))
    val brute = rows(Embeddings.cosineTopK(queries, corpus,
      "vec_id", "vec_id", "embedding", k = 5))
    assert(exhaustive == brute,
      "exhaustive Hamming shortlist + exact rerank must BE brute force")
    // tight shortlist: 128-bit signatures keep the clustered top-5
    val tight = Bq.searchReranked(enc, "vec_id", "embedding", q,
        queries, "vec_id", "embedding", shortlist = 20, topK = 5,
        dropSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val recall = (tight & bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.8, s"tight-shortlist recall $recall below 0.8")
    // wrong-width rows park as null codes, never ranked
    val parked = Bq.encode(corpus.unionByName(
        Seq((999L, Array(1.0f))).toDF("vec_id", "embedding"))
      .select("vec_id", "embedding"), "embedding", q)
    assert(parked.filter($"vec_id" === 999L).head().isNullAt(2))
  }

  test("round-20 native bq_pack equals the replaced expression tree " +
    "bit-for-bit; searchExhaustive equals searchReranked at corpus size") {
    val q = Bq.train(dim = 8, nBits = 128)
    // the round-20-BUILD expression form, reconstructed verbatim: per
    // word, 64 float_dots against literal planes under a when-ladder
    def wordCol(v: org.apache.spark.sql.Column, w: Int) =
      (0 until 64).map { i =>
        val p = q.planes(w * 64 + i)
        val proj = graft.functions.NativeVector.dot(v, array(p.map(lit): _*))
        when(proj > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    val v = $"embedding"
    val mixed = corpus.unionByName(
      Seq((999L, Array(1.0f))).toDF("vec_id", "embedding")) // parks
    val oldForm = mixed.select($"vec_id",
      when(size(v) === q.dim,
        array((0 until q.nWords).map(wordCol(v, _)): _*)).as("bq_codes"))
    val native = Bq.encode(mixed.select("vec_id", "embedding"), "embedding", q)
      .select("vec_id", "bq_codes")
    assert(native.except(oldForm).isEmpty && oldForm.except(native).isEmpty,
      "native bq_pack diverged from the expression tree it replaced")
    // exhaustive fast path: identical rows to the shortlist-at-corpus-size arm
    val enc = Bq.encode(corpus.select("vec_id", "embedding"), "embedding", q)
    val viaShortlist = rows(Bq.searchReranked(enc, "vec_id", "embedding", q,
      queries, "vec_id", "embedding", shortlist = 160, topK = 5, dropSelf = true))
    val viaExhaustive = rows(Bq.searchExhaustive(enc, "vec_id", "embedding", q,
      queries, "vec_id", "embedding", topK = 5, dropSelf = true))
    assert(viaExhaustive == viaShortlist,
      "searchExhaustive must be the searchReranked(shortlist >= corpus) identity")
  }

  test("registry round trip: reloaded planes search bit-identically; " +
    "LocalAnn serving arm mirrors the Spark arm at both budgets") {
    val q = Bq.train(dim = 8, nBits = 128)
    val enc = Bq.encode(corpus.select("vec_id", "embedding"), "embedding", q)
    val root = java.nio.file.Files.createTempDirectory("graft_bq_reg").toString
    ModelRegistry.registerBq(spark, root, "bq", q, Some(enc))
    assert(ModelRegistry.kindOf(spark, root, "bq") == "bq")
    val reloaded = ModelRegistry.loadBq(spark, root, "bq")
    def sparkArm(shortlist: Int) = rows(Bq.searchReranked(
      ModelRegistry.loadPqCodes(spark, root, "bq"), "vec_id", "embedding",
      reloaded, queries, "vec_id", "embedding", shortlist, topK = 5,
      dropSelf = true))
    val idx = LocalAnn.load(spark, root, "bq")
    assert(idx.family == "bq" && idx.size == 160 &&
      PartialFunction.cond(idx.codec) { case c: LocalAnn.Codec.Bq => c.words.length == 160 })
    def served(shortlist: Int) = queries.collect().flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getAs[scala.collection.Seq[Float]](1).toArray
      LocalAnn.search(idx, qid, v, shortlist, 5).map(h =>
        (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(served(160) == sparkArm(160),
      "exhaustive serving arm diverged from the Spark arm")
    assert(served(20) == sparkArm(20),
      "tight serving arm diverged from the Spark arm")
  }

  test("tombstone mask and compaction compose onto the bq family: masked " +
    "search == survivors-only brute force == compacted search") {
    val q = Bq.train(dim = 8, nBits = 128)
    val enc = Bq.encode(corpus.select("vec_id", "embedding"), "embedding", q)
    val root = java.nio.file.Files.createTempDirectory("graft_bq_del").toString
    ModelRegistry.registerBq(spark, root, "bq", q, Some(enc))
    ModelRegistry.deleteIds(spark, root, "bq", Seq(4L, 8L))
    def hitsOf(idx: LocalAnn.Index) = queries.collect().flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getAs[scala.collection.Seq[Float]](1).toArray
      LocalAnn.search(idx, qid, v, idx.size, 5).map(h =>
        (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
    }.sortBy(t => (t._1, t._2)).toSeq
    val masked = hitsOf(LocalAnn.load(spark, root, "bq"))
    assert(masked.forall(t => t._2 != 4L && t._2 != 8L))
    val brute = rows(Embeddings.cosineTopK(queries,
      corpus.filter(!$"vec_id".isin(4L, 8L)),
      "vec_id", "vec_id", "embedding", k = 5))
    assert(masked == brute,
      "masked exhaustive bq search must be brute force over survivors")
    assert(ModelRegistry.compact(spark, root, "bq") == 2L)
    val cIdx = LocalAnn.load(spark, root, "bq")
    assert(cIdx.size == 158 && cIdx.deletedCount == 0)
    assert(hitsOf(cIdx) == masked,
      "compacted bq search must bit-equal the masked search")
  }
}
