package graft.operators

import graft.SparkSpec

/** HNSW contracts (round 17, Malkov & Yashunin 2016): recall against
  * exact brute force, input-order independence, save/load + registry
  * bit-identity, self-exclusion, and the LocalAnn serving mirror. */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = {
    val rnd = new scala.util.Random(31)
    (0 until 400).map(i => (i.toLong, Array.fill(32)(rnd.nextFloat() - 0.5f)))
  }
  private lazy val vecs = rows.toDF("vid", "v")

  test("search recall vs exact brute force clears 0.9 on a random corpus") {
    val g = Hnsw.build(rows, m = 8, efConstruction = 64)
    val queries = rows.take(10)
    val exact = Embeddings.cosineTopK(vecs.filter($"vid" < 10), vecs,
        "vid", "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = queries.flatMap { case (qid, qv) =>
      Hnsw.search(g, qv, efSearch = 64, topK = 5, dropId = Some(qid))
        .map(h => (qid, h._1))
    }
    val recall = hits.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"hnsw recall $recall below 0.9")
    // self is never returned
    assert(hits.forall { case (q, n) => q != n })
  }

  test("structEq compares vectors at the BIT level (round-19 advice): " +
    "identical NaN components are equal, +0.0 vs -0.0 are not") {
    val g = Hnsw.build(rows.take(20), m = 4, efConstruction = 16)
    def withVec0(x: Float) =
      g.copy(vecs = g.vecs.updated(0, g.vecs(0).updated(0, x)))
    assert(Hnsw.structEq(withVec0(Float.NaN), withVec0(Float.NaN)),
      "bit-identical NaN components must compare equal")
    assert(!Hnsw.structEq(withVec0(0.0f), withVec0(-0.0f)),
      "+0.0 and -0.0 differ at the bit level and must compare unequal")
    assert(Hnsw.structEq(g, g))
  }

  test("build is input-order independent (nodes sort by id; levels are " +
    "a pure function of the id)") {
    val g1 = Hnsw.build(rows, m = 8, efConstruction = 64)
    val g2 = Hnsw.build(scala.util.Random.shuffle(rows), m = 8,
      efConstruction = 64)
    val q = rows(3)._2
    assert(Hnsw.search(g1, q, 64, 5) == Hnsw.search(g2, q, 64, 5))
    assert(g1.levels.toSeq == g2.levels.toSeq)
    assert(g1.maxLevel == g2.maxLevel)
  }

  test("save/load + registry: reloaded graph searches bit-identically; " +
    "kindOf reports hnsw; LocalAnn serves the family") {
    val g = Hnsw.fromDataFrame(vecs, "vid", "v", m = 8, efConstruction = 64)
    val root = java.nio.file.Files.createTempDirectory("graft_hnsw").toString
    graft.serve.ModelRegistry.registerHnsw(spark, root, "hnsw", g)
    assert(graft.serve.ModelRegistry.kindOf(spark, root, "hnsw") == "hnsw")
    val g2 = graft.serve.ModelRegistry.loadHnsw(spark, root, "hnsw")
    val qs = rows.take(8)
    for ((qid, qv) <- qs) {
      val fresh = Hnsw.search(g, qv, 64, 5, dropId = Some(qid))
      assert(Hnsw.search(g2, qv, 64, 5, dropId = Some(qid)) == fresh)
    }
    // LocalAnn: the fifth served family — search() mirrors Hnsw.search,
    // shortlist doubles as efSearch
    val idx = graft.serve.LocalAnn.load(spark, root, "hnsw")
    assert(idx.family == "hnsw" &&
      idx.codec.isInstanceOf[graft.serve.LocalAnn.Codec.Hnsw] && idx.size == 400)
    for ((qid, qv) <- qs) {
      val served = graft.serve.LocalAnn.search(idx, qid, qv, 64, 5)
        .map(h => (h.neighborId, h.sim))
      assert(served == Hnsw.search(g, qv, 64, 5, dropId = Some(qid)))
    }
    // a filter naming an attr the index did not load stays a loud error
    intercept[IllegalArgumentException] {
      graft.serve.LocalAnn.search(idx, 0L, rows.head._2, 64, 5,
        allow = Map("label" -> Set(1L)))
    }
    intercept[IllegalArgumentException] {
      graft.serve.LocalAnn.load(spark, root, "hnsw", attrCols = Seq("label"))
    }
  }

  test("distributed per-shard build (round 19): one Spark job builds " +
    "every shard graph; each is BIT-IDENTICAL to the driver build of " +
    "the same rows, at 1 and 32 input partitions") {
    val df = rows.map { case (id, v) => (id % 3, id, v) }
      .toDF("shard", "vid", "v")
    val path = java.nio.file.Files
      .createTempDirectory("graft_hnsw_dist").toString
    for (parts <- Seq(1, 32)) {
      val nodes = Hnsw.buildShardsDistributed(df.repartition(parts),
        "vid", "v", "shard", m = 8, efConstruction = 64)
      Hnsw.saveShards(spark, nodes, path, m = 8, efConstruction = 64)
      for (sh <- 0L to 2L) {
        val driver = Hnsw.build(rows.filter(_._1 % 3 == sh),
          m = 8, efConstruction = 64)
        val dist = Hnsw.loadShard(spark, path, sh)
        assert(Hnsw.structEq(dist, driver),
          s"shard $sh diverged from the driver build at $parts partitions")
        // search equality follows from structEq, but assert one query
        // end-to-end anyway (the property a serving node actually uses)
        val (qid, qv) = rows.head
        assert(Hnsw.search(dist, qv, 64, 5, dropId = Some(qid)) ==
          Hnsw.search(driver, qv, 64, 5, dropId = Some(qid)))
      }
    }
    // heuristic builds replay identically too
    val nodesH = Hnsw.buildShardsDistributed(df, "vid", "v", "shard",
      m = 8, efConstruction = 64, heuristic = true)
    val pathH = java.nio.file.Files
      .createTempDirectory("graft_hnsw_dist_h").toString
    Hnsw.saveShards(spark, nodesH, pathH, m = 8, efConstruction = 64,
      heuristic = true)
    assert(Hnsw.structEq(Hnsw.loadShard(spark, pathH, 1L),
      Hnsw.build(rows.filter(_._1 % 3 == 1), m = 8, efConstruction = 64,
        heuristic = true)))
    // unknown shard fails loudly, not as an empty graph
    intercept[IllegalArgumentException] { Hnsw.loadShard(spark, path, 9L) }
  }

  test("round-17 artifact compatibility: a saved graph whose meta " +
    "predates the heuristic column reloads with heuristic=false and " +
    "searches bit-identically (round-18 advice)") {
    val g = Hnsw.build(rows, m = 8, efConstruction = 64) // closest-M build
    val path = java.nio.file.Files.createTempDirectory("graft_hnsw_r17").toString
    Hnsw.save(spark, g, path)
    // rewrite hnsw_meta WITHOUT the heuristic column — byte-shape of a
    // round-17 artifact
    val legacy = spark.read.parquet(s"$path/hnsw_meta").drop("heuristic")
      .collect()
    val legacyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(legacy.toIndexedSeq, 1),
      spark.read.parquet(s"$path/hnsw_meta").drop("heuristic").schema)
    legacyDf.write.mode("overwrite").parquet(s"$path/hnsw_meta")
    val g2 = Hnsw.load(spark, path)
    assert(!g2.heuristic)
    for ((qid, qv) <- rows.take(8))
      assert(Hnsw.search(g2, qv, 64, 5, dropId = Some(qid)) ==
        Hnsw.search(g, qv, 64, 5, dropId = Some(qid)))
  }

  test("append ≡ rebuild bit-for-bit (ascending-id replay); interleaved " +
    "or duplicate ids are a loud error; the input graph is untouched") {
    val (prefix, suffix) = rows.splitAt(300)
    val gPre = Hnsw.build(prefix, m = 8, efConstruction = 64)
    val preLinks = gPre.links.map(_.map(_.toSeq).toSeq).toSeq
    val gApp = Hnsw.append(gPre, suffix)
    val gFull = Hnsw.build(rows, m = 8, efConstruction = 64)
    assert(gApp.ids.toSeq == gFull.ids.toSeq)
    assert(gApp.levels.toSeq == gFull.levels.toSeq)
    assert(gApp.entry == gFull.entry && gApp.maxLevel == gFull.maxLevel)
    assert(gApp.links.map(_.map(_.toSeq).toSeq).toSeq ==
      gFull.links.map(_.map(_.toSeq).toSeq).toSeq)
    // copy-on-append: gPre's structure is unchanged
    assert(gPre.links.map(_.map(_.toSeq).toSeq).toSeq == preLinks)
    // contract errors
    intercept[IllegalArgumentException] {
      Hnsw.append(gFull, Seq((10L, rows.head._2))) // interleaved id
    }
    intercept[IllegalArgumentException] {
      Hnsw.append(gPre, Seq((500L, rows.head._2), (500L, rows(1)._2)))
    }
  }

  test("heuristic build: deterministic, input-order independent, degree " +
    "caps hold, and append parity carries over") {
    val g1 = Hnsw.build(rows, m = 8, efConstruction = 64, heuristic = true)
    val g2 = Hnsw.build(scala.util.Random.shuffle(rows), m = 8,
      efConstruction = 64, heuristic = true)
    assert(g1.links.map(_.map(_.toSeq).toSeq).toSeq ==
      g2.links.map(_.map(_.toSeq).toSeq).toSeq)
    g1.links.zipWithIndex.foreach { case (ls, _) =>
      ls.zipWithIndex.foreach { case (nbrs, lvl) =>
        val cap = if (lvl == 0) 16 else 8
        assert(nbrs.length <= cap)
        assert(nbrs.distinct.length == nbrs.length)
      }
    }
    val (prefix, suffix) = rows.splitAt(300)
    val gApp = Hnsw.append(
      Hnsw.build(prefix, m = 8, efConstruction = 64, heuristic = true), suffix)
    assert(gApp.links.map(_.map(_.toSeq).toSeq).toSeq ==
      g1.links.map(_.map(_.toSeq).toSeq).toSeq)
    // recall still clears the random-corpus floor
    val exact = Embeddings.cosineTopK(vecs.filter($"vid" < 10), vecs,
        "vid", "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.take(10).flatMap { case (qid, qv) =>
      Hnsw.search(g1, qv, efSearch = 64, topK = 5, dropId = Some(qid))
        .map(h => (qid, h._1))
    }
    assert(hits.count(exact.contains).toDouble / exact.size >= 0.9)
  }

  test("filtered search: exhaustive-ef filtered top-k equals the filtered " +
    "brute force; failing nodes never surface; LocalAnn serves the filter") {
    val g = Hnsw.build(rows, m = 8, efConstruction = 64)
    val label = rows.map { case (id, _) => id -> (id % 3) }.toMap
    val pass = (i: Int) => label(g.ids(i)) == 1L
    // exhaustive ef visits every reachable node, so the filtered result
    // must be the exact top-5 of the label==1 sub-corpus
    val exact = Embeddings.cosineTopK(vecs.filter($"vid" < 10),
        vecs.filter($"vid" % 3 === 1), "vid", "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hits = rows.take(10).flatMap { case (qid, qv) =>
      Hnsw.search(g, qv, efSearch = 400, topK = 5, dropId = Some(qid),
        allow = Some(pass)).map(h => (qid, h._1, h._2))
    }.toSet
    assert(hits == exact, "exhaustive filtered hnsw must equal filtered brute force")
    assert(hits.forall { case (_, n, _) => n % 3 == 1 })
    // serving path: register with the attr column, filter over HTTP-shape
    val root = java.nio.file.Files.createTempDirectory("graft_hnsw_f").toString
    graft.serve.ModelRegistry.registerHnsw(spark, root, "hnswf", g,
      attrs = Seq("label" -> g.ids.map(label)))
    val idx = graft.serve.LocalAnn.load(spark, root, "hnswf",
      attrCols = Seq("label"))
    for ((qid, qv) <- rows.take(5)) {
      val served = graft.serve.LocalAnn.search(idx, qid, qv, 400, 5,
        allow = Map("label" -> Set(1L))).map(h => (h.neighborId, h.sim))
      val direct = Hnsw.search(g, qv, 400, 5, dropId = Some(qid),
        allow = Some(pass))
      assert(served == direct)
    }
  }
}
