package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Bq, Embeddings, Hnsw, Ivf, Opq, Pq, Sq}

/** The ANN serving contracts (round-15 verdict #4): LocalAnn's scalar
  * search is BIT-IDENTICAL to the Spark search for every family
  * (ivf / pq / opq), the /ann/search endpoint carries that equality
  * over real HTTP (float-exact JSON round trip), and the 422/503/405
  * error surface behaves like the other scoring endpoints. */
class LocalAnnSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private lazy val client = HttpClient.newHttpClient()

  // a clustered 4-d corpus with enough structure that searches are
  // non-trivial: four planted directions + deterministic jitter
  private def corpus = (0 until 160).map { i =>
    val c = i % 4
    val base = Array.tabulate(4)(d => if (d == c) 1.0f else 0.05f)
    val jit = ((i * 7) % 13 - 6) / 120.0f
    (i.toLong, base.map(x => x + jit * ((i % 3) + 1)))
  }.toDF("vec_id", "embedding")

  private def queries = corpus.filter($"vec_id" < 12)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy("query_id", "neighbor_id").collect().map(r =>
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq

  private def hitsOf(idx: LocalAnn.Index, shortlist: Int, topK: Int): Seq[(Long, Long, Long)] =
    queries.collect().flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getAs[scala.collection.Seq[Float]](1).toArray
      LocalAnn.search(idx, qid, v, shortlist, topK).map(h =>
        (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
    }.sortBy(t => (t._1, t._2)).toSeq

  test("pq family: LocalAnn.search is bit-identical to Pq.searchReranked " +
    "over the registered artifact") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_pq").toString
    ModelRegistry.registerPq(spark, root, "pq", cb, Some(enc))
    val sparkSide = rows(Pq.searchReranked(
      ModelRegistry.loadPqCodes(spark, root, "pq"), "vec_id", "embedding",
      ModelRegistry.loadPq(spark, root, "pq"), queries, "vec_id", "embedding",
      shortlist = 20, topK = 5, dropSelf = true))
    val idx = LocalAnn.load(spark, root, "pq")
    assert(idx.family == "pq" && idx.size == 160)
    assert(hitsOf(idx, 20, 5) == sparkSide)
  }

  test("opq family: rotation is applied server-side; results bit-equal " +
    "the rotate-then-search Spark path") {
    val rot = Opq.trainRotation(corpus, "embedding", dim = 4, m = 2)
    val er = Opq.rotate(corpus, "vec_id", "embedding", rot)
    val cb = Pq.train(er, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(er, "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_opq").toString
    ModelRegistry.registerOpq(spark, root, "opq", rot, Some(cb), Some(enc))
    val qr = Opq.rotate(queries, "vec_id", "embedding",
      ModelRegistry.loadOpq(spark, root, "opq"))
    val sparkSide = rows(Pq.searchReranked(
      ModelRegistry.loadPqCodes(spark, root, "opq"), "vec_id", "embedding",
      ModelRegistry.loadPq(spark, root, "opq"), qr, "vec_id", "embedding",
      shortlist = 20, topK = 5, dropSelf = true))
    val idx = LocalAnn.load(spark, root, "opq")
    assert(idx.family == "opq" &&
      PartialFunction.cond(idx.codec) { case c: LocalAnn.Codec.Pq => c.rot.nonEmpty })
    // LocalAnn takes the RAW (unrotated) query — the rotation is the
    // server's job, exactly what a deployment client expects
    assert(hitsOf(idx, 20, 5) == sparkSide)
  }

  test("ivf family: LocalAnn.search is bit-identical to Ivf.search") {
    val index = Ivf.build(corpus, "vec_id", "embedding", nLists = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_ivf").toString
    ModelRegistry.registerIvf(spark, root, "ivf", index)
    val sparkSide = rows(Ivf.search(ModelRegistry.loadIvf(spark, root, "ivf"),
      queries, "vec_id", "embedding", nProbe = 2, topK = 5))
    val idx = LocalAnn.load(spark, root, "ivf")
    assert(idx.family == "ivf" &&
      PartialFunction.cond(idx.codec) { case c: LocalAnn.Codec.Ivf => c.centroids.length == 4 })
    assert(hitsOf(idx, 2, 5) == sparkSide) // shortlist == nProbe for ivf
  }

  test("ivf centroid-graph probing (round 20): exhaustive knobs serve " +
    "bit-identically to the scan arm; tight knobs keep recall on " +
    "separated clusters; non-ivf families reject the graph") {
    val index = Ivf.build(corpus, "vec_id", "embedding", nLists = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_ivfg").toString
    ModelRegistry.registerIvf(spark, root, "ivf", index)
    val idx = LocalAnn.load(spark, root, "ivf")
    val scanArm = hitsOf(idx, 2, 5)
    // exhaustive budget (ef, cand >= nlist): the beam visits every cell,
    // the exact-dot ordering decides — bit-identical to the scan
    val exhaustive = LocalAnn.withCentroidGraph(idx, efSearch = 4, cand = 4)
    assert(hitsOf(exhaustive, 2, 5) == scanArm,
      "exhaustive-budget graph probing diverged from the centroid scan")
    // tight budget (cand=1): the beam's home cell is the argmax cell on
    // separated clusters, so nProbe=1 matches the scan's nProbe=1
    val tight = LocalAnn.withCentroidGraph(idx, efSearch = 2, cand = 1)
    assert(hitsOf(tight, 1, 5) == hitsOf(idx, 1, 5))
    // attaching a centroid graph to a non-ivf family fails loudly
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    ModelRegistry.registerPq(spark, root, "pq", cb,
      Some(Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)))
    intercept[IllegalArgumentException] {
      LocalAnn.withCentroidGraph(LocalAnn.load(spark, root, "pq"),
        efSearch = 4, cand = 4)
    }
  }

  test("/ann/search endpoint: transport parity, 422 validation, 503 " +
    "without an index, 405 on GET") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_http").toString
    ModelRegistry.registerPq(spark, root, "pq", cb, Some(enc))
    val idx = LocalAnn.load(spark, root, "pq")
    // transport parity: the helper's parsed rows == the direct search
    val qs = queries.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
    val viaHttp = HttpApi.annSearchOverHttp(qs, ("pq", idx), shortlist = 20, topK = 5)
      .flatMap { o =>
        val rs = o.path("results")
        (0 until rs.size()).map(i => (o.path("query_id").asLong,
          rs.get(i).path("neighbor_id").asLong,
          java.lang.Double.doubleToLongBits(rs.get(i).path("sim").asDouble)))
      }.sortBy(t => (t._1, t._2))
    assert(viaHttp == hitsOf(idx, 20, 5))
    // error surface on a live server
    val server = HttpApi.start(annModel = Some(("pq", idx)))
    def post(body: String) = {
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    try {
      assert(post("""{"query_id":1}""")._1 == 422)             // missing embedding
      assert(post("""{"embedding":[]}""")._1 == 422)            // empty
      assert(post("""{"embedding":[1,"x",3,4]}""")._1 == 422)   // non-numeric
      assert(post("""{"embedding":[1,2,3]}""")._1 == 422)       // wrong width
      assert(post("""{"embedding":[1,2,3,4],"top_k":0}""")._1 == 422)
      val ok = post("""{"query_id":0,"embedding":[1.0,0.05,0.05,0.05]}""")
      assert(ok._1 == 200 && ok._2.path("results").size() == 5 &&
        ok._2.path("family").asText == "pq")
      val r405 = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r405.statusCode() == 405)
    } finally server.stop()
    // 503 when no index is loaded
    val bare = HttpApi.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${bare.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"embedding":[1,2,3,4]}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 503)
    } finally bare.stop()
  }

  test("missing query_id never drops a corpus row: id -1 is returned " +
    "when the request omits query_id (round-16 verdict #2)") {
    // plant id -1 in the corpus — the repo's own plant doctrine puts
    // negative ids in indexes (q96/q148), so the old asLong(-1) default
    // with drop_self=true silently hid exactly this row
    val planted = corpus.unionByName(
      Seq((-1L, Array(1.0f, 0.05f, 0.05f, 0.05f))).toDF("vec_id", "embedding"))
    val cb = Pq.train(planted, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(planted.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_qid").toString
    ModelRegistry.registerPq(spark, root, "pq", cb, Some(enc))
    val idx = LocalAnn.load(spark, root, "pq")
    val server = HttpApi.start(annModel = Some(("pq", idx)))
    def post(body: String) = {
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    try {
      // no query_id: id -1 (the exact-direction row) must appear
      val anon = post("""{"embedding":[1.0,0.05,0.05,0.05],"top_k":3,"shortlist":30}""")
      assert(anon._1 == 200)
      val ids = (0 until anon._2.path("results").size())
        .map(i => anon._2.path("results").get(i).path("neighbor_id").asLong)
      assert(ids.contains(-1L),
        s"id -1 must not be self-dropped without a query_id; got $ids")
      assert(anon._2.path("query_id").isNull)
      // WITH query_id -1, drop_self applies and excludes it
      val self = post("""{"query_id":-1,"embedding":[1.0,0.05,0.05,0.05],"top_k":3,"shortlist":30}""")
      assert(self._1 == 200)
      val ids2 = (0 until self._2.path("results").size())
        .map(i => self._2.path("results").get(i).path("neighbor_id").asLong)
      assert(!ids2.contains(-1L))
      // non-integral query_id is the client's error
      assert(post("""{"query_id":"x","embedding":[1,0,0,0]}""")._1 == 422)
      // malformed JSON is 422, not 500 (round-16 advice)
      assert(post("""{"embedding":[1,2,""")._1 == 422)
    } finally server.stop()
  }

  test("LocalAnn.load resolves pq columns by type, not position " +
    "(round-16 verdict #4): reordered codes frame loads identically; " +
    "an ambiguous frame fails loudly") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_reorder").toString
    ModelRegistry.registerPq(spark, root, "ordered", cb, Some(enc))
    // deliberate reorder: (codes, embedding, vec_id) — a positional
    // reader would cast codes as the id and the vector as codes
    ModelRegistry.registerPq(spark, root, "reordered", cb,
      Some(enc.select("codes", "embedding", "vec_id")))
    val a = LocalAnn.load(spark, root, "ordered")
    val b = LocalAnn.load(spark, root, "reordered")
    assert(hitsOf(a, 20, 5) == hitsOf(b, 20, 5))
    // ambiguity (two long columns) must fail with the registry context
    ModelRegistry.registerPq(spark, root, "ambiguous", cb,
      Some(enc.withColumn("other_id", $"vec_id" + 1)))
    val e = intercept[IllegalArgumentException] {
      LocalAnn.load(spark, root, "ambiguous")
    }
    assert(e.getMessage.contains("exactly one long id"))
  }

  test("multi-index serving (round-16 verdict #5): one server routes by " +
    "model name; 404 unknown, 422 ambiguous, /models lists both") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val ivf = Ivf.build(corpus, "vec_id", "embedding", nLists = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_multi").toString
    ModelRegistry.registerPq(spark, root, "pq", cb, Some(enc))
    ModelRegistry.registerIvf(spark, root, "ivf", ivf)
    val pqIdx = LocalAnn.load(spark, root, "pq")
    val ivfIdx = LocalAnn.load(spark, root, "ivf")
    val server = HttpApi.start(annModels = Seq(("pq", pqIdx), ("ivf", ivfIdx)))
    def post(body: String) = {
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    try {
      val viaPq = post("""{"model":"pq","query_id":0,"embedding":[1.0,0.05,0.05,0.05]}""")
      assert(viaPq._1 == 200 && viaPq._2.path("model_used").asText == "pq" &&
        viaPq._2.path("family").asText == "pq")
      val viaIvf = post("""{"model":"ivf","query_id":0,"embedding":[1.0,0.05,0.05,0.05],"shortlist":2}""")
      assert(viaIvf._1 == 200 && viaIvf._2.path("model_used").asText == "ivf" &&
        viaIvf._2.path("family").asText == "ivf")
      assert(post("""{"model":"nope","query_id":0,"embedding":[1,0,0,0]}""")._1 == 404)
      // two indexes loaded, no model named: ambiguous
      assert(post("""{"query_id":0,"embedding":[1,0,0,0]}""")._1 == 422)
      assert(post("""{"model":7,"query_id":0,"embedding":[1,0,0,0]}""")._1 == 422)
      // inventory: both served indexes are /models rows
      val inv = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val models = mapper.readTree(inv.body()).path("models")
      assert(models.path("pq").path("kind").asText == "ann_pq")
      assert(models.path("ivf").path("kind").asText == "ann_ivf")
      assert(models.path("pq").path("size").asInt == 160)
      assert(mapper.readTree(inv.body()).path("total_loaded").asInt == 2)
    } finally server.stop()
  }

  test("sharded fan-out/merge (round 17): one shard is search() verbatim; " +
    "a 2-shard split merges to the per-shard-top-k union's top-k; HTTP " +
    "serves the group under one name") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val encAll = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_shard").toString
    // one codebook, per-node code shards — the deployment layout
    ModelRegistry.registerPq(spark, root, "all", cb, Some(encAll))
    ModelRegistry.registerPq(spark, root, "s0", cb,
      Some(encAll.filter($"vec_id" % 2 === 0)))
    ModelRegistry.registerPq(spark, root, "s1", cb,
      Some(encAll.filter($"vec_id" % 2 === 1)))
    val all = LocalAnn.load(spark, root, "all")
    val s0 = LocalAnn.load(spark, root, "s0")
    val s1 = LocalAnn.load(spark, root, "s1")
    // single-shard group ≡ plain search, bit for bit
    val q0 = corpus.filter($"vec_id" === 0).collect().head
      .getAs[scala.collection.Seq[Float]](1).toArray
    assert(LocalAnn.searchSharded(Seq(all), 0L, q0, 20, 5) ==
      LocalAnn.search(all, 0L, q0, 20, 5))
    // shortlist ≥ corpus: both paths are exact rerank over everything —
    // the 2-shard merge must equal the single index bit for bit
    val qs = queries.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
    for ((qid, v) <- qs) {
      val single = LocalAnn.search(all, qid, v, 200, 5)
      val merged = LocalAnn.searchSharded(Seq(s0, s1), qid, v, 200, 5)
      assert(merged == single, s"query $qid: exhaustive-shortlist shard " +
        "merge must equal the single index")
    }
    // tight shortlist: the sharded per-shard budget reranks a SUPERSET —
    // recall vs the exact top-5 can only meet or beat the single index
    val exact = Embeddings.cosineTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(f: (Long, Array[Float]) => Seq[LocalAnn.Hit]): Double =
      qs.flatMap { case (qid, v) => f(qid, v).map(h => (qid, h.neighborId)) }
        .count(exact.contains).toDouble / exact.size
    val rSingle = recall(LocalAnn.search(all, _, _, 6, 5))
    val rSharded = recall(LocalAnn.searchSharded(Seq(s0, s1), _, _, 6, 5))
    assert(rSharded >= rSingle,
      s"sharded recall $rSharded must meet or beat single-index $rSingle")
    // HTTP: the group serves under ONE name, fans out, reports shards
    val server = HttpApi.start(annShards = Seq(("pq", Seq(s0, s1))))
    try {
      val req = mapper.createObjectNode()
      req.put("query_id", 0L)
      val arr = req.putArray("embedding"); q0.foreach(arr.add)
      req.put("shortlist", 200); req.put("top_k", 5)
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            mapper.writeValueAsString(req))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val o = mapper.readTree(r.body())
      assert(o.path("shards").asInt == 2)
      val got = (0 until o.path("results").size()).map(i =>
        (o.path("results").get(i).path("neighbor_id").asLong,
          java.lang.Double.doubleToLongBits(
            o.path("results").get(i).path("sim").asDouble)))
      val want = LocalAnn.searchSharded(Seq(s0, s1), 0L, q0, 200, 5)
        .map(h => (h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
      assert(got == want)
      // /models reports the group size as the shard sum
      val inv = mapper.readTree(client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(inv.path("models").path("pq").path("size").asInt == 160)
      assert(inv.path("models").path("pq").path("shards").asInt == 2)
    } finally server.stop()
    // a mixed-family group must fail at startup, not per request
    val ivf = Ivf.build(corpus, "vec_id", "embedding", nLists = 4)
    ModelRegistry.registerIvf(spark, root, "ivf", ivf)
    val ivfIdx = LocalAnn.load(spark, root, "ivf")
    intercept[IllegalArgumentException] {
      HttpApi.start(annShards = Seq(("bad", Seq(s0, ivfIdx))))
    }
  }

  test("sq8 family (round 17): LocalAnn.search is bit-identical to " +
    "Sq.searchReranked over the registered artifact; attrs and filters " +
    "compose; /models reports kind ann_sq8") {
    val qz = graft.operators.Sq.train(corpus, "embedding", dim = 4)
    val enc = graft.operators.Sq.encode(
      corpus.select("vec_id", "embedding"), "embedding", qz)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_sq").toString
    ModelRegistry.registerSq(spark, root, "sq8", qz, Some(enc))
    assert(ModelRegistry.kindOf(spark, root, "sq8") == "sq8")
    val sparkSide = rows(graft.operators.Sq.searchReranked(
      ModelRegistry.loadPqCodes(spark, root, "sq8"), "vec_id", "embedding",
      ModelRegistry.loadSq(spark, root, "sq8"), queries, "vec_id", "embedding",
      shortlist = 20, topK = 5, dropSelf = true))
    val idx = LocalAnn.load(spark, root, "sq8")
    assert(idx.family == "sq8" && idx.codec.isInstanceOf[LocalAnn.Codec.Sq8] && idx.size == 160)
    assert(hitsOf(idx, 20, 5) == sparkSide)
    // exhaustive shortlist ≡ brute force (the searchReranked contract,
    // carried over the serving mirror)
    val brute = Embeddings.cosineTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 5)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    assert(hitsOf(idx, 200, 5) == brute)
    // /models reports the family
    val server = HttpApi.start(annModel = Some(("sq8", idx)))
    try {
      val inv = mapper.readTree(client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(inv.path("models").path("sq8").path("kind").asText == "ann_sq8")
    } finally server.stop()
  }

  test("attribute-filtered search (round 17): pre-filter semantics bit-equal " +
    "the Spark filtered search; exhaustive shortlist equals filtered brute " +
    "force; unknown attr and bad filter shapes are request errors") {
    val labeled = corpus.withColumn("label", (col("vec_id") % 4).cast("int"))
    val cb = Pq.train(labeled, "vec_id", "embedding", m = 2, k = 8)
    val enc = Pq.encode(
      labeled.select("vec_id", "embedding", "label"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_filt").toString
    ModelRegistry.registerPq(spark, root, "pq", cb, Some(enc))
    val idx = LocalAnn.load(spark, root, "pq", attrCols = Seq("label"))
    assert(idx.attrs.keySet == Set("label"))
    val allow = Map("label" -> Set(1L, 3L))
    // parity: LocalAnn filtered search == Spark searchRerankedFiltered
    val sparkSide = rows(Pq.searchRerankedFiltered(
      ModelRegistry.loadPqCodes(spark, root, "pq"), col("label").isin(1, 3),
      "vec_id", "embedding", ModelRegistry.loadPq(spark, root, "pq"),
      queries, "vec_id", "embedding", shortlist = 200, topK = 5,
      dropSelf = true))
    val qs = queries.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
    val localSide = qs.flatMap { case (qid, v) =>
      LocalAnn.search(idx, qid, v, 200, 5, dropSelf = true, allow = allow)
        .map(h => (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(localSide == sparkSide)
    // pre-filter semantics: only allowed labels surface, and the result
    // is the top-5 OF THE FILTERED CORPUS (≡ filtered brute force at an
    // exhaustive shortlist), not a filtered unfiltered-top-5
    assert(localSide.nonEmpty &&
      localSide.forall { case (_, nid, _) => nid % 4 == 1 || nid % 4 == 3 })
    val bruteFiltered = Embeddings.cosineTopK(queries,
        labeled.filter(col("label").isin(1, 3)), "vec_id", "vec_id",
        "embedding", k = 5)
      .orderBy("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    assert(localSide == bruteFiltered)
    // an empty allowed set is a legal constraint matching nothing
    assert(LocalAnn.search(idx, 0L, Array(1f, 0.05f, 0.05f, 0.05f), 200, 5,
      allow = Map("label" -> Set.empty[Long])).isEmpty)
    // a typo'd attr is an error, never an empty result
    intercept[IllegalArgumentException] {
      LocalAnn.search(idx, 0L, Array(1f, 0.05f, 0.05f, 0.05f), 200, 5,
        allow = Map("labl" -> Set(1L)))
    }
    // HTTP: the filter rides the request; bad shapes are 422s; /models
    // advertises the filterable attrs
    val server = HttpApi.start(annModel = Some(("pq", idx)))
    def post(body: String) = {
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), mapper.readTree(r.body()))
    }
    try {
      val v0 = qs.find(_._1 == 0L).get._2
      val ok = post(s"""{"query_id":0,"embedding":[${v0.mkString(",")}],""" +
        """"shortlist":200,"top_k":5,"filter":{"label":[1,3]}}""")
      assert(ok._1 == 200)
      val got = (0 until ok._2.path("results").size()).map(i =>
        (0L, ok._2.path("results").get(i).path("neighbor_id").asLong,
          java.lang.Double.doubleToLongBits(
            ok._2.path("results").get(i).path("sim").asDouble)))
        .sortBy(_._2)
      assert(got == localSide.filter(_._1 == 0L))
      assert(post("""{"embedding":[1,0,0,0],"filter":{"nope":[1]}}""")._1 == 422)
      assert(post("""{"embedding":[1,0,0,0],"filter":{"label":1}}""")._1 == 422)
      assert(post("""{"embedding":[1,0,0,0],"filter":{"label":[1.5]}}""")._1 == 422)
      assert(post("""{"embedding":[1,0,0,0],"filter":[1]}""")._1 == 422)
      val inv = mapper.readTree(client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      val attrs = inv.path("models").path("pq").path("attrs")
      assert(attrs.isArray && attrs.size() == 1 && attrs.get(0).asText == "label")
    } finally server.stop()
    // load-time contract: a missing attr column fails with registry
    // context; a non-integral attr column is rejected
    intercept[IllegalArgumentException] {
      LocalAnn.load(spark, root, "pq", attrCols = Seq("absent"))
    }
  }

  test("fleet router (round 18): scatter-gather over real upstream " +
    "servers is bit-identical to in-process searchSharded; upstream " +
    "errors propagate; /models lists the route") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val encAll = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_route").toString
    ModelRegistry.registerPq(spark, root, "s0", cb,
      Some(encAll.filter($"vec_id" % 2 === 0)))
    ModelRegistry.registerPq(spark, root, "s1", cb,
      Some(encAll.filter($"vec_id" % 2 === 1)))
    val s0 = LocalAnn.load(spark, root, "s0")
    val s1 = LocalAnn.load(spark, root, "s1")
    val up0 = HttpApi.start(annModel = Some(("pq", s0)))
    val up1 = HttpApi.start(annModel = Some(("pq", s1)))
    val router = HttpApi.start(annRoutes = Seq(("pq", Seq(up0.port, up1.port))))
    try {
      val qs = queries.collect().map(r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
      for (shortlist <- Seq(10, 200)) {
        val routed = HttpApi.annSearchAt(router.port,
          qs.map { case (qid, v) => ("pq", qid, v, shortlist) }, topK = 5)
          .flatMap { o =>
            assert(o.path("shards").asInt == 2)
            assert(o.path("model_used").asText == "pq")
            val rs = o.path("results")
            (0 until rs.size()).map(i => (o.path("query_id").asLong,
              rs.get(i).path("neighbor_id").asLong,
              java.lang.Double.doubleToLongBits(rs.get(i).path("sim").asDouble)))
          }
        val local = qs.flatMap { case (qid, v) =>
          LocalAnn.searchSharded(Seq(s0, s1), qid, v, shortlist, 5)
            .map(h => (qid, h.neighborId,
              java.lang.Double.doubleToLongBits(h.sim)))
        }
        assert(routed == local,
          s"router must mirror in-process sharded search at shortlist=$shortlist")
      }
      // upstream 422 (bad dim) propagates with its code, not as a 502
      val bad = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${router.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"model":"pq","embedding":[1,0]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode == 422, s"got ${bad.statusCode}: ${bad.body}")
      // a dead upstream fails the whole request loudly (502), never a
      // silent partial merge
      val deadUp = HttpApi.start(annModel = Some(("pq", s0)))
      deadUp.stop()
      val half = HttpApi.start(annRoutes = Seq(("pq", Seq(up0.port, deadUp.port))))
      try {
        val r = client.send(
          HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${half.port}/ann/search"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(
              """{"model":"pq","embedding":[1,0,0,0]}"""))
            .build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 502, s"got ${r.statusCode}: ${r.body}")
      } finally half.stop()
      // /models lists the route as a logical index
      val inv = mapper.readTree(client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${router.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(inv.path("models").path("pq").path("kind").asText == "ann_route")
      assert(inv.path("models").path("pq").path("upstreams").asInt == 2)
      // duplicate logical names across local indexes and routes refuse
      // to start
      intercept[IllegalArgumentException] {
        HttpApi.start(annModel = Some(("pq", s0)),
          annRoutes = Seq(("pq", Seq(up0.port))))
      }
      // total_loaded counts routes alongside local indexes (r18 advice)
      assert(inv.path("total_loaded").asInt == 1)
    } finally { router.stop(); up0.stop(); up1.stop() }
  }

  test("ANN deletion (round 19, FAISS remove_ids): registry tombstones " +
    "are respected by every family's search — exhaustive masked results " +
    "equal brute force over the SURVIVING corpus; deletes are idempotent; " +
    "deleted ids never surface; /models reports the mask") {
    // delete exactly the ids that WOULD have been top hits: each
    // query's exact top-1 neighbor (post-filtering an unfiltered top-k
    // would lose these — the mask must act in the candidate scan)
    val top1 = Embeddings.cosineTopK(queries, corpus, "vec_id", "vec_id",
        "embedding", k = 1)
      .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(top1.nonEmpty)
    val survivors = corpus.filter(!$"vec_id".isin(top1: _*))
    val expected = rows(Embeddings.cosineTopK(queries, survivors,
      "vec_id", "vec_id", "embedding", k = 5))

    val enc = { // shared PQ substrate for the pq arm
      val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
      (cb, Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb))
    }
    val sq = graft.operators.Sq.train(corpus, "embedding", dim = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_del").toString
    ModelRegistry.registerPq(spark, root, "dpq", enc._1, Some(enc._2))
    ModelRegistry.registerSq(spark, root, "dsq", sq,
      Some(graft.operators.Sq.encode(corpus.select("vec_id", "embedding"),
        "embedding", sq)))
    ModelRegistry.registerIvf(spark, root, "divf",
      Ivf.build(corpus, "vec_id", "embedding", nLists = 8))
    ModelRegistry.registerHnsw(spark, root, "dhnsw",
      graft.operators.Hnsw.fromDataFrame(corpus, "vec_id", "embedding",
        m = 8, efConstruction = 64, heuristic = true))
    val rotD = Opq.trainRotation(corpus, "embedding", dim = 4, m = 2)
    val er = Opq.rotate(corpus, "vec_id", "embedding", rotD)
    val cbR = Pq.train(er, "vec_id", "embedding", m = 2, k = 8)
    ModelRegistry.registerOpq(spark, root, "dopq", rotD, Some(cbR),
      Some(Pq.encode(er, "embedding", cbR)))

    for (name <- Seq("dpq", "dsq", "divf", "dhnsw", "dopq")) {
      // pre-delete sanity: the planted ids DO surface without the mask
      val before = hitsOf(LocalAnn.load(spark, root, name), 160, 5)
      assert(before.exists(t => top1.contains(t._2)),
        s"$name: planted ids never surfaced — the deletion proves nothing")
      ModelRegistry.deleteIds(spark, root, name, top1)
      ModelRegistry.deleteIds(spark, root, name, top1 :+ 99999L) // idempotent + unknown-id no-op
      val idx = LocalAnn.load(spark, root, name)
      assert(idx.deletedCount == top1.size, s"$name deletedCount")
      val got = hitsOf(idx, 160, 5)
      assert(got.forall(t => !top1.contains(t._2)),
        s"$name surfaced a deleted id")
      assert(got == expected,
        s"$name masked exhaustive search != brute force over survivors")
    }

    // batch-path twin (round 19): filterDeleted feeds the SPARK search
    // the surviving corpus — exhaustive searchReranked over the
    // filtered codes equals brute force over survivors, same as the
    // serving mask
    val fdCodes = ModelRegistry.filterDeleted(spark,
      ModelRegistry.loadPqCodes(spark, root, "dpq"), "vec_id", root, "dpq")
    assert(fdCodes.filter($"vec_id".isin(top1: _*)).isEmpty)
    val batchRows = rows(Pq.searchReranked(fdCodes, "vec_id", "embedding",
      ModelRegistry.loadPq(spark, root, "dpq"), queries, "vec_id",
      "embedding", shortlist = 160, topK = 5, dropSelf = true))
    assert(batchRows == expected,
      "batch-path filterDeleted search != brute force over survivors")
    // an artifact version without tombstones passes through unjoined
    ModelRegistry.registerPq(spark, root, "dpq", enc._1, Some(enc._2))
    val clean = corpus
    assert(ModelRegistry.filterDeleted(spark, clean, "vec_id", root,
      "dpq") eq clean)

    // served-over-HTTP arm: the masked index behind /ann/search + /models
    val idx = LocalAnn.load(spark, root, "dsq")
    val server = HttpApi.start(annModel = Some(("dsq", idx)))
    try {
      val qs = queries.collect().map(r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
      val served = HttpApi.annSearchAt(server.port,
        qs.map { case (qid, v) => ("dsq", qid, v, 160) }, topK = 5)
        .flatMap { o =>
          val rs = o.path("results")
          (0 until rs.size()).map(i => (o.path("query_id").asLong,
            rs.get(i).path("neighbor_id").asLong,
            java.lang.Double.doubleToLongBits(rs.get(i).path("sim").asDouble)))
        }.sortBy(t => (t._1, t._2)).toSeq
      assert(served == expected)
      val inv = mapper.readTree(client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${server.port}/models")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      assert(inv.path("models").path("dsq").path("deleted").asInt == top1.size)
    } finally server.stop()
  }

  test("fleet router (round 19): a HUNG upstream trips the per-upstream " +
    "timeout as a loud 504 within ~budget — never a partial merge; a " +
    "route listing the router's own port refuses to start") {
    // a STALLING upstream: accepts the connection, answers only after
    // waiting far past the router's budget (a dead upstream would fail
    // fast with connect-refused → 502; the hang is the case the timeout
    // exists for). Latch, not Thread.sleep: HttpServer.stop joins the
    // dispatcher thread, so a sleeping handler would make teardown wait
    // out the whole fake hang.
    val release = new java.util.concurrent.CountDownLatch(1)
    val stall = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    stall.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      release.await(10, java.util.concurrent.TimeUnit.SECONDS)
      try {
        val b = """{"results":[]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      } catch { case _: Exception => () } // torn-down exchange
    })
    stall.start()
    val router = HttpApi.start(
      annRoutes = Seq(("pq", Seq(stall.getAddress.getPort))),
      routeTimeoutMs = 300L)
    try {
      val t0 = System.nanoTime()
      val r = client.send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${router.port}/ann/search"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"model":"pq","embedding":[1,0,0,0]}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(r.statusCode == 504, s"got ${r.statusCode}: ${r.body}")
      assert(mapper.readTree(r.body).path("detail").asText.contains("timed out"))
      // within ~budget: generous ceiling for CI jitter, but nowhere near
      // the upstream's 10 s hang (i.e. the router did NOT wait it out)
      assert(elapsedMs < 5000, s"504 took ${elapsedMs} ms — budget not applied")
    } finally { router.stop(); release.countDown(); stall.stop(0) }
    // self-cycle: reserve a concrete port, then route to it from itself.
    // The probe socket can take a beat to release, so retry BindException
    // (the race is the test harness's, not the contract's).
    val probe = new java.net.ServerSocket(0, 0,
      java.net.InetAddress.getByName("127.0.0.1"))
    val p = probe.getLocalPort
    probe.close()
    def startSelfRoute(): HttpApi.Server =
      HttpApi.start(port = p, annRoutes = Seq(("pq", Seq(p))))
    var selfRouteErr: Option[Throwable] = None
    var attempts = 0
    while (selfRouteErr.isEmpty && attempts < 40) {
      try { val s = startSelfRoute(); s.stop(); fail("self-route started") }
      catch {
        case _: java.net.BindException => attempts += 1; Thread.sleep(50)
        case e: IllegalArgumentException => selfRouteErr = Some(e)
      }
    }
    assert(selfRouteErr.exists(_.getMessage.contains("own port")),
      s"expected the self-route IllegalArgumentException, got $selfRouteErr")
    // ...and the failed startup released the socket (no leak): the port
    // can be bound again immediately
    HttpApi.start(port = p).stop()
    // a zero/negative budget is a startup error, not a silent no-timeout
    intercept[IllegalArgumentException] {
      HttpApi.start(annRoutes = Seq(("pq", Seq(1))), routeTimeoutMs = 0L)
    }
  }

  test("hedged replicas (round 20): a dead or HUNG primary fails over to " +
    "its shard replica with answers bit-unchanged; the loud 502 fires only " +
    "when a whole replica set is down; healthy fleets never hedge") {
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 2, k = 8)
    val encAll = Pq.encode(corpus.select("vec_id", "embedding"), "embedding", cb)
    val root = java.nio.file.Files.createTempDirectory("graft_lann_hedge").toString
    ModelRegistry.registerPq(spark, root, "s0", cb,
      Some(encAll.filter($"vec_id" % 2 === 0)))
    ModelRegistry.registerPq(spark, root, "s1", cb,
      Some(encAll.filter($"vec_id" % 2 === 1)))
    val s0 = LocalAnn.load(spark, root, "s0")
    val s1 = LocalAnn.load(spark, root, "s1")
    // replicas of a shard serve the SAME artifact — that is the whole
    // reason hedging cannot change an answer
    val up0  = HttpApi.start(annModel = Some(("pq", s0)))
    val up1a = HttpApi.start(annModel = Some(("pq", s1)))
    val up1b = HttpApi.start(annModel = Some(("pq", s1)))
    val qs = queries.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
    val expected = qs.flatMap { case (qid, v) =>
      LocalAnn.searchSharded(Seq(s0, s1), qid, v, 200, 5)
        .map(h => (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
    }
    def routedHits(port: Int): (Seq[(Long, Long, Long)], Seq[Int]) = {
      val os = HttpApi.annSearchAt(port,
        qs.map { case (qid, v) => ("pq", qid, v, 200) }, topK = 5)
      (os.flatMap { o =>
        val rs = o.path("results")
        (0 until rs.size()).map(i => (o.path("query_id").asLong,
          rs.get(i).path("neighbor_id").asLong,
          java.lang.Double.doubleToLongBits(rs.get(i).path("sim").asDouble)))
      }, os.map(_.path("hedged").asInt))
    }
    try {
      // healthy fleet: no failovers, answers == in-process sharded search
      val healthy = HttpApi.start(annReplicaRoutes =
        Seq(("pq", Seq(Seq(up0.port), Seq(up1a.port, up1b.port)))))
      try {
        val (hits, hedged) = routedHits(healthy.port)
        assert(hits == expected)
        assert(hedged.forall(_ == 0), s"healthy fleet hedged: $hedged")
      } finally healthy.stop()
      // DEAD primary on shard 1: every request hedges exactly once to
      // the live replica — bit-identical answers, never a 502
      val dead = HttpApi.start(annModel = Some(("pq", s1)))
      dead.stop()
      val hedgy = HttpApi.start(annReplicaRoutes =
        Seq(("pq", Seq(Seq(up0.port), Seq(dead.port, up1b.port)))))
      try {
        val (hits, hedged) = routedHits(hedgy.port)
        assert(hits == expected, "failover changed an answer")
        assert(hedged.forall(_ == 1), s"expected one failover/request: $hedged")
        // /stats counts the churn; /models shows the redundancy level
        val st = mapper.readTree(client.send(
          HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${hedgy.port}/stats")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body())
        assert(st.path("hedged_failovers").asLong == qs.size.toLong)
        val inv = mapper.readTree(client.send(
          HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${hedgy.port}/models")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body())
        assert(inv.path("models").path("pq").path("upstreams").asInt == 2)
        assert(inv.path("models").path("pq").path("replicas").asInt == 3)
      } finally hedgy.stop()
      // HUNG primary (accepts, never answers inside budget): the
      // per-attempt timeout trips, the replica answers, and the request
      // completes correctly WITHOUT waiting out the hang. Latch, not
      // Thread.sleep — HttpServer.stop joins the dispatcher thread and
      // a sleeping handler stalls teardown for the whole fake hang.
      val release2 = new java.util.concurrent.CountDownLatch(1)
      val stall = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      stall.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        release2.await(10, java.util.concurrent.TimeUnit.SECONDS)
        try {
          val b = """{"results":[]}""".getBytes("UTF-8")
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        } catch { case _: Exception => () } // torn-down exchange
      })
      stall.start()
      val hungFleet = HttpApi.start(
        annReplicaRoutes =
          Seq(("pq", Seq(Seq(up0.port), Seq(stall.getAddress.getPort, up1b.port)))),
        routeTimeoutMs = 300L)
      try {
        val t0 = System.nanoTime()
        val (hits, hedged) = routedHits(hungFleet.port)
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        assert(hits == expected, "hedge-on-timeout changed an answer")
        assert(hedged.forall(_ == 1))
        // 12 requests x ~300 ms sequential budget, generous CI ceiling —
        // but nowhere near 12 x 10 s (the router did NOT wait out hangs)
        assert(elapsedMs < 30000, s"hedged requests took ${elapsedMs} ms")
      } finally { hungFleet.stop(); release2.countDown(); stall.stop(0) }
      // the WHOLE replica set down: loud 502, never a partial merge
      val dead2 = HttpApi.start(annModel = Some(("pq", s1)))
      dead2.stop()
      val doomed = HttpApi.start(annReplicaRoutes =
        Seq(("pq", Seq(Seq(up0.port), Seq(dead.port, dead2.port)))))
      try {
        val r = client.send(
          HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${doomed.port}/ann/search"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(
              """{"model":"pq","embedding":[1,0,0,0]}"""))
            .build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 502, s"got ${r.statusCode}: ${r.body}")
      } finally doomed.stop()
      // startup validation: an empty replica set and a self-route inside
      // a replica set both refuse to start
      intercept[IllegalArgumentException] {
        HttpApi.start(annReplicaRoutes = Seq(("pq", Seq(Seq(up0.port), Seq()))))
      }
    } finally { up0.stop(); up1a.stop(); up1b.stop() }
  }

  test("a query one dimension short or long fails with IllegalArgumentException " +
    "on every family, hnsw included") {
    val dim = 4
    val rnd = new scala.util.Random(7L)
    val ids = Array.tabulate(12)(_.toLong)
    val vecs = Array.fill(12, dim)(rnd.nextGaussian().toFloat)
    val cb = Pq.Codebooks(Array.fill(2, 4, dim / 2)(rnd.nextGaussian().toFloat),
      m = 2, k = 4, dim = dim)
    val codes = Array.fill(12, 2)(rnd.nextInt(4))
    val identity = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val idxs = Seq(
      LocalAnn.Index("pq", ids, vecs, LocalAnn.Codec.Pq(cb, None, codes)),
      LocalAnn.Index("opq", ids, vecs, LocalAnn.Codec.Pq(cb, Some(identity), codes)),
      LocalAnn.Index("sq8", ids, vecs, LocalAnn.Codec.Sq8(
        Sq.Quantizer(Array.fill(dim)(-3f), Array.fill(dim)(3f)),
        Array.fill(12, dim)(rnd.nextInt(256)))),
      LocalAnn.Index("bq", ids, vecs, LocalAnn.Codec.Bq(
        Bq.Quantizer(Array.fill(64, dim)(rnd.nextGaussian()), 7L),
        Array.fill(12, 1)(rnd.nextLong()))),
      LocalAnn.Index("ivf", ids, vecs,
        LocalAnn.Codec.Ivf(vecs.take(3), Array.tabulate(12)(_ % 3))),
      LocalAnn.fromGraph("hnsw", Hnsw.build(ids.toSeq.zip(vecs), m = 3, efConstruction = 6)))
    assert(idxs.map(_.family) == Seq("pq", "opq", "sq8", "bq", "ivf", "hnsw"))
    idxs.foreach { idx =>
      assert(idx.dim == dim, idx.family)
      val q = vecs(0)
      assert(LocalAnn.search(idx, 0L, q, 12, 3).nonEmpty, idx.family)
      Seq(q.take(3), q :+ 0.5f).foreach { bad =>
        val e = intercept[IllegalArgumentException](LocalAnn.search(idx, 0L, bad, 12, 3))
        assert(e.getMessage.contains(s"query dim ${bad.length}"), idx.family)
      }
    }
  }

  test("start rejects a shard group whose shards differ in dimension") {
    val rnd = new scala.util.Random(11L)
    def graph(dim: Int) = Hnsw.build(
      (0 until 8).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))),
      m = 3, efConstruction = 6)
    val e = intercept[IllegalArgumentException] {
      HttpApi.start(annShards = Seq(("mixed",
        Seq(LocalAnn.fromGraph("mixed", graph(4)), LocalAnn.fromGraph("mixed", graph(3))))))
    }
    assert(e.getMessage.contains("mixes dims"))
  }
}
