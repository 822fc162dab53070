package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ml.LeafBoost
import graft.operators.{Hnsw, Opq, Pq}
import graft.serve.{HttpApi, LocalAnn, LocalScorer, ModelRegistry, Transaction}
import graft.sources.Tables

/** `serve`: the HTTP edge with a registry-loaded `serving` LeafBoost and
  * two ANN indexes (OPQ+PQ in the q162 shape, and HNSW), driven by a
  * closed loop of `nproc`/2 clients, each on its own keep-alive connection.
  * One pass of a fixed, seeded request list is the unit of work. */
object ServeLoad {

  private val mapper = new ObjectMapper()
  val TopK = 10
  val Shortlist = Map("ann_opq" -> 50, "ann_hnsw" -> 64)
  val BatchSize = 20
  /** Warm-up before the timed passes, so the JIT has compiled the hot
    * path; with 5 s the timed passes fell inside its settling time (see
    * README.md, Workloads). */
  val WarmupS = 15.0
  /** Closed-loop clients: half the cores, so the clients, the handler
    * threads serving them, the server's dispatcher and the JIT and GC
    * threads together do not ask for more cores than the box has. */
  def clientCount(a: Main.Args): Int = math.max(1, a.cpus / 2)
  /** Recall@10 floors against exact cosine top-10 (stated in README.md). */
  val RecallFloor = Map("ann_opq" -> 0.5, "ann_hnsw" -> 0.9)

  final case class Req(route: String, body: Array[Byte], txnIds: Seq[String],
                       index: String = "", queryId: Long = -1L) {
    /** The whole HTTP/1.1 request as sent on a keep-alive connection. */
    val wire: Array[Byte] = Conn.request("POST", route, body)
  }
  final case class Resp(status: Int, ns: Long, body: Array[Byte])

  /** A blocking HTTP/1.1 keep-alive connection: one request written, one
    * reply read, on the calling thread. The JDK `HttpClient` hands every
    * exchange between the caller, a selector thread and an executor thread;
    * with it and 4 clients on 4 cores, runs of the same code read `wall_s`
    * from 0.78 to 2.73 s. */
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

    def send(wire: Array[Byte]): (Int, Array[Byte]) = {
      out.write(wire)
      out.flush()
      val status = line().split(' ')(1).toInt
      var len = -1
      var h = line()
      while (h.nonEmpty) {
        val c = h.indexOf(':')
        if (c > 0 && h.substring(0, c).trim.equalsIgnoreCase("content-length"))
          len = h.substring(c + 1).trim.toInt
        h = line()
      }
      require(len >= 0, s"reply without Content-Length (status $status)")
      (status, in.readNBytes(len))
    }

    private def line(): String = {
      val b = new ByteArrayOutputStream(64)
      var c = in.read()
      while (c != '\n') {
        require(c >= 0, "connection closed by the server")
        if (c != '\r') b.write(c)
        c = in.read()
      }
      b.toString(US_ASCII)
    }

    def close(): Unit = sock.close()
  }

  object Conn {
    def request(method: String, path: String, body: Array[Byte]): Array[Byte] =
      (s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(US_ASCII) ++ body
  }

  final case class Served(server: HttpApi.Server, model: LeafBoost.Model,
                          indexes: Map[String, LocalAnn.Index])

  /** Fit, build, register, load and start, the way `graft.Serve.build`
    * brings a registry up, plus the two ANN indexes. */
  def setUp(spark: SparkSession, a: Main.Args, reg: String, t: Trace.Timers): Served = {
    val model = t.time("ml.serving_fit_s") {
      val trainDf = Tables.events(spark, a.data).filter(col("value") > 0)
        .orderBy("event_id").limit(500)
        .select(servingCols :+ ((col("value") * 20.0) > 1000.0).cast("double").as("label") :+
          lit(1.0).as("weight"): _*)
      LeafBoost.train(trainDf, None, "event_id", LocalScorer.servingFeatureNames,
        "label", "weight", LeafBoost.Params(numTrees = 8, numLeaves = 8, learningRate = 0.2))
    }
    val (rot, cb, codes, graph) = t.time("operators.ann_build_s") {
      val e = Tables.embeddings(spark, a.data)
      val rot = Opq.trainRotation(e, "embedding", dim = 64, m = 8)
      val er = Opq.rotate(e, "vec_id", "embedding", rot)
      val cb = Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
      (rot, cb, Pq.encode(er.select("vec_id", "embedding"), "embedding", cb),
        Hnsw.fromDataFrame(e, "vec_id", "embedding", m = 16, efConstruction = 100))
    }
    t.time("serve.registry_write_s") {
      ModelRegistry.registerLeafBoost(spark, reg, "serving", model)
      ModelRegistry.registerOpq(spark, reg, "ann_opq", rot, Some(cb), Some(codes))
      ModelRegistry.registerHnsw(spark, reg, "ann_hnsw", graph)
    }
    val (inventory, loaded, indexes) = t.time("serve.registry_load_s") {
      require(ModelRegistry.kindOf(spark, reg, "serving") == "leafboost")
      val m = ModelRegistry.loadLeafBoost(spark, reg, "serving")
      require(LocalScorer.servable(m), "registered serving model is not servable")
      (HttpApi.registryInventory(spark, reg), m,
        Seq("ann_opq", "ann_hnsw").map(n => n -> LocalAnn.load(spark, reg, n)).toMap)
    }
    val server = t.time("serve.start_s") {
      HttpApi.start(port = 0, inventory = inventory,
        model = Some(("LEAFBOOST", LocalScorer.leafBoostHook(loaded))),
        annModels = indexes.toSeq.sortBy(_._1))
    }
    Served(server, loaded, indexes)
  }

  /** Serving features of an events row, as the q137 mapping defines them. */
  private def servingCols = Seq(
    col("event_id"),
    (col("value") * 20.0).as("amount"),
    hour(col("ts")).cast("double").as("hour_of_day"),
    (col("event_type") === "error").cast("double").as("device_missing"),
    (col("event_type") === "signup").cast("double").as("unusual_product"))

  private def txnJson(t: Transaction): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("transaction_id", t.transaction_id)
    o.put("user_id", t.user_id)
    o.put("transaction_amount", t.transaction_amount)
    o.put("merchant_id", t.merchant_id)
    o.put("product_code", t.product_code)
    t.device_info.foreach(o.put("device_info", _))
    o.put("transaction_timestamp", t.transaction_timestamp.toInstant.toString)
    o
  }

  /** The seeded request list of one pass: each route gets an equal share.
    * Per block of six: /score, /score/batch of [[BatchSize]], /ann/search
    * on the OPQ+PQ index, then the same three with the HNSW index. */
  def requests(n: Int, seed: Long, txns: IndexedSeq[Transaction],
               corpus: IndexedSeq[(Long, Array[Float])]): IndexedSeq[Req] = {
    require(n % 6 == 0, s"requests per pass must be a multiple of 6, got $n")
    val rnd = new scala.util.Random(seed)
    def txn() = txns(rnd.nextInt(txns.length))
    (0 until n).map { i =>
      i % 3 match {
        case 0 =>
          val t = txn()
          Req("/score", mapper.writeValueAsBytes(txnJson(t)), Seq(t.transaction_id))
        case 1 =>
          val ts = Seq.fill(BatchSize)(txn())
          val o = mapper.createObjectNode()
          val arr = o.putArray("transactions")
          ts.foreach(t => arr.add(txnJson(t)))
          Req("/score/batch", mapper.writeValueAsBytes(o), ts.map(_.transaction_id))
        case _ =>
          val index = if (i % 6 == 2) "ann_opq" else "ann_hnsw"
          val (qid, v) = corpus(rnd.nextInt(corpus.length))
          val o = mapper.createObjectNode()
          o.put("model", index)
          o.put("query_id", qid)
          val arr = o.putArray("embedding")
          v.foreach(arr.add)
          o.put("shortlist", Shortlist(index))
          o.put("top_k", TopK)
          o.put("drop_self", true)
          Req("/ann/search", mapper.writeValueAsBytes(o), Nil, index, qid)
      }
    }
  }

  /** One closed-loop pass: client c sends requests c, c+C, c+2C, ... in
    * order, each after the previous reply. Returns wall ns and replies. */
  def pass(reqs: IndexedSeq[Req], clients: Seq[Conn],
           pool: java.util.concurrent.ExecutorService): (Long, Array[Resp]) = {
    val out = new Array[Resp](reqs.length)
    val c = clients.length
    val t0 = System.nanoTime()
    val fs = clients.indices.map { ci =>
      pool.submit(new Callable[Unit] {
        def call(): Unit = {
          var i = ci
          while (i < reqs.length) {
            val s = System.nanoTime()
            val (status, body) = clients(ci).send(reqs(i).wire)
            out(i) = Resp(status, System.nanoTime() - s, body)
            i += c
          }
        }
      })
    }
    fs.foreach(_.get())
    (System.nanoTime() - t0, out)
  }

  /** Reference `/score` arithmetic, written out here: sigmoid base, capped
    * rule bumps, 0.4·model + 0.6·heuristic clipped to [0, 1], buckets at
    * 0.2/0.4/0.6/0.8. Returns the 4-decimal score and the level. */
  def expected(amt: Double, hour: Int, deviceMissing: Boolean, unusual: Boolean,
               p: Double): (Double, String) = {
    var h = 1.0 / (1.0 + math.exp(-0.003 * (amt - 500.0)))
    if (amt > 5000) h = math.min(h + 0.15, 0.95)
    else if (amt > 1000) h = math.min(h + 0.08, 0.85)
    if (deviceMissing) h = math.min(h + 0.05, 0.95)
    if (unusual) h = math.min(h + 0.05, 0.95)
    if (hour < 5 || hour > 23) h = math.min(h + 0.07, 0.95)
    val s = math.min(1.0, math.max(0.0, p * 0.4 + h * 0.6))
    val level = if (s < 0.2) "MINIMAL" else if (s < 0.4) "LOW" else if (s < 0.6) "MEDIUM"
      else if (s < 0.8) "HIGH" else "CRITICAL"
    (math.rint(s * 1e4) / 1e4, level)
  }

  /** Exact cosine top-k of `q` over the corpus, excluding `self`. */
  def exactTopK(q: Array[Float], self: Long, corpus: IndexedSeq[(Long, Array[Float])],
                k: Int): Set[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    corpus.iterator.filter(_._1 != self).map { case (id, v) =>
      var d = 0.0
      var j = 0
      while (j < v.length) { d += q(j).toDouble * v(j); j += 1 }
      (-(d / (qn * norm(v))), id)
    }.toSeq.sorted.take(k).map(_._2).toSet
  }

  def run(a: Main.Args): Main.Result = {
    val timers = new Trace.Timers
    var served: Served = null
    var round = 0
    var setupLayers: Seq[(String, Double)] = Nil
    val setups = Main.setupRounds(a, 3) { spark =>
      if (served != null) served.server.stop()
      round += 1
      val counters = if (a.trace) Some(Trace.attach(spark.sparkContext)) else None
      val before = counters.map(Trace.snap(spark.sparkContext, _))
      served = setUp(spark, a, s"${a.work}/registry_$round", timers)
      for (b <- before; c <- counters)
        setupLayers = Trace.layerMetrics(b, Trace.snap(spark.sparkContext, c), 1)
    }
    val spark = SparkSession.active

    // inputs: transactions from the seeded events, queries from the corpus
    val txns = Tables.events(spark, a.data).filter(col("value") > 0)
      .select("event_id", "value", "ts", "event_type", "user_id").collect()
      .map { r =>
        val etype = r.getString(3)
        Transaction(transaction_id = r.getLong(0).toString, user_id = s"U${r.getLong(4)}",
          transaction_amount = r.getDouble(1) * 20.0, merchant_id = "M",
          product_code = if (etype == "signup") "Z" else "W",
          device_info = if (etype == "error") None else Some("dev"),
          transaction_timestamp = r.getTimestamp(2))
      }.toIndexedSeq
    val corpus = Tables.embeddings(spark, a.data).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
      .toIndexedSeq.sortBy(_._1)
    val reqs = requests(a.size.toInt, a.seed, txns, corpus)

    // expected outputs, computed before any request is sent
    val byId = txns.map(t => t.transaction_id -> t).toMap
    val want = expectedScores(spark, served.model, reqs.flatMap(_.txnIds).distinct.map(byId))
    val vecOf = corpus.toMap
    val truth = reqs.filter(_.route == "/ann/search").map(_.queryId).distinct
      .map(q => q -> exactTopK(vecOf(q), q, corpus, TopK)).toMap

    // ---- output check of one pass's replies
    var wrong = 0L
    val notes = ArrayBuffer[String]()
    val hits = scala.collection.mutable.Map[String, (Double, Int)]().withDefaultValue((0.0, 0))
    val byRouteStatus = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    def scoreOk(n: JsonNode): Boolean = {
      val (s, lvl) = want(n.path("transaction_id").asText)
      n.path("fraud_score").asDouble == s && n.path("risk_level").asText == lvl
    }
    def check(rs: Array[Resp]): Unit = reqs.indices.foreach { i =>
      val r = reqs(i)
      val resp = rs(i)
      byRouteStatus(s"requests${r.route}.${resp.status}") += 1
      val ok = resp.status == 200 && {
        val res = mapper.readTree(resp.body)
        r.route match {
          case "/score" => scoreOk(res)
          case "/score/batch" =>
            val rows = res.path("results")
            rows.size == r.txnIds.size && (0 until rows.size).forall(j => scoreOk(rows.get(j)))
          case _ =>
            val rows = res.path("results")
            val got = (0 until rows.size).map(j => rows.get(j).path("neighbor_id").asLong).toSet
            val (h, n) = hits(r.index)
            hits(r.index) = (h + (got & truth(r.queryId)).size.toDouble / TopK, n + 1)
            rows.size == TopK
        }
      }
      if (!ok) {
        wrong += 1
        if (notes.size < 5) notes += s"${r.route} status ${resp.status}: ${new String(resp.body).take(200)}"
      }
    }

    val pool = Executors.newFixedThreadPool(clientCount(a))
    val port = served.server.port
    val clients = (1 to clientCount(a)).map(_ => new Conn(port))
    // /stats total_predictions must grow by the transactions a pass scores,
    // single and batch; it is read after every pass, outside the timed window
    val txnsPerPass = reqs.map(_.txnIds.size.toLong).sum
    val statsWire = Conn.request("GET", "/stats", Array.emptyByteArray)
    def predictions(): Long = {
      val (status, body) = clients.head.send(statsWire)
      byRouteStatus(s"requests/stats.$status") += 1
      if (status == 200) mapper.readTree(body).path("total_predictions").asLong else -1L
    }
    var lastCount = predictions()
    val statsGrowth = ArrayBuffer[Long]()
    def readStats(): Unit = {
      val c = predictions()
      statsGrowth += c - lastCount
      lastCount = c
    }
    try {
      // warm-up: passes for WarmupS, so the JIT has compiled the hot path
      val replies = ArrayBuffer[Array[Resp]]()
      val warmNs = ArrayBuffer[Long]()
      val warmUntil = System.nanoTime() + (WarmupS * 1e9).toLong
      do {
        val (ns, rs) = pass(reqs, clients, pool)
        warmNs += ns
        replies += rs
        readStats()
      } while (System.nanoTime() < warmUntil)
      val warmups = replies.size
      val passes = ArrayBuffer[(Double, Double)]()
      val (jit0, gc0) = (Trace.jitMs, Trace.gcMs)
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      do {
        val c0 = Trace.processCpuNs
        val (ns, rs) = pass(reqs, clients, pool)
        passes += ((ns / 1e9, (Trace.processCpuNs - c0) / 1e9))
        replies += rs
        readStats()
      } while (System.nanoTime() < deadline)
      val (jitS, gcS) = ((Trace.jitMs - jit0) / 1e3, (Trace.gcMs - gc0) / 1e3)
      val rss = Trace.peakRssMb
      val latMs = reqs.indices.map(i => replies.drop(warmups).map(_(i).ns / 1e6))
      def lat(route: String): Seq[Double] =
        reqs.indices.filter(reqs(_).route == route).flatMap(latMs)
      val scoreMs = lat("/score")
      val batchRespBytes = reqs.indices.filter(reqs(_).route == "/score/batch")
        .map(replies(warmups)(_).body.length.toDouble)

      // ---- output check, outside the timed window; the server's heap is
      // read once the replies are checked and dropped
      replies.foreach(check)
      val sent = replies.size
      replies.clear()
      val e2e = Seq(
        "setup_s" -> Stats.median(setups),
        "wall_s" -> Stats.median(passes.map(_._1).toSeq),
        "cpu_s" -> Stats.median(passes.map(_._2).toSeq),
        "live_heap_mb" -> Trace.liveHeapMb,
        "p50_ms" -> Stats.median(scoreMs))
      // a pass whose /stats growth is off is one failed operation; while the
      // server also counts every /ann/search as a prediction, every pass
      // fails this check by the same amount
      val statsBad = statsGrowth.count(_ != txnsPerPass)
      if (statsBad > 0) notes += s"/stats total_predictions grew by " +
        s"${statsGrowth.distinct.sorted.mkString("/")} per pass, not by the $txnsPerPass " +
        s"transactions scored ($statsBad of ${statsGrowth.size} passes)"
      val recall = hits.map { case (ix, (h, n)) => ix -> h / n }.toMap
      val recallOk = RecallFloor.forall { case (ix, f) => recall.getOrElse(ix, 0.0) >= f }
      if (!recallOk) notes += s"recall@$TopK below floor: $recall"

      val routes = Seq("/score" -> "score", "/score/batch" -> "batch", "/ann/search" -> "ann")
      val detail = Seq("passes" -> passes.size.toDouble, "warmup_passes" -> warmups.toDouble,
          "requests_per_pass" -> reqs.size.toDouble,
          "jit_s_in_passes" -> jitS, "gc_s_in_passes" -> gcS, "peak_rss_mb" -> rss,
          "req_per_s" -> reqs.size / Stats.median(passes.map(_._1).toSeq)) ++
        setups.zipWithIndex.map { case (s, i) => s"setup_round_${i + 1}_s" -> s } ++
        warmNs.zipWithIndex.map { case (ns, i) => s"warmup_pass_${i + 1}_s" -> ns / 1e9 } ++
        passes.zipWithIndex.map { case (p, i) => s"pass_${i + 1}_s" -> p._1 } ++
        routes.flatMap { case (r, n) =>
          val l = lat(r)
          Seq(s"${n}_p50_ms" -> Stats.median(l), s"${n}_p99_ms" -> Stats.percentile(l, 99),
            s"${n}_samples" -> l.size.toDouble)
        } ++ recall.toSeq.sorted.map { case (ix, r) => s"$ix.recall_at_$TopK" -> r } ++
        byRouteStatus.toSeq.sorted

      val layers = if (!a.trace) Nil else {
        val local = localTimes(served, txns, corpus, reqs)
        val batch = reqs.indices.filter(reqs(_).route == "/score/batch")
        setupLayers ++ Trace.jvmTotals ++
          Seq("ml.serving_fit_s", "operators.ann_build_s", "serve.registry_write_s",
            "serve.registry_load_s", "serve.start_s").map(n => n -> timers.medianS(n)) ++
          local.toSeq.sorted ++ Seq(
            "serve.edge_score_us" -> (Stats.median(scoreMs) * 1e3 - local("serve.local_score_us")),
            "serve.edge_ann_us" ->
              (Stats.median(lat("/ann/search")) * 1e3 - local("serve.local_ann_us")),
            "serve.req_bytes" -> batch.map(reqs(_).body.length.toDouble).sum / batch.size,
            "serve.resp_bytes" -> batchRespBytes.sum / batch.size)
      }
      Main.Result(sent.toLong * (reqs.size + 1), wrong + statsBad, wrong == 0 && recallOk, e2e,
        layers, detail, notes.toSeq)
    } finally {
      clients.foreach(_.close())
      pool.shutdown()
      served.server.stop()
    }
  }

  /** Expected (score, level) per transaction id. The model probability
    * comes from the Spark twin, `LeafBoost.score` over a DataFrame of the
    * same serving features; the rest is [[expected]]. */
  def expectedScores(spark: SparkSession, m: LeafBoost.Model,
                     ts: Seq[Transaction]): Map[String, (Double, String)] = {
    import spark.implicits._
    def hour(t: Transaction) = t.transaction_timestamp.toInstant.atZone(java.time.ZoneOffset.UTC).getHour
    val unusualOf = (t: Transaction) => !Seq("W", "H", "C", "S", "R").contains(t.product_code)
    val df = ts.map(t => (t.transaction_id, t.transaction_amount, hour(t).toDouble,
        if (t.device_info.isEmpty) 1.0 else 0.0, if (unusualOf(t)) 1.0 else 0.0))
      .toDF("id", "amount", "hour_of_day", "device_missing", "unusual_product")
    val p = LeafBoost.score(df, LocalScorer.servingFeatureNames, m, "p").select("id", "p")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ts.map(t => t.transaction_id -> expected(t.transaction_amount, hour(t),
      t.device_info.isEmpty, unusualOf(t), p(t.transaction_id))).toMap
  }

  /** In-process hot-path costs: `LocalScorer.score` with the loaded hook
    * over every request's transactions, and `LocalAnn.search` per request
    * query, each repeated, median per call in µs. */
  def localTimes(s: Served, txns: IndexedSeq[Transaction],
                 corpus: IndexedSeq[(Long, Array[Float])],
                 reqs: IndexedSeq[Req]): Map[String, Double] = {
    val hook = Some(LocalScorer.leafBoostHook(s.model))
    val byId = txns.map(t => t.transaction_id -> t).toMap
    val score = reqs.filter(_.route == "/score").map(r => byId(r.txnIds.head))
    val vec = corpus.toMap
    val ann = reqs.filter(_.route == "/ann/search")
    def med(reps: Int)(f: => Unit): Double = {
      val xs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
      }
      Stats.median(xs)
    }
    Map(
      "serve.local_score_us" -> Stats.median(score.map(t => med(5)(LocalScorer.score(t, hook)))),
      "serve.local_ann_us" -> Stats.median(ann.map(r => med(3)(LocalAnn.search(s.indexes(r.index),
        r.queryId, vec(r.queryId), Shortlist(r.index), TopK)))))
  }
}
