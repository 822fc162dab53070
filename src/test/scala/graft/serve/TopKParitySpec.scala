package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bq, Hnsw, Pq, Sq, TopK}
import LocalAnn.{Codec, Hit, Index}
import TopKParitySpec.{Case, Problem}

/** The bounded top-k selection behind every driver-local ANN search
  * ([[TopK]]: LocalAnn's shortlists, reranks and ivf probes, the HNSW
  * beam) against the code it replaced — `sortBy(key).take(k)` over
  * boxed candidates and the `TreeSet` beam — kept here as oracles. On
  * random indexes with forced ties (duplicate vectors and codes), NaN
  * keys, ±0.0, zero-norm rows, tombstones, attribute filters and
  * shortlists of 1, n and above n, every family must return the same
  * hits in the same order with the same sim bits, and HNSW builds must
  * keep the links the TreeSet beam built. */
class TopKParitySpec extends AnyFunSuite {

  /** Deterministic ScalaCheck sampling (PropertySpec's convention: no
    * scalatest bridge in the offline cache): evaluate the generator at
    * n fixed seeds. */
  private def forAll[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.apply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(4242L + 7919L * i)).get)
    }

  private def bits(hs: Seq[Hit]): Seq[(Long, Long)] =
    hs.map(h => (h.neighborId, java.lang.Double.doubleToRawLongBits(h.sim)))

  // ---- oracles: the replaced selection code, verbatim in behavior ----

  private def oPasses(idx: Index, i: Int, allow: Map[String, Set[Long]]) =
    allow.forall { case (a, set) => set.contains(idx.attrs(a)(i)) }

  private def oRound(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  private def oCosine(a: Array[Float], b: Array[Float]): Double = {
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val denom = math.sqrt(daa) * math.sqrt(dbb)
    if (denom > 0) dab / denom else Double.NaN
  }

  private def oDist(a: Array[Float], b: Array[Float]): Double = {
    val c = oCosine(a, b)
    if (c.isNaN) 2.0 else 1.0 - c
  }

  private def oRerank(idx: Index, q: Array[Float], short: Seq[Int], topK: Int): Seq[Hit] =
    short.map { row =>
      val c = oCosine(q, idx.vecs(row))
      Hit(idx.ids(row), if (c.isNaN) Double.NaN else oRound(c * 1e6) / 1e6)
    }.sortBy(h => (h.sim.isNaN, -h.sim, h.neighborId)).take(topK)

  /** Rows that survive the parked/tombstone/self/filter gates. */
  private def oRows(idx: Index, queryId: Long, dropSelf: Boolean,
                    allow: Map[String, Set[Long]], coded: Int => Boolean): Seq[Int] =
    (0 until idx.size).filter(i => coded(i) && idx.live(i) &&
      !(dropSelf && idx.ids(i) == queryId) && oPasses(idx, i, allow))

  /** The TreeSet beam (with the hnswlib pass rule) and search. */
  private def oLayer(g: Hnsw.Graph, q: Array[Float], entry: Seq[(Double, Int)],
                     ef: Int, level: Int, pass: Int => Boolean): Seq[(Double, Int)] = {
    val ord = Ordering.Tuple2[Double, Int]
    val visited = collection.mutable.HashSet[Int](entry.map(_._2): _*)
    val candidates = collection.mutable.TreeSet[(Double, Int)](entry: _*)(ord)
    val best = collection.mutable.TreeSet[(Double, Int)](entry.filter(t => pass(t._2)): _*)(ord)
    while (candidates.nonEmpty) {
      val c = candidates.head
      candidates.remove(c)
      if (best.size >= ef && c._1 > best.last._1) candidates.clear()
      else {
        val ls = g.links(c._2)
        val nbrs = if (level < ls.length) ls(level) else Array.empty[Int]
        nbrs.foreach { n =>
          if (visited.add(n)) {
            val d = oDist(q, g.vecs(n))
            if (best.size < ef || d < best.last._1 ||
                (d == best.last._1 && n < best.last._2)) {
              candidates.add((d, n))
              if (pass(n)) {
                best.add((d, n))
                if (best.size > ef) best.remove(best.last)
              }
            }
          }
        }
      }
    }
    best.toSeq
  }

  private def oHnsw(g: Hnsw.Graph, q: Array[Float], efSearch: Int, topK: Int,
                    dropId: Option[Long], allow: Option[Int => Boolean]): Seq[(Long, Double)] = {
    var ep: Seq[(Double, Int)] = Seq((oDist(q, g.vecs(g.entry)), g.entry))
    var lc = g.maxLevel
    while (lc > 0) { ep = Seq(oLayer(g, q, ep, 1, lc, _ => true).head); lc -= 1 }
    val ef = math.max(efSearch, topK + (if (dropId.isDefined) 1 else 0))
    oLayer(g, q, ep, ef, 0, allow.getOrElse(_ => true))
      .filterNot(t => dropId.contains(g.ids(t._2)))
      .map { case (_, node) =>
        val c = oCosine(q, g.vecs(node))
        (g.ids(node), if (c.isNaN) Double.NaN else oRound(c * 1e6) / 1e6)
      }
      .sortBy { case (id, sim) => (sim.isNaN, -sim, id) }
      .take(topK)
  }

  private def oSearch(idx: Index, queryId: Long, q0: Array[Float], shortlist: Int,
                      topK: Int, dropSelf: Boolean, allow: Map[String, Set[Long]]): Seq[Hit] =
    idx.codec match {
      case Codec.Pq(cb, rot, codes) =>
        val q = rot.fold(q0)(r => r.map { w =>
          var s = 0.0; var i = 0
          while (i < w.length) { s += q0(i).toDouble * w(i); i += 1 }
          s.toFloat
        })
        val qu = q.clone()
        val nrm = math.sqrt(qu.map(x => x.toDouble * x).sum)
        if (nrm > 0) qu.indices.foreach(i => qu(i) = (qu(i) / nrm).toFloat)
        val tab = Array.tabulate(cb.m, cb.k) { (j, c) =>
          var ss = 0.0
          (0 until cb.subDim).foreach { d =>
            val diff = qu(j * cb.subDim + d).toDouble - cb.centers(j)(c)(d)
            ss += diff * diff
          }
          ss
        }
        val cand = oRows(idx, queryId, dropSelf, allow, codes(_) != null).map { i =>
          var adc = 0.0
          (0 until cb.m).foreach(m => adc += tab(m)(codes(i)(m)))
          (adc, idx.ids(i), i)
        }
        oRerank(idx, q, cand.sortBy(t => (t._1, t._2)).take(shortlist).map(_._3), topK)
      case Codec.Sq8(sq, codes) =>
        val cand = oRows(idx, queryId, dropSelf, allow, codes(_) != null).map { i =>
          var dab = 0.0; var daa = 0.0; var dbb = 0.0
          (0 until sq.dim).foreach { d =>
            val x = q0(d).toDouble
            val y = codes(i)(d).toDouble * sq.spans(d) + sq.mins(d).toDouble
            dab += x * y; daa += x * x; dbb += y * y
          }
          val denom = math.sqrt(daa) * math.sqrt(dbb)
          (if (denom > 0) dab / denom else Double.NaN, idx.ids(i), i)
        }
        oRerank(idx, q0,
          cand.sortBy(t => (t._1.isNaN, -t._1, t._2)).take(shortlist).map(_._3), topK)
      case Codec.Bq(bq, words) =>
        val qcodes = Array.tabulate(bq.nWords) { w =>
          (0 until 64).foldLeft(0L) { (word, b) =>
            val p = bq.planes(w * 64 + b)
            var s = 0.0
            (0 until bq.dim).foreach(d => s += q0(d).toDouble * p(d))
            if (s > 0) word | (1L << b) else word
          }
        }
        val cand = oRows(idx, queryId, dropSelf, allow, words(_) != null).map { i =>
          val ham = qcodes.indices.map(j =>
            java.lang.Long.bitCount(qcodes(j) ^ words(i)(j))).sum
          (ham, idx.ids(i), i)
        }
        oRerank(idx, q0, cand.sortBy(t => (t._1, t._2)).take(shortlist).map(_._3), topK)
      case Codec.Ivf(centroids, cellOf, probe) =>
        val cells: Seq[Int] = probe match {
          case Some(cp) => oHnsw(cp.g, q0, cp.efSearch, cp.cand, None, None).map(_._1.toInt)
          case None => centroids.indices
        }
        val probed = cells.map { c =>
          var s = 0.0
          q0.indices.foreach(i => s += q0(i).toDouble * centroids(c)(i))
          (s, c)
        }.sortBy { case (sim, cid) => (-sim, cid) }.take(shortlist).map(_._2).toSet
        oRerank(idx, q0, oRows(idx, queryId, dropSelf, allow,
          i => probed.contains(cellOf(i))), topK)
      case Codec.Hnsw(g) =>
        val pred: Option[Int => Boolean] =
          if (allow.isEmpty && idx.deleted.isEmpty) None
          else Some((i: Int) => idx.live(i) && oPasses(idx, i, allow))
        oHnsw(g, q0, shortlist, topK,
          if (dropSelf) Some(queryId) else None, pred).map { case (id, s) => Hit(id, s) }
    }

  // ---- random indexes of every family ----

  private val Dim = 8

  private val caseGen: Gen[Case] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    n <- Gen.oneOf(Gen.const(1), Gen.choose(2, 60))
    shortlist <- Gen.oneOf(Gen.const(1), Gen.const(n), Gen.const(n + 7),
      Gen.const(Int.MaxValue), Gen.choose(1, n))
    topK <- Gen.oneOf(Gen.const(1), Gen.choose(1, 12), Gen.const(n + 3))
    filter <- Gen.choose(0, 2)
    tombstoned <- Gen.prob(0.4)
    dropSelf <- Gen.prob(0.5)
  } yield Case(seed, n, shortlist, topK, filter, tombstoned, dropSelf)

  private def grid(rnd: scala.util.Random): Float = (rnd.nextInt(5) - 2) / 2.0f

  private def problem(c: Case): Problem = {
    val rnd = new scala.util.Random(c.seed)
    val distinct = Array.fill(math.max(1, 2 * c.n / 3))(Array.fill(Dim)(grid(rnd)))
    val vecs = Array.tabulate(c.n)(i =>
      if (i % 9 == 4) new Array[Float](Dim) else distinct(rnd.nextInt(distinct.length)).clone())
    val ids = rnd.shuffle((0 until c.n).map(i => i * 5L - 40L)).toArray
    val label = Array.fill(c.n)(rnd.nextInt(3).toLong)
    val deleted = if (c.tombstoned) Array.fill(c.n)(rnd.nextInt(4) == 0) else Array.empty[Boolean]
    val allow = c.filter match {
      case 0 => Map.empty[String, Set[Long]]
      case 1 => Map("label" -> Set(0L, 2L))
      case _ => Map("label" -> Set.empty[Long])
    }
    val attrs = Map("label" -> label)
    def codes(k: Int, width: Int) = {
      val pool = Array.fill(math.max(1, c.n / 3))(Array.fill(width)(rnd.nextInt(k)))
      Array.tabulate(c.n)(i => if (i % 11 == 7) null else pool(rnd.nextInt(pool.length)).clone())
    }
    val cb = Pq.Codebooks(Array.fill(2, 4, Dim / 2)(grid(rnd)), m = 2, k = 4, dim = Dim)
    val pq = Index("pq", ids, vecs, Codec.Pq(cb, None, codes(4, 2)), attrs, deleted)
    val opq = pq.copy(name = "opq",
      codec = Codec.Pq(cb, Some(Array.fill(Dim, Dim)(grid(rnd).toDouble)), codes(4, 2)))
    // all-zero mins half the time: an all-zero code row then decodes to
    // the zero vector and its approx cosine is NaN
    val mins = if (rnd.nextBoolean()) new Array[Float](Dim) else Array.fill(Dim)(-rnd.nextInt(3) / 2.0f)
    val sqCodes = codes(256, Dim).zipWithIndex.map { case (cs, i) =>
      if (cs != null && i % 5 == 1) new Array[Int](Dim) else cs }
    val sq8 = Index("sq8", ids, vecs, Codec.Sq8(Sq.Quantizer(mins, mins.map(_ + 2.0f)), sqCodes),
      attrs, deleted)
    val words = Array.fill(math.max(1, c.n / 3))(rnd.nextLong() & rnd.nextLong())
    val bq = Index("bq", ids, vecs,
      Codec.Bq(Bq.Quantizer(Array.fill(64, Dim)(grid(rnd).toDouble), 7L),
        Array.tabulate(c.n)(i =>
          if (i % 10 == 3) null else Array(words(rnd.nextInt(words.length))))),
      attrs, deleted)
    val ivf = Index("ivf", ids, vecs,
      Codec.Ivf(Array.fill(3, Dim)(grid(rnd)), Array.fill(c.n)(rnd.nextInt(3))), attrs, deleted)
    val ivfGraph = LocalAnn.withCentroidGraph(ivf, efSearch = 2, cand = 2, m = 2,
      efConstruction = 4).copy(name = "ivf_graph")
    val g = Hnsw.build(ids.toSeq.zip(vecs), m = 3, efConstruction = 6)
    val row = ids.zipWithIndex.toMap
    val hnsw = LocalAnn.fromGraph("hnsw", g).copy(
      attrs = Map("label" -> g.ids.map(id => label(row(id)))),
      deleted = if (deleted.isEmpty) deleted else g.ids.map(id => deleted(row(id))))
    val query = if (rnd.nextInt(6) == 0) new Array[Float](Dim) else vecs(rnd.nextInt(c.n)).clone()
    Problem(Seq(pq, opq, sq8, bq, ivf, ivfGraph, hnsw), ids(rnd.nextInt(c.n)), query, allow)
  }

  test("TopK keeps exactly sortBy((key, id)).take(cap), and its −x keys " +
    "exactly the (x desc, NaN last, id asc) shortlist, over NaN, ±0.0 and ±∞") {
    val pool = Array(Double.NaN, -0.0, 0.0, 0.5, -0.5, 1.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val gen = for {
      n <- Gen.choose(0, 80)
      keys <- Gen.listOfN(n, Gen.oneOf(pool.toSeq))
      ids <- Gen.listOfN(n, Gen.choose(-5L, 5L))
      cap <- Gen.oneOf(Gen.const(0), Gen.const(1), Gen.const(n), Gen.const(n + 1),
        Gen.choose(1, math.max(1, n)))
    } yield (keys.zip(ids).toArray, cap)
    def raw(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    forAll(gen, 200) { case (rows, cap) =>
      val asc = new TopK(maxRoot = true, math.min(cap, rows.length))
      val desc = new TopK(maxRoot = true, math.min(cap, rows.length))
      val frontier = new TopK(maxRoot = false, 1)
      rows.zipWithIndex.foreach { case ((k, id), i) =>
        asc.offer(k, id, i); desc.offer(-k, id, i); frontier.push(k, id, i)
      }
      asc.sortAscending(); desc.sortAscending()
      val wantAsc = rows.sortBy(identity).take(cap).map { case (k, id) => (raw(k), id) }.toSeq
      assert((0 until asc.size).map(i => (raw(asc.key(i)), asc.id(i))) == wantAsc)
      val wantDesc = rows.sortBy(t => (t._1.isNaN, -t._1, t._2)).take(cap)
        .map { case (k, id) => (raw(k), id) }.toSeq
      assert((0 until desc.size).map(i => (raw(desc.negKey(i)), desc.id(i))) == wantDesc)
      val popped = Seq.fill(frontier.size) {
        val t = (raw(frontier.key(0)), frontier.id(0)); frontier.pop(); t
      }
      assert(popped == rows.sortBy(identity).map { case (k, id) => (raw(k), id) }.toSeq)
    }
  }

  test("every family's search is hit-for-hit, bit-for-bit the sort-and-take " +
    "search, on ties, NaN sims, zero-norm rows, tombstones, filters and " +
    "shortlists of 1, n, above n and Int.MaxValue") {
    forAll(caseGen, 60) { c =>
      val p = problem(c)
      p.indexes.foreach { idx =>
        val got = LocalAnn.search(idx, p.queryId, p.query, c.shortlist, c.topK,
          c.dropSelf, p.allow)
        val want = oSearch(idx, p.queryId, p.query, c.shortlist, c.topK, c.dropSelf, p.allow)
        assert(bits(got) == bits(want), s"${idx.name} diverged on $c")
      }
      // the fan-out merge over two shards of one family
      val shards = Seq(p.indexes.head, p.indexes.head.copy(ids = p.indexes.head.ids.map(_ + 1)))
      val merged = LocalAnn.searchSharded(shards, p.queryId, p.query, c.shortlist,
        c.topK, c.dropSelf, p.allow)
      val want = shards.flatMap(oSearch(_, p.queryId, p.query, c.shortlist, c.topK,
        c.dropSelf, p.allow)).sortBy(h => (h.sim.isNaN, -h.sim, h.neighborId)).take(c.topK)
      assert(bits(merged) == bits(want), s"sharded merge diverged on $c")
    }
  }

  /** The pinned corpus: 300 grid vectors with 40 duplicates and 4 zero
    * rows (dist sentinel 2.0), so the beam meets many distance ties. */
  private lazy val pinRows = {
    val rnd = new scala.util.Random(20261019L)
    val base = Array.fill(260)(Array.fill(8)((rnd.nextInt(5) - 2) / 2.0f))
    (0 until 300).map { i =>
      val v = if (i % 97 == 5) new Array[Float](8) else base(i % 260).clone()
      (i * 3L + 11L, v)
    }
  }

  test("HNSW builds keep the links the TreeSet beam built (closest-M and " +
    "heuristic), and search matches the TreeSet beam at every ef, filter " +
    "and dropId") {
    // hashes of (links, entry, maxLevel) as the TreeSet beam built them
    val pins = Map(false -> 1650188786, true -> -190174820)
    pins.foreach { case (heuristic, pin) =>
      val g = Hnsw.build(pinRows, m = 4, efConstruction = 20, heuristic = heuristic)
      assert((g.links.map(_.map(_.toSeq).toSeq).toSeq, g.entry, g.maxLevel).hashCode == pin,
        s"heuristic=$heuristic build changed")
      val rnd = new scala.util.Random(5)
      val queries = pinRows.take(12).map(_._2) ++
        Seq.fill(8)(Array.fill(8)(grid(rnd))) :+ new Array[Float](8)
      val passEven: Int => Boolean = i => g.ids(i) % 2 == 0
      for {
        (q, qi) <- queries.zipWithIndex
        ef <- Seq(1, 4, 20, g.size, Int.MaxValue)
        topK <- Seq(1, 5, g.size + 1)
        allow <- Seq(None, Some(passEven), Some((_: Int) => false))
      } {
        val dropId = if (qi % 2 == 0) Some(pinRows(qi % 12)._1) else None
        val got = Hnsw.search(g, q, ef, topK, dropId, allow)
        val want = oHnsw(g, q, ef, topK, dropId, allow)
        assert(got.map(t => (t._1, java.lang.Double.doubleToRawLongBits(t._2))) ==
          want.map(t => (t._1, java.lang.Double.doubleToRawLongBits(t._2))),
          s"query $qi ef $ef topK $topK diverged")
      }
    }
  }

  test("a shortlist of Int.MaxValue answers like shortlist = index size, in " +
    "process and over /ann/search (200 on every family), and allocates no " +
    "more than it does") {
    val c = Case(seed = 99L, n = 40, shortlist = 0, topK = 6, filter = 0,
      tombstoned = true, dropSelf = true)
    val p = problem(c)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(f: => Unit): Long = {
      val t = Thread.currentThread().getId
      val before = threads.getThreadAllocatedBytes(t)
      f
      threads.getThreadAllocatedBytes(t) - before
    }
    p.indexes.foreach { idx =>
      def run(shortlist: Int) =
        LocalAnn.search(idx, p.queryId, p.query, shortlist, c.topK, c.dropSelf, p.allow)
      assert(bits(run(Int.MaxValue)) == bits(run(idx.size)), idx.name)
      (0 until 200).foreach { _ => run(idx.size); run(Int.MaxValue) }
      val atSize = allocated((0 until 20).foreach(_ => run(idx.size)))
      val atMax = allocated((0 until 20).foreach(_ => run(Int.MaxValue)))
      assert(atMax <= atSize + atSize / 4 + 65536,
        s"${idx.name}: $atMax B at Int.MaxValue vs $atSize B at the index size")
    }
    val mapper = new ObjectMapper()
    val client = HttpClient.newHttpClient()
    val server = HttpApi.start(annModels = p.indexes.map(i => i.name -> i))
    try {
      p.indexes.foreach { idx =>
        def post(shortlist: Int) = {
          val body = s"""{"model":"${idx.name}","query_id":${p.queryId},""" +
            s""""embedding":[${p.query.mkString(",")}],"shortlist":$shortlist,"top_k":${c.topK}}"""
          val r = client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${server.port}/ann/search"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          val rs = mapper.readTree(r.body()).path("results")
          (r.statusCode(), (0 until rs.size()).map { i =>
            val s = rs.get(i).path("sim")
            Hit(rs.get(i).path("neighbor_id").asLong, if (s.isNull) Double.NaN else s.asDouble)
          })
        }
        val (code, hits) = post(Int.MaxValue)
        assert(code == 200, idx.name)
        assert(bits(hits) == bits(post(idx.size)._2), idx.name)
        assert(bits(hits) == bits(LocalAnn.search(idx, p.queryId, p.query, idx.size,
          c.topK, c.dropSelf, p.allow)), idx.name)
      }
    } finally server.stop()
  }
}

object TopKParitySpec {
  /** One generated search problem. `grid` vectors take values in
    * {−1, −½, 0, ½, 1}, so duplicate vectors, equal ADC sums, equal
    * Hamming distances and equal cosines are common; every ninth row
    * (and sometimes the query) is the zero vector. */
  final case class Case(seed: Long, n: Int, shortlist: Int, topK: Int,
                        filter: Int, tombstoned: Boolean, dropSelf: Boolean)

  final case class Problem(indexes: Seq[Index], queryId: Long, query: Array[Float],
                           allow: Map[String, Set[Long]])
}
