package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HNSW — Hierarchical Navigable Small World graphs (Malkov & Yashunin
  * 2016), the graph tier of the ANN family next to the quantizers
  * (IVF/PQ/OPQ/SQ8): a multi-layer proximity graph searched by greedy
  * descent, the structure behind most single-node vector-serving
  * engines. This implementation is DETERMINISTIC by construction so
  * the battery can gate it:
  *
  *  - node levels come from xxhash64(id, seed) mapped to (0,1) and the
  *    paper's floor(−ln(u)·mL) with mL = 1/ln(M) — a pure function of
  *    the id, never of iteration order or thread count;
  *  - nodes insert in ascending-id order (the corpus is collected and
  *    sorted once), candidate heaps break distance ties by node id;
  *  - neighbor selection is the paper's simple closest-M (Algorithm 3)
  *    by default, or the §4 diversity heuristic (Algorithm 4, with
  *    extendCandidates + keepPrunedConnections — the form the paper
  *    recommends for "extremely clustered data") when `heuristic` is
  *    set; both deterministic under the same (dist, id) tie order.
  *
  * Execution shape: build and search are DRIVER/SERVING-side over one
  * bounded shard — the LocalAnn contract (FAISS/HNSWlib serving model:
  * one graph per node, fleet routing above; [[graft.serve.LocalAnn
  * .searchSharded]]'s fan-out/merge applies unchanged because
  * [[search]] returns the same (sim desc, id asc)-ordered exact-cosine
  * hits as every other family). Distributed corpora reach it through
  * per-shard builds, exactly like the sharded PQ deployment (q168).
  * Incremental growth is [[append]]: because insertion is ascending-id
  * and levels are a pure function of the id, appending ids greater
  * than the current max REPLAYS the exact build sequence — append is
  * bit-identical to a full rebuild (HnswSpec proves it), the graph
  * tier's analogue of `Ivf.append`'s frozen-quantizer add().
  *
  * Distances: the graph is built and searched on cosine DISSIMILARITY
  * (1 − cos); emitted sims are exact cosine rounded 1e-6 — the
  * codebase's canonical ranking semantic, so hits merge bit-compatibly
  * with every other family's results.
  */
object Hnsw {

  /** A built graph. `links(node)(level)` = neighbor node indices
    * (indices into ids/vecs, which are ascending-id-sorted).
    * `heuristic` records the neighbor-selection mode so [[append]] and
    * a reloaded graph replay the same construction. */
  final case class Graph(ids: Array[Long], vecs: Array[Array[Float]],
                         levels: Array[Int], links: Array[Array[Array[Int]]],
                         entry: Int, maxLevel: Int, m: Int, efC: Int,
                         seed: Long, heuristic: Boolean = false) {
    def size: Int = ids.length
  }

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val denom = math.sqrt(daa) * math.sqrt(dbb)
    if (denom > 0) 1.0 - dab / denom else 2.0 // zero-norm rows sort last
  }

  /** NativeVector.cosine verbatim: in-order double dot, NaN when a norm
    * is zero (the undefined-cosine marker every LocalAnn family emits —
    * [[dist]] keeps its 2.0 sentinel because graph-build comparisons
    * must stay total, but EMITTED sims use the NaN-sorts-last
    * convention so hits merge bit-compatibly across families). */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
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

  /** Deterministic level draw: xxhash64(id, seed) → u ∈ (0,1) →
    * floor(−ln(u) · 1/ln(M)). */
  private def levelOf(id: Long, seed: Long, mL: Double): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(id, seed)
    // map to (0,1): use the top 53 bits as a double mantissa; guard 0
    val u = ((h >>> 11).toDouble + 1.0) / (1L << 53).toDouble
    math.floor(-math.log(u) * mL).toInt
  }

  /** A beam's (dist, node) pairs, ascending by (dist, node). */
  private final case class Beam(dists: Array[Double], nodes: Array[Int]) {
    def size: Int = nodes.length
    def head: Beam = Beam(Array(dists(0)), Array(nodes(0)))
    def pairs: Seq[(Double, Int)] = dists.toSeq.zip(nodes)
  }
  private def beamOf(node: Int, d: Double): Beam = Beam(Array(d), Array(node))

  /** Greedy beam search at one level: returns up to `ef` (dist, node)
    * pairs, ascending dist, ties by node id (deterministic).
    *
    * `pass` (null = every node) is the hnswlib filtered-search rule:
    * failing nodes are still TRAVERSED (they stay navigable, keeping
    * the beam connected through filtered-out regions) but never enter
    * the RESULT set, so the return is up to `ef` PASSING nodes. The
    * beam bound comes from the worst passing result, so a highly
    * selective filter widens traversal — exactly hnswlib's trade-off.
    *
    * Per call it allocates a visited bitset of size/64 words and two
    * [[TopK]] heaps sized min(ef, size), never anything per candidate:
    * a min-heap frontier and a max-heap of results whose root is the
    * worst kept pair. Both order by (dist, node) under
    * java.lang.Double.compare, the order of a TreeSet[(Double, Int)];
    * the early exit (`dist > worst`) and the admission rule
    * (`d < worst || (d == worst && n < worstNode)`) are IEEE
    * comparisons, and a new pair is pushed before the root is evicted.
    * So the kept set and its order are exactly a TreeSet beam's, and so
    * is every build that calls this (TopKParitySpec runs a TreeSet beam
    * as its oracle and pins a build hash). */
  private def searchLayer(g: Graph, q: Array[Float], entry: Beam, ef: Int,
                          level: Int, pass: Int => Boolean = null): Beam = {
    val visited = new Array[Long]((g.size + 63) >>> 6)
    val slots = math.min(ef, g.size)
    val frontier = new TopK(maxRoot = false, slots)
    val best = new TopK(maxRoot = true, slots)
    var i = 0
    while (i < entry.size) {
      val e = entry.nodes(i)
      visited(e >>> 6) |= 1L << e
      frontier.push(entry.dists(i), e, e)
      if (pass == null || pass(e)) best.push(entry.dists(i), e, e)
      i += 1
    }
    // every remaining candidate is farther than the worst kept result
    while (frontier.size > 0 &&
           !(best.size >= ef && frontier.key(0) > best.key(0))) {
      val c = frontier.row(0)
      frontier.pop()
      val ls = g.links(c)
      if (level < ls.length) {
        val nbrs = ls(level)
        var j = 0
        while (j < nbrs.length) {
          val n = nbrs(j)
          if ((visited(n >>> 6) & (1L << n)) == 0) {
            visited(n >>> 6) |= 1L << n
            val d = dist(q, g.vecs(n))
            if (best.size < ef || d < best.key(0) ||
                (d == best.key(0) && n < best.id(0))) {
              frontier.push(d, n, n)
              if (pass == null || pass(n)) {
                best.push(d, n, n)
                if (best.size > ef) best.pop()
              }
            }
          }
          j += 1
        }
      }
    }
    best.sortAscending()
    Beam(Array.tabulate(best.size)(best.key), Array.tabulate(best.size)(best.row))
  }

  /** §4 heuristic neighbor selection (Algorithm 4): walk candidates
    * nearest-first and keep only those CLOSER TO q THAN TO ANY
    * ALREADY-SELECTED neighbor — links point across cluster boundaries
    * instead of all collapsing into the densest direction, which is
    * what preserves navigability on clustered corpora (the geometry
    * `SyntheticData.clusteredEmbeddings` generates; q176 measures the
    * head-to-head against closest-M there).
    *
    *  - `extend` = the paper's extendCandidates: grow the working set
    *    with the candidates' own level-`level` neighborhoods first
    *    ("useful only for extremely clustered data" — §4); used at
    *    insertion, not when shrinking an over-cap neighbor list.
    *  - keepPrunedConnections is always on: pruned candidates backfill
    *    nearest-first so a node keeps its full degree budget (a
    *    degree-starved node risks disconnecting the graph).
    *
    * Deterministic: the working set orders by (dist, id); ties on the
    * closer-to-q comparison prune (a tie is "not closer"). */
  private def selectHeuristic(vecs: Array[Array[Float]],
                              links: Array[Array[Array[Int]]],
                              q: Array[Float], cand: Seq[(Double, Int)],
                              max: Int, level: Int,
                              extend: Boolean): Array[Int] = {
    val ord = Ordering.Tuple2[Double, Int]
    val w = collection.mutable.TreeSet[(Double, Int)](cand: _*)(ord)
    if (extend) {
      val seen = collection.mutable.HashSet[Int](cand.map(_._2): _*)
      cand.foreach { case (_, e) =>
        val ls = links(e)
        val nbrs = if (level < ls.length) ls(level) else Array.empty[Int]
        var i = 0
        while (i < nbrs.length) {
          val n = nbrs(i)
          if (seen.add(n)) w.add((dist(q, vecs(n)), n))
          i += 1
        }
      }
    }
    val r = collection.mutable.ArrayBuffer[Int]()
    val pruned = collection.mutable.ArrayBuffer[(Double, Int)]()
    val it = w.iterator
    while (it.hasNext && r.length < max) {
      val (d, e) = it.next()
      var ok = true; var j = 0
      while (ok && j < r.length) {
        if (dist(vecs(e), vecs(r(j))) <= d) ok = false
        j += 1
      }
      if (ok) r += e else pruned += ((d, e))
    }
    var pi = 0
    while (r.length < max && pi < pruned.length) { r += pruned(pi)._2; pi += 1 }
    r.toArray
  }

  /** The shared ascending-index insertion loop (build from `start` = 1,
    * [[append]] from the old size): mutates `links` in place, returns
    * the final (entry, maxLevel). Pure function of the arrays and the
    * start state — the reason append ≡ rebuild holds bit-for-bit. */
  private def insertNodes(ids: Array[Long], vecs: Array[Array[Float]],
                          levels: Array[Int], links: Array[Array[Array[Int]]],
                          m: Int, efConstruction: Int, seed: Long,
                          heuristic: Boolean, start: Int,
                          entry0: Int, maxLevel0: Int): (Int, Int) = {
    val n = ids.length
    val maxM0 = 2 * m
    var entry = entry0
    var maxLevel = maxLevel0
    // searchLayer only reads ids/vecs/levels/links off the Graph; the
    // entry/maxLevel fields here are snapshots, tracked in the locals
    val g = Graph(ids, vecs, levels, links, entry, maxLevel, m,
      efConstruction, seed, heuristic)

    def maxAt(level: Int) = if (level == 0) maxM0 else m

    var i = start
    while (i < n) {
      val q = vecs(i)
      val l = levels(i)
      // 1. greedy descent on levels above l (ef = 1)
      var ep = beamOf(entry, dist(q, vecs(entry)))
      var lc = maxLevel
      while (lc > l) {
        ep = searchLayer(g, q, ep, 1, lc).head
        lc -= 1
      }
      // 2. insert at levels min(l, maxLevel) .. 0
      lc = math.min(l, maxLevel)
      while (lc >= 0) {
        val cand = searchLayer(g, q, ep, efConstruction, lc)
        val selected: Seq[Int] =
          if (heuristic)
            selectHeuristic(vecs, links, q, cand.pairs, maxAt(lc), lc,
              extend = true).toSeq
          else cand.nodes.take(maxAt(lc)).toSeq
        links(i)(lc) = selected.toArray
        // bidirectional: add i to each neighbor, shrinking over-cap
        // lists by the SAME selection mode as forward links
        selected.foreach { nb =>
          val cur = links(nb)(lc)
          val merged = (cur :+ i).distinct
          links(nb)(lc) =
            if (merged.length <= maxAt(lc)) merged
            else if (heuristic)
              selectHeuristic(vecs, links, vecs(nb),
                merged.map(x => (dist(vecs(nb), vecs(x)), x))
                  .sortBy(identity).toSeq,
                maxAt(lc), lc, extend = false)
            else {
              // keep the maxAt nearest by (dist, node), ascending
              val keep = new TopK(maxRoot = true, maxAt(lc))
              merged.foreach(x => keep.offer(dist(vecs(nb), vecs(x)), x, x))
              keep.sortAscending()
              Array.tabulate(keep.size)(keep.row)
            }
        }
        ep = cand
        lc -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = i }
      i += 1
    }
    (entry, maxLevel)
  }

  /** Build from a bounded, collected corpus — (id, vec) pairs. The
    * caller owns the shard-size contract (one serving node's worth,
    * the LocalAnn doctrine). `heuristic` picks §4 neighbor selection
    * (see [[selectHeuristic]]); default is the paper's closest-M. */
  def build(rows: Seq[(Long, Array[Float])], m: Int = 16,
            efConstruction: Int = 100, seed: Long = 42L,
            heuristic: Boolean = false): Graph = {
    require(rows.nonEmpty, "empty corpus")
    val sorted = rows.sortBy(_._1).toArray
    val n = sorted.length
    val ids = sorted.map(_._1)
    val vecs = sorted.map(_._2)
    val mL = 1.0 / math.log(m.toDouble)
    val levels = Array.tabulate(n)(i => levelOf(ids(i), seed, mL))
    val links = Array.tabulate(n)(i =>
      Array.fill(levels(i) + 1)(Array.empty[Int]))
    val (entry, maxLevel) = insertNodes(ids, vecs, levels, links, m,
      efConstruction, seed, heuristic, start = 1,
      entry0 = 0, maxLevel0 = levels(0))
    Graph(ids, vecs, levels, links, entry, maxLevel, m, efConstruction,
      seed, heuristic)
  }

  /** Incremental insert (FAISS add() / q148 semantics for the graph
    * tier): grow `g` with `rows`, every id STRICTLY greater than the
    * current max. Because insertion is ascending-id and levels are a
    * pure function of the id, this replays the exact tail of the full
    * build — `append(build(prefix), suffix)` is BIT-IDENTICAL to
    * `build(prefix ++ suffix)` (links, entry, levels; HnswSpec + the
    * q177 gate assert it). The input graph is never mutated. */
  def append(g: Graph, rows: Seq[(Long, Array[Float])]): Graph = {
    require(rows.nonEmpty, "empty append batch")
    val sortedNew = rows.sortBy(_._1).toArray
    require(sortedNew.map(_._1).distinct.length == sortedNew.length,
      "duplicate ids in append batch")
    require(sortedNew.head._1 > g.ids.last,
      s"append ids must exceed the current max id ${g.ids.last} - " +
        "ascending-id insertion is the determinism contract (an " +
        "interleaved id would need a rebuild)")
    val n0 = g.size
    val ids = g.ids ++ sortedNew.map(_._1)
    val vecs = g.vecs ++ sortedNew.map(_._2)
    val mL = 1.0 / math.log(g.m.toDouble)
    val levels = g.levels ++ sortedNew.map(t => levelOf(t._1, g.seed, mL))
    // copy-on-append: the per-node level arrays are REPLACED (never
    // mutated in place) by insertNodes, so one clone level protects
    // the input graph's structure
    val links = new Array[Array[Array[Int]]](ids.length)
    var i = 0
    while (i < n0) { links(i) = g.links(i).clone(); i += 1 }
    while (i < ids.length) {
      links(i) = Array.fill(levels(i) + 1)(Array.empty[Int]); i += 1
    }
    val (entry, maxLevel) = insertNodes(ids, vecs, levels, links, g.m,
      g.efC, g.seed, g.heuristic, start = n0,
      entry0 = g.entry, maxLevel0 = g.maxLevel)
    Graph(ids, vecs, levels, links, entry, maxLevel, g.m, g.efC, g.seed,
      g.heuristic)
  }

  /** Collect a DataFrame corpus and build (the bounded-shard form). */
  def fromDataFrame(df: DataFrame, id: String, vec: String, m: Int = 16,
                    efConstruction: Int = 100, seed: Long = 42L,
                    heuristic: Boolean = false): Graph =
    build(df.select(col(id).cast("long"), col(vec)).collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq,
      m, efConstruction, seed, heuristic)

  /** Search: greedy descent to level 0, beam `efSearch`, emit topK as
    * (neighbor id, exact cosine rounded 1e-6) with the canonical
    * (sim desc, id asc, NaN last) order — merge-compatible with every
    * family. `allow` (hnswlib filtered search — q178): a node-INDEX
    * predicate (indices are ascending-id positions, aligned with any
    * attrs loaded off the saved nodes table); failing nodes stay
    * traversable but never surface as results, so the return is the
    * top-k OF THE ALLOWED corpus — pre-filtering semantics, same as
    * every other LocalAnn family. */
  def search(g: Graph, query: Array[Float], efSearch: Int, topK: Int,
             dropId: Option[Long] = None,
             allow: Option[Int => Boolean] = None): Seq[(Long, Double)] = {
    requireFinite(query)
    searchFinite(g, query, efSearch, topK, dropId, allow)
  }

  /** Fail unless every component of `v` is finite: one primitive pass,
    * the check every in-process ANN entry point runs once per query. */
  private[graft] def requireFinite(v: Array[Float]): Unit = {
    var ok = v != null
    var i = 0
    while (ok && i < v.length) {
      ok = !java.lang.Float.isNaN(v(i)) && !java.lang.Float.isInfinite(v(i))
      i += 1
    }
    require(ok, "query vector must be finite")
  }

  /** [[search]] for a caller that has already run [[requireFinite]]
    * (LocalAnn.search checks once per request). */
  private[graft] def searchFinite(g: Graph, query: Array[Float], efSearch: Int,
                                  topK: Int, dropId: Option[Long],
                                  allow: Option[Int => Boolean]): Seq[(Long, Double)] = {
    var ep = beamOf(g.entry, dist(query, g.vecs(g.entry)))
    var lc = g.maxLevel
    while (lc > 0) {
      ep = searchLayer(g, query, ep, 1, lc).head
      lc -= 1
    }
    val ef = math.max(efSearch, topK + (if (dropId.isDefined) 1 else 0))
    val hits = searchLayer(g, query, ep, ef, 0, allow.orNull)
    // top-k by (sim desc, id asc, NaN last) = ascending (−sim, id)
    val top = new TopK(maxRoot = true, math.min(topK, hits.size))
    val drop = dropId.isDefined
    val dropped = dropId.getOrElse(0L)
    var i = 0
    while (i < hits.size) {
      val node = hits.nodes(i)
      if (!(drop && g.ids(node) == dropped)) {
        val c = cosine(query, g.vecs(node))
        val sim =
          if (c.isNaN) Double.NaN
          else java.math.BigDecimal.valueOf(c * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
        top.offer(-sim, g.ids(node), node)
      }
      i += 1
    }
    top.sortAscending()
    Seq.tabulate(top.size)(j => (top.id(j), top.negKey(j)))
  }

  /** Bit-level structural equality — ids, vectors, levels, links,
    * entry, maxLevel, and build params. The check behind every
    * "replay" claim (append ≡ rebuild, executor build ≡ driver build):
    * two graphs that pass search identically at every (ef, k).
    * Vectors compare by floatToIntBits (round-19 advice: IEEE `==`
    * would call identical NaN components unequal and +0.0/−0.0 equal
    * despite differing bits — the doc says BIT-level, so compare
    * bits). NaN payloads all canonicalize through floatToIntBits'
    * single-NaN mapping, which is also what parquet round-trips. */
  def structEq(a: Graph, b: Graph): Boolean =
    a.size == b.size && a.ids.sameElements(b.ids) &&
      a.levels.sameElements(b.levels) &&
      a.entry == b.entry && a.maxLevel == b.maxLevel &&
      a.m == b.m && a.efC == b.efC && a.seed == b.seed &&
      a.heuristic == b.heuristic &&
      a.vecs.zip(b.vecs).forall { case (x, y) =>
        x.length == y.length && x.indices.forall(i =>
          java.lang.Float.floatToIntBits(x(i)) ==
            java.lang.Float.floatToIntBits(y(i)))
      } &&
      a.links.zip(b.links).forall { case (x, y) =>
        x.length == y.length &&
          x.zip(y).forall { case (p, q) => p.sameElements(q) }
      }

  /** Build one graph PER SHARD in a single Spark job (round-19 verdict
    * #4 — the fleet-construction path: q179's topology wants N shard
    * graphs, and N sequential driver [[fromDataFrame]] calls serialize
    * the expensive part on the driver). groupBy shard →
    * [[build]] inside flatMapGroups ON THE EXECUTOR → emit rows in the
    * [[save]] nodes layout (links as neighbor IDS) plus per-shard
    * entry/max_level. Determinism is a REPLAY, not a new algorithm:
    * build() sorts its rows by id, so the incoming partitioning and
    * row order cannot affect any shard's graph
    * (`Pq.trainDistributed`'s layout-independence discipline;
    * HnswSpec asserts driver-vs-executor bit-identity at 1 and 32
    * partitions). Each shard's rows materialize in ONE task — the
    * caller owns the shard-size contract (one serving node's worth,
    * same as [[build]]; at 100 TB: thousands of bounded shards, one
    * job, no driver bottleneck). Persist with [[saveShards]]; reload
    * one serving node's graph with [[loadShard]]. */
  def buildShardsDistributed(df: DataFrame, id: String, vec: String,
                             shard: String, m: Int = 16,
                             efConstruction: Int = 100, seed: Long = 42L,
                             heuristic: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(shard).cast("long"), col(id).cast("long"),
        col(vec).cast("array<float>"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (sh: Long, it: Iterator[(Long, Long, Array[Float])]) =>
        val rows = it.map(t => t._2 -> t._3).toSeq
        val g = build(rows, m, efConstruction, seed, heuristic)
        g.ids.indices.iterator.map { i =>
          (sh, g.ids(i), g.vecs(i).toSeq, g.levels(i),
            g.links(i).map(_.map(g.ids(_)).toSeq).toSeq,
            g.ids(g.entry), g.maxLevel)
        }
      }
      .toDF("shard", "id", "vec", "level", "links", "entry_id", "max_level")
  }

  /** Persist a [[buildShardsDistributed]] result: ONE partitioned
    * parquet write (partition pruning makes [[loadShard]] a
    * single-directory read) + one meta row carrying the build params
    * every shard shares. */
  def saveShards(spark: SparkSession, nodes: DataFrame, path: String,
                 m: Int, efConstruction: Int, seed: Long = 42L,
                 heuristic: Boolean = false): Unit = {
    import spark.implicits._
    nodes.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/hnsw_shard_nodes")
    Seq((m, efConstruction, seed, heuristic))
      .toDF("m", "ef_construction", "seed", "heuristic")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$path/hnsw_shard_meta")
  }

  /** Load ONE shard's graph from a [[saveShards]] artifact —
    * bit-identical to a driver-side [[build]] of that shard's rows
    * (the serving node's startup read; the shard filter prunes to one
    * partition directory). */
  def loadShard(spark: SparkSession, path: String, shard: Long): Graph = {
    // driver-local reads (round-20): the serving node's startup read
    // must not pay Spark jobs; the shard filter stays a partition-
    // directory prune, now literally a path
    val meta = graft.sources.DriverParquet.headRow(spark,
      s"$path/hnsw_shard_meta", Seq("m", "ef_construction", "seed", "heuristic"))
    val shardDir = s"$path/hnsw_shard_nodes/shard=$shard"
    val fs = new org.apache.hadoop.fs.Path(shardDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(shardDir)),
      s"no shard $shard under $path")
    val rows = graft.sources.DriverParquet.readRows(spark, shardDir,
        Seq("id", "vec", "level", "links", "entry_id", "max_level"))
      .sortBy(_.getLong(0))
    require(rows.nonEmpty, s"no shard $shard under $path")
    val ids = rows.map(_.getLong(0))
    val ix = ids.zipWithIndex.toMap
    val vecs = rows.map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    val levels = rows.map(_.getInt(2))
    val links = rows.map(
      _.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](3)
        .map(_.map(ix(_)).toArray).toArray)
    Graph(ids, vecs, levels, links, ix(rows.head.getLong(4)),
      rows.head.getInt(5), meta.getInt(0), meta.getInt(1),
      meta.getLong(2), meta.getBoolean(3))
  }

  /** Persist: one parquet row per node (id, level, per-level links as
    * neighbor IDS — stable across reload re-sorts) + vecs + meta.
    * `attrs` (q178 — attribute-filtered serving): per-node integer
    * metadata columns riding the nodes table, aligned with `g.ids`
    * order; `LocalAnn.load(attrCols)` reads them back for filtered
    * search, the same substrate the pq/opq/sq8 codes tables carry. */
  def save(spark: SparkSession, g: Graph, path: String,
           attrs: Seq[(String, Array[Long])] = Nil): Unit = {
    attrs.foreach { case (a, vs) =>
      require(vs.length == g.size,
        s"attr '$a' has ${vs.length} values for ${g.size} nodes")
    }
    // driver-local writes (round-20): the graph is driver-resident and
    // the tables are KiB-MB — the two repartition(1) Spark writes cost
    // ~0.5 s of orchestration per save, which q183's per-micro-batch
    // load→append→save paid 5x per execution. Same parquet layout
    // (DriverParquetSpec pins spark.read/readRows equality on written
    // files); crash residue stays hidden (write-then-rename), which is
    // no weaker than the overwrite contract documented at the q183
    // gate (clean-restart scope).
    import org.apache.spark.sql.types._
    val nodeSchema = StructType(Seq(
      StructField("id", LongType), StructField("vec", ArrayType(FloatType)),
      StructField("level", IntegerType),
      StructField("links", ArrayType(ArrayType(LongType)))) ++
      attrs.map { case (a, _) => StructField(a, LongType) })
    val nodeRows = g.ids.indices.map { i =>
      org.apache.spark.sql.Row.fromSeq(Seq(
        g.ids(i), g.vecs(i).toSeq, g.levels(i),
        g.links(i).map(_.map(g.ids(_)).toSeq).toSeq) ++ attrs.map(_._2(i)))
    }
    graft.sources.DriverParquet.writeRows(spark, s"$path/hnsw_nodes",
      nodeSchema, nodeRows)
    val metaSchema = StructType(Seq(
      StructField("m", IntegerType), StructField("ef_construction", IntegerType),
      StructField("seed", LongType), StructField("entry_id", LongType),
      StructField("max_level", IntegerType), StructField("heuristic", BooleanType)))
    graft.sources.DriverParquet.writeRows(spark, s"$path/hnsw_meta", metaSchema,
      Seq(org.apache.spark.sql.Row(g.m, g.efC, g.seed, g.ids(g.entry),
        g.maxLevel, g.heuristic)))
  }

  /** Load a graph saved by [[save]]; bit-identical search behavior.
    * Round-17 artifacts predate the `heuristic` meta column (round-18
    * advice: selecting it unconditionally broke their load with an
    * AnalysisException) — absent column defaults to false, which IS
    * those artifacts' build mode, so old graphs reload bit-identically. */
  def load(spark: SparkSession, path: String): Graph = {
    // driver-local reads (round-20): a graph reload ran 4+ Spark jobs
    // (meta schema, meta head, nodes read, collect) for an artifact the
    // driver holds in memory anyway; DriverParquetSpec pins value
    // bit-equality vs the Spark read
    val metaCols = graft.sources.DriverParquet
      .columnNames(spark, s"$path/hnsw_meta")
    val hasHeur = metaCols.contains("heuristic")
    val meta = graft.sources.DriverParquet.headRow(spark, s"$path/hnsw_meta",
      Seq("m", "ef_construction", "seed", "entry_id", "max_level") ++
        (if (hasHeur) Seq("heuristic") else Nil))
    val heuristic = if (hasHeur) meta.getBoolean(5) else false
    val rows = graft.sources.DriverParquet.readRows(spark, s"$path/hnsw_nodes",
        Seq("id", "vec", "level", "links"))
      .sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    val ix = ids.zipWithIndex.toMap
    val vecs = rows.map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    val levels = rows.map(_.getInt(2))
    val links = rows.map(_.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](3)
      .map(_.map(ix(_)).toArray).toArray)
    Graph(ids, vecs, levels, links, ix(meta.getLong(3)), meta.getInt(4),
      meta.getInt(0), meta.getInt(1), meta.getLong(2), heuristic)
  }
}
