package graft.serve

import org.apache.spark.sql.SparkSession

import graft.operators.{Bq, Hnsw, Ivf, Opq, Pq, Sq, TopK}

/** Driver-local ANN searcher over a REGISTERED artifact — the serving
  * half of the ANN tier (round-15 verdict #4: registry artifacts were
  * searchable only inside a Spark job; the rotate-query + ADC + rerank
  * path over HTTP was the missing last mile). The LocalScorer doctrine
  * applied to search: the artifact is collected into plain JVM arrays
  * once at load, every request is pure Scala at microsecond-to-
  * millisecond latency, and the arithmetic mirrors the Spark path
  * OPERATION FOR OPERATION so results are bit-identical to
  * `Pq.searchReranked` / `Ivf.search` over the same artifact
  * (LocalAnnSpec + the q162 gate assert it):
  *
  *  - query rotation = Opq.rotate's double-accumulate / toFloat loop;
  *  - query unitization = Pq.qTables' (v/‖v‖).toFloat float array;
  *  - ADC = the same j=0..m−1 left-assoc double sum of table lookups,
  *    shortlist ties broken (adc asc, id asc);
  *  - exact rerank = NativeVector.cosine's in-order double dot with
  *    the same round(c·10⁶)/10⁶ (BigDecimal HALF_UP — Spark's round)
  *    BEFORE ranking, ties (sim desc, id asc).
  *
  * Memory contract: PQ codes are m bytes-worth per vector and the
  * full-precision vectors ride along for the exact rerank — the FAISS
  * serving model (codes hot, vectors addressable). One serving node
  * holds one shard of the index; at 100 TB the shards are routed above
  * this layer, exactly like any other model server.
  */
object LocalAnn {

  /** A loaded, serveable index.
    * `family` ∈ {"ivf", "pq", "opq", "sq8", "hnsw", "bq"}.
    *  - pq/opq: `cb`+`ids`/`codes`/`vecs` drive ADC + rerank; `rot` is
    *    the OPQ rotation (identity absent).
    *  - ivf: `centroids`+`cellOf` drive the probe; vecs are exact.
    *  - `attrs` (round 17): per-row integer metadata columns loaded via
    *    `load(attrCols = ...)` — the FAISS-IDSelector / vector-DB
    *    metadata-filter substrate. Row i of every attrs array describes
    *    ids(i). */
  final case class Index(name: String, family: String,
                         rot: Option[Array[Array[Double]]],
                         cb: Option[Pq.Codebooks],
                         ids: Array[Long],
                         vecs: Array[Array[Float]],
                         codes: Array[Array[Int]],
                         centroids: Array[Array[Float]],
                         cellOf: Array[Int],
                         attrs: Map[String, Array[Long]] = Map.empty,
                         sq: Option[Sq.Quantizer] = None,
                         hnsw: Option[Hnsw.Graph] = None,
                         deleted: Array[Boolean] = Array.empty,
                         centGraph: Option[CentroidProbe] = None,
                         bq: Option[Bq.Quantizer] = None,
                         lcodes: Array[Array[Long]] = Array.empty) {
    def size: Int = ids.length
    /** Row i survives the registry tombstone mask (round 19 — FAISS
      * remove_ids semantics: deleted rows stay IN the artifact and the
      * loaded arrays, they just never surface from a search). */
    def live(i: Int): Boolean = deleted.isEmpty || !deleted(i)
    def deletedCount: Int = if (deleted.isEmpty) 0 else deleted.count(identity)
  }

  /** True when row i passes every attribute constraint in `allow`
    * (attr name → allowed value set; conjunctive, the WHERE-clause
    * semantics). Callers validate attr existence up front so the hot
    * loop never throws. */
  private def passes(idx: Index, i: Int, allow: Map[String, Set[Long]]): Boolean =
    allow.isEmpty || allow.forall { case (a, set) => set.contains(idx.attrs(a)(i)) }

  /** Fail loudly (before the scan) when a filter names an attribute the
    * index did not load — a typo'd attr must be a request error, never
    * an empty result set. */
  private def validateFilter(idx: Index, allow: Map[String, Set[Long]]): Unit =
    allow.keys.foreach { a =>
      require(idx.attrs.contains(a),
        s"index '${idx.name}' has no attribute '$a' " +
          s"(loaded: ${if (idx.attrs.isEmpty) "none" else idx.attrs.keys.toSeq.sorted.mkString(", ")})")
    }

  /** One search hit: (neighbor id, exact cosine rounded to 1e−6). */
  final case class Hit(neighborId: Long, sim: Double)

  /** Graph-assisted probe selection for the ivf serving arm (round 20
    * — verdict #1's latency-critical half: [[searchIvf]] scanned ALL
    * centroids per request, the same O(nlist) shape `Ivf.assignGraph`
    * replaced corpus-side). `g` is an HNSW graph over the centroids
    * (`Ivf.centroidGraph`); per request the beam proposes `cand`
    * cells at breadth `efSearch` and an exact in-order-double dot
    * ordering decides the top-nProbe probe set — `Ivf
    * .probeCellsGraph`'s arithmetic verbatim, so with `efSearch`/
    * `cand ≥ nlist` the served results are BIT-IDENTICAL to the scan
    * arm (LocalAnnSpec pins it); tight budgets are the latency path:
    * O(ef·log nlist) per request instead of O(nlist). */
  final case class CentroidProbe(g: Hnsw.Graph, efSearch: Int, cand: Int)

  /** Attach graph-assisted probe selection to a loaded ivf index: the
    * centroid graph builds once at load (nlist nodes — milliseconds up
    * to ~10⁵ cells) and every subsequent request pays the beam instead
    * of the full centroid scan. No-op knobs (`efSearch`/`cand` ≥
    * nlist) reproduce the scan bit-for-bit. */
  def withCentroidGraph(idx: Index, efSearch: Int, cand: Int,
                        m: Int = 16, efConstruction: Int = 100): Index = {
    require(idx.family == "ivf",
      s"centroid-graph probing applies to the ivf family, not '${idx.family}'")
    require(idx.centroids.nonEmpty, "ivf index has no centroids")
    val g = Hnsw.build(
      idx.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq,
      m, efConstruction)
    idx.copy(centGraph = Some(CentroidProbe(g, efSearch, cand)))
  }

  /** Load a registered artifact into a serveable in-memory index.
    * Family comes from the on-disk layout (ModelRegistry.kindOf):
    * "opq" wants rotation + codebooks + codes, "pq" codebooks + codes,
    * "ivf" centroids + assigned. The codes table must carry the id,
    * the (rotated, for opq) vector column, and `codes`.
    *
    * `attrCols` (round 17 — filtered search): names of integer columns
    * riding the codes/assigned table to load as per-row metadata for
    * attribute-filtered search (FAISS IDSelector semantics). Attr
    * columns are excluded from the id/vec type resolution, so a codes
    * frame registered as (id, vec, codes, label, ...) serves both
    * unfiltered and filtered requests. Missing or non-integer attr
    * columns fail at load with registry context. */
  def load(spark: SparkSession, root: String, name: String,
           version: Long = -1L, attrCols: Seq[String] = Nil): Index = {
    // every artifact table reads DRIVER-LOCALLY (round-20 optimization):
    // a serving node's load is once-per-deployment work over KiB-MB
    // parquet the node holds in memory anyway, and the old
    // spark.read+collect path paid a full Spark job's plan+schedule
    // orchestration per table (8-10 jobs, ~1.2 s per load; measured
    // ~5.8 s of q181's ~7 s). Same files, bit-identical arrays
    // (DriverParquetSpec pins it against the Spark reads).
    // Resolve the version ONCE (round-21): every helper re-resolved
    // `-1` through its own full metadata-table read (4-5 reads per
    // load), and each registry lifecycle step appends a meta part file
    // — post-compact loads paid 0.6-1.1 s of repeated KiB re-reads.
    // One resolution here, explicit version everywhere below.
    val v = if (version > 0) version
            else ModelRegistry.latestVersion(spark, root, name)
    val family = ModelRegistry.kindOf(spark, root, name, v)
    def codesTable(codesCol: String) = {
      val path = s"${ModelRegistry.artifactPathOf(spark, root, name, v)}/pq_codes"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(path)),
        s"registered '$name' has no codes table " +
          "- register with codes to make the artifact serveable")
      loadCodesTable(graft.sources.DriverParquet.schemaOf(spark, path),
        graft.sources.DriverParquet.readRows(spark, path),
        codesCol, attrCols, name)
    }
    val base = family match {
      case "opq" | "pq" =>
        val rot =
          if (family == "opq") Some(ModelRegistry.loadOpq(spark, root, name, v).rows)
          else None
        val cb = ModelRegistry.loadPq(spark, root, name, v)
        val (ids, vecs, codes, attrs) = codesTable("codes")
        Index(name, family, rot, Some(cb), ids, vecs, narrow(codes),
          Array.empty, Array.empty, attrs)
      case "sq8" =>
        val q = ModelRegistry.loadSq(spark, root, name, v)
        val (ids, vecs, codes, attrs) = codesTable("sq_codes")
        Index(name, family, None, None, ids, vecs, narrow(codes),
          Array.empty, Array.empty, attrs, Some(q))
      case "bq" =>
        val q = ModelRegistry.loadBq(spark, root, name, v)
        val (ids, vecs, codes, attrs) = codesTable("bq_codes")
        Index(name, family, None, None, ids, vecs, Array.empty,
          Array.empty, Array.empty, attrs, bq = Some(q), lcodes = codes)
      case "hnsw" =>
        // the graph IS the serveable artifact; attr columns (round 18)
        // ride the saved nodes table — read them id-sorted so row i
        // aligns with graph node i (both ascending-id)
        val g = ModelRegistry.loadHnsw(spark, root, name, v)
        val attrs =
          if (attrCols.isEmpty) Map.empty[String, Array[Long]]
          else {
            val nodesPath =
              s"${ModelRegistry.artifactPathOf(spark, root, name, v)}/hnsw_nodes"
            val schema = graft.sources.DriverParquet.schemaOf(spark, nodesPath)
            val rows = graft.sources.DriverParquet.readRows(spark, nodesPath)
              .sortBy(_.getLong(schema.fieldIndex("id")))
            readAttrs(rows, schema, attrCols, name)
          }
        Index(name, family, None, None, g.ids, g.vecs, Array.empty,
          Array.empty, Array.empty, attrs, None, Some(g))
      case "ivf" =>
        val (idCol, vecCol, centRows, rows, schema) = graft.operators.Ivf
          .loadLocal(spark, ModelRegistry.artifactPathOf(spark, root, name, v))
        val cents = centRows.sortBy(_.getInt(0))
          .map(_.getAs[scala.collection.Seq[Float]]("cvec").toArray)
        val n = rows.length
        val ids = new Array[Long](n)
        val vecs = new Array[Array[Float]](n)
        val cellOf = new Array[Int](n)
        var i = 0
        while (i < n) {
          val r = rows(i)
          ids(i) = r.getLong(r.schema.fieldIndex(idCol))
          vecs(i) = r.getAs[scala.collection.Seq[Float]](r.schema.fieldIndex(vecCol)).toArray
          cellOf(i) = r.getInt(r.schema.fieldIndex("centroid_id"))
          i += 1
        }
        Index(name, family, None, None, ids, vecs, Array.empty, cents, cellOf,
          readAttrs(rows, schema, attrCols, name))
      case other => throw new IllegalArgumentException(
        s"registered '$name' is family '$other' - not a serveable ANN artifact")
    }
    // registry tombstones (round 19): materialize the deleted-id set as
    // a row-aligned mask once at load — the hot scans then pay one
    // boolean read per row, never a set lookup
    val del = ModelRegistry.loadDeletedIds(spark, root, name, v)
    if (del.isEmpty) base else base.copy(deleted = base.ids.map(del.contains))
  }

  /** Wrap an in-memory HNSW graph as a serveable index — the serving
    * node's startup path when its graph arrives from the distributed
    * fleet build ([[graft.operators.Hnsw.loadShard]] off a
    * `saveShards` artifact) rather than a per-name registry entry.
    * No attrs/tombstones ride this path (those are registry-artifact
    * concerns; a fleet with either registers per-shard artifacts). */
  def fromGraph(name: String, g: Hnsw.Graph): Index =
    Index(name, "hnsw", None, None, g.ids, g.vecs, Array.empty,
      Array.empty, Array.empty, Map.empty, None, Some(g))

  /** Collect a codes table (`codesCol` = "codes" for pq/opq, "sq_codes"
    * for sq8) into serving arrays, resolving the id/vec columns by
    * schema TYPE, not position (round-16 verdict #4 / advice: encode
    * happens to keep input column order today, but a layout change
    * there would mis-wire serving while the operator spec stayed
    * green). The table must carry exactly one long column (the id) and
    * exactly one array<float> column (the rerank vector) besides the
    * codes and declared attr columns — ambiguity fails loudly with the
    * registry context instead of silently reranking against the wrong
    * column. Rows with null codes park (never ranked). */
  private def loadCodesTable(schema: org.apache.spark.sql.types.StructType,
                             rows: Array[org.apache.spark.sql.Row],
                             codesCol: String, attrCols: Seq[String],
                             name: String):
      (Array[Long], Array[Array[Float]], Array[Array[Long]], Map[String, Array[Long]]) = {
    require(schema.fieldNames.contains(codesCol),
      s"registered '$name' codes table has no `$codesCol` column " +
        s"(columns: ${schema.fieldNames.mkString(", ")})")
    def only(what: String)(p: org.apache.spark.sql.types.StructField => Boolean): Int = {
      val hits = schema.fields.zipWithIndex
        .filter { case (f, _) =>
          f.name != codesCol && !attrCols.contains(f.name) && p(f) }
      require(hits.length == 1,
        s"registered '$name' codes table must carry exactly one $what " +
          s"column besides `$codesCol`; found ${hits.map(_._1.name).mkString("[", ", ", "]")} " +
          s"in (${schema.fieldNames.mkString(", ")}) - slim the codes frame " +
          "to (id, vec, codes) before registering")
      hits.head._2
    }
    val idIx = only("long id")(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val vecIx = only("array<float> vector") { f =>
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }
    }
    require(rows.nonEmpty, s"registered '$name' has no codes table " +
      "- register with codes to make the artifact serveable")
    val codeIx = schema.fieldIndex(codesCol)
    val n = rows.length
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    // codes widen to Long here (bq packs 64-bit words; pq/sq8 narrow
    // back to Int arrays once at load — never in a hot loop)
    val codes = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      ids(i) = r.getLong(idIx)
      vecs(i) = r.getAs[scala.collection.Seq[Float]](vecIx).toArray
      val cs = r.getAs[scala.collection.Seq[Any]](codeIx)
      codes(i) =
        if (cs == null || cs.exists(_ == null)) null // parked: never ranked
        else cs.map {
          case x: Int  => x.toLong
          case x: Long => x
          case other => throw new IllegalArgumentException(
            s"registered '$name' codes must be integral, found " +
              s"${if (other == null) "null" else other.getClass.getSimpleName}")
        }.toArray
      i += 1
    }
    (ids, vecs, codes, readAttrs(rows, schema, attrCols, name))
  }

  /** Narrow a widened codes table back to Int arrays (pq/sq8 codes are
    * byte-range; the widening exists only for bq's packed words). */
  private def narrow(codes: Array[Array[Long]]): Array[Array[Int]] =
    codes.map(c => if (c == null) null else c.map(_.toInt))

  /** Load `attrCols` off the collected codes/assigned rows as per-row
    * long arrays (integral column types only; nulls fail loudly — a
    * filter over a partial attribute would silently drop rows). */
  private def readAttrs(rows: Array[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType,
                        attrCols: Seq[String], name: String): Map[String, Array[Long]] =
    attrCols.map { a =>
      require(schema.fieldNames.contains(a),
        s"registered '$name' has no attribute column '$a' " +
          s"(columns: ${schema.fieldNames.mkString(", ")})")
      val ix = schema.fieldIndex(a)
      import org.apache.spark.sql.types._
      val get: org.apache.spark.sql.Row => Long = schema.fields(ix).dataType match {
        case LongType    => r => r.getLong(ix)
        case IntegerType => r => r.getInt(ix).toLong
        case ShortType   => r => r.getShort(ix).toLong
        case ByteType    => r => r.getByte(ix).toLong
        case other => throw new IllegalArgumentException(
          s"attribute column '$a' of registered '$name' must be integral " +
            s"for filtered search, found $other")
      }
      a -> rows.map { r =>
        require(!r.isNullAt(ix),
          s"attribute '$a' of registered '$name' has a null value - " +
            "filtered search needs a total attribute column")
        get(r)
      }
    }.toMap

  /** Spark's `round(x)` on a double: BigDecimal.valueOf + HALF_UP. */
  private def sparkRound(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** NativeVector.cosine verbatim: in-order double dot over float
    * elements, null (NaN here) when a norm is zero. */
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

  /** The exact rerank sim: [[cosine]] rounded to 1e−6 like Spark's
    * round, NaN (zero-norm row) kept as the sorts-last marker. */
  private def roundedCosine(a: Array[Float], b: Array[Float]): Double = {
    val c = cosine(a, b)
    if (c.isNaN) Double.NaN else sparkRound(c * 1e6) / 1e6
  }

  /** Exact rerank of a shortlist: [[roundedCosine]] per survivor, top-k
    * by (sim desc, id asc, NaN last) — offered to a [[TopK]] as
    * (−sim, id). The survivors are read in heap order, unsorted: the
    * rerank order is total on (sim, id), so the order of its input
    * cannot change its output. */
  private def rerank(idx: Index, q: Array[Float], short: TopK, topK: Int): Seq[Hit] = {
    val top = new TopK(maxRoot = true, math.min(topK, short.size))
    var i = 0
    while (i < short.size) {
      val row = short.row(i)
      top.offer(-roundedCosine(q, idx.vecs(row)), idx.ids(row), row)
      i += 1
    }
    hitsOf(top)
  }

  /** The hits of a (−sim, id) top-k, in (sim desc, id asc, NaN last)
    * order. */
  private def hitsOf(top: TopK): Seq[Hit] = {
    top.sortAscending()
    Array.tabulate(top.size)(i => Hit(top.id(i), top.negKey(i))).toSeq
  }

  /** Fan-out + merge over index SHARDS (round-17 — the "layer above"
    * the r16 verdict noted was missing: one serving node holds one
    * bounded shard, and a fleet answers by searching every shard and
    * merging). Each shard runs the full [[search]] (ADC shortlist +
    * exact rerank for pq/opq, probe + exact for ivf) and the per-shard
    * top-k lists merge on the SAME key ((sim desc, id asc), NaN last)
    * — correct because every global top-k hit necessarily ranks inside
    * its own shard's top-k, so the merge of per-shard top-k lists
    * contains the global top-k of the united candidate set. With one
    * shard this is [[search]] verbatim (bit-identical, LocalAnnSpec);
    * with N shards the per-shard shortlist applies per shard, so
    * recall vs exact can only MEET OR BEAT a single index given the
    * same shortlist (superset of reranked candidates). All shards must
    * be one family (enforced at serving registration). */
  def searchSharded(shards: Seq[Index], queryId: Long, query: Array[Float],
                    shortlist: Int, topK: Int,
                    dropSelf: Boolean = true,
                    allow: Map[String, Set[Long]] = Map.empty): Seq[Hit] = {
    require(shards.nonEmpty, "at least one shard required")
    topHits(shards.flatMap(search(_, queryId, query, shortlist, topK, dropSelf, allow)), topK)
  }

  /** Merge per-shard (or per-upstream) top-k lists: the top-k of
    * `hits` by (sim desc, id asc, NaN last). */
  private[serve] def topHits(hits: Seq[Hit], topK: Int): Seq[Hit] = {
    val top = new TopK(maxRoot = true, math.min(topK, hits.size))
    hits.foreach(h => top.offer(-h.sim, h.neighborId, 0))
    hitsOf(top)
  }

  /** Search the index for one query vector (the `/ann/search` hot
    * path). `shortlist` bounds the ADC candidate set for pq/opq (it is
    * `nProbe` for ivf); `dropSelf` excludes `queryId` from candidates
    * (the corpus-query convention). Results are exactly
    * `Pq.searchReranked` / `Ivf.search` rows for this query.
    *
    * `allow` (round 17 — attribute-filtered search, the FAISS
    * IDSelector / vector-DB metadata-filter semantics): attr name →
    * allowed value set, conjunctive across attrs. PRE-filtering — the
    * constraint applies in the candidate scan, BEFORE the shortlist is
    * taken, so the result is the top-k OF THE FILTERED CORPUS. (The
    * naive alternative, post-filtering an unfiltered top-k, loses every
    * hit the filter would have admitted past rank k — the q169 gate
    * measures exactly that gap.) Unknown attr names fail the request
    * loudly; an empty allowed set is a legal constraint that matches
    * nothing.
    *
    * Selection is bounded and allocation-free per candidate: every
    * shortlist, rerank and ivf probe set is a [[TopK]] max-heap on
    * primitive arrays holding at most min(shortlist, size) entries —
    * sized from the index, so a huge `shortlist` costs no more than
    * the index size — and HNSW runs [[Hnsw]]'s primitive-heap beam.
    * Each heap orders (key, id) by java.lang.Double.compare, the total
    * order `sortBy` gives (Double, Long) tuples, so the hits, their order
    * and their sim bits are those of a sort-then-take selection
    * (TopKParitySpec checks that against such code). The query's
    * finiteness is checked here, once, for every family. */
  def search(idx: Index, queryId: Long, query: Array[Float],
             shortlist: Int, topK: Int, dropSelf: Boolean = true,
             allow: Map[String, Set[Long]] = Map.empty): Seq[Hit] = {
    Hnsw.requireFinite(query)
    validateFilter(idx, allow)
    idx.family match {
      case "opq" | "pq" => searchPq(idx, queryId, query, shortlist, topK, dropSelf, allow)
      case "sq8"        => searchSq(idx, queryId, query, shortlist, topK, dropSelf, allow)
      case "bq"         => searchBq(idx, queryId, query, shortlist, topK, dropSelf, allow)
      case "ivf"        => searchIvf(idx, queryId, query, shortlist, topK, dropSelf, allow)
      case "hnsw" =>
        // `shortlist` is efSearch here (the nProbe convention: one
        // breadth knob per family); Hnsw.search already emits the
        // canonical (sim desc, id asc) rounded-cosine hits. A filter
        // becomes a node-index predicate over the loaded attrs — the
        // hnswlib semantics (failing nodes traversed, never returned),
        // so the result is the top-k OF THE FILTERED CORPUS like every
        // other family's pre-filtering arm. The registry tombstone mask
        // (round 19) composes into the same predicate: deleted nodes
        // stay TRAVERSABLE — cutting them out of the beam would orphan
        // their neighbors and crater recall near deletions — but never
        // surface, exactly hnswlib's mark-deleted behavior.
        val pred: Option[Int => Boolean] =
          if (allow.isEmpty && idx.deleted.isEmpty) None
          else Some((i: Int) => idx.live(i) && passes(idx, i, allow))
        Hnsw.searchFinite(idx.hnsw.get, query, efSearch = shortlist, topK = topK,
            dropId = if (dropSelf) Some(queryId) else None,
            allow = pred)
          .map { case (id, sim) => Hit(id, sim) }
      case other => throw new IllegalStateException(s"unserveable family $other")
    }
  }

  /** bq (round 20): Hamming-scan shortlist + exact rerank, mirroring
    * [[Bq.searchReranked]] operation for operation — the query encodes
    * under the artifact's planes with [[NativeVector.dot]]'s in-order
    * double accumulation and the strictly-positive sign convention
    * (`Bq.encode` verbatim), the scan is XOR+popcount on packed longs
    * (integer arithmetic — no accumulation-order sensitivity at all),
    * shortlist ties (ham asc, id asc), exact rerank identical to every
    * other family. */
  private def searchBq(idx: Index, queryId: Long, q: Array[Float],
                       shortlist: Int, topK: Int, dropSelf: Boolean,
                       allow: Map[String, Set[Long]]): Seq[Hit] = {
    val bq = idx.bq.get
    require(q.length == bq.dim,
      s"query dim ${q.length} does not match the index")
    val nWords = bq.nWords
    val qcodes = new Array[Long](nWords)
    var w = 0
    while (w < nWords) {
      var word = 0L
      var b = 0
      while (b < 64) {
        val p = bq.planes(w * 64 + b)
        var s = 0.0; var d = 0
        while (d < bq.dim) { s += q(d).toDouble * p(d); d += 1 }
        if (s > 0) word |= (1L << b)
        b += 1
      }
      qcodes(w) = word
      w += 1
    }
    val short = new TopK(maxRoot = true, math.min(shortlist, idx.size))
    var i = 0
    while (i < idx.size) {
      val cs = idx.lcodes(i)
      if (cs != null && idx.live(i) && !(dropSelf && idx.ids(i) == queryId) &&
          passes(idx, i, allow)) {
        var ham = 0
        var j = 0
        while (j < nWords) {
          ham += java.lang.Long.bitCount(qcodes(j) ^ cs(j)); j += 1
        }
        short.offer(ham.toDouble, idx.ids(i), i)
      }
      i += 1
    }
    rerank(idx, q, short, topK)
  }

  /** sq8: decode-and-scan shortlist + exact rerank, mirroring
    * [[Sq.searchReranked]] operation for operation — decode is
    * (code · span) + min in double, the approximate cosine is
    * NativeVector.cosine's in-order double dot (null → NaN marker,
    * sorts last like SQL nulls), shortlist ties (approx desc, id asc),
    * exact rerank identical to the pq path. */
  private def searchSq(idx: Index, queryId: Long, q: Array[Float],
                       shortlist: Int, topK: Int, dropSelf: Boolean,
                       allow: Map[String, Set[Long]]): Seq[Hit] = {
    val sq = idx.sq.get
    require(q.length == sq.dim,
      s"query dim ${q.length} does not match the index")
    val spans = sq.spans
    val short = new TopK(maxRoot = true, math.min(shortlist, idx.size))
    var i = 0
    while (i < idx.size) {
      val cs = idx.codes(i)
      if (cs != null && idx.live(i) && !(dropSelf && idx.ids(i) == queryId) &&
          passes(idx, i, allow)) {
        // decode + cosine fused: dec_d = cs(d)·span_d + min_d
        var dab = 0.0; var daa = 0.0; var dbb = 0.0
        var d = 0
        while (d < sq.dim) {
          val x = q(d).toDouble
          val y = cs(d).toDouble * spans(d) + sq.mins(d).toDouble
          dab += x * y; daa += x * x; dbb += y * y
          d += 1
        }
        val denom = math.sqrt(daa) * math.sqrt(dbb)
        val approx = if (denom > 0) dab / denom else Double.NaN
        // (approx desc, NaN last, id asc) = ascending (−approx, id)
        short.offer(-approx, idx.ids(i), i)
      }
      i += 1
    }
    rerank(idx, q, short, topK)
  }

  /** pq/opq: rotate, ADC-scan every live code, keep the `shortlist`
    * smallest (adc, id) in a bounded [[TopK]] — the heap's root is the
    * current worst, so a candidate costs one compare unless it beats
    * it — then exact-rerank the survivors. The heap keeps exactly the
    * rows `sortBy((adc, id)).take(shortlist)` kept (same total order on
    * adc, ties by id), and the rerank is a total order on (sim, id), so
    * the survivors need no sort of their own. */
  private def searchPq(idx: Index, queryId: Long, queryRaw: Array[Float],
                       shortlist: Int, topK: Int, dropSelf: Boolean,
                       allow: Map[String, Set[Long]]): Seq[Hit] = {
    val cb = idx.cb.get
    require(queryRaw.length == (if (idx.rot.isDefined) idx.rot.get.length else cb.dim),
      s"query dim ${queryRaw.length} does not match the index")
    // 1. rotate (opq): Opq.rotate's exact loop — double acc, toFloat
    val q: Array[Float] = idx.rot match {
      case Some(r) =>
        val d = r.length
        val y = new Array[Float](d)
        var o = 0
        while (o < d) {
          val w = r(o); var s = 0.0; var i = 0
          while (i < d) { s += queryRaw(i).toDouble * w(i); i += 1 }
          y(o) = s.toFloat; o += 1
        }
        y
      case None => queryRaw
    }
    // 2. qTables' unitization (float array) + M×k table in double
    val qu = q.clone()
    var s = 0.0; var i = 0
    while (i < qu.length) { s += qu(i).toDouble * qu(i); i += 1 }
    val nrm = math.sqrt(s)
    if (nrm > 0) { i = 0; while (i < qu.length) { qu(i) = (qu(i) / nrm).toFloat; i += 1 } }
    val tab = new Array[Double](cb.m * cb.k)
    var j = 0
    while (j < cb.m) {
      var c = 0
      while (c < cb.centers(j).length) {
        val cen = cb.centers(j)(c)
        var ss = 0.0; var d = 0
        while (d < cb.subDim) {
          val diff = qu(j * cb.subDim + d).toDouble - cen(d)
          ss += diff * diff; d += 1
        }
        tab(j * cb.k + c) = ss
        c += 1
      }
      j += 1
    }
    // 3. ADC over all codes; shortlist by (adc asc, id asc)
    val short = new TopK(maxRoot = true, math.min(shortlist, idx.size))
    i = 0
    while (i < idx.size) {
      val cs = idx.codes(i)
      if (cs != null && idx.live(i) && !(dropSelf && idx.ids(i) == queryId) &&
          passes(idx, i, allow)) {
        var adc = 0.0
        var m = 0
        while (m < cb.m) { adc += tab(m * cb.k + cs(m)); m += 1 }
        short.offer(adc, idx.ids(i), i)
      }
      i += 1
    }
    // 4. exact rerank: rounded cosine (on the UNNORMALIZED rotated
    // query — rerank joins the raw qvec), ties (sim desc, id asc);
    // NaN sims (zero-norm corpus rows) sort last, like SQL nulls
    rerank(idx, q, short, topK)
  }

  private def searchIvf(idx: Index, queryId: Long, q: Array[Float],
                        nProbe: Int, topK: Int, dropSelf: Boolean,
                        allow: Map[String, Set[Long]]): Seq[Hit] = {
    require(idx.centroids.nonEmpty, "ivf index has no centroids")
    require(q.length == idx.centroids(0).length,
      s"query dim ${q.length} does not match the index")
    // probe ranking: raw dot desc, centroid_id asc (Ivf.search's
    // window). With a centroid graph attached (round 20) the beam
    // PROPOSES the cells and the same exact dot ordering DECIDES among
    // the proposals — Ivf.probeCellsGraph's discipline; exhaustive
    // knobs reproduce the scan bit-for-bit, tight knobs skip the
    // O(nlist) sweep on the request path.
    val candidateCells: Seq[Int] = idx.centGraph match {
      case Some(cp) =>
        Hnsw.searchFinite(cp.g, q, cp.efSearch, cp.cand, None, None).map(_._1.toInt)
      case None => idx.centroids.indices
    }
    val probes = new TopK(maxRoot = true, math.min(nProbe, candidateCells.size))
    candidateCells.foreach { c =>
      var s = 0.0; var i = 0
      while (i < q.length) { s += q(i).toDouble * idx.centroids(c)(i); i += 1 }
      probes.offer(-s, c, c)
    }
    val probed = new Array[Boolean](idx.centroids.length)
    (0 until probes.size).foreach(p => probed(probes.row(p)) = true)
    val top = new TopK(maxRoot = true, math.min(topK, idx.size))
    var i = 0
    while (i < idx.size) {
      val cell = idx.cellOf(i)
      if (cell >= 0 && cell < probed.length && probed(cell) && idx.live(i) &&
          !(dropSelf && idx.ids(i) == queryId) &&
          passes(idx, i, allow)) {
        top.offer(-roundedCosine(q, idx.vecs(i)), idx.ids(i), i)
      }
      i += 1
    }
    hitsOf(top)
  }
}
