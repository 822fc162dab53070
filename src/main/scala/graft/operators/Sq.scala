package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeVector

/** SQ8 scalar quantization — the remaining classic compression tier of
  * the ANN family (FAISS `ScalarQuantizer` QT_8bit semantics, Jégou et
  * al.'s baseline next to PQ): each DIMENSION is affinely quantized to
  * one byte against its own corpus-wide [min, max] range. 4× smaller
  * than raw float32 (vs PQ's ~32×) with far higher reconstruction
  * fidelity — the tier a deployment reaches for when PQ's recall at a
  * tight shortlist isn't enough but raw floats don't fit in RAM.
  *
  * Everything is EXACT and layout-independent by construction, so the
  * whole train+encode arithmetic is cross-engine replayable (the q170
  * oracle recomputes per-dim ranges and per-dim code sums in DuckDB):
  *  - train = per-dim min/max — exact order statistics, one scan, no
  *    float-accumulation order sensitivity at any partitioning;
  *  - encode: code_i = round(255 · (x_i − mn_i) / (mx_i − mn_i)) in
  *    DOUBLE arithmetic (Spark `round` = BigDecimal HALF_UP; the value
  *    is non-negative so DuckDB's half-away-from-zero agrees bit for
  *    bit), degenerate dims (mx == mn) code to 0;
  *  - decode: x̂_i = mn_i + code_i · (mx_i − mn_i) / 255, double.
  *
  * Search is decode-and-scan (FAISS's flat-SQ shape): the approximate
  * cosine over reconstructed vectors prunes the corpus to `shortlist`
  * candidates per query, exact cosine re-ranks only those — same
  * deployment contract as [[Pq.searchReranked]], so an exhaustive
  * shortlist reproduces brute force bit-for-bit. Scale: codes are the
  * only corpus-sized column the scan touches (4× less IO than floats;
  * at 100 TB the float vectors stay cold until the rerank reads the
  * shortlist rows), and the scan composes with [[Ivf]] cell pruning
  * exactly like PQ (probe first, decode only probed cells) when a flat
  * scan is too much — the IVF,SQ8 index of the FAISS taxonomy.
  */
object Sq {

  /** Per-dimension quantization ranges (floats exactly as aggregated —
    * they round-trip parquet bit-identically; arithmetic widens to
    * double at use). */
  final case class Quantizer(mins: Array[Float], maxs: Array[Float]) {
    def dim: Int = mins.length
    private[graft] def spans: Array[Double] =
      Array.tabulate(dim)(i => (maxs(i).toDouble - mins(i).toDouble) / 255.0)
  }

  /** Fit per-dim [min, max] over every corpus row of exact width `dim`
    * (one codegen'd scan, 2·dim partial aggregates — KiB of state; rows
    * of any other width are ignored here and park at [[encode]]).
    * Non-finite values are the caller's contract breach, same as
    * [[Pq.train]]'s convention. */
  def train(df: DataFrame, vec: String, dim: Int): Quantizer = {
    val v = col(vec)
    val ok = df.filter(size(v) === dim).select(v.as("v"))
    val aggs = (0 until dim).flatMap { i =>
      Seq(min(element_at(col("v"), i + 1)).as(s"mn$i"),
        max(element_at(col("v"), i + 1)).as(s"mx$i"))
    }
    val r = ok.agg(aggs.head, aggs.tail: _*).head()
    require(!r.isNullAt(0), s"Sq.train: no rows of width $dim in $vec")
    Quantizer(
      Array.tabulate(dim)(i => r.getFloat(2 * i)),
      Array.tabulate(dim)(i => r.getFloat(2 * i + 1)))
  }

  private def minsLit(q: Quantizer): Column =
    array(q.mins.map(m => lit(m.toDouble)): _*)
  private def spansLit(q: Quantizer): Column =
    array(q.spans.map(lit(_)): _*)

  /** Append `sq_codes` (array<int>, one byte-range code per dim).
    * Rows with the wrong width park as null codes (never ranked, the
    * [[Pq.encode]] parking convention). The two zip_with lambdas do
    * only per-element literal-array arithmetic — nothing expensive is
    * re-evaluated per element (the round-2 lambda doctrine). */
  def encode(df: DataFrame, vec: String, q: Quantizer): DataFrame = {
    val v = col(vec)
    val centered = zip_with(v, minsLit(q), (x, mn) => x.cast("double") - mn)
    val codes = zip_with(centered, spansLit(q), (d, sp) =>
      when(sp > 0d,
        least(greatest(round(d / sp), lit(0d)), lit(255d)).cast("int"))
        .otherwise(lit(0)))
    df.withColumn("sq_codes", when(size(v) === q.dim, codes))
  }

  /** Reconstructed vector (array<double>) from `sq_codes` — the scan
    * side of decode-and-scan search, also exposed for fidelity checks
    * (SqSpec pins reconstruction error ≤ half a quantization step per
    * dim). */
  def decodeCol(codes: Column, q: Quantizer): Column =
    zip_with(zip_with(codes, spansLit(q), (c, sp) => c.cast("double") * sp),
      minsLit(q), (x, mn) => x + mn)

  /** Decode-and-scan shortlist + EXACT re-rank (the [[Pq.searchReranked]]
    * deployment contract on SQ8 codes): approximate cosine over the
    * reconstructed corpus ranks a `shortlist` per query (approx desc,
    * id asc — deterministic), exact cosine re-scores only those and
    * keeps `topK` with the canonical (sim desc, id asc) ranking. An
    * exhaustive shortlist therefore reproduces [[Embeddings.cosineTopK]]
    * bit-for-bit (every emitted sim is exact either way). The decoded
    * column is STAGED and the pruned frame persisted before the query
    * join (the round-9 expression-cliff doctrine). */
  def searchReranked(encoded: DataFrame, id: String, vec: String,
                     q: Quantizer, queries: DataFrame,
                     qid: String, qvec: String, shortlist: Int, topK: Int,
                     dropSelf: Boolean = false,
                     shortlistViaAgg: Boolean = true): DataFrame = {
    val corpus = encoded
      .select(col(id).as("neighbor_id"),
        decodeCol(col("sq_codes"), q).as("__dec"))
      .filter(col("__dec").isNotNull)
      .persist()
    try {
      val qv = broadcast(queries.select(col(qid).cast("long").as("query_id"),
        col(qvec).as("__qv")))
      val paired = corpus.crossJoin(qv)
      val scored = (if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
                    else paired)
        .withColumn("__approx", NativeVector.cosine(col("__qv"), col("__dec")))
      // `shortlistViaAgg` (round 18, r17 verdict #5): take the
      // per-query shortlist with the BoundedTopK partial aggregate —
      // the shuffle carries k-bounded buffers instead of every scored
      // row. Same (approx desc, id asc) selection; null approx
      // (zero-norm decode) is excluded rather than ranked last, which
      // diverges from the window form only when a query has fewer than
      // `shortlist` non-null candidates. ADOPTED as the default after
      // the 15 M probe showed the rank shuffle dominating the flat
      // tier: 108.1 → 24.1 s at shortlist=20, 70.5 → 16.6 s at 100,
      // recall 1.000 both forms (BASELINE.md round 18); the window
      // form stays reachable for the null-tail semantics.
      val cands =
        if (shortlistViaAgg)
          BoundedTopK.shortlist(scored.filter(col("__approx").isNotNull),
            "query_id", "__approx", "neighbor_id", shortlist)
        else scored.withColumn("__rk", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("__approx").desc_nulls_last, col("neighbor_id").asc)))
          .filter(col("__rk") <= shortlist)
          .select("query_id", "neighbor_id")
      // exact re-rank touches shortlist·|queries| float rows only
      Pq.rerank(cands, encoded, id, vec, queries, qid, qvec, topK)
    } finally { corpus.unpersist(); () }
  }

  /** [[searchReranked]] at a provably-exhaustive shortlist, minus the
    * dead selection scan (round-20 optimization, the
    * [[Bq.searchExhaustive]] identity): when shortlist ≥ candidate
    * count the approx ordering selects everything, so the per-pair
    * decode-cosine and the k-sized shortlist buffers contribute
    * nothing — the exact re-rank re-scores every pair anyway. The ONE
    * live effect of the approx scan at exhaustive breadth is its
    * NULL-approx exclusion (cosine is null iff √(q·q)·√(dec·dec) ≯ 0 —
    * zero-norm or non-finite rows), replicated verbatim as a staged
    * per-row norm + a per-pair product test: IEEE multiplication is
    * commutative, so the kept set is bit-identical (SqSpec pins it).
    * Callers must pass shortlist-intent honestly: this is only the
    * identity when nothing would be cut. */
  def searchExhaustive(encoded: DataFrame, id: String, vec: String,
                       q: Quantizer, queries: DataFrame,
                       qid: String, qvec: String, topK: Int,
                       dropSelf: Boolean = false): DataFrame = {
    val corpus = encoded
      .select(col(id).as("neighbor_id"), col(vec).as("__nv"),
        decodeCol(col("sq_codes"), q).as("__dec"))
      .filter(col("__dec").isNotNull)
      .select(col("neighbor_id"), col("__nv"),
        sqrt(NativeVector.dot(col("__dec"), col("__dec"))).as("__cn"))
    // wrong-width queries DROP here (round-21 advice, the
    // [[Bq.searchExhaustive]] convention): [[searchReranked]] throws on
    // them (float_dot's width check fires inside the approx scan), so
    // there is no off-happy-path identity to preserve — but without
    // this filter the staged __qn·__cn > 0 test passed them through and
    // FABRICATED top-k rows with null sims, which no other arm of the
    // family ever returns. Dropping matches Bq; SqSpec pins both sides.
    val qv = broadcast(
      queries.select(col(qid).cast("long").as("query_id"), col(qvec).as("__qv"))
        .filter(size(col("__qv")) === q.dim)
        .withColumn("__qn", sqrt(NativeVector.dot(col("__qv"), col("__qv")))))
    val paired = corpus.crossJoin(qv)
    val pairs = (if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
                 else paired)
      .filter(col("__qn") * col("__cn") > 0)
      .select("query_id", "neighbor_id", "__qv", "__nv")
    Pq.exactTopKPairs(pairs, topK)
  }

  /** [[ivfSearchReranked]] at a provably-exhaustive shortlist — the
    * same dead-scan elision as [[searchExhaustive]], with the probe
    * selection (raw dot desc, centroid_id asc) kept verbatim: the
    * candidate set stays exactly the probed cells' members surviving
    * the null-approx exclusion. */
  def ivfSearchExhaustive(index: Ivf.Index, q: Quantizer, encoded: DataFrame,
                          queries: DataFrame, qid: String, qvec: String,
                          nProbe: Int, topK: Int,
                          dropSelf: Boolean = false): DataFrame = {
    // wrong-width queries drop (same rationale as [[searchExhaustive]]:
    // never fabricate null-sim rows; the reranked form throws on them)
    val qdf = queries.select(col(qid).cast("long").as("query_id"),
      col(qvec).as("__qv"))
      .filter(size(col("__qv")) === q.dim)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(desc("csim"), col("centroid_id"))
    val probes = qdf.crossJoin(broadcast(index.centroids))
      .withColumn("csim", NativeVector.dot(col("__qv"), col("cvec")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"),
        sqrt(NativeVector.dot(col("__qv"), col("__qv"))).as("__qn"),
        col("centroid_id"))
    val corpus = encoded
      .select(col("centroid_id"), col(index.idCol).as("neighbor_id"),
        decodeCol(col("sq_codes"), q).as("__dec"))
      .filter(col("__dec").isNotNull)
      .select(col("centroid_id"), col("neighbor_id"),
        sqrt(NativeVector.dot(col("__dec"), col("__dec"))).as("__cn"))
    val paired = corpus.join(broadcast(probes), Seq("centroid_id"))
    val kept = (if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
                else paired)
      .filter(col("__qn") * col("__cn") > 0)
      .select("query_id", "neighbor_id")
    Pq.rerank(kept, encoded, index.idCol, index.vecCol, queries, qid, qvec, topK)
  }

  /** IVF × SQ8 composition — FAISS's `IVF<n>,SQ8` index (the taxonomy's
    * middle tier between IVF,Flat and IVF,PQ): the coarse quantizer
    * prunes the scan to the nProbe cells nearest each query (the SAME
    * probe rule as [[Ivf.search]] — raw dot desc, centroid_id asc),
    * the decode-and-scan runs only inside probed cells on byte codes
    * (4× less IO than IVF,Flat's float members), and exact cosine
    * re-ranks the shortlist. With an exhaustive shortlist this is
    * BIT-IDENTICAL to `Ivf.search` at the same nProbe (both are exact
    * cosine over exactly the probed members, same rounding, same tie
    * order — the q173 gate derives that equality in-query).
    *
    * `encoded` must be `Sq.encode(index.assigned, index.vecCol, q)` —
    * i.e. carry `centroid_id`, the id/vec columns, and `sq_codes`. */
  def ivfSearchReranked(index: Ivf.Index, q: Quantizer, encoded: DataFrame,
                        queries: DataFrame, qid: String, qvec: String,
                        nProbe: Int, shortlist: Int, topK: Int,
                        dropSelf: Boolean = false,
                        shortlistViaAgg: Boolean = true): DataFrame = {
    val qdf = queries.select(col(qid).cast("long").as("query_id"),
      col(qvec).as("__qv"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(desc("csim"), col("centroid_id"))
    val probes = qdf.crossJoin(broadcast(index.centroids))
      .withColumn("csim", NativeVector.dot(col("__qv"), col("cvec")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nProbe)
      .select("query_id", "__qv", "centroid_id")
    val corpus = encoded
      .select(col("centroid_id"), col(index.idCol).as("neighbor_id"),
        decodeCol(col("sq_codes"), q).as("__dec"))
      .filter(col("__dec").isNotNull)
      .persist()
    try {
      val paired = corpus.join(broadcast(probes), Seq("centroid_id"))
      val scored = (if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
                    else paired)
        .withColumn("__approx", NativeVector.cosine(col("__qv"), col("__dec")))
      // same adoption as [[searchReranked]]: the probed-cell candidate
      // set still shuffles through the rank at depth; the bounded
      // aggregate carries only k-sized buffers
      val cands =
        if (shortlistViaAgg)
          BoundedTopK.shortlist(scored.filter(col("__approx").isNotNull),
            "query_id", "__approx", "neighbor_id", shortlist)
        else scored.withColumn("__rk", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(col("__approx").desc_nulls_last, col("neighbor_id").asc)))
          .filter(col("__rk") <= shortlist)
          .select("query_id", "neighbor_id")
      Pq.rerank(cands, encoded, index.idCol, index.vecCol, queries, qid,
        qvec, topK)
    } finally { corpus.unpersist(); () }
  }

  /** HNSW over SQ8 codes — FAISS's `HNSW<M>,SQ8` (round 18, the q173
    * composition applied to the GRAPH tier): the graph's stored
    * vectors are the 8-bit RECONSTRUCTIONS of the codes (the same
    * code·span + min arithmetic as [[decodeCol]]/the serving scan,
    * narrowed to float for graph storage), so graph build and
    * traversal pay SQ8-quality distances, and the exact rerank on the
    * true vectors rides on top exactly like every other quantized
    * tier. FAISS's SQ distance kernel also computes on
    * reconstructions — holding codes (1 B/dim) vs decoded floats
    * (4 B/dim) in RAM is a memory-layout choice, not a semantics one;
    * the driver-side Graph keeps floats to reuse the one
    * deterministic build/search path (and its append/filter/persist
    * surface) unchanged. Rows with parked (null) codes never enter
    * the graph, the [[encode]] convention. */
  def hnswFromCodes(codes: DataFrame, id: String, q: Quantizer,
                    m: Int = 16, efConstruction: Int = 100,
                    seed: Long = 42L, heuristic: Boolean = false): Hnsw.Graph = {
    val spans = q.spans
    val rows = codes.select(col(id).cast("long"), col("sq_codes")).collect()
      .flatMap { r =>
        val cs = if (r.isNullAt(1)) null else r.getAs[scala.collection.Seq[Any]](1)
        if (cs == null || cs.length != q.dim || cs.exists(_ == null)) None
        else {
          val dec = new Array[Float](q.dim)
          var d = 0
          while (d < q.dim) {
            dec(d) = (cs(d).asInstanceOf[Int].toDouble * spans(d) +
              q.mins(d).toDouble).toFloat
            d += 1
          }
          Some(r.getLong(0) -> dec)
        }
      }
    Hnsw.build(rows.toSeq, m, efConstruction, seed, heuristic)
  }

  /** Search an [[hnswFromCodes]] graph and exact-rerank on the TRUE
    * vectors — the graph-tier sibling of [[searchReranked]]'s
    * decode-scan + rerank contract: the beam pays SQ8-quality
    * distances over reconstructions, the emitted sims are exact. With
    * `efSearch` = `shortlist` = graph size the candidate set is the
    * whole (connected) corpus and the result reproduces
    * [[Embeddings.cosineTopK]] bit-for-bit (the q180 gate's lever).
    * `encoded` must carry the true vec column alongside the codes. */
  def hnswSearchReranked(g: Hnsw.Graph, encoded: DataFrame, id: String,
                         vec: String, queries: DataFrame, qid: String,
                         qvec: String, efSearch: Int, shortlist: Int,
                         topK: Int, dropSelf: Boolean = true): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val qs = queries.select(col(qid).cast("long"), col(qvec)).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
      .sortBy(_._1).toSeq
    val cands = qs.flatMap { case (i, v) =>
      Hnsw.search(g, v, efSearch, shortlist,
        dropId = if (dropSelf) Some(i) else None).map(h => (i, h._1))
    }.toDF("query_id", "neighbor_id")
    Pq.rerank(cands, encoded, id, vec, queries, qid, qvec, topK)
  }

  /** Persist the quantizer + codes as a registry-shaped artifact
    * (`sq_meta` ranges + the caller's codes frame via
    * [[Pq.saveCodes]]'s layout discipline). */
  def save(spark: SparkSession, q: Quantizer, path: String): Unit = {
    import spark.implicits._
    q.mins.indices.map(i => (i, q.mins(i), q.maxs(i)))
      .toDF("dim", "mn", "mx")
      .repartition(1).write.mode("overwrite").parquet(s"$path/sq_meta")
  }

  /** Load ranges written by [[save]]; bit-identical encode/search.
    * Driver-local read (round-20): no Spark job for a KiB meta table. */
  def load(spark: SparkSession, path: String): Quantizer = {
    val rows = graft.sources.DriverParquet.readRows(spark,
      s"$path/sq_meta", Seq("dim", "mn", "mx")).sortBy(_.getInt(0))
    require(rows.nonEmpty, s"no sq_meta table at $path")
    Quantizer(rows.map(_.getFloat(1)), rows.map(_.getFloat(2)))
  }
}
