package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeVector

/** Binary quantization — the cheapest memory tier of the ANN family
  * (FAISS `IndexBinaryFlat` shape; round-20 verdict stretch #8): each
  * vector compresses to an `nBits`-bit sign signature under fixed
  * random hyperplanes (the SRP machinery `Embeddings.srpBucket`
  * introduced for LSH candidate generation, here packed into long
  * words and SCANNED by Hamming distance instead of bucketed). At 256
  * bits a 64-d float vector is 32 B instead of 256 B — 8× under raw
  * floats, 2× under SQ8 — and the scan arithmetic is XOR+popcount on
  * 4 longs: integer ops with no float-accumulation order sensitivity,
  * so every stage is exactly replayable cross-engine.
  *
  * Grounding: sign-random-projection preserves angle — P[bit differs]
  * = θ/π (Goemans–Williamson / Charikar 2002), so Hamming distance is
  * a ~binomial(nBits, θ/π) estimator of the angle and ranking by it
  * approximates ranking by cosine; 256 bits puts the estimator's σ at
  * ~π/32, enough to shortlist well (the q188 gate floors it; the
  * FrontierProbe row prices it against the other families).
  *
  * Deployment contract = the [[Sq.searchReranked]] mold: Hamming-scan
  * shortlist (ham asc, id asc — deterministic integer ties), exact
  * cosine re-rank on true vectors; an EXHAUSTIVE shortlist reproduces
  * [[Embeddings.cosineTopK]] bit-for-bit (the q188 exactness lever).
  * Scale shape: the scan touches ONLY the packed words (32 B/vector);
  * float vectors stay cold until the rerank reads the shortlist rows.
  * The quantizer itself is DATA-INDEPENDENT (planes are a pure
  * function of the seed) — nothing trains, nothing drifts, an append
  * is just an encode of the delta (FAISS's binary-flat add()).
  */
object Bq {

  /** Fixed random hyperplanes: planes(b)(d) ∈ [-0.5, 0.5), drawn in
    * (bit, dim) order from one seeded generator — the
    * `Embeddings.planes` convention, so signatures are a pure function
    * of (seed, nBits, dim) and any two engines agree bit for bit. */
  final case class Quantizer(planes: Array[Array[Double]], seed: Long) {
    def nBits: Int = planes.length
    def dim: Int = planes(0).length
    def nWords: Int = nBits / 64
  }

  /** Data-independent "training": draw the planes. `nBits` must pack
    * whole 64-bit words (the FAISS binary convention is multiples of
    * 8; words keep the scan to `bit_count(xor)` on longs). */
  def train(dim: Int, nBits: Int = 256, seed: Long = 42L): Quantizer = {
    require(nBits > 0 && nBits % 64 == 0,
      s"nBits must be a positive multiple of 64 (word packing), got $nBits")
    val rnd = new scala.util.Random(seed)
    Quantizer(Array.fill(nBits)(Array.fill(dim)(rnd.nextDouble() - 0.5)), seed)
  }

  /** Append `bq_codes` (array<long>, nWords packed words): bit i of
    * word w is sign(dot(v, plane(w·64+i))) — [[NativeVector.dot]]'s
    * in-order double accumulation, strictly-positive convention
    * (`Embeddings.srpBucket` verbatim). Rows of the wrong width park
    * as null codes (never ranked — the [[Pq.encode]] convention).
    * Map-side only: at 100 TB this is one codegen'd scan, no shuffle.
    *
    * Round-20 optimization: the packing runs as ONE native expression
    * ([[NativeVector.bqPack]], the pq_encode doctrine) instead of the
    * round-20-build tree of 256 float_dots under a when-ladder — that
    * tree exceeded Janino's 64 KB method limit, so every action
    * re-attempted (and re-failed) the giant compile and the scan ran
    * INTERPRETED. Bit-identical by BqSpec's expression-parity test. */
  def encode(df: DataFrame, vec: String, q: Quantizer): DataFrame = {
    df.withColumn("bq_codes", NativeVector.bqPack(col(vec),
      typedlit(q.planes.map(_.toSeq).toSeq)))
  }

  /** Hamming distance between two packed signatures:
    * Σ_w popcount(a_w XOR b_w). Generic (unknown word count) form —
    * the higher-order functions evaluate INTERPRETED per row, so the
    * hot scan uses [[hammingColUnrolled]] (round-20). */
  def hammingCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x.cast("int"))

  /** The same integer arithmetic unrolled over a KNOWN word count:
    * element_at/xor/bit_count are all whole-stage-codegen builtins,
    * where aggregate(zip_with(...)) allocates and interprets lambdas
    * per row (guide §4: no non-codegen expressions in the hot path).
    * Identical results — integer ops, no accumulation-order issue. */
  private def hammingColUnrolled(a: Column, b: Column, nWords: Int): Column =
    (1 to nWords).map(w =>
      bit_count(element_at(a, w).bitwiseXOR(element_at(b, w))).cast("int"))
      .reduce(_ + _)

  /** Hamming-scan shortlist + EXACT re-rank (the [[Sq.searchReranked]]
    * deployment contract on binary codes): queries encode map-side
    * under the SAME planes, the scan ranks a `shortlist` per query by
    * (hamming asc, id asc) — integer ties, fully deterministic — and
    * exact cosine re-scores only those, keeping `topK` with the
    * canonical (sim desc, id asc) ranking. An exhaustive shortlist
    * reproduces [[Embeddings.cosineTopK]] bit-for-bit. The shortlist
    * rides [[BoundedTopK]] (negated distance — the aggregate keeps
    * maxima), so only k-bounded buffers cross the shuffle. */
  def searchReranked(encoded: DataFrame, id: String, vec: String,
                     q: Quantizer, queries: DataFrame,
                     qid: String, qvec: String, shortlist: Int, topK: Int,
                     dropSelf: Boolean = false): DataFrame = {
    val corpus = encoded
      .select(col(id).as("neighbor_id"), col("bq_codes"))
      .filter(col("bq_codes").isNotNull)
    val qv = broadcast(
      encode(queries.select(col(qid).cast("long").as("query_id"),
        col(qvec).as("__qv")), "__qv", q)
        .select(col("query_id"), col("bq_codes").as("__qcodes"))
        .filter(col("__qcodes").isNotNull))
    val paired = corpus.crossJoin(qv)
    val scoredAll =
      if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
      else paired
    // negate: BoundedTopK keeps maxima; (-ham desc, id asc) == (ham asc, id asc)
    val scored = scoredAll.withColumn("__approx",
      -hammingColUnrolled(col("__qcodes"), col("bq_codes"), q.nWords).cast("double"))
    val cands = BoundedTopK.shortlist(scored, "query_id", "__approx",
      "neighbor_id", shortlist)
    Pq.rerank(cands, encoded, id, vec, queries, qid, qvec, topK)
  }

  /** [[searchReranked]] at a provably-exhaustive shortlist, minus the
    * dead selection scan (round-20 optimization, guide §1.2 "don't
    * compute things you throw away"): when `shortlist ≥` the candidate
    * count, the Hamming ordering selects EVERYTHING regardless of its
    * values — the scan and the k-sized shortlist buffers contribute
    * nothing to the result (the exact re-rank re-scores every selected
    * pair by true cosine anyway), so this feeds all (query, candidate)
    * pairs straight to the re-rank. Same parked-row contract: null
    * codes never rank, wrong-width queries drop (the encode's parking,
    * expressed directly on the vector width). Results are bit-identical
    * to `searchReranked(..., shortlist = corpus size)` — BqSpec pins
    * it — and the exhaustive arm stays what it claims to be: brute
    * force over the survivors. Callers must pass shortlist-intent
    * honestly: this is only the identity when nothing would be cut. */
  def searchExhaustive(encoded: DataFrame, id: String, vec: String,
                       q: Quantizer, queries: DataFrame,
                       qid: String, qvec: String, topK: Int,
                       dropSelf: Boolean = false): DataFrame = {
    val corpus = encoded
      .filter(col("bq_codes").isNotNull)
      .select(col(id).as("neighbor_id"), col(vec).as("__nv"))
    val qv = broadcast(
      queries.select(col(qid).cast("long").as("query_id"), col(qvec).as("__qv"))
        .filter(size(col("__qv")) === q.dim))
    val paired = corpus.crossJoin(qv)
    val pairs =
      if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
      else paired
    Pq.exactTopKPairs(pairs, topK)
  }

  /** Persist the planes (`bq_meta`: one row per bit, plane as
    * array<double> — doubles round-trip parquet bit-exactly). Codes
    * ride the [[Pq.saveCodes]] convention like every other family. */
  def save(spark: SparkSession, q: Quantizer, path: String): Unit = {
    import spark.implicits._
    q.planes.indices.map(b => (b, q.planes(b).toSeq, q.seed))
      .toDF("bit", "plane", "seed")
      .repartition(1).write.mode("overwrite").parquet(s"$path/bq_meta")
  }

  /** Load planes written by [[save]]; bit-identical encode/search.
    * Driver-local read (round-20): no Spark job for a KiB meta table. */
  def load(spark: SparkSession, path: String): Quantizer = {
    val rows = graft.sources.DriverParquet.readRows(spark,
      s"$path/bq_meta", Seq("bit", "plane", "seed")).sortBy(_.getInt(0))
    require(rows.nonEmpty, s"no bq_meta table at $path")
    Quantizer(
      rows.map(_.getAs[scala.collection.Seq[Double]](1).toArray),
      rows.head.getLong(2))
  }
}
