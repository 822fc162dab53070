package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NativeVector

/** Product quantization (PQ) for embedding compression + approximate
  * nearest-neighbor search — the byte-code memory tier of the ANN family
  * (SURVEY.md §7), next to SRP-LSH (recall-oriented) and IVF (scan-
  * pruning). Public technique: Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 — the
  * coarse shape FAISS's IndexPQ implements.
  *
  * A D-dim float vector (4·D bytes) becomes M sub-codes (M bytes at
  * k=256): split into M contiguous subvectors, quantize each against its
  * own k-center codebook. Search is ADC (asymmetric distance
  * computation): the query stays EXACT; its distance to any code is the
  * sum of M table lookups, where the per-query M×k table of partial
  * squared distances is computed once against the codebooks.
  *
  * Scale shape, same doctrine as Ivf: codebooks train DRIVER-SIDE on a
  * bounded deterministic sample (quality converges with a few hundred
  * points per cell — independent of corpus size), ride the plan as
  * literals, and encoding is a map-side argmin per subspace — zero
  * shuffles, zero iterative jobs over the corpus. The 100 TB win is
  * memory traffic: a 768-dim float corpus is 3 KB/vector; at M=64 the
  * scan reads 64 B/vector — a 48× smaller working set that turns a
  * spill-bound scan into a cache-resident one, composable with IVF
  * cells (scan fewer vectors, each 48× cheaper).
  */
object Pq {

  /** Trained codebooks: `centers(m)(j)` is the j-th center of subspace
    * m (subDim floats each). Unit-normalized inputs ⇒ ADC L2 ranking ==
    * cosine ranking (‖a−b‖² = 2 − 2·cos on the unit sphere). */
  final case class Codebooks(centers: Array[Array[Array[Float]]],
                             m: Int, k: Int, dim: Int) {
    val subDim: Int = dim / m
  }

  /** Train per-subspace codebooks on the `maxTrainRows` smallest
    * id-hashes (the Ivf sampling contract: deterministic pseudo-random
    * subset, one TakeOrdered pass, stable across partitioning/reruns).
    * Vectors are unit-normalized before splitting so code geometry
    * matches the cosine searches the engine runs elsewhere; non-finite
    * vectors are excluded from training (a NaN would poison k-means). */
  def train(df: DataFrame, id: String, vec: String, m: Int, k: Int,
            seed: Long = 42L, maxIter: Int = 12,
            maxTrainRows: Int = 16384): Codebooks = {
    val sample: Array[Array[Float]] = Samples.hashTopN(
        df.filter(!exists(col(vec), x => isnan(x.cast("double")) ||
          abs(x.cast("double")) === lit(Double.PositiveInfinity))),
        id, Seq(col(vec)), maxTrainRows)
      .collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]](0).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
        val n = math.sqrt(s)
        if (n > 0) { i = 0; while (i < v.length) { v(i) = (v(i) / n).toFloat; i += 1 } }
        v
      }
    require(sample.nonEmpty, "empty PQ training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    // the m subspace fits are INDEPENDENT driver tasks (own seed, own
    // slice, no shared reduction) — run them concurrently (round-17
    // perf: sequential fits left 31 cores idle for ~1 s per train call
    // at m=8 × k=256; results are bit-identical to the sequential loop
    // because nothing crosses subspaces)
    val centers = new Array[Array[Array[Float]]](m)
    val fits = (0 until m).map { j =>
      java.util.concurrent.CompletableFuture.runAsync(() => {
        val sub = sample.map(v =>
          java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
        // distinct seed per subspace — identical seeds would correlate
        // the k-means++ draws across subspaces on structured data
        centers(j) = localKMeans(sub, k, maxIter, seed + j)
      })
    }
    fits.foreach(_.join())
    Codebooks(centers, m, k, dim)
  }

  /** The DISTRIBUTED training branch (round-12 verdict #5): seed
    * exactly like [[train]] (bounded-sample local k-means per
    * subspace), then refine ALL M codebooks in `refineIters` Lloyd
    * rounds over the FULL corpus — one pass per round updates every
    * subspace ([[Kmeans.refine]] tiles the unit vector into the M
    * contiguous groups). Exact fixed-point reductions make the refined
    * codebooks bit-identical at any partitioning or core count. The
    * bounded-sample default remains right for most corpora; reach for
    * this when per-subspace distributions are sample-starved. */
  def trainDistributed(df: DataFrame, id: String, vec: String, m: Int, k: Int,
                       seed: Long = 42L, maxIter: Int = 12,
                       maxTrainRows: Int = 16384,
                       refineIters: Int = 4): Codebooks = {
    val seeds = train(df, id, vec, m, k, seed, maxIter, maxTrainRows)
    // refine() skips non-finite rows itself (the parking contract)
    val refined = Kmeans.refine(df, vec, seeds.centers, refineIters,
      spherical = false)
    Codebooks(refined, m, k, seeds.dim)
  }

  /** Plain L2 k-means (k-means++ seeding, Lloyd) on driver-local
    * points. Unlike Ivf's spherical variant, centroids are NOT
    * renormalized — subvectors of unit vectors are not themselves unit,
    * and PQ approximates the subvector mean, not its direction.
    * O(points · k · subDim · iters): milliseconds at any corpus scale. */
  private[operators] def localKMeans(points: Array[Array[Float]], k: Int,
                                     maxIter: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val n = points.length
    val dim = points(0).length
    val kk = math.min(k, n)
    def sqDist(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
    val centers = Array.ofDim[Array[Float]](kk)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      var tot = 0.0
      while (i < n) {
        val d = sqDist(points(i), centers(c - 1))
        if (d < minD2(i)) minD2(i) = d
        tot += minD2(i)
        i += 1
      }
      // k-means++ draw ∝ D²; degenerate all-zero mass falls back uniform
      var pick = if (tot > 0) rnd.nextDouble() * tot else -1.0
      var chosen = rnd.nextInt(n)
      if (pick >= 0) {
        i = 0
        var acc = 0.0
        while (i < n && pick >= 0) {
          acc += minD2(i)
          if (acc >= pick) { chosen = i; pick = -2.0 }
          i += 1
        }
      }
      centers(c) = points(chosen).clone()
      c += 1
    }
    val assign = new Array[Int](n)
    // round-21: the Lloyd ASSIGNMENT pass is the fit's bulk
    // (n·k·dim flops per iteration) and is read-only per sample —
    // split it into contiguous blocks on the common pool (the m
    // subspace fits above already run concurrently, but each left the
    // remaining cores idle during q167's three sequential trains).
    // Bit-identity: each sample's distances and argmin are computed by
    // the same code whatever thread runs it, nothing accumulates
    // across samples in this pass, and join() orders the writes — the
    // assign array equals the serial loop's exactly. The center-update
    // accumulation below stays SERIAL in sample order (double sums are
    // order-sensitive). Blocks of >= 2048 samples amortize task
    // overhead; small fits degenerate to one block = the old loop.
    val nBlocks = math.max(1, math.min(8, n / 2048))
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      val firstIter = it == 0
      val movedFlags = new Array[Boolean](nBlocks)
      val tasks = (0 until nBlocks).map { b =>
        java.util.concurrent.CompletableFuture.runAsync(() => {
          val lo = (n.toLong * b / nBlocks).toInt
          val hi = (n.toLong * (b + 1) / nBlocks).toInt
          var i = lo
          var mv = false
          while (i < hi) {
            var best = 0; var bd = Double.MaxValue
            var j = 0
            while (j < kk) {
              val d = sqDist(points(i), centers(j))
              if (d < bd) { bd = d; best = j }
              j += 1
            }
            if (assign(i) != best) { assign(i) = best; mv = true }
            i += 1
          }
          movedFlags(b) = mv
        })
      }
      tasks.foreach(_.join())
      moved = firstIter || movedFlags.exists(identity)
      val sums = Array.ofDim[Double](kk, dim)
      val cnt = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val a = assign(i)
        cnt(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += points(i)(d); d += 1 }
        i += 1
      }
      var j = 0
      while (j < kk) {
        if (cnt(j) > 0) {
          var d = 0
          while (d < dim) { centers(j)(d) = (sums(j)(d) / cnt(j)).toFloat; d += 1 }
        } // empty cell keeps its seed — deterministic, never NaN
        j += 1
      }
      it += 1
    }
    centers
  }

  /** Unit-normalize staged once (HOF-staging rule: the norm must not
    * re-evaluate per element). The norm doubles as the non-finite
    * detector: a NaN/±Inf component makes it NaN/Inf, and such vectors
    * PARK (null out — their codes become null and adcRank drops them).
    * Zero vectors ride along raw (their rerank cosine is null, which
    * sorts LAST under desc — harmless, unlike NaN which sorts FIRST).
    * The conditions stay scalar tests on the one staged norm: wrapping
    * the whole codes array (or this column) in an extra when() was
    * measured 2×/20× slower — Spark's subexpression elimination skips
    * conditional branches, so every downstream reference re-evaluated
    * the argmin transforms. */
  private def unitize(vec: Column): Column = {
    val norm = sqrt(NativeVector.dot(vec, vec))
    when(!isnan(norm) && norm =!= lit(Double.PositiveInfinity) && norm > 0,
      transform(vec, x => (x.cast("double") / norm).cast("float")))
      .otherwise(when(norm === 0, vec))
  }

  /** Encode every vector as M codes (int 0..k−1): per subspace, argmin
    * squared L2 against the codebook literal == argmax of
    * (x·c − ‖c‖²/2) (the ‖x‖² term is constant per argmin) — evaluated
    * with the native dot on a STAGED unit-normalized subvector slice.
    * Pure map-side; ties break toward the lower code
    * (array_position takes the first maximum). Output: ALL input
    * columns + `codes` — composes with IVF's `centroid_id`.
    *
    * Non-finite or null vectors get NULL code ELEMENTS (the Ivf
    * centroid_id=-1 convention): unguarded, a NaN component would
    * produce plausible-looking codes whose rerank cosine is NaN — and
    * NaN sorts FIRST under desc, so the garbage row would be emitted
    * as the top neighbor. The parking happens INSIDE unitize (the norm
    * is the detector — see its doc for why no extra when() wrapper may
    * be added here); null __unit propagates to null code elements, and
    * adcRank drops parked rows, making them unsearchable BY CONTRACT,
    * never silently ranked. */
  def encode(df: DataFrame, vec: String, cb: Codebooks): DataFrame = {
    encodeStaged(df.withColumn("__unit", unitize(col(vec))), cb)
  }

  /** The shared argmin-per-subspace encode over a staged `__unit`
    * column (unit vector, residual, or null for parked rows — null
    * propagates to null code elements).
    *
    * Round 16: the encode is the NATIVE `pq_encode` expression
    * (functions/NativeVector.scala, PqEncodeCodes) — bit-identical
    * codes to the old per-subspace transform/array_max/array_position
    * composition (PqSpec pins the parity on nulls, ties, and values),
    * but with the codebooks prepared ONCE into flat arrays instead of
    * a per-row 16 KB score-array allocation. At gate scale the two are
    * indistinguishable; at the sf25 scale point (15 M vectors) the old
    * expression was GC-bound (BASELINE round-16: the encode cache sat
    * at 32 saturated cores without finishing; native = minutes). */
  private def encodeStaged(staged: DataFrame, cb: Codebooks): DataFrame = {
    val centLit = typedLit(cb.centers.map(_.map(_.toSeq).toSeq).toSeq)
      .cast("array<array<array<float>>>")
    staged
      .withColumn("codes", NativeVector.pqEncode(col("__unit"), centLit))
      .drop("__unit")
  }

  /** True iff the row was parked by `encode` (null input propagated to
    * the codes — checking ONE element suffices, null-ness is uniform). */
  private def parked: Column = element_at(col("codes"), 1).isNull

  /** Rows `encode` parked (non-finite/null vectors → null code
    * elements) — unsearchable by contract; callers that must not lose
    * rows check this is empty (the Ivf.invalid convention). */
  def invalid(encoded: DataFrame): DataFrame = encoded.filter(parked)

  /** Per-query M×k table of partial squared L2 distances to every
    * codebook center, computed DRIVER-SIDE (queries are few by contract
    * — the per-query O(k·D) table build of the PQ paper, independent of
    * corpus size) over the unit-normalized query. One row per query:
    * (query_id, __qtab). */
  private def qTables(cb: Codebooks, queries: DataFrame,
                      qid: String, qvec: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qrows = queries.select(col(qid).cast("long"), col(qvec)).collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]](1).toArray
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n > 0) { i = 0; while (i < v.length) { v(i) = (v(i) / n).toFloat; i += 1 } }
      (r.getLong(0), v)
    }
    qrows.map { case (id, q) =>
      val tab = new Array[Double](cb.m * cb.k)
      var j = 0
      while (j < cb.m) {
        var c = 0
        while (c < cb.centers(j).length) {
          val cen = cb.centers(j)(c)
          var s = 0.0; var d = 0
          while (d < cb.subDim) {
            val diff = q(j * cb.subDim + d).toDouble - cen(d)
            s += diff * diff
            d += 1
          }
          tab(j * cb.k + c) = s
          c += 1
        }
        j += 1
      }
      (id, tab.toSeq)
    }.toSeq.toDF("query_id", "__qtab")
  }

  /** Rank candidate rows by ADC distance: Σ_m table[m·k + code_m] — M
    * array lookups per row, no float math on the corpus side. `cands`
    * carries (query_id, __qtab, codes, `id`). Emits sim_est = 1 − adc/2
    * (unit sphere: cos = 1 − ‖a−b‖²/2); rank window is per-query. */
  private def adcRank(cands: DataFrame, id: String, cb: Codebooks,
                      topK: Int, dropSelf: Boolean): DataFrame = {
    val adc = (0 until cb.m)
      .map(j => element_at(col("__qtab"),
        lit(j * cb.k) + element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val all = cands
      .filter(!parked) // parked rows never rank (see encode)
      .select(col("query_id"), col(id).as("neighbor_id"), adc.as("adc_dist"))
      .withColumn("sim_est", lit(1.0) - col("adc_dist") / 2.0)
    // dropSelf: when queries come from the corpus itself, exclude the
    // identity pair BEFORE ranking (cosineTopK parity)
    val scored =
      if (dropSelf) all.filter(col("neighbor_id") =!= col("query_id")) else all
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .drop("__rk")
  }

  // ---- persistence (round-13 verdict #5, the Ivf.save twin) ----
  //   $path/pq_codebooks : one row per (subspace, center_id) with the
  //                        subDim-float center
  //   $path/pq_meta      : one row (m, k, dim)
  // Codes are a DataFrame (the index itself): saveCodes/loadCodes give
  // them the same path discipline — written at input parallelism,
  // corpus-sized by design (FAISS stores codes; search reads them).
  // Reload bit-equality is asserted by PqSpec.

  /** Persist codebooks under `path` (overwrites). */
  def save(spark: org.apache.spark.sql.SparkSession, cb: Codebooks,
           path: String): Unit = {
    import spark.implicits._
    val rows = for {
      j <- 0 until cb.m
      c <- cb.centers(j).indices
    } yield (j, c, cb.centers(j)(c).toSeq)
    rows.toDF("subspace", "center_id", "center")
      .repartition(1).write.mode("overwrite").parquet(s"$path/pq_codebooks")
    Seq((cb.m, cb.k, cb.dim)).toDF("m", "k", "dim")
      .repartition(1).write.mode("overwrite").parquet(s"$path/pq_meta")
  }

  /** Load codebooks previously written by [[save]]; bit-identical
    * encode/ADC/search behavior. Reads DRIVER-LOCALLY (round-20
    * optimization — the serving-load path must not pay a Spark job per
    * KiB table; DriverParquetSpec pins bit-equality vs the Spark read). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Codebooks = {
    val meta = graft.sources.DriverParquet
      .headRow(spark, s"$path/pq_meta", Seq("m", "k", "dim"))
    val (m, k, dim) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val rows = graft.sources.DriverParquet.readRows(spark,
      s"$path/pq_codebooks", Seq("subspace", "center_id", "center"))
    val bySub = rows.groupBy(_.getInt(0))
    val centers = Array.tabulate(m) { j =>
      bySub.getOrElse(j, throw new IllegalStateException(
          s"PQ artifact at $path is missing subspace $j of $m - " +
            "truncated or foreign pq_codebooks table"))
        .sortBy(_.getInt(1))
        .map(_.getAs[scala.collection.Seq[Float]](2).toArray)
    }
    Codebooks(centers, m, k, dim)
  }

  /** Persist an encoded corpus (the codes ARE the index — this is the
    * artifact a production deployment keeps hot while raw vectors go
    * cold). Written at input parallelism; the whole frame is kept so
    * IVF composition columns (centroid_id) ride along. */
  def saveCodes(encoded: DataFrame, path: String): Unit =
    encoded.write.mode("overwrite").parquet(s"$path/pq_codes")

  /** Load codes previously written by [[saveCodes]]. */
  def loadCodes(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/pq_codes")

  /** The codes ARE the index: materialize them once before any query
    * join. Left lazy, Catalyst inlines the per-subspace argmin encode
    * expression ABOVE the query cross join and every (row, query) pair
    * re-runs the 8×256 center scan — measured 76 s vs ~3 s for the
    * whole sf0.1 corpus encode. Persisting the pruned code columns is
    * exactly what a real PQ deployment does (FAISS stores codes; search
    * reads them).
    *
    * The cache is KEYED by the canonicalized plan of the pruned
    * projection and LRU-bounded at 4 entries (evicted frames
    * unpersist) — repeated searches over the same encoded corpus reuse
    * ONE cached frame instead of stacking a new persist per call,
    * which in a long-lived session accumulated cached blocks until the
    * ContextCleaner happened to GC the frames (round-9 advice). */
  private val codeCache =
    new java.util.LinkedHashMap[(org.apache.spark.sql.SparkSession, Any), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(org.apache.spark.sql.SparkSession, Any), DataFrame]): Boolean = {
        val evict = size() > 4
        if (evict) e.getValue.unpersist()
        evict
      }
    }

  /** Explicit invalidation hook for the code cache (round-10 advice):
    * the cache assumes sources are immutable while cached — a caller
    * that rewrites the files under an encoded corpus's path between
    * searches MUST call this (or pass a fresh session) or later
    * searches serve stale codes. Unpersists and drops every entry;
    * cheap, so "when in doubt, invalidate" is the right habit. */
  def invalidateCodeCache(): Unit = codeCache.synchronized {
    val it = codeCache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // entries of a STOPPED session just drop — their blocks died with
      // the context, and unpersist against a stopped RpcEnv throws,
      // which would abort this loop and leave LIVE entries stale
      // (review round 11)
      if (!e.getKey._1.sparkContext.isStopped) e.getValue.unpersist()
      it.remove()
    }
  }

  private def materializedCodes(encoded: DataFrame, cols: Seq[String]): DataFrame =
    codeCache.synchronized {
      // entries owned by a STOPPED session are dead weight (their cached
      // blocks died with the context) — drop them so the map never pins
      // a stopped SparkSession reference (round-10 advice)
      val dead = codeCache.entrySet().iterator()
      while (dead.hasNext) {
        if (dead.next().getKey._1.sparkContext.isStopped) dead.remove()
      }
      val pruned = encoded.select(cols.map(col): _*)
      // key includes the OWNING SESSION: a canonically-equal plan from a
      // new session must not resolve to a frame bound to a stopped
      // SparkContext. Within a session the cache carries Spark's own
      // df.cache staleness contract — sources are assumed immutable
      // while cached; invalidateCodeCache() is the escape hatch when a
      // caller rewrites files under a cached path.
      val key = (encoded.sparkSession, pruned.queryExecution.analyzed.canonicalized)
      var cached = codeCache.get(key)
      if (cached == null) {
        cached = pruned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        codeCache.put(key, cached)
      } else if (cached.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        // self-heal: an external unpersist (session hygiene sweeps,
        // spark.catalog.clearCache) stripped the storage level while the
        // memo still held the frame — re-persist or every later search
        // silently re-runs the full encode it exists to avoid
        cached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      cached
    }

  /** ADC top-k over the WHOLE encoded corpus (flat IndexPQ): every row
    * costs M lookups against the broadcast query tables. */
  def adcSearch(encoded: DataFrame, id: String, cb: Codebooks,
                queries: DataFrame, qid: String, qvec: String, topK: Int,
                dropSelf: Boolean = false): DataFrame =
    adcRank(materializedCodes(encoded, Seq(id, "codes"))
        .crossJoin(broadcast(qTables(cb, queries, qid, qvec))),
      id, cb, topK, dropSelf)

  /** ADC shortlist + EXACT re-rank — the deployment shape PQ is used in
    * (the paper's ADC+R): the byte-code scan prunes the corpus to
    * `shortlist` candidates per query, then true cosine re-scores ONLY
    * those and keeps `topK`. Recall is set by the cheap scan's ability
    * to keep the true neighbors anywhere in a generous shortlist (far
    * easier than ranking them exactly), while every emitted similarity
    * is exact. Scale: the re-rank join touches shortlist·|queries| rows
    * — bounded by the search call, not the corpus; float vectors are
    * only read for candidates (at 100 TB the full-precision corpus can
    * live in cold storage while the codes stay hot). */
  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist. sim
    * is rounded to 1e-6 BEFORE ranking — cosineTopK's canonical ranking
    * semantic, so full-shortlist PQ+R reproduces brute force bit-for-bit
    * (PqSpec machinery proof) instead of diverging on sub-µ ties. */
  private[operators] def rerank(cands: DataFrame, corpus: DataFrame, id: String,
                     vec: String, queries: DataFrame, qid: String,
                     qvec: String, topK: Int): DataFrame = {
    val qv = broadcast(
      queries.select(col(qid).cast("long").as("query_id"), col(qvec).as("__qv")))
    // distinct: under multiple assignment the same neighbor can reach
    // the shortlist through several cells — re-rank each pair once. The
    // shortlist is |queries|·shortlist rows, so the dedup is trivial
    // (the corpus side must stay one row per vector: callers with a
    // multi-assigned encoded frame pass the primary assignment here).
    val scored = cands.select(col("query_id"), col("neighbor_id")).distinct()
      .join(corpus.select(col(id).as("neighbor_id"), col(vec).as("__nv")),
        Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim",
        round(NativeVector.cosine(col("__qv"), col("__nv")) * 1e6) / 1e6)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** CONTRACT NOTE (round-9 advice): zero-norm corpus vectors are NOT
    * parked — they encode against the min-norm centers and can occupy
    * shortlist slots, and if topK exceeds the non-null candidate count
    * they surface here with sim = null (cosine of a zero vector; nulls
    * sort last, so they never displace a real neighbor). Callers that
    * must not see null sims filter them; parking zeros instead would
    * silently drop corpus rows, which the Ivf/Pq invalid() convention
    * reserves for non-finite data. */
  def searchReranked(encoded: DataFrame, id: String, vec: String,
                     cb: Codebooks, queries: DataFrame,
                     qid: String, qvec: String, shortlist: Int, topK: Int,
                     dropSelf: Boolean = false): DataFrame =
    rerank(
      adcSearch(encoded, id, cb, queries, qid, qvec, shortlist, dropSelf),
      encoded, id, vec, queries, qid, qvec, topK)

  /** [[rerank]]'s scoring + ranking over ALREADY-PAIRED
    * (query_id, neighbor_id, __qv, __nv) rows — the exhaustive paths'
    * shared tail (round-20): their pairing carries the vectors
    * already, so rerank's dedup-distinct (a full shuffle of every
    * pair) and its two re-attach joins compute nothing. Same sim
    * expression, same (sim desc, id asc) window, so results are
    * bit-identical GIVEN unique (query, neighbor) pairs — which a
    * cross join of unique-id sides produces by construction. */
  private[operators] def exactTopKPairs(pairs: DataFrame, topK: Int): DataFrame = {
    val scored = pairs.withColumn("sim",
      round(NativeVector.cosine(col("__qv"), col("__nv")) * 1e6) / 1e6)
    // round-20: k-bounded rank instead of the row_number window (the
    // cosineTopK swap's rationale; parity specs pin the identity)
    BoundedTopK.rankHits(scored, "query_id", "sim", "neighbor_id", topK)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** [[searchReranked]] at a provably-exhaustive shortlist, minus the
    * dead ADC scan (round-20 optimization — the [[Bq.searchExhaustive]]
    * identity applied to the PQ tier): with shortlist ≥ candidate
    * count the ADC ordering selects everything, so the per-pair table
    * lookups and the rank compute nothing the exact re-rank doesn't
    * redo. The candidate set is replicated verbatim: unparked rows
    * (non-null codes — PQ does NOT park zero-norm vectors, see the
    * contract note above [[searchReranked]]) × queries, minus self
    * pairs. Bit-identical by PqSpec. Callers must pass
    * shortlist-intent honestly (this is only the identity when nothing
    * would be cut) and unique ids on both sides (the codes-table
    * contract — rerank's dedup is skipped here). */
  def searchExhaustive(encoded: DataFrame, id: String, vec: String,
                       queries: DataFrame, qid: String, qvec: String,
                       topK: Int, dropSelf: Boolean = false,
                       queryDim: Option[Int] = None): DataFrame = {
    val corpus = encoded
      .filter(!parked)
      .select(col(id).as("neighbor_id"), col(vec).as("__nv"))
    // wrong-width queries DROP when the caller knows the codebook dim
    // (round-21 advice, the [[Bq.searchExhaustive]] convention):
    // [[searchReranked]] throws on them (qTables indexes q by subspace
    // width), so there is no off-happy-path identity to preserve — but
    // without the filter the cross join FABRICATED top-k rows with null
    // sims for such a query, which no other arm of the family returns.
    val qraw = queries.select(col(qid).cast("long").as("query_id"),
      col(qvec).as("__qv"))
    val qv = broadcast(queryDim.fold(qraw)(d =>
      qraw.filter(size(col("__qv")) === d)))
    val paired = corpus.crossJoin(qv)
    val pairs =
      if (dropSelf) paired.filter(col("neighbor_id") =!= col("query_id"))
      else paired
    exactTopKPairs(pairs, topK)
  }

  /** The filtered twin of [[searchExhaustive]] —
    * [[searchRerankedFiltered]]'s pre-filter composition at exhaustive
    * breadth: true top-k of the filtered corpus, computed as exact
    * re-rank over every surviving candidate. */
  def searchExhaustiveFiltered(encoded: DataFrame,
                               pred: org.apache.spark.sql.Column,
                               id: String, vec: String,
                               queries: DataFrame, qid: String, qvec: String,
                               topK: Int, dropSelf: Boolean = false,
                               queryDim: Option[Int] = None): DataFrame =
    searchExhaustive(encoded.filter(pred), id, vec, queries, qid, qvec,
      topK, dropSelf, queryDim)

  /** Attribute-FILTERED ANN search (round 17 — the FAISS-IDSelector /
    * vector-DB metadata-filter semantics, `LocalAnn.search(allow=...)`'s
    * batch twin): top-k of the corpus rows satisfying `pred`, found by
    * restricting the candidate scan BEFORE the ADC shortlist is taken.
    * The composition is deliberately just `encoded.filter(pred)` ahead
    * of [[searchReranked]] — the declarative form Catalyst pushes to
    * the codes scan (partition pruning / row-group skipping at scale),
    * which is exactly what hand-scheduled pre-filtering would do. It
    * exists as a named operator because the SEMANTICS are the point:
    * post-filtering an UNFILTERED top-k (the naive composition) loses
    * every admissible hit past rank k, while this returns the true
    * top-k of the filtered corpus; with an exhaustive shortlist it is
    * bit-identical to brute force over the filtered rows (the q169
    * gate replays both arithmetics in the oracle). */
  def searchRerankedFiltered(encoded: DataFrame, pred: org.apache.spark.sql.Column,
                             id: String, vec: String,
                             cb: Codebooks, queries: DataFrame,
                             qid: String, qvec: String, shortlist: Int, topK: Int,
                             dropSelf: Boolean = false): DataFrame =
    searchReranked(encoded.filter(pred), id, vec, cb, queries, qid, qvec,
      shortlist, topK, dropSelf)

  /** IVF × PQ composition — the billion-scale shape (FAISS IndexIVFPQ's
    * coarse structure): the coarse quantizer prunes the scan to the
    * nProbe cells nearest each query, the byte codes make every scanned
    * row M lookups, and exact cosine re-ranks the shortlist. Cell
    * restriction is a centroid_id-keyed join (the probe pairs are
    * |queries|·nProbe rows, broadcast); the corpus is touched only in
    * probed cells, and only codes are read there. Codes here quantize
    * the RAW unit vectors, not IVFPQ's per-cell residuals — the exact
    * re-rank recovers what residual codes would buy in ADC fidelity,
    * at the price of a slightly larger shortlist.
    *
    * `encoded` must be `Pq.encode(index.assigned, index.vecCol, cb)` —
    * i.e. carry `centroid_id` + `codes`. */
  def ivfSearchReranked(index: Ivf.Index, cb: Codebooks, encoded: DataFrame,
                        queries: DataFrame, qid: String, qvec: String,
                        nProbe: Int, shortlist: Int, topK: Int,
                        dropSelf: Boolean = false): DataFrame = {
    val q = queries.select(col(qid).cast("long").as("query_id"), col(qvec).as("qv"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(desc("csim"), col("centroid_id"))
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("csim", NativeVector.dot(col("qv"), col("cvec")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nProbe)
      .select("query_id", "centroid_id")
    val tabbed = broadcast(
      probes.join(qTables(cb, queries, qid, qvec), Seq("query_id")))
    val cands = materializedCodes(encoded,
      Seq("centroid_id", index.idCol, "codes")).join(tabbed, Seq("centroid_id"))
    rerank(adcRank(cands, index.idCol, cb, shortlist, dropSelf),
      encoded, index.idCol, index.vecCol, queries, qid, qvec, topK)
  }

  // ───────────────────────── residual coding ─────────────────────────
  // IVFPQ's fidelity lever (Jégou 2011 §IV, FAISS IndexIVFPQ's actual
  // encoding): quantize r = unit(v) − centroid(cell(v)) instead of the
  // raw unit vector. Residuals concentrate near 0 with much smaller
  // norms than unit vectors, so the same M×k codebook budget spends its
  // centers on a far tighter distribution — ADC error drops and the
  // shortlist keeps more true neighbors at the SAME nProbe (the round-9
  // verdict's #7: q118 recall 0.76 → measured ≥0.85 at sf0.1). Cost:
  // the per-query ADC table becomes per (query, probed cell) — still
  // |queries|·nProbe·M·k driver-side work, bounded by the search call.

  /** Driver-side centroid map (nLists is bounded by construction). */
  private def centroidMap(index: Ivf.Index): Map[Int, Array[Float]] =
    index.centroids.collect().map { r =>
      r.getInt(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray
    }.toMap

  /** Unit-normalize a driver-side vector in place (training/query prep). */
  private def unitLocal(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < v.length) { v(i) = (v(i) / n).toFloat; i += 1 } }
    v
  }

  /** Train codebooks on RESIDUALS of a bounded deterministic sample of
    * the index's assigned rows (same sampling contract as train()). */
  def trainResidual(index: Ivf.Index, m: Int, k: Int, seed: Long = 42L,
                    maxIter: Int = 12, maxTrainRows: Int = 16384): Codebooks = {
    val cents = centroidMap(index)
    val sample: Array[Array[Float]] = Samples.hashTopN(
        index.assigned.filter(col("centroid_id") >= 0), // parked rows never train
        index.idCol, Seq(col(index.vecCol), col("centroid_id")), maxTrainRows)
      .collect()
      .map { r =>
        val v = unitLocal(r.getAs[scala.collection.Seq[Float]](0).toArray)
        val c = cents(r.getInt(1))
        var i = 0
        while (i < v.length) { v(i) = (v(i) - c(i)); i += 1 }
        v
      }
    require(sample.nonEmpty, "empty residual PQ training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val centers = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      localKMeans(sub, k, maxIter, seed + j)
    }
    Codebooks(centers, m, k, dim)
  }

  /** Encode each assigned row's RESIDUAL (unit vector − own centroid).
    * Map-side: the centroid table is a broadcast dictionary join (cells
    * are bounded), the subtraction a zip_with on the staged unit column
    * (argument position — evaluated once, not per lambda element).
    * Parked rows (centroid_id = −1 → no centroid match under the left
    * join → null cvec → null residual) get null code elements, same
    * contract as encode(). */
  def encodeResidual(index: Ivf.Index, cb: Codebooks,
                     rAssign: Int = 1): DataFrame = {
    // rAssign > 1: multiple assignment (Ivf.assignedTopR) — each vector
    // is coded under its top-r cells, residual per OWN cell, so a probe
    // of any of them finds it; searchers dedup before re-rank
    val assigned =
      if (rAssign <= 1) index.assigned else Ivf.assignedTopR(index, rAssign)
    val staged = assigned
      .join(broadcast(index.centroids), Seq("centroid_id"), "left")
      .withColumn("__unit",
        zip_with(unitize(col(index.vecCol)), col("cvec"),
          (a, b) => (a - b).cast("float")))
      .drop("cvec")
    encodeStaged(staged, cb)
  }

  /** Per-(query, probed cell) ADC tables over the query RESIDUAL
    * unit(q) − cell centroid: ‖q−v‖² = ‖(q−c) − (v−c)‖² decomposes over
    * subspaces against the residual codebooks. probeRows are
    * |queries|·nProbe by contract (driver-bounded, like qTables). */
  private def qTablesResidual(cb: Codebooks, queries: DataFrame, qid: String,
                              qvec: String, probeRows: Array[(Long, Int)],
                              cents: Map[Int, Array[Float]]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qMap = queries.select(col(qid).cast("long"), col(qvec)).collect().map { r =>
      r.getLong(0) -> unitLocal(r.getAs[scala.collection.Seq[Float]](1).toArray)
    }.toMap
    probeRows.toSeq.map { case (id, cell) =>
      val q = qMap(id); val c = cents(cell)
      val tab = new Array[Double](cb.m * cb.k)
      var j = 0
      while (j < cb.m) {
        var ci = 0
        while (ci < cb.centers(j).length) {
          val cen = cb.centers(j)(ci)
          var s = 0.0; var d = 0
          while (d < cb.subDim) {
            val qr = q(j * cb.subDim + d).toDouble - c(j * cb.subDim + d)
            val diff = qr - cen(d)
            s += diff * diff
            d += 1
          }
          tab(j * cb.k + ci) = s
          ci += 1
        }
        j += 1
      }
      (id, cell, tab.toSeq)
    }.toDF("query_id", "centroid_id", "__qtab")
  }

  /** IVF × PQ with residual codes — same plan shape as
    * ivfSearchReranked (probe join, broadcast tables, ADC scan of
    * probed cells only, exact re-rank), with the ADC table per
    * (query, cell) instead of per query. `encoded` must come from
    * encodeResidual over the SAME index and codebooks. */
  def ivfSearchRerankedResidual(index: Ivf.Index, cb: Codebooks,
                                encoded: DataFrame, queries: DataFrame,
                                qid: String, qvec: String,
                                nProbe: Int, shortlist: Int, topK: Int,
                                dropSelf: Boolean = false): DataFrame = {
    val q = queries.select(col(qid).cast("long").as("query_id"), col(qvec).as("qv"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(desc("csim"), col("centroid_id"))
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("csim", NativeVector.dot(col("qv"), col("cvec")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nProbe)
      .select("query_id", "centroid_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val tabbed = broadcast(qTablesResidual(cb, queries, qid, qvec,
      probes, centroidMap(index)))
    val cands = materializedCodes(encoded,
      Seq("centroid_id", index.idCol, "codes")).join(tabbed, Seq("centroid_id"))
    // re-rank against the PRIMARY assignment (one row per vector) —
    // `encoded` may be multi-assigned (rAssign > 1) and would join each
    // shortlist pair against every copy
    rerank(adcRank(cands, index.idCol, cb, shortlist, dropSelf),
      index.assigned, index.idCol, index.vecCol, queries, qid, qvec, topK)
  }
}
