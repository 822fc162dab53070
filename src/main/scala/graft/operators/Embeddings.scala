package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeVector

/** Embedding-vector operators: norms, brute-force cosine top-k, and a
  * random-hyperplane LSH variant as the scale path (SURVEY.md §7).
  *
  * All vector math is higher-order array expressions in double precision
  * (left-to-right folds — deterministic). Brute force broadcasts the
  * (small) query side so the corpus never shuffles; the LSH variant
  * bounds the candidate set by bucket before exact scoring.
  */
object Embeddings {

  /** Σ aᵢ·bᵢ in double (fold over zip — codegen'd, deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Per-vector stats: L2 norm, mean, min, max. */
  def stats(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec)
    df.select(col(id),
      norm2(v).as("l2_norm"),
      (aggregate(v, lit(0.0), (a, x) => a + x.cast("double")) / size(v)).as("mean"),
      array_min(v).cast("double").as("min_v"),
      array_max(v).cast("double").as("max_v"))
  }

  /** EXACT cosine threshold pairs restricted to a bounded PROBE set:
    * probes broadcast against the corpus — a linear scan (|probes|·n
    * cosines), no LSH, no n². This is the recall yardstick for the
    * probabilistic near-dup operator below (q74's oracle pattern, the
    * same shape as q62's exact top-5 truth for IVF): exact truth over
    * the full corpus is O(n²), but truth restricted to a bounded probe
    * set stays linear at any corpus size. Pairs are canonicalized
    * (id1 < id2) and de-duplicated; the two orientations of a
    * probe-probe pair compute bit-identical sims (dot and |a||b| are
    * per-term commutative), so distinct collapses them exactly. */
  def cosineProbePairs(probes: DataFrame, corpus: DataFrame, id: String,
                       vec: String, minSim: Double): DataFrame = {
    val p = probes.select(col(id).as("pid"), col(vec).as("pv"))
    val c = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    c.join(broadcast(p), col("pid") =!= col("cid"))
      .withColumn("sim",
        round(NativeVector.cosine(col("pv"), col("cv")) * 1e6) / 1e6)
      .filter(col("sim") >= minSim)
      .select(least(col("pid"), col("cid")).as("id1"),
        greatest(col("pid"), col("cid")).as("id2"), col("sim"))
      .distinct()
  }

  /** SemDeDup-shaped semantic dedup (cluster-then-dedup, per the public
    * SemDeDup method: Abbas et al. 2023, arXiv:2303.09540): partition
    * the corpus by the IVF coarse quantizer's centroid assignment, then
    * emit exact-cosine-verified near-duplicate pairs WITHIN each
    * cluster. The pair join is quadratic only inside a centroid bucket
    * — Σ|bucket|² work, never corpus² — and the verify cosine runs only
    * on co-clustered candidates, which is the property that makes
    * embedding-level dedup feasible at 10⁹ documents: the quantizer is
    * a bounded driver-side k-means (Ivf.build) and the assignment is a
    * map-side argmax, so the only shuffle is the bucket hash.
    *
    * Recall contract: a near-duplicate pair is found iff both sides
    * land in the same centroid bucket. For true near-dups (cos → 1)
    * the argmax centroid is the same unless the pair straddles a
    * Voronoi boundary — the standard SemDeDup trade, surfaced honestly
    * (q112 plants clones scaled by EXACTLY 2: power-of-two scaling
    * commutes with IEEE rounding, so every centroid dot and the argmax
    * are exact doubles of the original's and co-clustering is an
    * arithmetic identity, not a rounding-dependent claim). Downstream:
    * group pairs (q65's connected components), keep min-id per group. */
  def semanticDedupPairs(df: DataFrame, id: String, vec: String,
                         nLists: Int, minSim: Double): DataFrame = {
    val idx = Ivf.build(df, id, vec, nLists)
    val a = idx.assigned.filter(col("centroid_id") >= 0)
      .select(col("centroid_id"), col(id).as("id1"), col(vec).as("v1"))
    val b = idx.assigned.filter(col("centroid_id") >= 0)
      .select(col("centroid_id"), col(id).as("id2"), col(vec).as("v2"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id1") < col("id2"))
      // 1e-6 quantization: the codebase's pair-sim determinism
      // convention (cosineProbePairs/lshNeighborPairs apply the same),
      // so the threshold cut and emitted sims are run-stable
      .withColumn("sim",
        round(NativeVector.cosine(col("v1"), col("v2")) * 1e6) / 1e6)
      .filter(col("sim") >= minSim)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries are broadcast; ranking
    * shuffles only (query_id, sim) pairs. `quantize` stabilizes ranking
    * ties across engines/runs. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, qid: String,
                 cid: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(qid).as("query_id"), col(vec).as("qv"))
    val c = corpus.select(col(cid).as("neighbor_id"), col(vec).as("cv"))
    val sims = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        round(NativeVector.cosine(col("qv"), col("cv")) * 1e6) / 1e6)
    // round-20: the final rank rides the k-bounded aggregate instead of
    // a row_number window — the window shuffled and SORTED every scored
    // (query × corpus) pair; the aggregate ships k-sized buffers. Same
    // (sim desc nulls-last, id asc) total order, bit-identical
    // selection (the randomized window-parity pin lives in
    // BoundedTopKSpec; the operator parity specs re-pin this output).
    // Precondition at this call site: the rank key is null or FINITE —
    // `sim` is round(cosine·1e6)/1e6, never NaN — because rankHits
    // orders a genuinely-NaN key LAST (rewritten to null on output)
    // where the window would order NaN first.
    BoundedTopK.rankHits(sims, "query_id", "sim", "neighbor_id", k)
      .select("query_id", "neighbor_id", "sim")
  }

  /** k-NN label vote (round 17 — label propagation, the classic
    * embedding-space classifier of the curation stack: a small labeled
    * seed set labels an unlabeled corpus by nearest-neighbor majority,
    * the fastText/SemDeDup-era technique for topic/quality tagging at
    * corpus scale): given a (query_id, neighbor_id) NEIGHBORS frame —
    * [[cosineTopK]]'s exact output, or any ANN search result
    * ([[Pq.searchReranked]], [[Ivf.search]], [[Sq.searchReranked]]) for
    * the approximate scale path — join each neighbor's label and keep
    * the per-query majority (votes desc, label asc on ties, the
    * deterministic convention). One shuffle on query_id; the labels
    * side joins on the neighbor id (broadcast when the seed set is
    * small — the usual deployment). */
  def knnVote(neighbors: DataFrame, labels: DataFrame, id: String,
              labelCol: String): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("votes"), col("label").asc)
    neighbors.select("query_id", "neighbor_id")
      .join(labels.select(col(id).as("neighbor_id"),
        col(labelCol).cast("long").as("label")), Seq("neighbor_id"))
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("votes"))
  }

  /** Deterministic random hyperplanes: planes(i)(j) ∈ [-0.5, 0.5). */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextDouble() - 0.5))
  }

  /** Sign-random-projection bucket id (nPlanes-bit signature). Vectors
    * in the same bucket are near-duplicate candidates. */
  def srpBucket(vec: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column =
    planes(nPlanes, dim, seed).zipWithIndex.map { case (p, i) =>
      val proj = dot(vec, array(p.map(lit): _*))
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed near-neighbor pairs: exact cosine computed only inside
    * buckets (the 100 TB path: candidate generation is a shuffle on the
    * bucket id, not an n² cross join). */
  def lshNeighborPairs(df: DataFrame, id: String, vec: String,
                       nPlanes: Int = 12, dim: Int = 64,
                       minSim: Double = 0.0, seed: Long = 42L): DataFrame = {
    // the nPlanes SRP dots run per join side over a narrow scan —
    // widen so both passes parallelize (round-21, guide §2.5)
    val sig = Widen(df).select(col(id).as("vid"), col(vec).as("v"),
      srpBucket(col(vec), nPlanes, dim, seed).as("bucket"))
    val l = sig.select(col("bucket"), col("vid").as("id1"), col("v").as("v1"))
    val r = sig.select(col("bucket"), col("vid").as("id2"), col("v").as("v2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("sim",
        round(NativeVector.cosine(col("v1"), col("v2")) * 1e6) / 1e6)
      .filter(col("sim") >= minSim)
      .select("id1", "id2", "sim")
  }

  /** Embedding-cosine near-duplicate pairs — the vector half of the
    * dedup family (MinHash/SimHash cover text; this covers embeddings).
    *
    * Multi-table SRP-LSH candidate generation + exact cosine verify,
    * the q54 (MinHash) staging discipline applied to vectors:
    *  1. each vector gets `nTables` independent `nPlanes`-bit SRP
    *     signatures; the candidate join carries ONLY (table|bucket, id) —
    *     vectors never enter the candidate shuffle;
    *  2. distinct candidate pairs join vectors back and are verified
    *     with the exact (native, codegen'd) cosine; only pairs at
    *     `sim >= minSim` survive.
    *
    * Recall: a pair at angle θ collides in one table w.p. (1−θ/π)^nPlanes
    * and is missed by all tables w.p. (1−(1−θ/π)^nPlanes)^nTables — at
    * cosine 0.9998 (θ≈0.02) with the 12×8 default that is ~1e-9, while
    * unrelated vectors (cosine ≲ 0.65, θ≥0.86) almost never collide, so
    * candidate volume stays near-linear. At larger corpora raise nPlanes
    * (halves per-table collision volume per extra bit) before nTables. */
  def cosineNearDupPairs(df: DataFrame, id: String, vec: String,
                         minSim: Double, nPlanes: Int = 12, nTables: Int = 8,
                         dim: Int = 64, seed: Long = 42L): DataFrame = {
    // nTables × nPlanes SRP dots per row, evaluated per reference of
    // `base` (signatures + both verify-join sides) — widen a narrow
    // scan so the passes parallelize (round-21, guide §2.5; no-op at
    // cluster-scale layouts)
    val base = Widen(df).select(col(id).as("vid"), col(vec).as("v"))
    // table index packed into the bucket key: one join column, no struct
    val sig = base.select(col("vid"), explode(array(
      (0 until nTables).map(t =>
        srpBucket(col("v"), nPlanes, dim, seed + 7919L * t) +
          lit(t.toLong << nPlanes)): _*)).as("bucket"))
    val cand = sig.select(col("bucket"), col("vid").as("id1"))
      .join(sig.select(col("bucket"), col("vid").as("id2")), Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cand
      .join(base.select(col("vid").as("id1"), col("v").as("v1")), Seq("id1"))
      .join(base.select(col("vid").as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("sim",
        round(NativeVector.cosine(col("v1"), col("v2")) * 1e6) / 1e6)
      .filter(col("sim") >= minSim)
      .select("id1", "id2", "sim")
  }
}
