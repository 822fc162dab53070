package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Embeddings
import Util.{Q, qz}

/** Similarity-search queries over `embeddings` (SURVEY.md §7):
  * per-vector stats, brute-force cosine top-k (oracle-checked), and the
  * LSH-bucketed scale path (rows-only — hash-based).
  */
object EmbeddingQueries {

  /** q143's build-once ANN registry (round-13 verdict #5): the full
    * IVF + residual-PQ lifecycle (train, encode, register) plus the
    * fresh search and exact top-5 reference run ONCE per process;
    * every q143 execution then pays only the DEPLOYMENT-shape cost —
    * reload the registry artifacts and search. This is the honest
    * amortization of q117/q118's per-execution rebuild (the verdict's
    * "a production index is built once"), measured instead of asserted. */
  private val annArtifactMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Set[(Long, Long, Double)], Set[(Long, Long)])]()

  /** q162's build-once OPQ serving artifact (the q143 amortization
    * doctrine): rotation + codebooks + codes register ONCE per process;
    * every execution pays the deployment shape — reload, serve over
    * HTTP, compare against the in-process Spark search. */
  private val annHttpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q166's build-once two-family serving artifacts (OPQ + IVF under
    * one registry root): registered ONCE per process; every execution
    * pays the deployment shape — reload both, serve both from ONE
    * server, compare each against its in-process Spark search. */
  private val annMultiMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q167's build-once mixture corpus (generation is an interpreted
    * O(dim²)-per-row FIXTURE expression — SyntheticData's own cost
    * note): generated and parqueted once per process; every execution
    * pays only the three quantization arms over the reloaded corpus. */
  private val mixtureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q168's build-once sharded serving artifacts: ONE codebook, two
    * per-node code shards under one registry root (the deployment
    * layout); registered once per process, every execution reloads and
    * serves — the q162/q166 amortization doctrine. */
  private val annShardMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q169's build-once filtered-serving artifact: PQ codebooks + a
    * codes table carrying the `label` attribute column register ONCE
    * per process; every execution pays the deployment shape — reload,
    * serve with an attribute filter, compare against the exact filtered
    * brute force. */
  private val annFilterMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q172's build-once SQ8 serving artifact (the q162 doctrine): the
    * quantizer ranges + encoded corpus register ONCE per process; every
    * execution reloads and serves. */
  private val sqHttpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q175's build-once HNSW artifact + its fresh EXHAUSTIVE-search
    * reference set (the q143 doctrine): graph built and registered ONCE
    * per process; every execution pays the deployment shape — reload,
    * serve over HTTP, compare bit-for-bit against the fresh graph's
    * search. */
  private val hnswMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Set[(Long, Long, Long)])]()

  /** q176's build-once mixture corpus + graph pair (closest-M vs §4
    * heuristic at identical budgets); the graphs live in memory — per
    * execution only the searches and the exact arm re-run. Its own 20 K
    * corpus (same generator/geometry as q167's 60 K one): the
    * comparison needs the clustered GEOMETRY, not the larger scale, and
    * two graph builds ride every process. */
  private val hnswMixMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, graft.operators.Hnsw.Graph, graft.operators.Hnsw.Graph)]()

  /** The shared q175/q178 base graph (vec_id < 50000, m=16, efC=100)
    * — built once per process per dir; the two gates register their
    * own artifacts (plain / label-attributed) off it. */
  private val hnswGraphMemo = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.Hnsw.Graph]()
  private def hnswBaseGraph(s: org.apache.spark.sql.SparkSession,
                            dir: String): graft.operators.Hnsw.Graph =
    hnswGraphMemo.computeIfAbsent(dir, _ =>
      graft.operators.Hnsw.fromDataFrame(
        Tables.embeddings(s, dir).filter(col("vec_id") < 50000),
        "vec_id", "embedding", m = 16, efConstruction = 100))

  /** q177's build-once append artifacts: full-build reference search
    * set + the registered appended graph + the struct-equality verdict
    * computed at build time. */
  private val hnswAppendMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Set[(Long, Long, Long)], Boolean)]()

  /** q178's build-once filtered-serving HNSW artifact (label attr rides
    * the nodes table) + the fresh filtered exhaustive reference set. */
  private val hnswFilterMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Set[(Long, Long, Long)])]()

  /** q180's build-once HNSW,SQ8 composition: the quantizer + the graph
    * over the byte-code reconstructions. */
  private val hnswSqMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.operators.Sq.Quantizer, graft.operators.Hnsw.Graph)]()

  /** q181's build-once five-family deletion registry: one corpus, five
    * registered artifacts, the planted top-1-neighbor tombstones
    * applied to each (double-applied — idempotence rides the build). */
  private val annDeleteMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q182's build-once distributed fleet artifact: one Spark job
    * builds both shard graphs (Hnsw.buildShardsDistributed), saved as
    * one partitioned parquet; the driver-vs-executor bit-identity
    * verdict is computed once alongside. */
  private val hnswFleetMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Boolean)]()

  /** q186's build-once compaction registry: four masked families, the
    * pre-compaction MASKED exhaustive results (bit-captured before
    * compact prunes the masked version), the survivor count, and the
    * compacted registry root. */
  private val annCompactMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, Seq[(Long, Long, Double)]], Long)]()

  /** q187's build-once deletion-composition registry: two per-shard
    * masked HNSW artifacts (the fleet arm) + the refreshed-and-carried
    * artifact (the refresh arm). */
  private val annDeleteFleetMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q188's build-once binary-quantization registry (planes + packed
    * signatures over the corpus). */
  private val bqMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q189's build-once replica-fleet registry (one shared SQ8
    * quantizer, parity-split shard codes). */
  private val hedgedFleetMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q184/q185's build-once IVF index + centroid graph (the IVF_HNSW
    * composition's quantizer pair — q184 gates the corpus-side
    * assignment, q185 the query-side probe selection, over ONE build). */
  private val ivfHnswMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.operators.Ivf.Index, graft.operators.Hnsw.Graph)]()

  private def ivfHnswPair(s: org.apache.spark.sql.SparkSession, dir: String):
      (graft.operators.Ivf.Index, graft.operators.Hnsw.Graph) =
    ivfHnswMemo.computeIfAbsent(dir, _ => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val idx = graft.operators.Ivf.build(e, "vec_id", "embedding",
        nLists = 64)
      (idx, graft.operators.Ivf.centroidGraph(idx, m = 8,
        efConstruction = 64))
    })

  /** q176 budgets — both arms get IDENTICAL (m, efConstruction,
    * efSearch); chosen on the mixture fixture so closest-M sits below
    * saturation (the regime where the §4-heuristic comparison
    * discriminates; BASELINE.md records the sweep). */
  private val HnswMixM = 4
  private val HnswMixEfc = 64
  private val HnswMixEf = 16

  /** q168/q179's shared shard registry: ONE codebook, two per-node code
    * shards (vec_id parity split of the < 50000 corpus) under one
    * registry root — built and registered once per process. */
  private def shardRegistry(s: org.apache.spark.sql.SparkSession,
                            dir: String): String =
    annShardMemo.computeIfAbsent(dir, _ => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
      val enc = graft.operators.Pq.encode(
        e.select("vec_id", "embedding"), "embedding", cb).cache()
      val reg = tempRegistryDir("graft_ann_shard")
      graft.serve.ModelRegistry.registerPq(s, reg, "ann_s0", cb,
        Some(enc.filter(col("vec_id") % 2 === 0)))
      graft.serve.ModelRegistry.registerPq(s, reg, "ann_s1", cb,
        Some(enc.filter(col("vec_id") % 2 === 1)))
      enc.unpersist()
      reg
    })

  /** Temp registry dir for the HTTP-serving gates, swept at JVM exit
    * (round-16 verdict #8: repeated batteries accumulated orphan
    * `graft_ann_http*` registries under /tmp — gate-only residue). */
  private def tempRegistryDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p); ()
      }
      try rm(dir) catch { case _: Exception => () } // best-effort sweep
    }))
    dir.toString
  }

  def queries: Map[String, Q] = Map(
    // ANN INDEX PERSISTENCE end to end: the q118 IVF×PQ search, but
    // every execution searches artifacts RELOADED from a ModelRegistry
    // (centroids + assignments + codebooks + codes all ride parquet) —
    // recall must clear the q118 floor AND the reloaded search must be
    // BIT-IDENTICAL to the fresh index's search (floats round-trip
    // bit-exactly; a reload that re-derives anything would drift).
    "q143_ann_reload" -> ((s, dir) => {
      import s.implicits._
      val (root, freshRes, exactSet) = annArtifactMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir)
        val q = e.filter(col("vec_id") < 20)
        val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
        val cb = graft.operators.Pq.trainResidual(index, m = 8, k = 256)
        val encoded = graft.operators.Pq.encodeResidual(index, cb, rAssign = 2)
        val fresh = graft.operators.Pq.ivfSearchRerankedResidual(index, cb,
            encoded, q, "vec_id", "embedding",
            nProbe = 8, shortlist = 100, topK = 5, dropSelf = true)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val reg = java.nio.file.Files.createTempDirectory("graft_ann_reg").toString
        graft.serve.ModelRegistry.registerIvf(s, reg, "ann_ivf", index)
        graft.serve.ModelRegistry.registerPq(s, reg, "ann_pq", cb, Some(encoded))
        (reg, fresh, exact)
      })
      val index = graft.serve.ModelRegistry.loadIvf(s, root, "ann_ivf")
      val cb = graft.serve.ModelRegistry.loadPq(s, root, "ann_pq")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_pq")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      val res = graft.operators.Pq.ivfSearchRerankedResidual(index, cb, codes,
          q, "vec_id", "embedding",
          nProbe = 8, shortlist = 100, topK = 5, dropSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val hits = (res.map(t => (t._1, t._2)) & exactSet).size
      Seq((exactSet.map(_._1).size.toLong, exactSet.size.toLong,
          hits.toDouble / exactSet.size >= 0.4, res == freshRes))
        .toDF("n_queries", "n_exact", "recall_ok", "reload_exact")
    }),
    // INCREMENTAL INDEX MAINTENANCE (FAISS add() semantics — round-14
    // extension of q143's persistence): build + register an IVF index,
    // RELOAD it, append a delta shard of exact copies of the first 20
    // vectors under offset ids (the arriving-data case), and search
    // with the originals. Recall of the planted twins is GUARANTEED,
    // not statistical: an exact copy shares its query's argmax cell, so
    // nProbe=1 probes it, and with self excluded the twin surfaces in
    // the top-k — so the oracle pins the discrete outcome (20/20) and a
    // broken frozen-quantizer assignment or a lost delta row goes red.
    // n_indexed pins conservation: corpus + delta, nothing dropped.
    // At 100 TB this operation (map-only assign of the new shard, no
    // retrain) is the difference between a daily rebuild and a
    // streaming refresh; IvfSpec proves the old rows' results are
    // untouched and load→append composes with save.
    "q148_ann_append" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
      val reg = java.nio.file.Files.createTempDirectory("graft_ann_app").toString
      graft.serve.ModelRegistry.registerIvf(s, reg, "ann_ivf", index)
      val loaded = graft.serve.ModelRegistry.loadIvf(s, reg, "ann_ivf")
      // delta ids are NEGATIVE: absent at every scale by construction
      // (generated and replica id spaces are nonnegative — a fixed
      // positive offset collided with the sf1 replica's offset ids),
      // and a negative id also wins the (sim desc, id asc) tie-break
      // against a 6dp-rounded-to-1.0 near-duplicate
      val delta = e.filter(col("vec_id") < 20)
        .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
      val appended = graft.operators.Ivf.append(loaded, delta)
      val q = e.filter(col("vec_id") < 20)
      val res = graft.operators.Ivf.search(appended, q, "vec_id", "embedding",
        nProbe = 1, topK = 5)
      val twinsFound = res
        .filter(col("neighbor_id") === -col("query_id") - 1).count()
      val nIndexed = appended.assigned.count()
      Seq((20L, twinsFound, nIndexed))
        .toDF("n_queries", "n_twins_found", "n_indexed")
    }),

    "q57_embed_stats" -> ((s, dir) => {
      Embeddings.stats(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), qz(col("l2_norm"), 6).as("l2_norm"),
          qz(col("mean"), 6).as("mean"),
          col("min_v"), col("max_v"))
        .orderBy("vec_id")
    }),

    // brute-force cosine top-5 for the first 20 vectors
    "q58_knn_bruteforce" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Embeddings.cosineTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", k = 5)
        .orderBy("query_id", "neighbor_id")
    }),

    // IVF ANN, oracle-checked via the q17-style tolerance pattern: the
    // nProbe=4 search's mean recall@5 against the EXACT top-5
    // (cosineTopK — itself hash-proven against DuckDB by q58) must clear
    // a 0.4 floor. On this corpus (random vectors, the hard case) the
    // measured mean is 0.63 (sf0.01) / 0.53 (sf0.1), while a broken
    // assignment or probe ranking degenerates to ~nProbe/nLists = 0.25 —
    // the floor separates the two regardless of data seed. Probe recall
    // is THE property that matters at 1B vectors.
    "q62_ivf_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
      val approx = graft.operators.Ivf.search(index, q,
        "vec_id", "embedding", nProbe = 4, topK = 5)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      exact.join(approx.withColumnRenamed("sim", "asim"),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("asim")).cast("long").as("n_hits"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.4).as("recall_ok"))
    }),

    // Product-quantization ANN (byte-code compression tier, FAISS
    // IndexPQ+R shape): m=8 × k=256 codebooks train driver-side on a
    // bounded sample, encoding is a map-side argmin per subspace
    // (8 bytes/vector vs 256 raw — the 32× scan-compression PQ exists
    // for), the ADC byte scan keeps a 50-candidate shortlist and exact
    // cosine re-ranks ONLY those. Recall@5 vs the exact top-5 (q62
    // tolerance pattern) must clear 0.5: measured 1.0 (sf0.01) / 0.90
    // (sf0.1) on random vectors — PQ's hard case — while a broken
    // codebook/encode/ADC degenerates to ~shortlist/n ≈ 0.01-0.1.
    "q117_pq_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 256)
      val encoded = graft.operators.Pq.encode(
        e.select("vec_id", "embedding"), "embedding", cb)
      val approx = graft.operators.Pq.searchReranked(encoded, "vec_id",
        "embedding", cb, q, "vec_id", "embedding",
        shortlist = 50, topK = 5, dropSelf = true)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      exact.join(approx.withColumnRenamed("sim", "asim"),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("asim")).cast("long").as("n_hits"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.5).as("recall_ok"))
    }),

    // IVF × PQ composition (the billion-scale IndexIVFPQ shape): coarse
    // cells prune the scan (nProbe=8 of 16), byte codes make scanned
    // rows M lookups, exact cosine re-ranks the 50-candidate shortlist.
    // RESIDUAL-coded + MULTIPLE ASSIGNMENT since round 10 (verdict
    // #7): codes quantize unit(v) − own-cell centroid, and each vector
    // is indexed under its top-2 cells (Ivf.assignedTopR). A BASELINE.md
    // decomposition showed single-assign recall was CEILINGED by cell
    // recall at 0.79 (nProbe=8/16; identical at shortlist 50/200 and
    // m 8/16 — finer codes could not help; the uniform corpus gives
    // residuals no norm advantage either, measured 0.76 → 0.71 alone,
    // the honest negative result). Wider cell membership at the SAME
    // nProbe is what moves it: measured recall@5 = 0.88 at sf0.1 /
    // 0.92 at sf0.01 (r=2, shortlist 100 — scaled ~r× so duplicate
    // shortlist slots don't crowd out uniques; ma3@150 reaches 0.93).
    // Cost: 2× byte codes per vector (16 B — still 16× under one raw
    // vector). The 0.4 floor keeps >2× margin above the
    // broken-machinery regime (~0.01-0.1).
    "q118_ivfpq_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
      val cb = graft.operators.Pq.trainResidual(index, m = 8, k = 256)
      val encoded = graft.operators.Pq.encodeResidual(index, cb, rAssign = 2)
      val approx = graft.operators.Pq.ivfSearchRerankedResidual(index, cb,
        encoded, q, "vec_id", "embedding", nProbe = 8, shortlist = 100, topK = 5,
        dropSelf = true)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      exact.join(approx.withColumnRenamed("sim", "asim"),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("asim")).cast("long").as("n_hits"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.4).as("recall_ok"))
    }),

    // per-DIMENSION embedding moments — the whitening/normalization
    // fit (mean-center + scale per dim) every embedding pipeline runs
    // before PQ/IVF training. posexplode → groupBy(dim): shuffle rows =
    // n·dim but keyed on dim (bounded groups, map-side combined);
    // output is dim rows.
    "q127_dim_stats" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          qz(avg(col("x")), 6).as("mean"),
          qz(stddev(col("x")), 6).as("std"),
          qz(min(col("x")), 6).as("min_x"),
          qz(max(col("x")), 6).as("max_x"))
        .orderBy("dim")
    }),

    // IVF machinery proof: probing ALL lists must reproduce brute force
    // EXACTLY (hash-checked vs the q58 oracle) — a dropped or duplicated
    // vector anywhere in build/assign/search breaks this row
    "q63_ivf_exact" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
      graft.operators.Ivf.search(index, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", nProbe = 16, topK = 5)
        .orderBy("query_id", "neighbor_id")
    }),

    // SRP-LSH near-dup pairs, oracle-checked on the deterministic LSH
    // guarantee: identical vectors share every hyperplane sign, so
    // planted exact copies (vec_id+100000, reproducible in SQL) MUST be
    // found with probability 1 — while the corpus's natural pairs (max
    // cosine ~0.6) stay far under the 0.999 floor. Recall of exact
    // duplicates is the dedup contract this operator serves at scale.
    "q59_lsh_neighbors" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val planted = e.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 100000L)
      Embeddings.lshNeighborPairs(e.unionByName(planted),
          "vec_id", "embedding", nPlanes = 12, dim = 64, minSim = 0.999)
        .orderBy("id1", "id2")
    }),

    // embedding-cosine NEAR-dup detection (vector half of the dedup
    // family), oracle-checked on the operator's HONEST contract (the
    // q62 pattern): exact precision, floor-gated probabilistic recall.
    // Round-8 finding (sf1 gate): the old exact-pair-set oracle was
    // satisfiable only by accident — at sim exactly 0.9 a 12x8 SRP
    // misses ~26% of pairs (p = 1 - acos(0.9)/pi = 0.856, miss =
    // (1-p^12)^8 = 0.26), and the driver SFs simply have no
    // boundary-sim pairs, while the sf1 replicas' noise pairs sit right
    // at the threshold (measured recall 0.80 there). No bounded-cost
    // LSH emits the exact pair set at a threshold; what the operator
    // genuinely promises is (a) every emitted pair is exact-verified
    // >= minSim, (b) near-certain recall well above the threshold
    // (perturbed planted copies at cosine ~0.9998: missed by one table
    // w.p. ~0.16, by all 8 w.p. ~1e-9), (c) floor-bounded recall AT the
    // threshold. The emitted surface pins all three with exact
    // DuckDB-recomputable values: probe-restricted truth count + sim
    // mass, planted-pair count with an all-found flag, and a 0.7
    // recall floor (vs ~0.1 if candidate generation breaks).
    "q74_cosine_neardup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val base = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = base.filter(col("vec_id") < 40)
        .select((col("vec_id") + 200000L).as("vec_id"),
          concat(array(element_at(col("v"), 1) + lit(0.01)),
            slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
      val corpus = base.unionByName(planted)
      def isProbe(c: org.apache.spark.sql.Column) =
        c < 40 || (c >= 200000L && c < 200040L)
      // exact truth restricted to the 80 probe vectors: linear work at
      // any corpus size, recomputable verbatim by DuckDB
      val truth = Embeddings.cosineProbePairs(
        corpus.filter(isProbe(col("vec_id"))), corpus, "vec_id", "v",
        minSim = 0.9)
      val found = Embeddings.cosineNearDupPairs(corpus, "vec_id", "v",
          minSim = 0.9, nPlanes = 12, nTables = 8, dim = 64)
        .filter(isProbe(col("id1")) || isProbe(col("id2")))
      // found ⊆ truth by construction (identical exact-verify expression
      // and threshold), so a left join + hit flag measures recall
      val plantedPair = col("id2") === col("id1") + 200000L && col("id1") < 40
      truth
        .join(found.select(col("id1"), col("id2"), lit(1L).as("hit")),
          Seq("id1", "id2"), "left")
        .agg(count(lit(1)).cast("long").as("n_true"),
          qz(sum(col("sim")), 4).as("sum_sim_true"),
          sum(when(plantedPair, 1L).otherwise(0L)).cast("long").as("n_planted"),
          sum(when(plantedPair, coalesce(col("hit"), lit(0L))).otherwise(0L)).as("_pf"),
          coalesce(sum(col("hit")), lit(0L)).as("_nh"))
        .select(col("n_true"), col("sum_sim_true"), col("n_planted"),
          (col("_pf") === col("n_planted")).as("planted_all_found"),
          (col("n_true") === 0 ||
            col("_nh").cast("double") / col("n_true") >= 0.7).as("recall_ok"))
    }),

    // SemDeDup (cluster-then-dedup) with a PROVABLE planted recall set:
    // every 25th vector gets a clone scaled by EXACTLY 2 under a
    // disjoint id. ×2 is a power of two, and IEEE rounding commutes
    // with power-of-two scaling — every float component, every centroid
    // dot, and the argmax are EXACT doubles of the original's, so the
    // clone co-clusters with its original by arithmetic identity (not
    // "up to rounding"), and cos(v, 2v) is exactly 1.0. The emitted
    // surface is the (original, clone) containment set: one missing
    // row = the bucketed pair join lost a guaranteed-recall pair; one
    // extra row is impossible (no natural pair reaches 0.99 on this
    // corpus — verified — and the 1e12 id offset is disjoint from
    // ScaleData's replica stride at any copies count, unlike 1e9
    // which collides at copies ≥ 100). nLists scales as √n per the
    // Ivf sizing rule, keeping the in-bucket pair work ~n^1.5, not n².
    "q112_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val clones = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = e.unionByName(clones)
      val nLists = math.max(8, math.sqrt(corpus.count().toDouble).toInt)
      Embeddings.semanticDedupPairs(corpus,
          "vec_id", "embedding", nLists, minSim = 0.99)
        .filter(col("id2") === col("id1") + 1000000000000L)
        .select(col("id1"), col("id2"), qz(col("sim"), 3).as("sim"))
        .orderBy("id1")
    }),

    // PCA-ACCELERATED ANN (round 14): the reason the PCA tier exists —
    // candidates are found in the 8-dim PCA space (8× less dot-product
    // work per pair; at 100 TB the projected corpus is what you scan),
    // then the 50-candidate shortlist exact-reranks with full vectors.
    // PCA-ANN presumes ANISOTROPY; the synthetic corpus is isotropic
    // (per q127, every dim has equal std — PCA would concentrate
    // nothing), so the query PLANTS a known dominant 8-dim subspace
    // (dims 0-7 ×3.5, rest ×0.5 → ~96% of variance mass — exactly the
    // geometry real embedding spaces have; |x| ≤ 1.9 keeps every row
    // inside the fixed-point envelope). Gates: eiggap_ok pins that the
    // eigensolve actually FOUND the planted subspace (λ₇/λ₈ > 5 —
    // measured ~30×), recall_ok pins the end-to-end candidate quality
    // (floor 0.9; measured 1.0 at sf0.01 AND sf0.1 — the
    // broken-machinery regime is ~0.1).
    "q157_pca_ann" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN x * CAST(3.5 AS FLOAT)" +
          " ELSE x * CAST(0.5 AS FLOAT) END)").as("embedding"))
      val q = e.filter(col("vec_id") < 20)
      val m = graft.operators.Pca.fit(e, "embedding", dim = 64)
      def proj8(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Pca.transform(df, "vec_id", "embedding", m, k = 8)
          .select(col("vec_id"),
            expr("transform(proj, x -> CAST(x AS FLOAT))").as("embedding"))
      val cand = Embeddings.cosineTopK(proj8(q), proj8(e),
        "vec_id", "vec_id", "embedding", k = 50)
      val reranked = cand.select(col("query_id"), col("neighbor_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
          "neighbor_id")
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), "query_id")
        .withColumn("sim", round(Embeddings.cosine(col("qv"), col("cv")) * 1e6) / 1e6)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy(desc("sim"), col("neighbor_id"))))
        .filter(col("rn") <= 5)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      exact.join(reranked.select(col("query_id"), col("neighbor_id"),
          lit(1).as("h")), Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("h")).cast("long").as("n_hits"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_hits").cast("double") / col("n_exact") >= 0.9).as("recall_ok"),
          lit(m.eigenvalues(7) / m.eigenvalues(8) > 5.0).as("eiggap_ok"))
    }),

    // OPQ-LITE (round 15, the verdict's PCA∘PQ composition): parametric
    // Optimized Product Quantization (Ge et al. 2013 / FAISS OPQMatrix)
    // — rotate into the balanced-allocation PCA eigenbasis, then run
    // the UNCHANGED PQ train/encode/ADC/rerank machinery on the rotated
    // corpus. The q157 planted-subspace corpus is the exact geometry
    // OPQ exists for: dims 0-7 carry ~96% of the variance and land
    // WHOLE inside raw PQ's first contiguous subspace, so one 2⁶-code
    // subquantizer eats nearly all the quantization error while seven
    // quantize noise; the balanced allocation spreads the 8 dominant
    // eigendirections one per subspace. Both arms run IDENTICAL
    // m=8 × k=64 budgets / shortlist 50, so the lift is the rotation's
    // alone — measured recall@5: raw 0.92 → OPQ 1.00 (sf0.01), raw
    // 0.66 → OPQ 1.00 (sf0.1). Gates: opq recall ≥ 0.9 (broken
    // machinery ~0.01-0.1), opq ≥ raw on the SAME run (the honest
    // head-to-head), alloc_ok pins one dominant eigen-rank per
    // subspace, eiggap_ok pins that the eigensolve found the planted
    // subspace. The rotation is a PURE orthogonal map (no centering):
    // cosine in rotated space IS input-space cosine, so the exact
    // ground truth on raw vectors stays valid verbatim. 100 TB shape:
    // one PCA fit (auto-sampled) + a map-side d² matmul fused ahead of
    // the existing encode pass — nothing new shuffles.
    "q159_opq_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN x * CAST(3.5 AS FLOAT)" +
          " ELSE x * CAST(0.5 AS FLOAT) END)").as("embedding"))
      val q = e.filter(col("vec_id") < 20)
      val cbRaw = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
      val encRaw = graft.operators.Pq.encode(
        e.select("vec_id", "embedding"), "embedding", cbRaw)
      val rawHit = graft.operators.Pq.searchReranked(encRaw, "vec_id",
          "embedding", cbRaw, q, "vec_id", "embedding",
          shortlist = 50, topK = 5, dropSelf = true)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("raw_h"))
      val rot = graft.operators.Opq.trainRotation(e, "embedding", dim = 64, m = 8)
      val er = graft.operators.Opq.rotate(e, "vec_id", "embedding", rot)
      val qr = graft.operators.Opq.rotate(q, "vec_id", "embedding", rot)
      val cbOpq = graft.operators.Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
      val encOpq = graft.operators.Pq.encode(er, "embedding", cbOpq)
      val opqHit = graft.operators.Pq.searchReranked(encOpq, "vec_id",
          "embedding", cbOpq, qr, "vec_id", "embedding",
          shortlist = 50, topK = 5, dropSelf = true)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("opq_h"))
      val allocOk = rot.perm.grouped(8).forall(_.count(_ < 8) == 1)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      exact.join(rawHit, Seq("query_id", "neighbor_id"), "left")
        .join(opqHit, Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("raw_h")).cast("long").as("n_raw"),
          count(col("opq_h")).cast("long").as("n_opq"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_opq").cast("double") / col("n_exact") >= 0.9).as("recall_ok"),
          (col("n_opq") >= col("n_raw")).as("opq_ge_raw"),
          lit(allocOk).as("alloc_ok"),
          // λ₇/λ₈ of the DESCENDING spectrum (rot.eigenvalues arrives
          // allocation-ordered), the q157 planted-subspace gap flag
          lit({
            val d = rot.eigenvalues.sorted(Ordering[Double].reverse)
            d(7) / d(8) > 5.0
          }).as("eiggap_ok"))
    }),

    // OPQ-NP'S FIRST MEASURED RECALL WIN (round 17 — closing the r16
    // verdict's open question: on the driver's isotropic corpus OPQ-P
    // saturates recall 1.000 everywhere, so NP's advantage was
    // unmeasurable and r16 recorded an honest negative result). The
    // MIXTURE corpus (SyntheticData.clusteredEmbeddings: 8 clusters,
    // each with its OWN orthonormal principal axes and a 7× long/short
    // split — the geometry no single global rotation can align for all
    // clusters at once) finally discriminates the three tiers at
    // identical m=8 × k=64 budgets, measured: raw-PQ 0.73, OPQ-P 0.86,
    // OPQ-NP 0.90 recall@5, NP objective −19.8%. Flags are
    // DISCRIMINATING with margins (the r15/r16 verdicts' critique of
    // non-discriminating TRUE flags): the raw arm must land in a
    // hardness band (a trivial corpus would saturate it), P must beat
    // raw by ≥ 5 hits, NP must beat P by ≥ 2, and the NP alternation
    // must have cut its own objective ≥ 10%. Every arm is seeded and
    // layout-independent (hash-sampled train, driver-side k-means /
    // alternation), so the flags are deterministic constants, not
    // tolerances. Corpus is fixture-sized (60 K) at any SF — the gate
    // prices the GEOMETRY, not the scale (q117/q118 price scale).
    "q167_opq_np_mixture" -> ((s, dir) => {
      val path = mixtureMemo.computeIfAbsent("mixture", _ => {
        val p = tempRegistryDir("graft_opq_mix") + "/corpus"
        graft.sources.SyntheticData
          .clusteredEmbeddings(s, 60000L, k = 8, dim = 64)
          .select("vec_id", "embedding")
          .write.mode("overwrite").parquet(p)
        p
      })
      val e = s.read.parquet(path)
      val q = e.filter(col("vec_id") < 20)
      def hitsOf(rot: Option[graft.operators.Opq.Rotation], mark: String) = {
        val (er, qr) = rot match {
          case Some(r) => (graft.operators.Opq.rotate(e, "vec_id", "embedding", r),
            graft.operators.Opq.rotate(q, "vec_id", "embedding", r))
          case None => (e, q)
        }
        val cb = graft.operators.Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        val enc = graft.operators.Pq.encode(
          er.select("vec_id", "embedding"), "embedding", cb)
        graft.operators.Pq.searchReranked(enc, "vec_id", "embedding", cb,
            qr, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true)
          .select(col("query_id"), col("neighbor_id"), lit(1).as(mark))
      }
      // round-20 optimization NEGATIVE RESULT (kept serial on purpose):
      // overlapping the three arms' driver-side training on a 3-thread
      // pool (guide §2.6) measured 11.6 s vs 10.5 s serial (isolated
      // clean-JVM k=3 A/B) — the arms' Spark stages already overlap
      // inside the one sink action, the trains' own 8-way subspace
      // parallelism saturates the memory bus, and extra concurrency
      // only added contention. The experiment is recorded in
      // OPTIMIZATION_r20.md; the cost of this query IS the experiment
      // (three PQ trainings + NP alternation — r17 adjudication).
      val rawHit = hitsOf(None, "raw_h")
      val rotP = graft.operators.Opq.trainRotation(e, "embedding", dim = 64, m = 8)
      val pHit = hitsOf(Some(rotP), "p_h")
      val (rotNP, errsNP) = graft.operators.Opq.trainRotationNP(
        e, "vec_id", "embedding", dim = 64, m = 8, k = 64, iters = 8)
      val npHit = hitsOf(Some(rotNP), "np_h")
      val errDownOk = errsNP.last < errsNP.head * 0.9 &&
        errsNP.sliding(2).forall(w => w.last <= w.head + 1e-9)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id",
        "embedding", k = 5)
      exact.join(rawHit, Seq("query_id", "neighbor_id"), "left")
        .join(pHit, Seq("query_id", "neighbor_id"), "left")
        .join(npHit, Seq("query_id", "neighbor_id"), "left")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_exact"),
          count(col("raw_h")).cast("long").as("n_raw"),
          count(col("p_h")).cast("long").as("n_p"),
          count(col("np_h")).cast("long").as("n_np"))
        .select(col("n_queries"), col("n_exact"),
          (col("n_raw").cast("double") / col("n_exact") >= 0.6 &&
            col("n_raw").cast("double") / col("n_exact") <= 0.8)
            .as("raw_band_ok"),
          (col("n_p") >= col("n_raw") + 5).as("p_gt_raw"),
          (col("n_np") >= col("n_p") + 2).as("np_gt_p"),
          lit(errDownOk).as("np_err_down"))
    }),

    // ANN SEARCH OVER HTTP (round-16 — the serving last mile the r15
    // verdict flagged: registered IVF/PQ/OPQ artifacts were searchable
    // only inside a Spark job). A registered OPQ deployment artifact
    // (rotation + codebooks + codes) is served by HttpApi's /ann/search:
    // the server holds the collected index (LocalAnn — the LocalScorer
    // doctrine applied to search: codes hot in plain JVM arrays, one
    // SHARD per serving node, routing above this layer at 100 TB),
    // rotates each query map-side, ADC-shortlists, exact-reranks. Gate:
    // N real HTTP round trips return results BIT-IDENTICAL (sets AND
    // every rounded sim) to the in-process Pq.searchReranked over the
    // same reloaded artifact — transport, JSON float round-trip, local
    // rotate/unitize/ADC/rerank arithmetic all proven equal at once
    // (the q142 bit-equality convention; 422/503 paths in LocalAnnSpec).
    "q162_ann_http" -> ((s, dir) => {
      import s.implicits._
      val root = annHttpMemo.computeIfAbsent(dir, _ => {
        // the served shard is id-bounded: a serving node holds ONE
        // bounded shard of the index by design, and the gate's collect
        // must stay driver-safe at the 50× replica scales
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
        val rot = graft.operators.Opq.trainRotation(e, "embedding", dim = 64, m = 8)
        val er = graft.operators.Opq.rotate(e, "vec_id", "embedding", rot)
        val cb = graft.operators.Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        val enc = graft.operators.Pq.encode(
          er.select("vec_id", "embedding"), "embedding", cb)
        val reg = tempRegistryDir("graft_ann_http")
        graft.serve.ModelRegistry.registerOpq(s, reg, "ann_opq", rot,
          Some(cb), Some(enc))
        reg
      })
      // deployment shape per execution: reload the artifact both ways
      val rot = graft.serve.ModelRegistry.loadOpq(s, root, "ann_opq")
      val cb = graft.serve.ModelRegistry.loadPq(s, root, "ann_opq")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_opq")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      val qr = graft.operators.Opq.rotate(q, "vec_id", "embedding", rot)
      val sparkRes = graft.operators.Pq.searchReranked(codes, "vec_id",
          "embedding", cb, qr, "vec_id", "embedding",
          shortlist = 50, topK = 5, dropSelf = true)
        // null sim (zero-norm corpus row in the shortlist) reads as the
        // NaN marker instead of NPEing — both sides then compare through
        // doubleToLongBits, so null-vs-null is equality, null-vs-value
        // is a fail (round-16 advice: the old getDouble/asDouble pair
        // compared asymmetrically on the null path)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      val idx = graft.serve.LocalAnn.load(s, root, "ann_opq")
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val resp = graft.serve.HttpApi.annSearchOverHttp(queries,
        ("ann_opq", idx), shortlist = 50, topK = 5)
      val httpRes = resp.flatMap { o =>
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
      }
      val sset = sparkRes.map(t => (t._1, t._2)).toSet
      val hset = httpRes.map(t => (t._1, t._2)).toSet
      val smap = sparkRes.map(t => (t._1, t._2) -> t._3).toMap
      val bitEq = hset == sset && httpRes.forall { case (a, b, sim) =>
        java.lang.Double.doubleToLongBits(smap((a, b))) ==
          java.lang.Double.doubleToLongBits(sim)
      }
      Seq((queries.size.toLong, httpRes.size.toLong, hset == sset, bitEq,
          idx.family == "opq"))
        .toDF("n_queries", "n_results", "sets_match", "sims_bit_equal",
          "family_ok")
    }),

    // MULTI-INDEX ANN SERVING (round 17 — the round-16 verdict's
    // "Missing #3": one serving process, name-addressed indexes). TWO
    // families (an OPQ deployment artifact and an IVF index) register
    // under ONE registry root, reload via LocalAnn, and serve from ONE
    // HttpApi server; each request routes by its `model` field (the
    // /models registry convention applied to search — unknown name 404,
    // ambiguous absence 422, both in LocalAnnSpec). Gate, per model, in
    // the q161 mold (flags DERIVED in-query from a full-outer join, not
    // driver-side literals): the HTTP results land in a DataFrame and
    // join against the in-process Spark search over the same reloaded
    // artifacts — set equality AND null-safe sim equality per family
    // (Spark `<=>`: null≡null, and rounded doubles compare exactly —
    // both sides are the same BigDecimal-HALF_UP round).
    "q166_ann_http_multi" -> ((s, dir) => {
      import s.implicits._
      val root = annMultiMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
        val rot = graft.operators.Opq.trainRotation(e, "embedding", dim = 64, m = 8)
        val er = graft.operators.Opq.rotate(e, "vec_id", "embedding", rot)
        val cb = graft.operators.Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        val enc = graft.operators.Pq.encode(
          er.select("vec_id", "embedding"), "embedding", cb)
        val reg = tempRegistryDir("graft_ann_multi")
        graft.serve.ModelRegistry.registerOpq(s, reg, "ann_opq", rot,
          Some(cb), Some(enc))
        val ivf = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
        graft.serve.ModelRegistry.registerIvf(s, reg, "ann_ivf", ivf)
        reg
      })
      // deployment shape per execution: reload BOTH artifacts each way
      val opqIdx = graft.serve.LocalAnn.load(s, root, "ann_opq")
      val ivfIdx = graft.serve.LocalAnn.load(s, root, "ann_ivf")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      val rot = graft.serve.ModelRegistry.loadOpq(s, root, "ann_opq")
      val cb = graft.serve.ModelRegistry.loadPq(s, root, "ann_opq")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_opq")
      val qr = graft.operators.Opq.rotate(q, "vec_id", "embedding", rot)
      val sparkSide = graft.operators.Pq.searchReranked(codes, "vec_id",
          "embedding", cb, qr, "vec_id", "embedding",
          shortlist = 50, topK = 5, dropSelf = true)
        .select(lit("ann_opq").as("model"), col("query_id"),
          col("neighbor_id"), col("sim").as("ssim"))
        .unionByName(graft.operators.Ivf.search(
            graft.serve.ModelRegistry.loadIvf(s, root, "ann_ivf"),
            q, "vec_id", "embedding", nProbe = 8, topK = 5)
          .select(lit("ann_ivf").as("model"), col("query_id"),
            col("neighbor_id"), col("sim").as("ssim")))
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val reqs = queries.flatMap { case (qid, v) =>
        Seq(("ann_opq", qid, v), ("ann_ivf", qid, v)) }
      val resp = graft.serve.HttpApi.annSearchModelsOverHttp(reqs,
        Seq(("ann_opq", opqIdx), ("ann_ivf", ivfIdx)),
        // shortlist = ADC candidates for opq, nProbe for ivf — matched
        // one-for-one to the in-process search parameters above
        shortlistOf = Map("ann_opq" -> 50, "ann_ivf" -> 8), topK = 5)
      val httpSide = resp.flatMap { o =>
        val model = o.path("model_used").asText
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h =>
          (model, qid, h.neighborId, if (h.sim.isNaN) None else Some(h.sim)))
      }.toDF("model", "query_id", "neighbor_id", "hsim")
      sparkSide.join(httpSide, Seq("model", "query_id", "neighbor_id"),
          "full_outer")
        .groupBy("model").agg(
          count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_results"),
          (sum(when(col("ssim").isNull =!= col("hsim").isNull, 1L)
            .otherwise(0L)) === 0).as("sets_match"),
          (sum(when(col("ssim") <=> col("hsim"), 0L).otherwise(1L)) === 0)
            .as("sims_bit_equal"))
        .orderBy("model")
    }),

    // SHARDED ANN SERVING (round 17 — the fan-out/merge "layer above"
    // the r16 verdict noted was missing: q162/q166 served one bounded
    // shard per name; a fleet answers a query by searching EVERY shard
    // and merging). Deployment layout: ONE PQ codebook, two per-node
    // code shards (even/odd ids) under one registry root; the server
    // holds both shards under ONE name, fans each request out
    // (LocalAnn.searchSharded) and merges per-shard top-k on the exact
    // rerank key — correct because every global top-k hit necessarily
    // ranks inside its own shard's top-k. Gate in the q161/q166 mold:
    // HTTP results land in a DataFrame and full-outer join against the
    // Spark-side reference (per-shard Pq.searchReranked, unioned, the
    // SAME (sim desc, id asc) merge window) — set equality AND
    // null-safe sim equality derived in-query, plus the exhaustive-
    // shortlist equivalence to the UNSHARDED index (shortlist ≥ both
    // shards ⇒ both paths are exact rerank over everything).
    "q168_ann_sharded" -> ((s, dir) => {
      import s.implicits._
      val root = shardRegistry(s, dir)
      val cb = graft.serve.ModelRegistry.loadPq(s, root, "ann_s0")
      val codes0 = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_s0")
      val codes1 = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_s1")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      // Spark-side reference: per-shard search, then the SAME merge key
      def shardRes(codes: org.apache.spark.sql.DataFrame) =
        graft.operators.Pq.searchReranked(codes, "vec_id", "embedding", cb,
          q, "vec_id", "embedding", shortlist = 50, topK = 5, dropSelf = true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("sim"), col("neighbor_id"))
      val sparkSide = shardRes(codes0).unionByName(shardRes(codes1))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("sim").as("ssim"))
      val s0 = graft.serve.LocalAnn.load(s, root, "ann_s0")
      val s1 = graft.serve.LocalAnn.load(s, root, "ann_s1")
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val resp = graft.serve.HttpApi.annSearchGroupsOverHttp(
        queries.map { case (qid, v) => ("ann_pq", qid, v) },
        Seq(("ann_pq", Seq(s0, s1))),
        shortlistOf = Map("ann_pq" -> 50), topK = 5)
      val shardsOk = resp.forall(_.path("shards").asInt == 2)
      val httpSide = resp.flatMap { o =>
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h =>
          (qid, h.neighborId, if (h.sim.isNaN) None else Some(h.sim)))
      }.toDF("query_id", "neighbor_id", "hsim")
      // exhaustive-shortlist equivalence: sharded ≡ unsharded when the
      // per-shard budget covers both shards (both are full exact rerank)
      val exhaustiveOk = {
        val qhead = queries.take(5)
        val full = (s0.codec, s1.codec) match {
          case (c0: graft.serve.LocalAnn.Codec.Pq, c1: graft.serve.LocalAnn.Codec.Pq) =>
            graft.serve.LocalAnn.Index(s0.name, s0.ids ++ s1.ids, s0.vecs ++ s1.vecs,
              c0.copy(codes = c0.codes ++ c1.codes))
          case (c0, c1) => throw new IllegalStateException(
            s"ann_s0/ann_s1 loaded as ${c0.family}/${c1.family}, not pq")
        }
        qhead.forall { case (qid, v) =>
          graft.serve.LocalAnn.searchSharded(Seq(s0, s1), qid, v, 100000, 5) ==
            graft.serve.LocalAnn.search(full, qid, v, 100000, 5)
        }
      }
      sparkSide.join(httpSide, Seq("query_id", "neighbor_id"), "full_outer")
        .agg(count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_results"),
          (sum(when(col("ssim").isNull =!= col("hsim").isNull, 1L)
            .otherwise(0L)) === 0).as("sets_match"),
          (sum(when(col("ssim") <=> col("hsim"), 0L).otherwise(1L)) === 0)
            .as("sims_bit_equal"))
        .select(col("n_queries"), col("n_results"), col("sets_match"),
          col("sims_bit_equal"), lit(shardsOk).as("shards_ok"),
          lit(exhaustiveOk).as("exhaustive_eq_ok"))
    }),

    // ATTRIBUTE-FILTERED ANN SEARCH (round 17 — the FAISS-IDSelector /
    // vector-DB metadata-filter semantics, batch AND serving): the PQ
    // artifact's codes table carries a `label` attribute; search
    // restricts candidates to label ∈ {2, 7} (~20% of the corpus)
    // BEFORE the shortlist is taken (pre-filtering), so the result is
    // the true top-k OF THE FILTERED CORPUS. This gate is the battery's
    // STRONGEST oracle form for the serving tier: with an exhaustive
    // shortlist the filtered search ≡ exact filtered brute force, so
    // the emitted (query_id, neighbor_id, sim) rows are REPLAYED
    // row-for-row in DuckDB (the q74 list_dot_product + round(·1e6)
    // idiom — no cardinality pins, the actual neighbor sets and sims
    // hash). Two derived columns ride along: `http_eq` (per-row
    // null-safe equality of the HTTP-served sim vs the Spark sim, the
    // q166 full-outer-join mold) and `post_kept` (how many of the
    // query's exact UNFILTERED top-5 happen to satisfy the filter —
    // the naive post-filtering yield, also exactly replayed in SQL;
    // pre-filter always returns 5, post-filter keeps ~1 — the gap IS
    // the feature's reason to exist, measured per query).
    "q169_ann_filtered" -> ((s, dir) => {
      import s.implicits._
      val root = annFilterMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
        // the codes frame keeps `label` — the attribute rides the
        // artifact like any other codes column and LocalAnn loads it
        // via attrCols (the id/vec type resolution skips attr columns)
        val enc = graft.operators.Pq.encode(
          e.select("vec_id", "embedding", "label"), "embedding", cb)
        val reg = tempRegistryDir("graft_ann_filt")
        graft.serve.ModelRegistry.registerPq(s, reg, "ann_filt", cb, Some(enc))
        reg
      })
      val allowed = Seq(2L, 7L)
      val cb = graft.serve.ModelRegistry.loadPq(s, root, "ann_filt")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_filt")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      // PRE arm (Spark): filtered search with an exhaustive shortlist —
      // every filtered row is reranked exactly, so this IS the filtered
      // brute force (searchRerankedFiltered's contract)
      // round-20: the exhaustive filtered brute force rides
      // searchExhaustiveFiltered (same rows, no dead ADC scan); the
      // HTTP arm below still runs the real ADC path at full breadth
      val pre = graft.operators.Pq.searchExhaustiveFiltered(codes,
        col("label").isin(allowed: _*), "vec_id", "embedding",
        q, "vec_id", "embedding", topK = 5, dropSelf = true,
        queryDim = Some(cb.dim))
      // HTTP arm: the same artifact served with attrCols + the request
      // filter — results must be bit-identical to the Spark arm
      val idx = graft.serve.LocalAnn.load(s, root, "ann_filt",
        attrCols = Seq("label"))
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val resp = graft.serve.HttpApi.annSearchOverHttp(queries,
        ("ann_filt", idx), shortlist = 50000, topK = 5,
        filter = Map("label" -> allowed))
      val httpDf = resp.flatMap { o =>
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h =>
          (qid, h.neighborId, if (h.sim.isNaN) None else Some(h.sim)))
      }.toDF("query_id", "neighbor_id", "hsim")
      // POST arm: exact unfiltered top-5, then filter — the naive
      // composition's per-query yield (exactly SQL-replayable)
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val postKept = graft.operators.Embeddings
        .cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .groupBy("query_id")
        .agg(sum(when(col("label").isin(allowed: _*), 1L).otherwise(0L))
          .as("post_kept"))
      pre.join(httpDf, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("http_eq", col("sim") <=> col("hsim"))
        .join(postKept, Seq("query_id"), "left")
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("http_eq"), coalesce(col("post_kept"), lit(0L)).as("post_kept"))
        .orderBy("query_id", "neighbor_id")
    }),

    // SQ8 SCALAR QUANTIZATION (round 17 — the remaining classic FAISS
    // compression tier next to PQ/OPQ/IVF): per-dim affine byte codes,
    // decode-and-scan shortlist, exact rerank. STRONGEST oracle form
    // for a quantizer: per-dim (mn, mx, Σcode) rows are recomputed in
    // DuckDB from the same parquet — the exact order-statistic ranges
    // AND the full affine round(·) encode arithmetic of every corpus
    // row hash cross-engine (no cardinality pins). Two derived flags
    // ride along: recall@5 of the TIGHT-shortlist search vs exact
    // brute force (floor with real slack), and bit-identity of the
    // EXHAUSTIVE-shortlist search vs Embeddings.cosineTopK (the
    // searchReranked contract: every emitted sim is exact, so full
    // shortlist ≡ brute force bit-for-bit).
    "q170_sq8_knn" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
      val enc = graft.operators.Sq.encode(
        e.select("vec_id", "embedding"), "embedding", qz).persist()
      try {
        // per-dim Σcode — the hashed value gate on the whole encode
        // (collected eagerly: 64 rows, the q155 driver-anchor mold)
        val sums = enc
          .select(posexplode(col("sq_codes")).as(Seq("dim", "code")))
          .groupBy("dim").agg(sum(col("code").cast("long")).as("code_sum"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val exact = graft.operators.Embeddings
          .cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5).persist()
        val tight = graft.operators.Sq.searchReranked(enc, "vec_id",
          "embedding", qz, q, "vec_id", "embedding",
          shortlist = 20, topK = 5, dropSelf = true)
        val recall = tight.join(exact, Seq("query_id", "neighbor_id"),
          "left_semi").count().toDouble / exact.count()
        // exhaustive arm rides the searchReranked(shortlist ≥ corpus)
        // identity minus its dead selection scan (round-20, the
        // operator's searchExhaustive doc — null-approx parking kept
        // verbatim); the approx scan stays gated by the tight arm
        val exhaustive = graft.operators.Sq.searchExhaustive(enc, "vec_id",
          "embedding", qz, q, "vec_id", "embedding", topK = 5, dropSelf = true)
        val bitEq = exhaustive
          .withColumnRenamed("sim", "xsim")
          .join(exact.withColumnRenamed("sim", "bsim"),
            Seq("query_id", "neighbor_id"), "full_outer")
          .filter(!(col("xsim") <=> col("bsim"))).isEmpty
        exact.unpersist()
        qz.mins.indices
          .map(i => (i, qz.mins(i).toDouble, qz.maxs(i).toDouble, sums(i),
            recall >= 0.9, bitEq))
          .toDF("dim", "mn", "mx", "code_sum", "recall_ok", "exhaustive_eq")
          .orderBy("dim")
      } finally { enc.unpersist(); () }
    }),

    // SQ8 SERVED OVER HTTP (round 17 — the serving tier's fourth
    // family next to pq/opq/ivf): the registered quantizer + codes
    // reload into LocalAnn and serve /ann/search with decode-and-scan
    // + exact rerank mirroring Sq.searchReranked operation for
    // operation. q169's STRONG oracle mold: with an exhaustive
    // shortlist the served search IS exact brute force, so the emitted
    // (query_id, neighbor_id, sim) rows replay row-for-row in DuckDB;
    // http_eq derives per-row from the full-outer join against the
    // in-process Spark search (bit-identity of transport + JSON float
    // round trip + the local decode/scan/rerank arithmetic at once).
    "q172_sq8_http" -> ((s, dir) => {
      import s.implicits._
      val root = sqHttpMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        val enc = graft.operators.Sq.encode(
          e.select("vec_id", "embedding"), "embedding", qz)
        val reg = tempRegistryDir("graft_ann_sq")
        graft.serve.ModelRegistry.registerSq(s, reg, "ann_sq8", qz, Some(enc))
        reg
      })
      val qz = graft.serve.ModelRegistry.loadSq(s, root, "ann_sq8")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "ann_sq8")
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      // the in-process exhaustive reference rides searchExhaustive
      // (round-20): identical rows, no dead selection scan; the served
      // arm below still runs the real decode-and-scan at full breadth
      val sparkRes = graft.operators.Sq.searchExhaustive(codes, "vec_id",
        "embedding", qz, q, "vec_id", "embedding", topK = 5, dropSelf = true)
      val idx = graft.serve.LocalAnn.load(s, root, "ann_sq8")
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val resp = graft.serve.HttpApi.annSearchOverHttp(queries,
        ("ann_sq8", idx), shortlist = 50000, topK = 5)
      val httpDf = resp.flatMap { o =>
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h =>
          (qid, h.neighborId, if (h.sim.isNaN) None else Some(h.sim)))
      }.toDF("query_id", "neighbor_id", "hsim")
      sparkRes.join(httpDf, Seq("query_id", "neighbor_id"), "full_outer")
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          (col("sim") <=> col("hsim")).as("http_eq"),
          lit(idx.family == "sq8").as("family_ok"))
        .orderBy("query_id", "neighbor_id")
    }),

    // IVF × SQ8 (round 17 — FAISS's IVF<n>,SQ8, the taxonomy's middle
    // tier between IVF,Flat (q62) and IVF,PQ (q118)): coarse cells
    // prune the scan, byte codes cut the scanned IO 4×, exact cosine
    // re-ranks. Gate: tight-shortlist recall vs the global exact top-5
    // clears the floor, and the EXHAUSTIVE-shortlist composition is
    // BIT-IDENTICAL to Ivf.search at the same nProbe (both sides are
    // exact cosine over exactly the probed members — same probe rule,
    // same rounding, same tie order; derived in-query via full-outer
    // join, the q161 mold).
    "q173_ivfsq_knn" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val q = e.filter(col("vec_id") < 20)
      val index = graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16)
      val qz = graft.operators.Sq.train(index.assigned, index.vecCol, dim = 64)
      val enc = graft.operators.Sq.encode(index.assigned, index.vecCol, qz)
        .persist()
      try {
        val exact = graft.operators.Embeddings
          .cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val tight = graft.operators.Sq.ivfSearchReranked(index, qz, enc,
          q, "vec_id", "embedding", nProbe = 8, shortlist = 100, topK = 5,
          dropSelf = true)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = (tight & exact).size.toDouble / exact.size
        // exhaustive composition arm via ivfSearchExhaustive (round-20:
        // same probed candidate set, no dead selection scan)
        val exhaustive = graft.operators.Sq.ivfSearchExhaustive(index, qz, enc,
          q, "vec_id", "embedding", nProbe = 8, topK = 5, dropSelf = true)
        val ivfRef = graft.operators.Ivf.search(index, q, "vec_id",
          "embedding", nProbe = 8, topK = 5)
        val bitEq = exhaustive.withColumnRenamed("sim", "xsim")
          .join(ivfRef.withColumnRenamed("sim", "rsim"),
            Seq("query_id", "neighbor_id"), "full_outer")
          .filter(!(col("xsim") <=> col("rsim"))).isEmpty
        Seq((exact.map(_._1).size.toLong, exact.size.toLong,
            recall >= 0.5, bitEq))
          .toDF("n_queries", "n_exact", "recall_ok", "ivf_eq")
      } finally { enc.unpersist(); () }
    }),

    // k-NN LABEL PROPAGATION (round 17 — the embedding-space classifier
    // of the curation stack: label an unlabeled corpus by
    // nearest-neighbor majority over a labeled seed set). Queries =
    // vec_id < 20 classified against the rest of the corpus (the seed):
    // exact top-5 neighbors, per-query majority vote, ties (votes desc,
    // label asc). STRONG oracle: the whole chain — cosine ranking, the
    // label join, the vote count, the argmax — is replayed in SQL and
    // the (prediction, votes) frame hashes with zero pinned flags. The
    // approximate scale path is the same knnVote over any ANN search
    // output (the operator takes the neighbors frame, not the corpus).
    "q174_knn_classify" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val q = e.filter(col("vec_id") < 20)
      val seed = e.filter(col("vec_id") >= 20)
      val neighbors = graft.operators.Embeddings
        .cosineTopK(q, seed, "vec_id", "vec_id", "embedding", k = 5)
      graft.operators.Embeddings.knnVote(neighbors, seed, "vec_id", "label")
        .orderBy("query_id")
    }),

    // HNSW (round 17 — Malkov & Yashunin 2016, the graph tier of the
    // ANN family and the serving tier's FIFTH family): deterministic
    // build (levels from xxhash64(id), ascending-id insertion, (dist,
    // id) tie order), greedy-descent search, registry persistence.
    // Gate: the REGISTERED graph reloads into LocalAnn and serves 20
    // real HTTP searches; results must be BIT-IDENTICAL to the fresh
    // in-process graph's search (save/load + LocalAnn mirror + JSON
    // transport proven equal at once — the q162 convention), and
    // recall@5 vs exact brute force clears the floor. Build is
    // driver-side over ONE bounded shard by design (the hnswlib/
    // LocalAnn serving model; fleets = per-shard graphs behind q168's
    // fan-out/merge).
    "q175_hnsw_knn" -> ((s, dir) => {
      import s.implicits._
      // Round-18 rework to the q172 REAL-ROW mold (round-17 verdict
      // #6): the served rows themselves hash against DuckDB's exact
      // brute-force replay. The exactness lever for a graph: with
      // efSearch = corpus size the level-0 beam never prunes, so the
      // search visits every reachable node and — the graph being
      // connected (bidirectional inserts + full degree budgets) — the
      // top-5 IS exact brute force. A disconnected component or any
      // traversal defect diverges the hashed rows loudly. http_eq
      // derives per-row from HTTP-over-reloaded-artifact vs the fresh
      // graph's search (save/load + LocalAnn mirror + JSON transport
      // at once); recall_ok derives from a TIGHT efSearch=64 serving
      // pass against the exhaustive rows — the one remaining
      // oracle-literal-TRUE pair, both failure-capable in-query.
      val (root, freshExh) = hnswMemo.computeIfAbsent(dir, _ => {
        val g = hnswBaseGraph(s, dir)
        val qs = Tables.embeddings(s, dir)
          .filter(col("vec_id") < 20 && col("vec_id") < 50000)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        val fresh = qs.flatMap { case (qid, v) =>
          graft.operators.Hnsw.search(g, v, efSearch = g.size, topK = 5,
            dropId = Some(qid)).map(h =>
            (qid, h._1, java.lang.Double.doubleToLongBits(h._2)))
        }.toSet
        val reg = tempRegistryDir("graft_ann_hnsw")
        graft.serve.ModelRegistry.registerHnsw(s, reg, "ann_hnsw", g)
        (reg, fresh)
      })
      val idx = graft.serve.LocalAnn.load(s, root, "ann_hnsw")
      val q = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 20 && col("vec_id") < 50000)
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      // shortlist doubles as efSearch for the hnsw family: one
      // EXHAUSTIVE pass (the hashed rows) and one TIGHT pass (recall)
      def httpRows(ef: Int) = graft.serve.HttpApi
        .annSearchOverHttp(queries, ("ann_hnsw", idx), shortlist = ef, topK = 5)
        .flatMap { o =>
          val qid = o.path("query_id").asLong
          graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
        }
      val exhaustive = httpRows(idx.size)
      val tight = httpRows(64).map(t => (t._1, t._2)).toSet
      val httpEq = exhaustive
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3)))
        .toSet == freshExh
      val recallOk = exhaustive.count(t => tight((t._1, t._2))).toDouble /
        exhaustive.size >= 0.8
      exhaustive.toSeq
        .toDF("query_id", "neighbor_id", "sim")
        .withColumn("http_eq", lit(httpEq))
        .withColumn("recall_ok", lit(recallOk))
        .orderBy("query_id", "neighbor_id")
    }),

    // HNSW NEIGHBOR-SELECTION HEAD-TO-HEAD (round 18 — the paper's §4
    // diversity heuristic vs simple closest-M, measured WHERE IT
    // MATTERS: the clustered mixture fixture whose anisotropic
    // per-cluster geometry collapses closest-M neighborhoods into the
    // densest direction; the q167 discipline verbatim). Both graphs
    // build at IDENTICAL budgets (m, efConstruction, efSearch); the
    // tight-beam recall of each arm vs exact brute force is a
    // deterministic constant of the seeded corpus (builds are
    // input-order independent, searches deterministic), so the oracle
    // pins the discrete hit counts themselves (the q148 20/20 mold)
    // plus the ordering flags: the heuristic must MEET OR BEAT
    // closest-M, and closest-M must sit below saturation (the regime
    // where the comparison discriminates).
    "q176_hnsw_heuristic" -> ((s, dir) => {
      import s.implicits._
      val (path, gC, gH) = hnswMixMemo.computeIfAbsent("mix", _ => {
        val p = tempRegistryDir("graft_hnsw_mix") + "/corpus"
        graft.sources.SyntheticData
          .clusteredEmbeddings(s, 20000L, k = 8, dim = 64)
          .select("vec_id", "embedding")
          .write.mode("overwrite").parquet(p)
        val rows = s.read.parquet(p)
          .select(col("vec_id").cast("long"), col("embedding"))
          .collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
          .toSeq
        (p,
          graft.operators.Hnsw.build(rows, m = HnswMixM, efConstruction = HnswMixEfc),
          graft.operators.Hnsw.build(rows, m = HnswMixM, efConstruction = HnswMixEfc,
            heuristic = true))
      })
      val e = s.read.parquet(path)
      val q = e.filter(col("vec_id") < 20)
      val queries = q.select(col("vec_id").cast("long"), col("embedding"))
        .collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      def hitsOf(g: graft.operators.Hnsw.Graph) = queries.flatMap {
        case (qid, v) =>
          graft.operators.Hnsw.search(g, v, efSearch = HnswMixEf, topK = 5,
            dropId = Some(qid)).map(h => (qid, h._1))
      }.toSet
      val (cHits, hHits) = (hitsOf(gC), hitsOf(gH))
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id",
          "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (nC, nH) = ((cHits & exact).size.toLong, (hHits & exact).size.toLong)
      Seq((exact.map(_._1).size.toLong, exact.size.toLong, nC, nH,
          nH >= nC, nC <= exact.size - 3))
        .toDF("n_queries", "n_exact", "n_closest", "n_heuristic",
          "heur_ge_closest", "closest_unsaturated")
    }),

    // HNSW INCREMENTAL INSERT (round 18 — q148's FAISS-add semantics
    // for the graph tier): because insertion is ascending-id and
    // levels are a pure function of the id, appending ids above the
    // current max REPLAYS the exact tail of the full build — so the
    // gate asserts the STRONGEST possible outcome, bit-identity:
    // (1) struct_eq — the appended graph's links/levels/entry equal a
    // from-scratch build of the union, node for node (computed once at
    // build); (2) append_http_eq — the REGISTERED appended graph,
    // reloaded into LocalAnn and served over real HTTP at a TIGHT
    // structure-sensitive beam, returns results bit-identical to the
    // fresh full build's in-process search (an ef where a single
    // misplaced link would reroute the greedy descent). The oracle
    // pins the discrete inventory (q168 mold).
    "q177_hnsw_append" -> ((s, dir) => {
      import s.implicits._
      val (root, freshRes, structEq) = hnswAppendMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 20000)
        val rows = e.select(col("vec_id").cast("long"), col("embedding"))
          .collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
          .sortBy(_._1).toSeq
        // the arriving-data split: first 60% is the standing index,
        // the id-ordered tail is the delta batch (ids strictly above)
        val (base, delta) = rows.splitAt((rows.length * 3) / 5)
        val gFull = graft.operators.Hnsw.build(rows, m = 16,
          efConstruction = 100)
        val gApp = graft.operators.Hnsw.append(
          graft.operators.Hnsw.build(base, m = 16, efConstruction = 100),
          delta)
        val structEq =
          gApp.ids.sameElements(gFull.ids) &&
          gApp.levels.sameElements(gFull.levels) &&
          gApp.entry == gFull.entry && gApp.maxLevel == gFull.maxLevel &&
          gApp.links.zip(gFull.links).forall { case (a, b) =>
            a.length == b.length &&
              a.zip(b).forall { case (x, y) => x.sameElements(y) }
          }
        val qs = rows.filter(_._1 < 20)
        val fresh = qs.flatMap { case (qid, v) =>
          graft.operators.Hnsw.search(gFull, v, efSearch = 64, topK = 5,
            dropId = Some(qid)).map(h =>
            (qid, h._1, java.lang.Double.doubleToLongBits(h._2)))
        }.toSet
        val reg = tempRegistryDir("graft_ann_hnsw_app")
        graft.serve.ModelRegistry.registerHnsw(s, reg, "ann_hnsw_app", gApp)
        (reg, fresh, structEq)
      })
      val idx = graft.serve.LocalAnn.load(s, root, "ann_hnsw_app")
      val q = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 20 && col("vec_id") < 50000)
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val resp = graft.serve.HttpApi.annSearchOverHttp(queries,
        ("ann_hnsw_app", idx), shortlist = 64, topK = 5)
      val httpRes = resp.flatMap { o =>
        val qid = o.path("query_id").asLong
        graft.serve.HttpApi.hitsOf(o).map(h =>
          (qid, h.neighborId, java.lang.Double.doubleToLongBits(h.sim)))
      }.toSet
      Seq((queries.size.toLong, httpRes.size.toLong,
          httpRes == freshRes, structEq))
        .toDF("n_queries", "n_results", "append_http_eq", "struct_eq")
    }),

    // ATTRIBUTE-FILTERED HNSW SEARCH (round 18 — q169's filter surface
    // completed for the graph family, hnswlib semantics: failing nodes
    // stay TRAVERSABLE, keeping the beam connected through filtered-out
    // regions, but never surface as results — so the return is the
    // top-k OF THE FILTERED CORPUS, pre-filtering semantics like every
    // other family). STRONG real-row mold: with an exhaustive beam the
    // filtered search IS the filtered brute force, so DuckDB recomputes
    // the emitted rows from the parquet (q169's pre SQL verbatim);
    // http_eq derives per-row (the registered artifact + label attr
    // served over real HTTP vs the fresh graph's filtered search);
    // recall_ok derives from the tight filtered beam vs the exhaustive
    // rows.
    "q178_hnsw_filtered" -> ((s, dir) => {
      import s.implicits._
      val allowed = Seq(2L, 7L)
      val (root, freshExh) = hnswFilterMemo.computeIfAbsent(dir, _ => {
        val g = hnswBaseGraph(s, dir)
        // labels aligned to graph node order: both ascending vec_id
        val labRows = Tables.embeddings(s, dir)
          .filter(col("vec_id") < 50000)
          .select(col("vec_id").cast("long"), col("label").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        require(labRows.map(_._1).sameElements(g.ids),
          "label rows must align with graph nodes")
        val labels = labRows.map(_._2)
        val allowSet = allowed.toSet
        val pass = (i: Int) => allowSet.contains(labels(i))
        val qs = Tables.embeddings(s, dir)
          .filter(col("vec_id") < 20 && col("vec_id") < 50000)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        val fresh = qs.flatMap { case (qid, v) =>
          graft.operators.Hnsw.search(g, v, efSearch = g.size, topK = 5,
            dropId = Some(qid), allow = Some(pass)).map(h =>
            (qid, h._1, java.lang.Double.doubleToLongBits(h._2)))
        }.toSet
        val reg = tempRegistryDir("graft_ann_hnsw_filt")
        graft.serve.ModelRegistry.registerHnsw(s, reg, "ann_hnsw_filt", g,
          attrs = Seq("label" -> labels))
        (reg, fresh)
      })
      val idx = graft.serve.LocalAnn.load(s, root, "ann_hnsw_filt",
        attrCols = Seq("label"))
      val q = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 20 && col("vec_id") < 50000)
      val queries = q.select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      def httpRows(ef: Int) = graft.serve.HttpApi
        .annSearchOverHttp(queries, ("ann_hnsw_filt", idx), shortlist = ef,
          topK = 5, filter = Map("label" -> allowed))
        .flatMap { o =>
          val qid = o.path("query_id").asLong
          graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
        }
      val exhaustive = httpRows(idx.size)
      val tight = httpRows(64).map(t => (t._1, t._2)).toSet
      val httpEq = exhaustive
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3)))
        .toSet == freshExh
      val recallOk = exhaustive.count(t => tight((t._1, t._2))).toDouble /
        exhaustive.size >= 0.8
      exhaustive.toSeq
        .toDF("query_id", "neighbor_id", "sim")
        .withColumn("http_eq", lit(httpEq))
        .withColumn("recall_ok", lit(recallOk))
        .orderBy("query_id", "neighbor_id")
    }),

    // ANN FLEET ROUTER (round 18 — the r17 verdict's "Missing #6": the
    // routing layer ABOVE one serving process, made concrete). Three
    // real HTTP servers: two shard servers each holding one parity
    // shard of the q168 artifact under the LOGICAL index name, and a
    // ROUTER that holds no index at all — it knows only upstream ports,
    // scatter-gathers each /ann/search over the wire, and merges the
    // per-shard top-k on the canonical key. Nothing in the protocol
    // knows whether upstreams are ports, processes or hosts — this IS
    // the vector-DB fleet topology. STRONG real-row mold: with an
    // exhaustive per-shard shortlist the routed merge IS exact brute
    // force over the union corpus (per-shard rerank is exact; the
    // merge provably contains the global top-k), so DuckDB recomputes
    // the rows; router_tight_eq / router_exh_eq derive per-execution
    // (routed results vs LocalAnn.searchSharded in-process, bit-for-
    // bit at BOTH budgets — two JSON hops and the wire merge proven
    // lossless at once).
    "q179_ann_router" -> ((s, dir) => {
      import s.implicits._
      val root = shardRegistry(s, dir)
      val s0 = graft.serve.LocalAnn.load(s, root, "ann_s0")
      val s1 = graft.serve.LocalAnn.load(s, root, "ann_s1")
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val up0 = graft.serve.HttpApi.start(annModel = Some(("ann_pq", s0)))
      val up1 = graft.serve.HttpApi.start(annModel = Some(("ann_pq", s1)))
      // generous per-upstream budget (round-19 advice): the exhaustive
      // arm legitimately scans a whole shard per request — the default
      // 5 s budget exists to catch HANGS, and a slow-but-working
      // exhaustive search at a larger scale factor must not trip a
      // spurious 504 and flake the gate
      val router = graft.serve.HttpApi.start(
        annRoutes = Seq(("ann_pq", Seq(up0.port, up1.port))),
        routeTimeoutMs = 120000L)
      try {
        def routed(shortlist: Int): Seq[(Long, Long, Double)] =
          graft.serve.HttpApi.annSearchAt(router.port,
            queries.map { case (qid, v) => ("ann_pq", qid, v, shortlist) },
            topK = 5)
            .flatMap { o =>
              val qid = o.path("query_id").asLong
              require(o.path("shards").asInt == 2,
                "router must report both shards")
              graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
            }
        def local(shortlist: Int): Seq[(Long, Long, Double)] =
          queries.flatMap { case (qid, v) =>
            graft.serve.LocalAnn.searchSharded(Seq(s0, s1), qid, v,
              shortlist, 5).map(h => (qid, h.neighborId, h.sim))
          }
        def bits(r: Seq[(Long, Long, Double)]) =
          r.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))).toSet
        val exh = routed(50000)
        val exhEq = bits(exh) == bits(local(50000))
        val tightEq = bits(routed(50)) == bits(local(50))
        exh.toDF("query_id", "neighbor_id", "sim")
          .withColumn("router_exh_eq", lit(exhEq))
          .withColumn("router_tight_eq", lit(tightEq))
          .orderBy("query_id", "neighbor_id")
      } finally { router.stop(); up0.stop(); up1.stop() }
    }),

    // IVF_HNSW COMPOSITION (round 19 stretch — FAISS's shape for huge
    // nlist: the coarse quantizer's per-row ARGMAX SCAN over every
    // centroid is O(nlist) and becomes the assignment/probe bottleneck
    // at nlist ~10⁵–10⁶; a graph over the CENTROIDS makes it
    // O(ef·log nlist)). Composition discipline: the beam PROPOSES
    // cells, an exact in-order-double dot argmax (assemble()'s
    // tie-break) DECIDES — so the exactness lever holds:
    // assign_exact_eq derives from a full-corpus join proving the
    // exhaustive-ef graph assignment reproduces the argmax scan
    // BIT-FOR-BIT (cell by cell, every row), and tight_agree_ok floors
    // the tight-beam scale path's cell agreement (broken traversal
    // degenerates to ~1/nlist ≈ 0.02, working sits ≥0.9 — the floor
    // separates regardless of seed). The hashed rows flow THROUGH the
    // graph-assigned index: full-probe search over it IS brute force,
    // replayed by DuckDB. Pricing at real nlist: BASELINE.md's
    // IVF_HNSW section — at gate-scale nlist=64 the scan wins, as
    // expected; the composition exists for the nlist regime where it
    // doesn't.
    "q184_ivf_hnsw" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val (index, g) = ivfHnswPair(s, dir)
      val argmax = index.assigned
        .select(col("vec_id"), col("centroid_id")).persist()
      val exact = graft.operators.Ivf.assignGraph(e, "vec_id", "embedding",
          g, efSearch = 64, cand = 64)
        .select(col("vec_id"), col("embedding"),
          col("centroid_id").as("gcid")).persist()
      try {
        val assignExactEq = argmax.join(exact, "vec_id")
          .filter(col("centroid_id") =!= col("gcid")).isEmpty
        val tight = graft.operators.Ivf.assignGraph(e, "vec_id",
            "embedding", g, efSearch = 8, cand = 4)
          .select(col("vec_id"), col("centroid_id").as("tcid"))
        val agree = argmax.join(tight, "vec_id")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(when(col("centroid_id") === col("tcid"), 1L).otherwise(0L))
              .cast("double").as("ok")).head()
        val tightAgreeOk = agree.getDouble(1) / agree.getDouble(0) >= 0.5
        val gIndex = index.copy(assigned = exact
          .select(col("vec_id"), col("embedding"),
            col("gcid").as("centroid_id")))
        val q = e.filter(col("vec_id") < 20)
        // collect INSIDE the try (round-19 advice: the returned plan
        // references `exact` through gIndex, so unpersisting in the
        // finally before the harness executes it recomputed the whole
        // assignGraph pass at collection time — wall-clock only)
        val out = graft.operators.Ivf.search(gIndex, q, "vec_id",
            "embedding", nProbe = 64, topK = 5)
          .orderBy("query_id", "neighbor_id").collect().toSeq
        out.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
          .toDF("query_id", "neighbor_id", "sim")
          .withColumn("assign_exact_eq", lit(assignExactEq))
          .withColumn("tight_agree_ok", lit(tightAgreeOk))
          .orderBy("query_id", "neighbor_id")
      } finally { argmax.unpersist(); exact.unpersist(); () }
    }),

    // GRAPH-ASSISTED PROBE SELECTION FOR QUERIES (round 20 — verdict
    // #1: q184 replaced the O(nlist) argmax scan on the CORPUS side,
    // but Ivf.search still picked probe cells by
    // crossJoin(broadcast(centroids)) per QUERY — the identical shape
    // priced 19× at 16K cells (BASELINE.md), on the latency-critical
    // path). Same composition discipline over the SAME memoized
    // index+graph as q184: the centroid graph's beam PROPOSES cells,
    // the exact in-order-double dot ordering (probeCells' window
    // tie-break) DECIDES the probe set. Flags: probe_exact_eq derives
    // from a full-outer join proving the exhaustive-budget
    // (ef=cand=nlist) graph probe set reproduces the scan's
    // BIT-FOR-BIT — every (query, cell) pair, 200 queries;
    // tight_recall_ok floors the tight-budget scale path's top-5
    // recall against brute force (broken traversal probes ~random
    // cells → recall ~nProbe/nlist ≈ 0.1; the floor separates at any
    // seed). Hashed rows: searchGraph probing EVERY cell is exact
    // brute force — DuckDB replays them. Pricing at real nlist:
    // the query-side columns of BASELINE.md's IVF_HNSW pricing (round 20).
    "q185_ivf_graph_probe" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val (index, g) = ivfHnswPair(s, dir)
      val q200 = e.filter(col("vec_id") < 200)
      val scanP = graft.operators.Ivf.probeCells(index, q200,
          "vec_id", "embedding", nProbe = 8)
        .select(col("query_id").cast("long").as("query_id"),
          col("centroid_id")).withColumn("in_scan", lit(1))
      val graphP = graft.operators.Ivf.probeCellsGraph(index, g, q200,
          "vec_id", "embedding", nProbe = 8, efSearch = 64, cand = 64)
        .select(col("query_id"), col("centroid_id"))
        .withColumn("in_graph", lit(1))
      val probeExactEq = scanP
        .join(graphP, Seq("query_id", "centroid_id"), "full_outer")
        .filter(col("in_scan").isNull || col("in_graph").isNull).isEmpty
      val q20 = e.filter(col("vec_id") < 20)
      val exh = graft.operators.Ivf.searchGraph(index, g, q20,
        "vec_id", "embedding", nProbe = 64, topK = 5,
        efSearch = 64, cand = 64).persist()
      try {
        val tight = graft.operators.Ivf.searchGraph(index, g, q20,
          "vec_id", "embedding", nProbe = 8, topK = 5,
          efSearch = 8, cand = 8)
        val recallOk = exh.join(tight, Seq("query_id", "neighbor_id"),
          "left_semi").count().toDouble / exh.count() >= 0.4
        val out = exh.orderBy("query_id", "neighbor_id").collect().toSeq
        out.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
          .toDF("query_id", "neighbor_id", "sim")
          .withColumn("probe_exact_eq", lit(probeExactEq))
          .withColumn("tight_recall_ok", lit(recallOk))
          .orderBy("query_id", "neighbor_id")
      } finally { exh.unpersist(); () }
    }),

    // DISTRIBUTED HNSW FLEET BUILD (round 19 — verdict #4: q179's
    // topology wants N shard graphs, but Hnsw.fromDataFrame builds are
    // serial on the driver; here ONE Spark job builds every shard
    // graph executor-side — groupBy shard → build inside flatMapGroups
    // → one partitioned-parquet write — and the SERVING fleet runs off
    // that artifact). Determinism is a replay (build() sorts by id, so
    // partitioning can't leak in): dist_eq derives from structEq of
    // each loadShard graph against a from-scratch driver build of the
    // same rows — links, levels, entry, params, bit-for-bit. The
    // serving arm is the q179 mold: two upstream servers (each wraps
    // its distributed-built shard graph) behind the scatter-gather
    // router; the EXHAUSTIVE routed rows are exact brute force over
    // the union corpus (per-shard ef = shard size visits every
    // reachable node; per-shard exact top-k merges on the canonical
    // key) and hash against DuckDB's replay; router_tight_eq holds the
    // tight-budget routed path bit-equal to in-process searchSharded.
    "q182_hnsw_fleet" -> ((s, dir) => {
      import s.implicits._
      val (path, distEq) = hnswFleetMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 4000)
          .select(col("vec_id"), col("embedding"),
            (col("vec_id") % 2).as("shard"))
        val nodes = graft.operators.Hnsw.buildShardsDistributed(e,
          "vec_id", "embedding", "shard", m = 16, efConstruction = 100)
        val p = tempRegistryDir("graft_hnsw_fleet")
        graft.operators.Hnsw.saveShards(s, nodes, p, m = 16,
          efConstruction = 100)
        val rows = e.select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        val eq = (0L to 1L).forall { sh =>
          graft.operators.Hnsw.structEq(
            graft.operators.Hnsw.loadShard(s, p, sh),
            graft.operators.Hnsw.build(
              rows.filter(_._1 % 2 == sh).toSeq, m = 16,
              efConstruction = 100))
        }
        (p, eq)
      })
      val g0 = graft.operators.Hnsw.loadShard(s, path, 0L)
      val g1 = graft.operators.Hnsw.loadShard(s, path, 1L)
      val i0 = graft.serve.LocalAnn.fromGraph("ann_hnsw_fleet", g0)
      val i1 = graft.serve.LocalAnn.fromGraph("ann_hnsw_fleet", g1)
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val up0 = graft.serve.HttpApi.start(annModel = Some(("ann_hnsw_fleet", i0)))
      val up1 = graft.serve.HttpApi.start(annModel = Some(("ann_hnsw_fleet", i1)))
      // generous budget on the exhaustive-arm router (round-19 advice —
      // see q179): the default catches hangs, not slow exhaustive scans
      val router = graft.serve.HttpApi.start(
        annRoutes = Seq(("ann_hnsw_fleet", Seq(up0.port, up1.port))),
        routeTimeoutMs = 120000L)
      try {
        def routed(ef: Int): Seq[(Long, Long, Double)] =
          graft.serve.HttpApi.annSearchAt(router.port,
            queries.map { case (qid, v) => ("ann_hnsw_fleet", qid, v, ef) },
            topK = 5)
            .flatMap { o =>
              val qid = o.path("query_id").asLong
              require(o.path("shards").asInt == 2,
                "router must report both shards")
              graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
            }
        def local(ef: Int): Seq[(Long, Long, Double)] =
          queries.flatMap { case (qid, v) =>
            graft.serve.LocalAnn.searchSharded(Seq(i0, i1), qid, v, ef, 5)
              .map(h => (qid, h.neighborId, h.sim))
          }
        def bits(r: Seq[(Long, Long, Double)]) =
          r.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))).toSet
        val exhEf = math.max(g0.size, g1.size)
        val exh = routed(exhEf)
        val tightEq = bits(routed(64)) == bits(local(64))
        exh.toDF("query_id", "neighbor_id", "sim")
          .withColumn("dist_eq", lit(distEq))
          .withColumn("router_tight_eq", lit(tightEq))
          .orderBy("query_id", "neighbor_id")
      } finally { router.stop(); up0.stop(); up1.stop() }
    }),

    // HNSW OVER SQ8 CODES (round 18 — FAISS's HNSW<M>,SQ8, the q173
    // composition applied to the GRAPH tier): the graph's stored
    // vectors are the byte-code RECONSTRUCTIONS (decode arithmetic
    // verbatim), traversal pays SQ8-quality distances, and the exact
    // rerank on true vectors rides on top. STRONG real-row mold: with
    // an exhaustive beam the candidate set is the whole (connected)
    // corpus, so the exact rerank IS brute force and DuckDB recomputes
    // the rows. Two derived flags discriminate the composition:
    // decode_ok proves the graph's stored vectors bit-equal the
    // decodeCol reconstructions (a graph quietly built on true floats
    // fails it), recall_ok holds the tight-beam SQ8-graph tier to the
    // floor.
    "q180_hnsw_sq8" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 20000)
      val (qz, g) = hnswSqMemo.computeIfAbsent(dir, _ => {
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        val enc = graft.operators.Sq.encode(
          e.select("vec_id", "embedding"), "embedding", qz)
        (qz, graft.operators.Sq.hnswFromCodes(enc, "vec_id", qz,
          m = 16, efConstruction = 100))
      })
      val enc = graft.operators.Sq.encode(
        e.select("vec_id", "embedding"), "embedding", qz).persist()
      try {
        val qdf = e.filter(col("vec_id") < 20)
        def arm(ef: Int) = graft.operators.Sq.hnswSearchReranked(g, enc,
          "vec_id", "embedding", qdf, "vec_id", "embedding",
          efSearch = ef, shortlist = ef, topK = 5)
        val exhaustive = arm(g.size).persist()
        val tightHits = arm(64)
        val recallOk = exhaustive.join(tightHits,
          Seq("query_id", "neighbor_id"), "left_semi").count().toDouble /
          exhaustive.count() >= 0.8
        // the graph's stored vectors must BE the reconstructions
        val gvecs = g.ids.zip(g.vecs).toSeq.toDF("vec_id", "gvec")
        val decodeOk = enc
          .select(col("vec_id"),
            transform(graft.operators.Sq.decodeCol(col("sq_codes"), qz),
              x => x.cast("float")).as("dec"))
          .join(gvecs, Seq("vec_id"))
          .filter(!(col("dec") <=> col("gvec"))).isEmpty
        val out = exhaustive
          .withColumn("recall_ok", lit(recallOk))
          .withColumn("decode_ok", lit(decodeOk))
          .orderBy("query_id", "neighbor_id")
          .collect().toSeq
        exhaustive.unpersist()
        // read sim through the null guard (a null would otherwise unbox
        // to a silent 0.0 — the round-16 BoxesRunTime lesson); the
        // corpus has no zero-norm rows, so a NaN here diverges the
        // hashed row loudly instead of fabricating a value
        out.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
            r.getBoolean(3), r.getBoolean(4)))
          .toDF("query_id", "neighbor_id", "sim", "recall_ok", "decode_ok")
      } finally { enc.unpersist(); () }
    }),

    // ANN DELETION (round 19 — FAISS remove_ids for the registry tier;
    // the takedown path: data deletion must be effective at serving
    // time WITHOUT a rebuild). All five families register over one
    // corpus; every query's exact TOP-1 neighbor is tombstoned
    // (ModelRegistry.deleteIds — ids a post-filtering shortcut would
    // mishandle BY CONSTRUCTION, since each was a rank-1 hit); every
    // family's exhaustive masked search must then return the
    // brute-force top-5 OF THE SURVIVING corpus. STRONG real-row mold:
    // the hashed rows are the ivf arm's (full probe + exact cosine =
    // brute force over survivors) and DuckDB recomputes the top-1 set,
    // the mask, and the surviving top-5 from scratch with
    // `WHERE ... NOT IN`. Derived flags: the pq/sq8/hnsw arms must
    // bit-equal the hashed rows (each exhaustive — full shortlist /
    // full probe / ef=n — so equality is exactness, not luck; the
    // graph arm additionally proves hnswlib MARK-DELETED semantics:
    // deleted nodes stay traversable, never surface); the opq arm —
    // whose rotated-space sims are not bit-comparable across metrics —
    // proves masked ≡ post-hoc-dropped-exhaustive in its own metric
    // (the pre≡post identity at exhaustive breadth); http_eq serves
    // the masked sq8 artifact over real HTTP. Deletes are append-only
    // and idempotent (the build double-deletes); COMPACTION = register
    // the next version from the filtered corpus + prune (documented at
    // ModelRegistry.deleteIds). At 100 TB this mask is the difference
    // between an immediate takedown and waiting on a scheduled rebuild.
    "q181_ann_delete" -> ((s, dir) => {
      import s.implicits._
      val root = annDeleteMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 5000).cache()
        val doomed = graft.operators.Embeddings
          .cosineTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "vec_id", "embedding", k = 1)
          .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSeq
        val reg = tempRegistryDir("graft_ann_del")
        graft.serve.ModelRegistry.registerIvf(s, reg, "del_ivf",
          graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16))
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
        graft.serve.ModelRegistry.registerPq(s, reg, "del_pq", cb,
          Some(graft.operators.Pq.encode(
            e.select("vec_id", "embedding"), "embedding", cb)))
        val rot = graft.operators.Opq.trainRotation(e, "embedding", dim = 64, m = 8)
        val er = graft.operators.Opq.rotate(e, "vec_id", "embedding", rot)
        val cbr = graft.operators.Pq.train(er, "vec_id", "embedding", m = 8, k = 64)
        graft.serve.ModelRegistry.registerOpq(s, reg, "del_opq", rot,
          Some(cbr), Some(graft.operators.Pq.encode(er, "embedding", cbr)))
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        graft.serve.ModelRegistry.registerSq(s, reg, "del_sq8", qz,
          Some(graft.operators.Sq.encode(
            e.select("vec_id", "embedding"), "embedding", qz)))
        graft.serve.ModelRegistry.registerHnsw(s, reg, "del_hnsw",
          graft.operators.Hnsw.fromDataFrame(e, "vec_id", "embedding",
            m = 16, efConstruction = 100))
        for (n <- Seq("del_ivf", "del_pq", "del_opq", "del_sq8", "del_hnsw")) {
          graft.serve.ModelRegistry.deleteIds(s, reg, n, doomed)
          graft.serve.ModelRegistry.deleteIds(s, reg, n, doomed) // idempotent
        }
        e.unpersist()
        reg
      })
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      // one registry load per family per execution (the load IS the
      // deployment path being gated; reloading per arm just re-paid it)
      val loaded = Seq("del_ivf", "del_pq", "del_opq", "del_sq8", "del_hnsw")
        .map(n => n -> graft.serve.LocalAnn.load(s, root, n)).toMap
      def armOf(name: String): Seq[(Long, Long, Double)] = {
        val idx = loaded(name)
        queries.flatMap { case (qid, v) =>
          graft.serve.LocalAnn.search(idx, qid, v,
            shortlist = idx.size, topK = 5).map(h => (qid, h.neighborId, h.sim))
        }.sortBy(t => (t._1, t._2))
      }
      val ivfRows = armOf("del_ivf")
      val pqEq = armOf("del_pq") == ivfRows
      // the OPQ arm reranks in ROTATED coordinates — mathematically the
      // same cosine, but not bit-comparable to the unrotated arms after
      // 1e-6 rounding. Its deletion property is proven EXACTLY instead:
      // masked search ≡ exhaustive UNMASKED search with the tombstones
      // dropped post-hoc (at exhaustive breadth pre-filtering and
      // post-filtering coincide — the q169 identity), bit-for-bit in
      // the family's own metric.
      val opqEq = {
        val masked = loaded("del_opq")
        val doomedSet = graft.serve.ModelRegistry
          .loadDeletedIds(s, root, "del_opq")
        val unmasked = masked.copy(deleted = Array.empty)
        val post = queries.flatMap { case (qid, v) =>
          graft.serve.LocalAnn.search(unmasked, qid, v,
              shortlist = unmasked.size, topK = 5 + doomedSet.size)
            .filterNot(h => doomedSet.contains(h.neighborId)).take(5)
            .map(h => (qid, h.neighborId, h.sim))
        }.sortBy(t => (t._1, t._2))
        armOf("del_opq") == post
      }
      val sq8Eq = armOf("del_sq8") == ivfRows
      val hnswEq = armOf("del_hnsw") == ivfRows
      val sqIdx = loaded("del_sq8")
      val server = graft.serve.HttpApi.start(annModel = Some(("del_sq8", sqIdx)))
      val httpEq = try {
        graft.serve.HttpApi.annSearchAt(server.port,
          queries.map { case (qid, v) => ("del_sq8", qid, v, sqIdx.size) },
          topK = 5)
          .flatMap { o =>
            graft.serve.HttpApi.hitsOf(o).map(h =>
              (o.path("query_id").asLong, h.neighborId, h.sim))
          }.sortBy(t => (t._1, t._2)) == ivfRows
      } finally server.stop()
      ivfRows.toDF("query_id", "neighbor_id", "sim")
        .withColumn("pq_eq", lit(pqEq))
        .withColumn("opq_eq", lit(opqEq))
        .withColumn("sq8_eq", lit(sq8Eq))
        .withColumn("hnsw_eq", lit(hnswEq))
        .withColumn("http_eq", lit(httpEq))
        .orderBy("query_id", "neighbor_id")
    }),

    // ANN COMPACTION (round 20 — verdict #3: ModelRegistry.deleteIds
    // documented compaction as a manual recipe; ModelRegistry.compact
    // is now the one-call lifecycle close — rebuild from survivors as
    // the NEXT version, prune, empty mask). q181's planting (every
    // query's exact top-1 tombstoned) over four families; the MASKED
    // exhaustive results are bit-captured BEFORE compaction (compact
    // prunes the masked version), then each compacted artifact must
    // return the SAME results: the quantizer families bit-for-bit
    // (centroids/codebooks/quantizer are untouched bytes — the scan
    // just loses exactly the masked rows), the graph family by result
    // set (the rebuild re-draws levels per id; at exhaustive beam both
    // sides are brute force over survivors, so the sorted hit lists
    // coincide). Lifecycle postconditions gate alongside: empty mask
    // (registry AND loaded serving index), survivor-sized artifacts,
    // exactly one surviving version per family. STRONG real-row mold:
    // the hashed rows are the compacted ivf arm's (full probe = brute
    // force over survivors) and DuckDB recomputes the top-1 set, the
    // mask, and the surviving top-5 from scratch with NOT IN.
    "q186_ann_compact" -> ((s, dir) => {
      import s.implicits._
      val fams = Seq("cpt_ivf", "cpt_pq", "cpt_sq8", "cpt_hnsw")
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      def armOf(idx: graft.serve.LocalAnn.Index): Seq[(Long, Long, Double)] =
        queries.flatMap { case (qid, v) =>
          graft.serve.LocalAnn.search(idx, qid, v,
            shortlist = idx.size, topK = 5).map(h => (qid, h.neighborId, h.sim))
        }.sortBy(t => (t._1, t._2))
      val (root, maskedArms, survivors) = annCompactMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 3000).cache()
        val doomed = graft.operators.Embeddings
          .cosineTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "vec_id", "embedding", k = 1)
          .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSeq
        val reg = tempRegistryDir("graft_ann_cpt")
        graft.serve.ModelRegistry.registerIvf(s, reg, "cpt_ivf",
          graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16))
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
        graft.serve.ModelRegistry.registerPq(s, reg, "cpt_pq", cb,
          Some(graft.operators.Pq.encode(
            e.select("vec_id", "embedding"), "embedding", cb)))
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        graft.serve.ModelRegistry.registerSq(s, reg, "cpt_sq8", qz,
          Some(graft.operators.Sq.encode(
            e.select("vec_id", "embedding"), "embedding", qz)))
        graft.serve.ModelRegistry.registerHnsw(s, reg, "cpt_hnsw",
          graft.operators.Hnsw.fromDataFrame(e, "vec_id", "embedding",
            m = 16, efConstruction = 100))
        fams.foreach(n => graft.serve.ModelRegistry.deleteIds(s, reg, n, doomed))
        // the masked reference arms, captured while the masked version lives
        val masked = fams.map(n =>
          n -> armOf(graft.serve.LocalAnn.load(s, reg, n))).toMap
        fams.foreach(n => graft.serve.ModelRegistry.compact(s, reg, n))
        val n = e.count()
        e.unpersist()
        (reg, masked, n - doomed.size)
      })
      val loaded = fams.map(n =>
        n -> graft.serve.LocalAnn.load(s, root, n)).toMap
      val compacted = fams.map(n => n -> armOf(loaded(n))).toMap
      val ivfRows = compacted("cpt_ivf")
      val ivfEq = ivfRows == maskedArms("cpt_ivf")
      val pqEq = compacted("cpt_pq") == maskedArms("cpt_pq")
      val sq8Eq = compacted("cpt_sq8") == maskedArms("cpt_sq8")
      // the graph family's rebuild legitimately re-draws levels — the
      // sorted (query, neighbor, sim) lists ARE the result-set compare
      val hnswEq = compacted("cpt_hnsw") == maskedArms("cpt_hnsw")
      val maskEmptyOk = fams.forall(n =>
        graft.serve.ModelRegistry.loadDeletedIds(s, root, n).isEmpty &&
          loaded(n).deletedCount == 0)
      val countsOk = fams.forall(n => loaded(n).size == survivors)
      val versionOk = graft.serve.ModelRegistry.list(s, root)
        .groupBy("name").agg(countDistinct("version").as("nv"))
        .filter(col("nv") =!= 1).isEmpty
      ivfRows.toDF("query_id", "neighbor_id", "sim")
        .withColumn("ivf_eq", lit(ivfEq))
        .withColumn("pq_eq", lit(pqEq))
        .withColumn("sq8_eq", lit(sq8Eq))
        .withColumn("hnsw_eq", lit(hnswEq))
        .withColumn("mask_empty_ok", lit(maskEmptyOk))
        .withColumn("counts_ok", lit(countsOk))
        .withColumn("version_ok", lit(versionOk))
        .orderBy("query_id", "neighbor_id")
    }),

    // DELETION × FLEET and DELETION × REFRESH (round 20 — verdict #4:
    // q181 proved tombstones on ONE serving node; the machinery
    // composes with q182's routed fleet and q183's refresh by
    // construction, and this gate makes both compositions PROVEN).
    // Fleet arm: two per-shard registered HNSW artifacts (parity
    // split), every query's union-corpus exact top-1 tombstoned on
    // BOTH shards (mask entries for ids a shard never held are no-op
    // by the deleteIds contract); the exhaustive routed merge over the
    // masked shards IS brute force over the union's SURVIVORS — DuckDB
    // replays the rows with NOT IN; router_tight_eq holds the
    // tight-budget routed path bit-equal to in-process masked
    // searchSharded. Refresh arm: a registered graph over the union is
    // masked, then refreshed — Hnsw.append of exact query twins under
    // fresh ids, registered as the NEXT version with
    // ModelRegistry.carryDeletedIds bridging the mask (a refresh
    // starts mask-less; without the carry every takedown would
    // silently resurrect). Flags: the twins are searchable
    // (refresh_live_ok), the tombstones still never surface
    // (refresh_masked_ok), the carried mask equals the original
    // (refresh_carry_ok), and the mask is LOAD-BEARING — the unmasked
    // copy of the refreshed graph DOES surface doomed ids
    // (refresh_discriminates; each doomed id sits at rank 2 behind its
    // query's twin, so a resurrection is inside top-5 by construction).
    "q187_ann_delete_fleet" -> ((s, dir) => {
      import s.implicits._
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val root = annDeleteFleetMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 4000).cache()
        val doomed = graft.operators.Embeddings
          .cosineTopK(e.filter(col("vec_id") < 20), e,
            "vec_id", "vec_id", "embedding", k = 1)
          .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSeq
        val rows = e.select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
          .sortBy(_._1).toSeq
        e.unpersist()
        val reg = tempRegistryDir("graft_ann_dflt")
        graft.serve.ModelRegistry.registerHnsw(s, reg, "flt_s0",
          graft.operators.Hnsw.build(rows.filter(_._1 % 2 == 0),
            m = 16, efConstruction = 100))
        graft.serve.ModelRegistry.registerHnsw(s, reg, "flt_s1",
          graft.operators.Hnsw.build(rows.filter(_._1 % 2 == 1),
            m = 16, efConstruction = 100))
        graft.serve.ModelRegistry.deleteIds(s, reg, "flt_s0", doomed)
        graft.serve.ModelRegistry.deleteIds(s, reg, "flt_s1", doomed)
        // refresh arm: mask v1, append exact twins of every query under
        // fresh ids, register as v2, carry the mask forward
        graft.serve.ModelRegistry.registerHnsw(s, reg, "del_refresh",
          graft.operators.Hnsw.build(rows, m = 16, efConstruction = 100))
        graft.serve.ModelRegistry.deleteIds(s, reg, "del_refresh", doomed)
        val g1 = graft.serve.ModelRegistry.loadHnsw(s, reg, "del_refresh")
        val twins = queries.map { case (qid, v) => (1000000L + qid, v) }
        graft.serve.ModelRegistry.registerHnsw(s, reg, "del_refresh",
          graft.operators.Hnsw.append(g1, twins))
        graft.serve.ModelRegistry.carryDeletedIds(s, reg, "del_refresh",
          fromVersion = 1L)
        reg
      })
      val i0 = graft.serve.LocalAnn.load(s, root, "flt_s0")
      val i1 = graft.serve.LocalAnn.load(s, root, "flt_s1")
      val up0 = graft.serve.HttpApi.start(annModel = Some(("flt_hnsw", i0)))
      val up1 = graft.serve.HttpApi.start(annModel = Some(("flt_hnsw", i1)))
      val router = graft.serve.HttpApi.start(
        annRoutes = Seq(("flt_hnsw", Seq(up0.port, up1.port))),
        routeTimeoutMs = 120000L)
      try {
        def routed(ef: Int): Seq[(Long, Long, Double)] =
          graft.serve.HttpApi.annSearchAt(router.port,
            queries.map { case (qid, v) => ("flt_hnsw", qid, v, ef) },
            topK = 5)
            .flatMap { o =>
              val qid = o.path("query_id").asLong
              require(o.path("shards").asInt == 2,
                "router must report both shards")
              graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
            }
        def bits(r: Seq[(Long, Long, Double)]) =
          r.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))).toSet
        val exh = routed(math.max(i0.size, i1.size))
        val tightEq = bits(routed(64)) == bits(
          queries.flatMap { case (qid, v) =>
            graft.serve.LocalAnn.searchSharded(Seq(i0, i1), qid, v, 64, 5)
              .map(h => (qid, h.neighborId, h.sim))
          })
        // refresh arm checks (driver-side — the HTTP surface is q181's)
        val rIdx = graft.serve.LocalAnn.load(s, root, "del_refresh")
        val doomedSet = graft.serve.ModelRegistry
          .loadDeletedIds(s, root, "del_refresh")
        val refreshRes = queries.map { case (qid, v) =>
          qid -> graft.serve.LocalAnn.search(rIdx, qid, v,
            shortlist = rIdx.size, topK = 5)
        }
        val refreshLiveOk = refreshRes.forall { case (qid, hits) =>
          hits.exists(_.neighborId == 1000000L + qid) }
        val refreshMaskedOk = refreshRes.forall { case (_, hits) =>
          hits.forall(h => !doomedSet.contains(h.neighborId)) }
        val carryOk = doomedSet.nonEmpty && doomedSet ==
          graft.serve.ModelRegistry.loadDeletedIds(s, root, "del_refresh", 1L)
        val unmasked = rIdx.copy(deleted = Array.empty)
        val discriminates = queries.exists { case (qid, v) =>
          graft.serve.LocalAnn.search(unmasked, qid, v,
              shortlist = unmasked.size, topK = 5)
            .exists(h => doomedSet.contains(h.neighborId))
        }
        exh.toDF("query_id", "neighbor_id", "sim")
          .withColumn("router_tight_eq", lit(tightEq))
          .withColumn("refresh_live_ok", lit(refreshLiveOk))
          .withColumn("refresh_masked_ok", lit(refreshMaskedOk))
          .withColumn("refresh_carry_ok", lit(carryOk))
          .withColumn("refresh_discriminates", lit(discriminates))
          .orderBy("query_id", "neighbor_id")
      } finally { router.stop(); up0.stop(); up1.stop() }
    }),

    // BINARY QUANTIZATION / HAMMING TIER (round 20 stretch — verdict
    // #8; FAISS IndexBinaryFlat shape): 256-bit SRP sign signatures
    // pack a 64-d float vector into 32 B — the cheapest memory tier,
    // 8× under raw floats, 2× under SQ8 — and the candidate scan is
    // XOR+popcount on four longs: INTEGER arithmetic, zero float-
    // accumulation-order sensitivity, so the whole stage replays
    // cross-engine and cross-layout by construction. Hamming rank
    // approximates cosine rank (sign-random-projection: P[bit flips]
    // = θ/π — Charikar 2002), the exact rerank restores exactness on
    // the shortlist. STRONG real-row mold: with an exhaustive
    // shortlist the rerank IS brute force — DuckDB replays the rows.
    // Flags: recall_ok floors the tight-shortlist scale path;
    // serving_eq proves LocalAnn's bq arm (registry round trip + the
    // scalar serving mirror) bit-equal to the Spark arm at BOTH
    // budgets. Pricing vs the other families: FrontierProbe's bq row
    // (BASELINE.md round 20).
    "q188_bq_hamming" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val root = bqMemo.computeIfAbsent(dir, _ => {
        val q = graft.operators.Bq.train(dim = 64, nBits = 256)
        val reg = tempRegistryDir("graft_bq")
        graft.serve.ModelRegistry.registerBq(s, reg, "bq", q,
          Some(graft.operators.Bq.encode(
            e.select("vec_id", "embedding"), "embedding", q)))
        reg
      })
      val q = graft.serve.ModelRegistry.loadBq(s, root, "bq")
      val codes = graft.serve.ModelRegistry.loadPqCodes(s, root, "bq")
      val qdf = e.filter(col("vec_id") < 20)
      def arm(shortlist: Int) = graft.operators.Bq.searchReranked(codes,
        "vec_id", "embedding", q, qdf, "vec_id", "embedding",
        shortlist, topK = 5, dropSelf = true)
      val idx = graft.serve.LocalAnn.load(s, root, "bq")
      // the exhaustive arm rides the searchReranked(shortlist = corpus
      // size) identity minus its dead selection scan (round-20, the
      // operator's searchExhaustive doc): selecting ALL candidates
      // makes the Hamming values irrelevant to THIS arm, so nothing
      // about the gate weakens — Hamming arithmetic stays gated by the
      // tight arm's recall floor and by serving_eq at both budgets.
      val exh = graft.operators.Bq.searchExhaustive(codes,
        "vec_id", "embedding", q, qdf, "vec_id", "embedding",
        topK = 5, dropSelf = true).persist()
      try {
        val tight = arm(128)
        val recallOk = exh.join(tight, Seq("query_id", "neighbor_id"),
          "left_semi").count().toDouble / exh.count() >= 0.4
        val queries = qdf.select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) ->
            r.getAs[scala.collection.Seq[Float]](1).toArray)
          .sortBy(_._1).toSeq
        def served(shortlist: Int) = queries.flatMap { case (qid, v) =>
          graft.serve.LocalAnn.search(idx, qid, v, shortlist, 5)
            .map(h => (qid, h.neighborId,
              java.lang.Double.doubleToLongBits(h.sim)))
        }.toSet
        def bitsOf(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToLongBits(
              if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toSet
        val servingEq = served(idx.size) == bitsOf(exh) &&
          served(128) == bitsOf(tight)
        val out = exh.orderBy("query_id", "neighbor_id").collect().toSeq
        out.map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
          .toDF("query_id", "neighbor_id", "sim")
          .withColumn("recall_ok", lit(recallOk))
          .withColumn("serving_eq", lit(servingEq))
          .orderBy("query_id", "neighbor_id")
      } finally { exh.unpersist(); () }
    }),

    // HEDGED REPLICAS (round 20 — verdict stretch #7: the router's
    // failure story). Production fleets run a replica SET per shard;
    // the router tries replicas in order and hedges to the next on a
    // TRANSPORT failure (dead: connect refused; hung: per-attempt
    // timeout), so one lost replica costs latency, not the request —
    // and the loud 502/504 doctrine now fires only when a whole
    // replica set is down, the earliest moment a correct
    // (non-partial-merge) answer is impossible. Answers are
    // bit-unchanged by construction (replicas serve the SAME
    // artifact); this gate makes that LIVE: the exhaustive routed
    // merge through a fleet whose shard-1 PRIMARY IS DEAD is brute
    // force over the union corpus — DuckDB replays the rows. Flags
    // (all derived in-query): healthy_no_hedge (an all-healthy twin
    // fleet returns bit-identical rows with zero failovers),
    // hedge_exact_eq (every request through the degraded fleet
    // reports exactly one failover; tight-budget routed ≡ in-process
    // searchSharded bit-for-bit — hedging composes with real budgets),
    // hung_ok (a replica that ACCEPTS and never answers: the
    // per-attempt timeout trips, the live replica answers, rows
    // bit-equal — without waiting out the hang), loud_ok (both
    // replicas down → 502, never a partial merge), stats_ok
    // (/stats hedged_failovers counts exactly the degraded requests).
    "q189_ann_hedged_fleet" -> ((s, dir) => {
      import s.implicits._
      val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      val root = hedgedFleetMemo.computeIfAbsent(dir, _ => {
        val e = Tables.embeddings(s, dir).filter(col("vec_id") < 4000)
          .select("vec_id", "embedding").cache()
        // one quantizer for the logical index; shards split by parity
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        val codes = graft.operators.Sq.encode(e, "embedding", qz).cache()
        val reg = tempRegistryDir("graft_ann_hedge")
        graft.serve.ModelRegistry.registerSq(s, reg, "hg_s0", qz,
          Some(codes.filter(col("vec_id") % 2 === 0)))
        graft.serve.ModelRegistry.registerSq(s, reg, "hg_s1", qz,
          Some(codes.filter(col("vec_id") % 2 === 1)))
        codes.unpersist(); e.unpersist()
        reg
      })
      val i0 = graft.serve.LocalAnn.load(s, root, "hg_s0")
      val i1 = graft.serve.LocalAnn.load(s, root, "hg_s1")
      val up0  = graft.serve.HttpApi.start(annModel = Some(("hedge", i0)))
      val up1a = graft.serve.HttpApi.start(annModel = Some(("hedge", i1)))
      val up1b = graft.serve.HttpApi.start(annModel = Some(("hedge", i1)))
      // a DEAD primary: the port answered once, now refuses connections
      val dead = graft.serve.HttpApi.start(annModel = Some(("hedge", i1)))
      dead.stop()
      val healthy = graft.serve.HttpApi.start(annReplicaRoutes =
        Seq(("hedge", Seq(Seq(up0.port), Seq(up1a.port, up1b.port)))))
      val hedgy = graft.serve.HttpApi.start(
        annReplicaRoutes =
          Seq(("hedge", Seq(Seq(up0.port), Seq(dead.port, up1b.port)))),
        routeTimeoutMs = 120000L)
      try {
        val exhN = math.max(i0.size, i1.size)
        def routed(port: Int, shortlist: Int,
                   qs: Seq[(Long, Array[Float])] = queries):
            (Seq[(Long, Long, Double)], Seq[Int]) = {
          val os = graft.serve.HttpApi.annSearchAt(port,
            qs.map { case (qid, v) => ("hedge", qid, v, shortlist) }, topK = 5)
          (os.flatMap { o =>
            val qid = o.path("query_id").asLong
            require(o.path("shards").asInt == 2, "router must report both shards")
            graft.serve.HttpApi.hitsOf(o).map(h => (qid, h.neighborId, h.sim))
          }, os.map(_.path("hedged").asInt))
        }
        def bits(r: Seq[(Long, Long, Double)]) =
          r.map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3))).toSet
        val (exh, exhHedged) = routed(hedgy.port, exhN)
        val (hExh, hHedged) = routed(healthy.port, exhN)
        val healthyNoHedge = bits(hExh) == bits(exh) && hHedged.forall(_ == 0)
        val (tight, tightHedged) = routed(hedgy.port, 64)
        val tightLocal = queries.flatMap { case (qid, v) =>
          graft.serve.LocalAnn.searchSharded(Seq(i0, i1), qid, v, 64, 5)
            .map(h => (qid, h.neighborId, h.sim))
        }
        val hedgeExactEq = (exhHedged ++ tightHedged).forall(_ == 1) &&
          bits(tight) == bits(tightLocal)
        // a HUNG primary: accepts the connection, never answers inside
        // the budget — bounded to 3 queries so the arm costs ~1.5 s,
        // not a per-query wait-out of the hang. The hang must be a
        // latch, NOT Thread.sleep: HttpServer.stop joins the dispatcher
        // thread, so a sleeping handler makes TEARDOWN wait out the
        // whole fake hang (measured +30 s/execution in the bench).
        val release = new java.util.concurrent.CountDownLatch(1)
        val stall = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        stall.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
          release.await(30, java.util.concurrent.TimeUnit.SECONDS)
          try {
            val b = """{"results":[]}""".getBytes("UTF-8")
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b); ex.close()
          } catch { case _: Exception => () } // torn-down exchange
        })
        stall.start()
        val hungOk = try {
          val hung = graft.serve.HttpApi.start(
            annReplicaRoutes = Seq(("hedge",
              Seq(Seq(up0.port), Seq(stall.getAddress.getPort, up1b.port)))),
            routeTimeoutMs = 500L)
          try {
            val sub = queries.take(3)
            val (hr, hh) = routed(hung.port, exhN, sub)
            bits(hr) == bits(exh.filter(t => sub.exists(_._1 == t._1))) &&
              hh.forall(_ == 1)
          } finally hung.stop()
        } finally { release.countDown(); stall.stop(0) }
        // the WHOLE replica set down: loud 502, never a partial merge
        val dead2 = graft.serve.HttpApi.start(annModel = Some(("hedge", i1)))
        dead2.stop()
        val doomed = graft.serve.HttpApi.start(annReplicaRoutes =
          Seq(("hedge", Seq(Seq(up0.port), Seq(dead.port, dead2.port)))))
        val loudOk = try {
          val c = java.net.http.HttpClient.newHttpClient()
          val r = c.send(
            java.net.http.HttpRequest
              .newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${doomed.port}/ann/search"))
              .header("Content-Type", "application/json")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                s"""{"model":"hedge","embedding":[${queries.head._2.mkString(",")}]}"""))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          r.statusCode == 502
        } finally doomed.stop()
        // the degraded router absorbed exactly one failover per routed
        // request (exhaustive + tight passes), and surfaces the count
        val statsOk = {
          val c = java.net.http.HttpClient.newHttpClient()
          val st = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
            c.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${hedgy.port}/stats")).GET().build(),
              java.net.http.HttpResponse.BodyHandlers.ofString()).body())
          st.path("hedged_failovers").asLong == 2L * queries.size
        }
        exh.toDF("query_id", "neighbor_id", "sim")
          .withColumn("healthy_no_hedge", lit(healthyNoHedge))
          .withColumn("hedge_exact_eq", lit(hedgeExactEq))
          .withColumn("hung_ok", lit(hungOk))
          .withColumn("loud_ok", lit(loudOk))
          .withColumn("stats_ok", lit(statsOk))
          .orderBy("query_id", "neighbor_id")
      } finally { hedgy.stop(); healthy.stop(); up0.stop(); up1a.stop(); up1b.stop() }
    }),

    // MMR DIVERSIFIED RE-RANKING (round 17 — Carbonell & Goldstein
    // 1998, the diversity selector of the retrieval/curation tier):
    // per-query exact top-20 candidates greedily re-ranked to 5 picks
    // trading relevance against redundancy (λ=0.7). The greedy is
    // sequential per query but parallel across queries
    // (flatMapGroups over bounded groups — no driver collect). STRONG
    // oracle: every input the greedy sees is a 1e-6 multiple (rel from
    // cosineTopK, pairwise candidate sims by the same rounding), so
    // the selection runs on EXACT integer micro-units — the objective
    // is the integer 7·R − 3·M, scale 1e7 (a raw double multiply-
    // subtract measured 1 ulp apart cross-engine via FMA contraction,
    // and re-quantizing it lands exactly on decimal halves, so only
    // the integer form replays) — and DuckDB replays the ENTIRE
    // selection as 5 chained SQL steps (the q121 chained-round
    // doctrine); ranks AND scores hash bit-for-bit.
    "q171_mmr_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).filter(col("vec_id") < 50000)
      val q = Tables.embeddings(s, dir).filter(col("vec_id") < 20)
      val cands = graft.operators.Embeddings
        .cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 20)
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id"))
      graft.operators.Mmr.rerank(cands, "query_id", "neighbor_id", "sim",
          "embedding", k = 5, lambdaTenths = 7)
        .orderBy("query_id", "mmr_rank")
    }),

    // EXACT COVARIANCE GATE (round 14, PCA tier): the distributed
    // fixed-point gram pass behind Pca.fit, exposed as the leading 8×8
    // corner of the 64×64 population covariance. Every emitted double
    // is a pure function of EXACT long sums (round(x·2²⁰)
    // half-away-from-zero — the round() both engines implement), so the
    // values are hashed RAW: the oracle replays the quantization, the
    // gram, and the E[xy]−E[x]E[y] shapes and must agree bit-for-bit.
    // This row is the exact anchor under q156's eigen-property flags.
    "q155_embed_covariance" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val (cov, used, _) = graft.operators.Pca.covariance(e, "embedding", dim = 64)
      // covariance divides by USED (rows passing the width/finite/|x|<2
      // gates) while the oracle divides by count(*): assert they agree
      // so a future parked row fails LOUDLY here instead of silently
      // hash-diverging the raw covariance (round-14 advice)
      val total = e.count()
      require(used == total,
        s"q155: covariance parked ${total - used} of $total rows - the " +
          "DuckDB twin divides by count(*) and would silently diverge")
      val corner = for { i <- 0 until 8; j <- i until 8 }
        yield (i.toLong, j.toLong, cov(i)(j))
      corner.toDF("i", "j", "cov").orderBy("i", "j")
    }),

    // PCA PROJECTION PROPERTIES (round 14): fit 64-dim PCA on the
    // corpus, project onto the leading 8 components, and assert the
    // eigen-contract as flags (the q17/q67 sketch-flag discipline —
    // eigenvectors are not SQL-derivable, so the oracle pins the flags
    // as literal TRUE while q155 exact-anchors the covariance the
    // eigensolve consumed): per component, the projected population
    // variance equals the eigenvalue (within the 2⁻²⁰ quantization
    // envelope), the projected mean is ~0 (centering), adjacent
    // components are decorrelated, the eigenvector is unit-norm, and
    // eigenvalues are descending. Variance/mean/cross derive from
    // exact long sums (Util.exactSum), so the flags are deterministic
    // at any layout — a flipped flag is a real regression, not noise.
    "q156_pca_project" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val m = graft.operators.Pca.fit(e, "embedding", dim = 64)
      val proj = graft.operators.Pca.transform(e, "vec_id", "embedding", m, k = 8)
      val flat = proj.select(posexplode(col("proj")).as(Seq("j", "y")))
      val nextY = proj.select(posexplode(expr(
          "transform(sequence(0, 6), i -> proj[i] * proj[i+1])"))
          .as(Seq("j", "yy_next")))
      val stats = flat.groupBy("j").agg(
          count(lit(1)).as("n"),
          Util.exactSum(col("y"), 9).as("sy"),
          Util.exactSum(col("y") * col("y"), 9).as("syy"))
        .join(nextY.groupBy("j").agg(
          Util.exactSum(col("yy_next"), 9).as("sxy")), Seq("j"), "left")
      val eig = m.eigenvalues.take(8).zipWithIndex
        .map { case (ev, j) => (j, ev,
          math.abs(math.sqrt(m.components(j).map(x => x * x).sum) - 1.0) < 1e-9,
          j == 7 || m.eigenvalues(j) >= m.eigenvalues(j + 1) - 1e-15)
        }.toSeq.toDF("j", "eig", "unit_ok", "order_ok")
      stats.join(broadcast(eig), Seq("j"))
        .select(col("j").cast("long").as("j"), col("n"),
          (abs((col("syy") / col("n") -
            (col("sy") / col("n")) * (col("sy") / col("n"))) / col("eig") - 1.0)
            < 0.001).as("var_ok"),
          (abs(col("sy") / col("n")) < 1e-4).as("mean_ok"),
          (col("sxy").isNull ||
            abs(col("sxy") / col("n")) < 1e-4).as("decorr_ok"),
          col("unit_ok"), col("order_ok"))
        .orderBy("j")
    })
  )

  def oracle: Map[String, String] = Map(
    // full replay of the fixed-point covariance: the identical
    // quantization (round = half-away-from-zero in BOTH engines,
    // ·2²⁰ = exact power-of-two scaling), exact BIGINT gram/mean sums,
    // and the same left-assoc E[xy]−E[x]E[y] shapes — values hashed
    // RAW, bit-for-bit
    "q155_embed_covariance" ->
      """WITH p AS MATERIALIZED (
        | SELECT vec_id, i - 1 AS d,
        |  CAST(round(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS q
        | FROM embeddings, unnest(generate_series(1, 8)) AS gi(i)),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |g AS (
        | SELECT a.d AS i, b.d AS j, sum(a.q * b.q) AS gg
        | FROM p a JOIN p b ON a.vec_id = b.vec_id AND a.d <= b.d
        | GROUP BY a.d, b.d),
        |m AS (SELECT d, sum(q) AS s FROM p GROUP BY d)
        |SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
        | g.gg / 1048576.0 / 1048576.0 / n.n
        |  - (mi.s / 1048576.0 / n.n) * (mj.s / 1048576.0 / n.n) AS cov
        |FROM g JOIN m mi ON g.i = mi.d JOIN m mj ON g.j = mj.d CROSS JOIN n
        |ORDER BY i, j""".stripMargin,

    // q157 mold: exact counts from the query inventory; the recall,
    // head-to-head, allocation, and eigengap flags pinned literal TRUE
    // (measured: OPQ 1.00 vs raw-PQ 0.92/0.66 at sf0.01/sf0.1)
    "q159_opq_pq" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | TRUE AS recall_ok, TRUE AS opq_ge_raw, TRUE AS alloc_ok,
        | TRUE AS eiggap_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // q161 mold: HTTP-vs-Spark bit-equality, set-match, and family
    // flags are driver-compared literal TRUE; DuckDB pins the query
    // inventory and the 5-per-query result cardinality
    "q162_ann_http" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(5 * count(*) AS BIGINT) AS n_results,
        | TRUE AS sets_match, TRUE AS sims_bit_equal, TRUE AS family_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // the fixture corpus is engine-generated (no parquet table to
    // re-derive in DuckDB), so the oracle pins the literal inventory —
    // 20 seeded queries × 5 exact neighbors — and the four
    // DISCRIMINATING margin flags (measured raw 0.73 / P 0.86 /
    // NP 0.90: every flag has real slack and a broken tier flips it)
    "q167_opq_np_mixture" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_exact,
        | TRUE AS raw_band_ok, TRUE AS p_gt_raw, TRUE AS np_gt_p,
        | TRUE AS np_err_down""".stripMargin,

    // q161/q166 mold: the HTTP-vs-Spark equality flags are derived
    // in-query from the full-outer join; DuckDB pins the query
    // inventory and the exact 5-per-query merged cardinality (a
    // one-sided row breaks n_results)
    "q168_ann_sharded" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(5 * count(*) AS BIGINT) AS n_results,
        | TRUE AS sets_match, TRUE AS sims_bit_equal,
        | TRUE AS shards_ok, TRUE AS exhaustive_eq_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // STRONG form (q74's list_dot_product + round(·1e6) replay): both
    // the pre-filtered top-5 rows AND the post-filter yield are exact
    // brute-force-derived, so DuckDB recomputes the whole frame —
    // neighbor sets, sims, and per-query post_kept all hash for real.
    // Only http_eq is a derived-flag column (per-row null-safe Spark-
    // vs-HTTP sim equality, the q166 full-outer-join mold).
    "q169_ann_filtered" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS MATERIALIZED (
        | SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id),
        |pre AS (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims WHERE label IN (2, 7)),
        |post AS (
        | SELECT query_id, label,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims),
        |pk AS (
        | SELECT query_id,
        |  CAST(sum(CASE WHEN label IN (2, 7) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS post_kept
        | FROM post WHERE rk <= 5 GROUP BY query_id)
        |SELECT p.query_id AS query_id, p.neighbor_id AS neighbor_id,
        | p.sim AS sim, TRUE AS http_eq, pk.post_kept AS post_kept
        |FROM pre p JOIN pk USING (query_id)
        |WHERE p.rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // STRONG form: the WHOLE greedy selection is replayed as 5 chained
    // SQL steps (sK picks step K's argmax, mK carries each remaining
    // candidate's max-sim-to-picked forward) over the same quantized
    // rel/pairwise-sim inputs carried as exact BIGINT micro-units
    // (rm = rel·1e6, sm = sim·1e6; objective 7·rm − 3·sm — no float
    // enters a comparison in either engine), so ranks AND scores hash
    // bit-for-bit; ties break (key desc, id asc) in both engines.
    "q171_mmr_rerank" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |c AS MATERIALIZED (
        | SELECT query_id, nid, rm FROM (
        |  SELECT query_id, nid, rm,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY rm DESC, nid ASC) AS rk
        |  FROM (
        |   SELECT q.query_id, e.vec_id AS nid,
        |    CAST(round((list_dot_product(q.qv, e.v)
        |     / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) AS BIGINT) AS rm
        |   FROM q JOIN e ON e.vec_id <> q.query_id))
        | WHERE rk <= 20),
        |pair AS MATERIALIZED (
        | SELECT a.query_id, a.nid AS i, b.nid AS j,
        |  CAST(round((list_dot_product(va.v, vb.v)
        |   / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))) * 1000000.0) AS BIGINT) AS sm
        | FROM c a
        | JOIN c b ON a.query_id = b.query_id AND a.nid <> b.nid
        | JOIN e va ON va.vec_id = a.nid
        | JOIN e vb ON vb.vec_id = b.nid),
        |s1 AS MATERIALIZED (
        | SELECT query_id, nid, CAST(rm AS DOUBLE) / 1000000.0 AS score FROM (
        |  SELECT query_id, nid, rm, row_number() OVER (PARTITION BY query_id
        |   ORDER BY rm DESC, nid ASC) AS rk FROM c) WHERE rk = 1),
        |m1 AS MATERIALIZED (
        | SELECT c.query_id, c.nid, c.rm, p.sm AS ms
        | FROM c
        | JOIN s1 ON s1.query_id = c.query_id AND c.nid <> s1.nid
        | JOIN pair p ON p.query_id = c.query_id AND p.i = c.nid
        |  AND p.j = s1.nid),
        |s2 AS MATERIALIZED (
        | SELECT query_id, nid, CAST(key AS DOUBLE) / 10000000.0 AS score FROM (
        |  SELECT query_id, nid, 7 * rm - 3 * ms AS key,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY 7 * rm - 3 * ms DESC, nid ASC) AS rk
        |  FROM m1) WHERE rk = 1),
        |m2 AS MATERIALIZED (
        | SELECT m.query_id, m.nid, m.rm, greatest(m.ms, p.sm) AS ms
        | FROM m1 m
        | JOIN s2 ON s2.query_id = m.query_id AND m.nid <> s2.nid
        | JOIN pair p ON p.query_id = m.query_id AND p.i = m.nid
        |  AND p.j = s2.nid),
        |s3 AS MATERIALIZED (
        | SELECT query_id, nid, CAST(key AS DOUBLE) / 10000000.0 AS score FROM (
        |  SELECT query_id, nid, 7 * rm - 3 * ms AS key,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY 7 * rm - 3 * ms DESC, nid ASC) AS rk
        |  FROM m2) WHERE rk = 1),
        |m3 AS MATERIALIZED (
        | SELECT m.query_id, m.nid, m.rm, greatest(m.ms, p.sm) AS ms
        | FROM m2 m
        | JOIN s3 ON s3.query_id = m.query_id AND m.nid <> s3.nid
        | JOIN pair p ON p.query_id = m.query_id AND p.i = m.nid
        |  AND p.j = s3.nid),
        |s4 AS MATERIALIZED (
        | SELECT query_id, nid, CAST(key AS DOUBLE) / 10000000.0 AS score FROM (
        |  SELECT query_id, nid, 7 * rm - 3 * ms AS key,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY 7 * rm - 3 * ms DESC, nid ASC) AS rk
        |  FROM m3) WHERE rk = 1),
        |m4 AS MATERIALIZED (
        | SELECT m.query_id, m.nid, m.rm, greatest(m.ms, p.sm) AS ms
        | FROM m3 m
        | JOIN s4 ON s4.query_id = m.query_id AND m.nid <> s4.nid
        | JOIN pair p ON p.query_id = m.query_id AND p.i = m.nid
        |  AND p.j = s4.nid),
        |s5 AS MATERIALIZED (
        | SELECT query_id, nid, CAST(key AS DOUBLE) / 10000000.0 AS score FROM (
        |  SELECT query_id, nid, 7 * rm - 3 * ms AS key,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY 7 * rm - 3 * ms DESC, nid ASC) AS rk
        |  FROM m4) WHERE rk = 1)
        |SELECT query_id, nid AS neighbor_id,
        | CAST(1 AS INTEGER) AS mmr_rank, score AS mmr_score FROM s1
        |UNION ALL SELECT query_id, nid, CAST(2 AS INTEGER), score FROM s2
        |UNION ALL SELECT query_id, nid, CAST(3 AS INTEGER), score FROM s3
        |UNION ALL SELECT query_id, nid, CAST(4 AS INTEGER), score FROM s4
        |UNION ALL SELECT query_id, nid, CAST(5 AS INTEGER), score FROM s5
        |ORDER BY query_id, mmr_rank""".stripMargin,

    // q169's STRONG mold without the filter: the served rows ARE the
    // exact brute-force top-5 (exhaustive shortlist + exact rerank), so
    // DuckDB recomputes them row-for-row; http_eq/family_ok are derived
    // flags (per-row full-outer-join sim equality; loaded family).
    "q172_sq8_http" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS http_eq,
        | TRUE AS family_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q172's REAL-ROW mold (round-18 rework of the old pinned-flag
    // form): the exhaustive-beam served rows ARE exact brute force
    // (the beam visits every reachable node; the graph is connected),
    // so DuckDB recomputes (query_id, neighbor_id, sim) row for row;
    // http_eq (reload + serving-mirror + transport bit-identity) and
    // recall_ok (tight-beam floor) are derived in-query.
    "q175_hnsw_knn" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS http_eq,
        | TRUE AS recall_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q148's discrete-outcome mold on the seeded mixture corpus: both
    // arms' hit counts are deterministic constants (input-order-
    // independent builds over a layout-independent generator), so the
    // oracle pins them exactly — any selection/build drift lands red —
    // plus the ordering flags derived in-query.
    "q176_hnsw_heuristic" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries,
        | CAST(100 AS BIGINT) AS n_exact,
        | CAST(32 AS BIGINT) AS n_closest, CAST(99 AS BIGINT) AS n_heuristic,
        | TRUE AS heur_ge_closest, TRUE AS closest_unsaturated""".stripMargin,

    // q168 mold: append ≡ rebuild bit-identity (struct_eq) and the
    // served-vs-fresh HTTP bit-compare (append_http_eq) are derived
    // in-query; DuckDB pins the query inventory and result cardinality
    "q177_hnsw_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(5 * count(*) AS BIGINT) AS n_results,
        | TRUE AS append_http_eq, TRUE AS struct_eq
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // q172's real-row mold for the HNSW,SQ8 composition: the
    // exhaustive-beam candidate set is the whole corpus and the rerank
    // is exact, so the rows ARE brute force; recall_ok/decode_ok
    // derive in-query.
    "q180_hnsw_sq8" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 20000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS recall_ok,
        | TRUE AS decode_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // full replay of the deletion pipeline: DuckDB recomputes the
    // exact top-1-neighbor set (the planted tombstones), masks it with
    // NOT IN, and re-ranks the survivors — the Spark rows (the masked
    // ivf arm) must hash against this from-scratch reconstruction; the
    // five equality flags derive in-query (each exhaustive family arm
    // and the HTTP arm bit-compare against the hashed rows).
    "q181_ann_delete" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 5000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS MATERIALIZED (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id),
        |doomed AS (
        | SELECT DISTINCT neighbor_id FROM (
        |  SELECT neighbor_id,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rk
        |  FROM sims)
        | WHERE rk = 1),
        |surv AS (
        | SELECT * FROM sims
        | WHERE neighbor_id NOT IN (SELECT neighbor_id FROM doomed))
        |SELECT query_id, neighbor_id, sim, TRUE AS pq_eq, TRUE AS opq_eq,
        | TRUE AS sq8_eq, TRUE AS hnsw_eq, TRUE AS http_eq
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM surv)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q181's NOT IN replay over the compaction corpus: the compacted
    // ivf arm's full-probe search is brute force over the survivors;
    // the masked≡compacted equalities and the lifecycle postconditions
    // (empty mask, survivor counts, single version) derive in-query.
    "q186_ann_compact" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 3000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS MATERIALIZED (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id),
        |doomed AS (
        | SELECT DISTINCT neighbor_id FROM (
        |  SELECT neighbor_id,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rk
        |  FROM sims)
        | WHERE rk = 1),
        |surv AS (
        | SELECT * FROM sims
        | WHERE neighbor_id NOT IN (SELECT neighbor_id FROM doomed))
        |SELECT query_id, neighbor_id, sim, TRUE AS ivf_eq, TRUE AS pq_eq,
        | TRUE AS sq8_eq, TRUE AS hnsw_eq, TRUE AS mask_empty_ok,
        | TRUE AS counts_ok, TRUE AS version_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM surv)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q181's NOT IN replay through the FLEET: the exhaustive routed
    // merge over the two masked shard graphs is brute force over the
    // union corpus's survivors, so DuckDB recomputes the rows; the
    // tight-budget router identity and the four refresh-composition
    // flags derive in-query.
    "q187_ann_delete_fleet" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 4000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS MATERIALIZED (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id),
        |doomed AS (
        | SELECT DISTINCT neighbor_id FROM (
        |  SELECT neighbor_id,
        |   row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id ASC) AS rk
        |  FROM sims)
        | WHERE rk = 1),
        |surv AS (
        | SELECT * FROM sims
        | WHERE neighbor_id NOT IN (SELECT neighbor_id FROM doomed))
        |SELECT query_id, neighbor_id, sim, TRUE AS router_tight_eq,
        | TRUE AS refresh_live_ok, TRUE AS refresh_masked_ok,
        | TRUE AS refresh_carry_ok, TRUE AS refresh_discriminates
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM surv)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // full-probe search through the graph-assigned index is exact
    // brute force (assignment partitions the corpus; probing every
    // cell scans all of it) — DuckDB replays the rows; the bit-exact
    // assignment equality and the tight-beam agreement floor derive
    // in-query.
    "q184_ivf_hnsw" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS assign_exact_eq,
        | TRUE AS tight_agree_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q184's replay mold for the QUERY side: probing every cell scans
    // the whole partitioned corpus, so the graph-probed search IS
    // brute force — DuckDB recomputes the rows; the bit-exact probe
    // set equality and the tight-budget recall floor derive in-query.
    "q185_ivf_graph_probe" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS probe_exact_eq,
        | TRUE AS tight_recall_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // exhaustive Hamming shortlist + exact rerank is brute force over
    // the corpus — DuckDB replays the rows; the tight-shortlist recall
    // floor and the serving bit-parity derive in-query.
    "q188_bq_hamming" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS recall_ok,
        | TRUE AS serving_eq
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // the exhaustive routed merge through the DEGRADED replica fleet
    // (shard-1 primary dead, every request hedged to the live replica)
    // is exact brute force over the union corpus — DuckDB replays the
    // rows; the five failure-story flags derive in-query.
    "q189_ann_hedged_fleet" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 4000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS healthy_no_hedge,
        | TRUE AS hedge_exact_eq, TRUE AS hung_ok, TRUE AS loud_ok,
        | TRUE AS stats_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q179's mold for the DISTRIBUTED-BUILD fleet: the exhaustive
    // routed merge over the two executor-built shard graphs is exact
    // brute force over the union corpus, so the rows replay from
    // parquet; dist_eq (executor build ≡ driver build per shard,
    // structEq) and router_tight_eq derive in-query.
    "q182_hnsw_fleet" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 4000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS dist_eq,
        | TRUE AS router_tight_eq
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q172's real-row mold through the FLEET: the exhaustive routed
    // merge is exact brute force over the union corpus, so the rows
    // replay from parquet; the two bit-identity flags (router vs
    // in-process sharded search at tight AND exhaustive budgets)
    // derive per execution.
    "q179_ann_router" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS router_exh_eq,
        | TRUE AS router_tight_eq
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // q169's STRONG filtered-brute-force mold for the graph family:
    // the exhaustive filtered beam equals the filtered exact top-5, so
    // the rows replay from the parquet; http_eq/recall_ok derive
    // in-query.
    "q178_hnsw_filtered" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id
        | WHERE e.label IN (2, 7))
        |SELECT query_id, neighbor_id, sim, TRUE AS http_eq,
        | TRUE AS recall_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // STRONG form, zero pinned flags: the exact-kNN ranking, label
    // join, vote count and argmax all replay in SQL
    "q174_knn_classify" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 50000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |nb AS (
        | SELECT query_id, nid, label FROM (
        |  SELECT q.query_id, e.vec_id AS nid, e.label,
        |   row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY round((list_dot_product(q.qv, e.v)
        |     / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 DESC,
        |     e.vec_id ASC) AS rk
        |  FROM q JOIN e ON e.vec_id >= 20)
        | WHERE rk <= 5),
        |votes AS (
        | SELECT query_id, CAST(label AS BIGINT) AS label,
        |  count(*) AS votes
        | FROM nb GROUP BY query_id, label)
        |SELECT query_id, label AS predicted_label, votes FROM (
        | SELECT query_id, label, votes,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY votes DESC, label ASC) AS rk
        | FROM votes)
        |WHERE rk = 1
        |ORDER BY query_id""".stripMargin,

    // q118 mold: exact counts from the query inventory; the recall
    // floor is a predicted-true emission backed by the measured margin
    // and ivf_eq is the in-query-derived bit-identity of the
    // exhaustive-shortlist composition vs Ivf.search
    "q173_ivfsq_knn" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | TRUE AS recall_ok, TRUE AS ivf_eq
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // STRONG form: the per-dim ranges (exact order statistics) and the
    // per-dim code sums (the full affine round(·) encode of every
    // corpus element) are recomputed from the parquet — train+encode
    // arithmetic hashes cross-engine. recall_ok / exhaustive_eq are
    // derived flags (tight-shortlist recall floor; exhaustive-shortlist
    // bit-identity to brute force via full-outer join).
    "q170_sq8_knn" ->
      """WITH e AS MATERIALIZED (
        | SELECT embedding FROM embeddings WHERE vec_id < 50000),
        |x AS MATERIALIZED (
        | SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |  unnest(embedding) AS val
        | FROM e),
        |st AS MATERIALIZED (
        | SELECT dim, min(val) AS mn, max(val) AS mx FROM x GROUP BY dim)
        |SELECT CAST(st.dim AS INTEGER) AS dim,
        | CAST(st.mn AS DOUBLE) AS mn, CAST(st.mx AS DOUBLE) AS mx,
        | CAST(sum(CASE WHEN st.mx > st.mn
        |   THEN CAST(round((CAST(x.val AS DOUBLE) - CAST(st.mn AS DOUBLE))
        |     / ((CAST(st.mx AS DOUBLE) - CAST(st.mn AS DOUBLE)) / 255.0))
        |    AS BIGINT)
        |   ELSE 0 END) AS BIGINT) AS code_sum,
        | TRUE AS recall_ok, TRUE AS exhaustive_eq
        |FROM x JOIN st USING (dim)
        |GROUP BY st.dim, st.mn, st.mx
        |ORDER BY dim""".stripMargin,

    // q161 mold, per served family: the HTTP-vs-Spark equality flags
    // are DERIVED in-query (full-outer join over both result frames),
    // so the oracle pins the per-model query inventory, the exact
    // 5-per-query result cardinality (a one-sided row would break it),
    // and the flags
    "q166_ann_http_multi" ->
      """WITH q AS (SELECT count(*) AS n FROM embeddings WHERE vec_id < 20)
        |SELECT m.model AS model, CAST(q.n AS BIGINT) AS n_queries,
        | CAST(5 * q.n AS BIGINT) AS n_results,
        | TRUE AS sets_match, TRUE AS sims_bit_equal
        |FROM (VALUES ('ann_ivf'), ('ann_opq')) m(model) CROSS JOIN q
        |ORDER BY model""".stripMargin,

    // q117 mold: exact counts from the query inventory, the two
    // machinery flags pinned literal TRUE
    "q157_pca_ann" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | TRUE AS recall_ok, TRUE AS eiggap_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // eigen-contract flags are literal TRUE (q17/q67 discipline; the
    // exact anchor is q155's raw-hashed covariance) — the oracle pins
    // the row inventory, the per-component count, and every flag
    "q156_pca_project" ->
      """WITH n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(j AS BIGINT) AS j, CAST(n.n AS BIGINT) AS n,
        | TRUE AS var_ok, TRUE AS mean_ok, TRUE AS decorr_ok,
        | TRUE AS unit_ok, TRUE AS order_ok
        |FROM generate_series(0, 7) AS gs(j) CROSS JOIN n
        |ORDER BY j""".stripMargin,

    // exact probe-restricted truth recomputed directly (count, sim
    // mass, planted-pair count); the two probabilistic floors are
    // predicted-true emissions (q17/q62 pattern)
    "q74_cosine_neardup" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |ad AS (
        | SELECT vec_id, v FROM e
        | UNION ALL
        | SELECT vec_id + 200000, list_concat([v[1] + 0.01], v[2:]) AS v
        | FROM e WHERE vec_id < 40),
        |pr AS (SELECT * FROM ad
        |  WHERE vec_id < 40 OR (vec_id >= 200000 AND vec_id < 200040)),
        |tr AS (
        | SELECT DISTINCT least(a.vec_id, b.vec_id) AS id1,
        |  greatest(a.vec_id, b.vec_id) AS id2,
        |  round((list_dot_product(a.v, b.v)
        |   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM pr a JOIN ad b ON a.vec_id <> b.vec_id),
        |t2 AS (SELECT * FROM tr WHERE sim >= 0.9)
        |SELECT count(*) AS n_true,
        | round((sum(sim)) * 10000.0) / 10000.0 + 0.0 AS sum_sim_true,
        | CAST(sum(CASE WHEN id2 = id1 + 200000 AND id1 < 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        | TRUE AS planted_all_found,
        | TRUE AS recall_ok
        |FROM t2""".stripMargin,

    // the planted exact copies are the complete >=0.999 pair set
    "q59_lsh_neighbors" ->
      """SELECT vec_id AS id1, vec_id + 100000 AS id2, CAST(1.0 AS DOUBLE) AS sim
        |FROM embeddings WHERE vec_id < 50 ORDER BY id1""".stripMargin,

    // mean probe recall must clear the floor (q17-style tolerance flag)
    "q62_ivf_knn" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // q62 pattern: exact side recomputed, the recall floor is a
    // predicted-true emission backed by the measured margin
    "q117_pq_knn" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    "q118_ivfpq_knn" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // q118's reload twin: recall floor + fresh≡reloaded bit-equality
    // are driver-compared (TRUE-literal flags); DuckDB recomputes the
    // query/exact counts
    "q143_ann_reload" ->
      """SELECT count(*) AS n_queries, CAST(5 * count(*) AS BIGINT) AS n_exact,
        | true AS recall_ok, true AS reload_exact
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // the twin count is pinned (guaranteed recall — an exact copy
    // shares its query's argmax cell); n_indexed is conservation:
    // every corpus row plus every delta row is in the appended index
    "q148_ann_append" ->
      """SELECT CAST(20 AS BIGINT) AS n_queries,
        | CAST(20 AS BIGINT) AS n_twins_found,
        | CAST((SELECT count(*) FROM embeddings) + 20 AS BIGINT) AS n_indexed""".stripMargin,

    // zipped unnest + generate_subscripts gives (position, value) pairs
    "q127_dim_stats" ->
      """WITH u AS (
        | SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS x
        | FROM embeddings)
        |SELECT dim, count(*) AS n,
        | round(avg(x) * 1000000.0) / 1000000.0 + 0.0 AS mean,
        | round(stddev(x) * 1000000.0) / 1000000.0 + 0.0 AS std,
        | round(min(x) * 1000000.0) / 1000000.0 + 0.0 AS min_x,
        | round(max(x) * 1000000.0) / 1000000.0 + 0.0 AS max_x
        |FROM u GROUP BY dim ORDER BY dim""".stripMargin,

    // full-probe IVF == brute force, same oracle as q58
    "q63_ivf_exact" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(qv, e.v)
        |   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q, e WHERE e.vec_id <> query_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        | FROM sims)
        |SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    "q57_embed_stats" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |  embedding FROM embeddings)
        |SELECT vec_id,
        | round((sqrt(list_sum(list_transform(v, x -> x*x)))) * 1000000.0) / 1000000.0 + 0.0 AS l2_norm,
        | round((list_sum(v) / len(v)) * 1000000.0) / 1000000.0 + 0.0 AS mean,
        | CAST(list_min(embedding) AS DOUBLE) AS min_v,
        | CAST(list_max(embedding) AS DOUBLE) AS max_v
        |FROM e ORDER BY vec_id""".stripMargin,

    "q58_knn_bruteforce" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(qv, e.v)
        |   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q, e WHERE e.vec_id <> query_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        | FROM sims)
        |SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // the guaranteed-recall containment set: one row per planted
    // colinear clone, sim exactly 1.0 at 3 decimals
    "q112_semantic_dedup" ->
      """SELECT vec_id AS id1, vec_id + 1000000000000 AS id2,
        | 1.0 + 0.0 AS sim
        |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY id1""".stripMargin
  )
}
