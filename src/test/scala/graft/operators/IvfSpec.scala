package graft.operators

import graft.SparkSpec

class IvfSpec extends SparkSpec {
  import spark.implicits._

  // 4 well-separated clusters in 16-dim, 100 vectors each
  private lazy val clustered = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat * 5f))
    (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
  }

  test("IVF probes only a fraction of the corpus yet recovers brute-force neighbors") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val queries = clustered.filter($"vec_id" < 10)
    val ivf = Ivf.search(index, queries, "vec_id", "embedding", nProbe = 1, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Embeddings.cosineTopK(queries, clustered,
        "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall") // tight clusters: 1 probe suffices
    // candidate set is bounded by the probed list, not the corpus
    val listSizes = index.assigned.groupBy("centroid_id").count()
      .collect().map(_.getLong(1))
    assert(listSizes.length == 4 && listSizes.max < 400)
  }

  test("IVF_HNSW (round 19): exhaustive-ef graph assignment reproduces " +
    "the argmax scan bit-for-bit; non-finite rows park in -1; tight " +
    "beam stays cell-accurate on separated clusters") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val g = Ivf.centroidGraph(index, m = 4, efConstruction = 32)
    val withBad = clustered.unionByName(
      Seq((9999L, Array.fill(16)(Float.NaN))).toDF("vec_id", "embedding"))
    val exact = Ivf.assignGraph(withBad, "vec_id", "embedding", g,
        efSearch = 4, cand = 4)
      .select($"vec_id", $"centroid_id".as("gcid"))
    val truth = index.assigned.select($"vec_id", $"centroid_id")
    assert(truth.join(exact, "vec_id")
      .filter($"centroid_id" =!= $"gcid").isEmpty,
      "exhaustive-ef graph assignment diverged from the argmax scan")
    assert(exact.filter($"vec_id" === 9999L).head().getInt(1) == -1)
    // tight beam on well-separated clusters: full agreement
    val tight = Ivf.assignGraph(clustered, "vec_id", "embedding", g,
        efSearch = 2, cand = 1)
      .select($"vec_id", $"centroid_id".as("tcid"))
    val agree = truth.join(tight, "vec_id")
    assert(agree.filter($"centroid_id" === $"tcid").count() == agree.count())
  }

  test("graph-assisted probe selection (round 20): exhaustive-budget " +
    "probe set and search reproduce the scan bit-for-bit; tight budget " +
    "stays recall-accurate on separated clusters") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val g = Ivf.centroidGraph(index, m = 4, efConstruction = 32)
    val queries = clustered.filter($"vec_id" < 10)
    // exhaustive budget (ef, cand >= nlist): probe set bit-equal to the scan's
    val scanProbes = Ivf.probeCells(index, queries, "vec_id", "embedding",
        nProbe = 2)
      .select($"query_id".cast("long"), $"centroid_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val graphProbes = Ivf.probeCellsGraph(index, g, queries, "vec_id",
        "embedding", nProbe = 2, efSearch = 4, cand = 4)
      .select($"query_id", $"centroid_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(scanProbes == graphProbes, "exhaustive-budget graph probe set diverged")
    // ... and so is the full search, every rounded sim included
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(bits(Ivf.searchGraph(index, g, queries, "vec_id", "embedding",
        nProbe = 2, topK = 5, efSearch = 4, cand = 4)) ==
      bits(Ivf.search(index, queries, "vec_id", "embedding",
        nProbe = 2, topK = 5)))
    // tight budget (cand=1, nProbe=1): on separated clusters the beam's
    // home cell is the argmax cell, so recall matches the scan's
    val tight = Ivf.searchGraph(index, g, queries, "vec_id", "embedding",
        nProbe = 1, topK = 5, efSearch = 2, cand = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Embeddings.cosineTopK(queries, clustered,
        "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((tight & brute).size.toDouble / brute.size >= 0.9)
    // a graph with non-Int node ids is rejected loudly, not wrapped
    val bad = g.copy(ids = g.ids.map(_ + Int.MaxValue.toLong + 10))
    intercept[IllegalArgumentException] {
      Ivf.probeCellsGraph(index, bad, queries, "vec_id", "embedding",
        nProbe = 1, efSearch = 2, cand = 1)
    }
  }

  test("non-finite vectors are parked in list -1 and surfaced, not lost") {
    val poisoned = clustered.unionByName(
      Seq((9999L, Array(Float.NaN) ++ Array.fill(15)(0f)),
        (9998L, Array(Float.PositiveInfinity) ++ Array.fill(15)(1f)))
        .toDF("vec_id", "embedding"))
    val index = Ivf.build(poisoned, "vec_id", "embedding", nLists = 4)
    // assignment stays total: every row has a list, bad rows in -1
    assert(index.assigned.count() == 402)
    assert(Ivf.invalid(index).select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(9998L, 9999L))
    // search still works and never returns the parked rows
    val res = Ivf.search(index, clustered.filter($"vec_id" < 5),
      "vec_id", "embedding", nProbe = 4, topK = 5)
    assert(res.filter($"neighbor_id" >= 9998L).count() == 0)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("buildDistributed: refined centroids bit-identical across layouts; recall parity with the local branch") {
    // layout independence is the whole point of the fixed-point
    // reduction: two adversarial repartitions must produce the SAME
    // bits, not just close centroids
    val d1 = Ivf.buildDistributed(clustered.repartition(3),
      "vec_id", "embedding", nLists = 4)
    val d2 = Ivf.buildDistributed(clustered.repartition(7, $"vec_id" % 5),
      "vec_id", "embedding", nLists = 4)
    def cents(i: Ivf.Index): Map[Int, List[Float]] = i.centroids.collect()
      .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Float]](1).toList)
      .toMap
    assert(cents(d1) == cents(d2))
    // centroids stay unit (the assignment expression's geometry contract)
    cents(d1).values.foreach { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-3, s"non-unit refined centroid, norm $n")
    }
    // recall parity at the boundary: the sample covers this whole
    // corpus, so refinement must not cost recall vs the local branch
    val local = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val queries = clustered.filter($"vec_id" < 10)
    val brute = Embeddings.cosineTopK(queries, clustered,
        "vec_id", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(index: Ivf.Index): Double = {
      val got = Ivf.search(index, queries, "vec_id", "embedding",
          nProbe = 1, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size.toDouble / brute.size
    }
    val (rd, rl) = (recall(d1), recall(local))
    // small absolute tolerance (round-13 advice, the PqSpec twin's
    // convention): refinement can legally shift nProbe=1 cell
    // boundaries and drop a true neighbor even when the sample covers
    // the corpus — exact dominance is not a property Lloyd guarantees
    assert(rd >= rl - 0.05, s"distributed recall $rd < local $rl - 0.05")
    assert(rd >= 0.9, s"distributed recall $rd")
  }

  test("save/load round trip: bit-exact centroids and assignments; reloaded search == fresh search") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_save").toString
    Ivf.save(index, path)
    val back = Ivf.load(spark, path)
    assert(back.idCol == "vec_id" && back.vecCol == "embedding")
    // centroids bit-exact (floats round-trip bit-exactly in parquet)
    def cents(i: Ivf.Index): Map[Int, List[Float]] = i.centroids.collect()
      .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Float]](1).toList)
      .toMap
    assert(cents(back) == cents(index))
    // assignments bit-exact, including the vectors themselves
    def assigns(i: Ivf.Index): Map[Long, (Int, List[Float])] =
      i.assigned.select("vec_id", "centroid_id", "embedding").collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), r.getAs[scala.collection.Seq[Float]](2).toList)).toMap
    assert(assigns(back) == assigns(index))
    // searching the RELOADED index is bit-identical to the fresh one
    val queries = clustered.filter($"vec_id" < 10)
    def res(i: Ivf.Index) = Ivf.search(i, queries, "vec_id", "embedding",
        nProbe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(back) == res(index))
    // registry integration: the artifact family is recoverable
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_reg").toString
    graft.serve.ModelRegistry.registerIvf(spark, root, "ann", index)
    assert(graft.serve.ModelRegistry.kindOf(spark, root, "ann") == "ivf")
    val fromReg = graft.serve.ModelRegistry.loadIvf(spark, root, "ann")
    assert(cents(fromReg) == cents(index))
  }

  test("append: frozen-quantizer delta add — twin cells, planted recall, old results untouched") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    // delta: exact copies of ten cluster-3 rows under fresh ids
    val twins = clustered.filter($"vec_id" % 4 === 3 && $"vec_id" < 40)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val appended = Ivf.append(index, twins)
    assert(appended.assigned.count() == 410)
    // identical vectors land in identical cells — the delta goes through
    // the same argmax expression as build, against the FROZEN centers
    val twinCells = appended.assigned.filter($"vec_id" >= 10000L)
      .select(($"vec_id" - 10000L).as("o"), $"centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val origCells = index.assigned.filter($"vec_id" % 4 === 3 && $"vec_id" < 40)
      .select($"vec_id", $"centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(twinCells == origCells)
    // guaranteed recall: a query's exact copy shares its argmax cell, so
    // nProbe=1 reaches it; self is excluded, so the twin is a top-5 hit
    val q = clustered.filter($"vec_id" % 4 === 3 && $"vec_id" < 40)
    val hits = Ivf.search(appended, q, "vec_id", "embedding", nProbe = 1, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qIds = (3L until 40L by 4L)
    assert(qIds.forall(i => hits.contains((i, i + 10000L))),
      "every planted twin must surface for its original")
    // queries whose neighbors predate the delta return the identical
    // rows — appending cluster-3 copies cannot disturb cluster-0 top-5
    val oldQ = clustered.filter($"vec_id" % 4 === 0 && $"vec_id" < 40)
    def res(i: Ivf.Index) = Ivf.search(i, oldQ, "vec_id", "embedding",
        nProbe = 1, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(index) == res(appended))
    // composes with persistence: load → append ≡ append (the refresh job)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Ivf.save(index, path)
    val viaDisk = Ivf.append(Ivf.load(spark, path), twins)
    def resQ(i: Ivf.Index) = Ivf.search(i, q, "vec_id", "embedding",
        nProbe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(resQ(viaDisk) == resQ(appended))
    // appendShard: the on-artifact form — shard-wise appends to the
    // SAVED index accumulate to the same index as one in-memory append
    // (centroids untouched, assigned = base ∪ shards, identical search)
    val shardPath = java.nio.file.Files.createTempDirectory("graft_ivf_sh").toString
    Ivf.save(index, shardPath)
    Ivf.appendShard(spark, shardPath, twins.filter($"vec_id" % 2 === 1), batchId = 0L)
    Ivf.appendShard(spark, shardPath, twins.filter($"vec_id" % 2 === 0), batchId = 1L)
    val viaShards = Ivf.load(spark, shardPath)
    assert(viaShards.assigned.count() == 410)
    assert(viaShards.centroids.collect().map(_.toString).sorted
      .sameElements(index.centroids.collect().map(_.toString).sorted))
    assert(resQ(viaShards) == resQ(appended))
    // materialize BEFORE the replay below: the replay overwrites shard
    // files, so the pre-replay frame's file listing goes stale by design
    val beforeReplay = viaShards.assigned.select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // EXACTLY-ONCE under micro-batch replay (round-15 verdict #2):
    // Structured Streaming re-runs a failed batch with the SAME batchId;
    // re-calling appendShard with it must leave the loaded index
    // unchanged — same row count, same per-id assignment, same search
    Ivf.appendShard(spark, shardPath, twins.filter($"vec_id" % 2 === 0), batchId = 1L)
    val replayed = Ivf.load(spark, shardPath)
    assert(replayed.assigned.count() == 410, "replayed shard must not duplicate rows")
    assert(replayed.assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == beforeReplay)
    assert(resQ(replayed) == resQ(appended))
    // save() over a sharded load consolidates: shards fold into the base
    // table at the new path and no stale shard dir survives to double-count
    val consolidated = java.nio.file.Files.createTempDirectory("graft_ivf_cn").toString
    Ivf.save(replayed, consolidated)
    assert(Ivf.load(spark, consolidated).assigned.count() == 410)
    assert(!new java.io.File(s"$consolidated/ivf_shards").exists())
    // crash residue under ivf_shards (round-16 advice): a killed
    // appendShard leaves a _temporary dir; load must ignore it instead
    // of handing it to the parquet reader (schema inference fails and
    // the whole artifact becomes unloadable until the batch replays)
    new java.io.File(s"$shardPath/ivf_shards/_temporary/0").mkdirs()
    val withResidue = Ivf.load(spark, shardPath)
    assert(withResidue.assigned.count() == 410)
    assert(resQ(withResidue) == resQ(appended))
    // residue as the ONLY entry: committed-shard set is empty → base only
    val residueOnly = java.nio.file.Files.createTempDirectory("graft_ivf_res").toString
    Ivf.save(index, residueOnly)
    new java.io.File(s"$residueOnly/ivf_shards/_temporary/0").mkdirs()
    assert(Ivf.load(spark, residueOnly).assigned.count() == 400)
  }

  test("delta assignment is map-only: appended frame plans with zero exchanges") {
    val index = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val twins = clustered.filter($"vec_id" < 20)
      .select(($"vec_id" + 20000L).as("vec_id"), $"embedding")
    val ap = Ivf.append(index, twins).assigned
    ap.collect()
    val exchanges = ap.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"frozen-quantizer delta assignment must stay map-side (the 100 TB " +
        s"refresh-job contract), found ${exchanges.size} exchange(s):\n" +
        ap.queryExecution.executedPlan)
  }

  test("index assignment is total and deterministic") {
    val i1 = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    val i2 = Ivf.build(clustered, "vec_id", "embedding", nLists = 4)
    assert(i1.assigned.count() == 400)
    val a1 = i1.assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = i2.assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)
  }
}
