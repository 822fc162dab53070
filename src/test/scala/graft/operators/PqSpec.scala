package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    val rnd = new scala.util.Random(13)
    (0 until 400).map(i => (i.toLong, Array.fill(32)(rnd.nextFloat() - 0.5f)))
      .toDF("vid", "v")
  }

  test("encode: codes in range, deterministic across relayout") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    assert(cb.subDim == 8)
    val enc = Pq.encode(vecs, "v", cb)
    assert(enc.filter(exists(col("codes"),
      c => c < 0 || c >= 16)).isEmpty)
    assert(enc.filter(size(col("codes")) =!= 4).isEmpty)
    // pure map-side function of the vector: an adversarial repartition
    // must not change a single code
    val enc2 = Pq.encode(vecs.repartition(13, $"vid" % 3), "v", cb)
      .withColumnRenamed("codes", "codes2").drop("v")
    assert(enc.join(enc2, "vid").filter($"codes" =!= $"codes2").isEmpty)
  }

  test("native pq_encode is bit-identical to the replaced expression " +
    "composition (values, first-max ties, parked nulls)") {
    // the round-16 native encode swap is only legal if the codes are
    // byte-for-byte what the old transform/array_max/array_position
    // composition produced — rebuild that composition here verbatim as
    // the reference and diff whole frames, including a parked row
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val withBad = vecs.unionByName(
      Seq((9000L, Array.fill(32)(Float.NaN))).toDF("vid", "v"))
    val native = Pq.encode(withBad, "v", cb)
      .select($"vid", $"codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Any]](1)).toMap
    // reference: the pre-round-16 expression, inlined (unitize parks
    // non-finite exactly as encode's staged column did)
    val norm = sqrt(graft.functions.NativeVector.dot(col("v"), col("v")))
    val unit = when(!isnan(norm) && norm =!= lit(Double.PositiveInfinity) && norm > 0,
      transform(col("v"), x => (x.cast("double") / norm).cast("float")))
      .otherwise(when(norm === 0, col("v")))
    val codeCols = (0 until cb.m).map { j =>
      val sub = slice(col("__unit"), j * cb.subDim + 1, cb.subDim)
      val scores = typedLit(cb.centers(j).map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
        (c.toSeq, s / 2.0)
      }.toSeq).cast("array<struct<c:array<float>,h:double>>")
      val perCenter = transform(scores,
        s => graft.functions.NativeVector.dot(sub, s.getField("c")) - s.getField("h"))
      (array_position(perCenter, array_max(perCenter)) - 1).cast("int")
    }
    val reference = withBad.withColumn("__unit", unit)
      .withColumn("codes", array(codeCols: _*))
      .select($"vid", $"codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Any]](1)).toMap
    assert(native.keySet == reference.keySet)
    native.foreach { case (id, cs) =>
      assert(cs == reference(id), s"codes diverge for vid=$id")
    }
    // the parked row is a non-null array of m nulls in BOTH paths
    assert(native(9000L).length == 4 && native(9000L).forall(_ == null))
  }

  test("a codebook center encodes to itself with zero ADC self-distance") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    // synthesize vectors that ARE concatenated centers: code m must pick
    // center j exactly and the query's ADC distance to it must be 0
    val planted = (0 until 16).map { j =>
      (1000L + j, (0 until 4).flatMap(m => cb.centers(m)(j)).toArray)
    }.toDF("vid", "v")
    val enc = Pq.encode(planted, "v", cb)
    // centers are not unit vectors; encode unitizes first, so the
    // argmin can differ from j — instead assert the INVARIANT that the
    // chosen code is the argmin (ADC self-distance <= distance to the
    // planted center's own code), via the search path: the nearest
    // reranked neighbor of any planted vector is itself.
    val self = Pq.searchReranked(enc, "vid", "v", cb, planted, "vid", "v",
      shortlist = 16, topK = 1)
    assert(self.filter($"query_id" =!= $"neighbor_id").isEmpty)
  }

  test("save/load round trip: bit-exact codebooks and codes; reloaded search == fresh search") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_save").toString
    Pq.save(spark, cb, path)
    val back = Pq.load(spark, path)
    assert(back.m == cb.m && back.k == cb.k && back.dim == cb.dim &&
      back.subDim == cb.subDim)
    // every center bit-exact
    assert(back.centers.map(_.map(_.toList).toList).toList ==
      cb.centers.map(_.map(_.toList).toList).toList)
    // codes round trip and the RELOADED (codes, codebooks) pair
    // searches bit-identically to the fresh pair
    val enc = Pq.encode(vecs, "v", cb)
    Pq.saveCodes(enc, path)
    val encBack = Pq.loadCodes(spark, path)
    assert(enc.select("vid", "codes").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]](1).toList).toMap ==
      encBack.select("vid", "codes").collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]](1).toList).toMap)
    val q = vecs.filter($"vid" < 10)
    def res(e: org.apache.spark.sql.DataFrame, c: Pq.Codebooks) =
      Pq.searchReranked(e, "vid", "v", c, q, "vid", "v",
          shortlist = 16, topK = 3, dropSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(encBack, back) == res(enc, cb))
    // registry integration: family recoverable, codes ride the artifact
    val root = java.nio.file.Files.createTempDirectory("graft_pq_reg").toString
    graft.serve.ModelRegistry.registerPq(spark, root, "codes", cb, Some(enc))
    assert(graft.serve.ModelRegistry.kindOf(spark, root, "codes") == "pq")
    val cbReg = graft.serve.ModelRegistry.loadPq(spark, root, "codes")
    val codesReg = graft.serve.ModelRegistry.loadPqCodes(spark, root, "codes")
    assert(res(codesReg, cbReg) == res(enc, cb))
  }

  test("append shape: delta-encode + union of saved codes == whole-corpus encode, bit for bit") {
    // the PQ half of incremental index maintenance (Ivf.append's twin):
    // encode is a pure per-row map against FROZEN codebooks, so the
    // arriving shard encodes independently and unions with the saved
    // codes — no retrain, no re-encode of the existing corpus
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val old = vecs.filter($"vid" < 300)
    val delta = vecs.filter($"vid" >= 300)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_app").toString
    Pq.saveCodes(Pq.encode(old, "v", cb), path)
    val unioned = Pq.loadCodes(spark, path)
      .unionByName(Pq.encode(delta, "v", cb))
    def codeMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vid", "codes").collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Int]](1).toList)
        .toMap
    assert(codeMap(unioned) == codeMap(Pq.encode(vecs, "v", cb)))
    // and the appended artifact searches identically to the all-at-once one
    val q = vecs.filter($"vid" < 10)
    def res(e: org.apache.spark.sql.DataFrame) =
      Pq.searchReranked(e, "vid", "v", cb, q, "vid", "v",
          shortlist = 16, topK = 3, dropSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res(unioned) == res(Pq.encode(vecs, "v", cb)))
  }

  test("trainDistributed: refined codebooks bit-identical across layouts; recall parity with the local branch") {
    val cbA = Pq.trainDistributed(vecs.repartition(3), "vid", "v", m = 4, k = 16)
    val cbB = Pq.trainDistributed(vecs.repartition(13, $"vid" % 3),
      "vid", "v", m = 4, k = 16)
    // fixed-point reductions: two adversarial layouts, same bits
    assert(cbA.centers.map(_.map(_.toList).toList).toList ==
      cbB.centers.map(_.map(_.toList).toList).toList)
    assert(cbA.m == 4 && cbA.k == 16 && cbA.dim == 32)
    // recall parity at the boundary (sample == corpus here): the ADC
    // shortlist from refined codebooks keeps the true neighbors at
    // least as well as the sample-trained ones
    val cbLocal = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val q = vecs.filter($"vid" < 10)
    val brute = Embeddings.cosineTopK(q, vecs, "vid", "vid", "v", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cb: Pq.Codebooks): Double = {
      val got = Pq.searchReranked(Pq.encode(vecs, "v", cb), "vid", "v", cb,
          q, "vid", "v", shortlist = 40, topK = 3, dropSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size.toDouble / brute.size
    }
    val (rd, rl) = (recall(cbA), recall(cbLocal))
    assert(rd >= rl - 0.05, s"distributed recall $rd < local $rl - 0.05")
  }

  test("full-corpus shortlist + exact rerank reproduces brute force exactly (q63-style machinery proof)") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val enc = Pq.encode(vecs, "v", cb)
    val q = vecs.filter($"vid" < 10)
    val got = Pq.searchReranked(enc, "vid", "v", cb, q, "vid", "v",
        shortlist = 400, topK = 3, dropSelf = true)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    val want = Embeddings.cosineTopK(q, vecs, "vid", "vid", "v", k = 3)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("round-20 searchExhaustive[Filtered] equals the shortlist-at-corpus-" +
    "size forms bit-for-bit (incl. parked-row exclusion)") {
    val withParked = vecs.unionByName(
      Seq((9100L, Array.fill(32)(Float.NaN))).toDF("vid", "v")) // parks
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val enc = Pq.encode(withParked, "v", cb)
    val q = vecs.filter($"vid" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toSeq
    val viaShortlist = rows(Pq.searchReranked(enc, "vid", "v", cb, q,
      "vid", "v", shortlist = 400, topK = 3, dropSelf = true))
    val viaExhaustive = rows(Pq.searchExhaustive(enc, "vid", "v", q,
      "vid", "v", topK = 3, dropSelf = true))
    assert(viaExhaustive == viaShortlist,
      "searchExhaustive must be the searchReranked(shortlist >= corpus) identity")
    val pred = $"vid" % 3 === 0
    val filtShort = rows(Pq.searchRerankedFiltered(enc, pred, "vid", "v", cb,
      q, "vid", "v", shortlist = 400, topK = 3, dropSelf = true))
    val filtExh = rows(Pq.searchExhaustiveFiltered(enc, pred, "vid", "v",
      q, "vid", "v", topK = 3, dropSelf = true))
    assert(filtExh == filtShort,
      "searchExhaustiveFiltered must match the filtered shortlist form")
  }

  test("round-21 searchExhaustive(queryDim) DROPS wrong-width queries " +
    "(the Bq convention; the reranked form throws in qTables, and " +
    "pre-fix the exhaustive form fabricated null-sim rows)") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val enc = Pq.encode(vecs, "v", cb)
    // vid 3 arrives at the wrong width
    val good = vecs.filter($"vid" < 3)
    val q = good.unionByName(
      Seq((3L, Array.fill(7)(0.5f))).toDF("vid", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toSeq
    // the reranked form THROWS (qTables indexes the query by subspace
    // width on the driver) — documented, not an identity
    intercept[Exception](Pq.searchReranked(enc, "vid", "v", cb, q,
      "vid", "v", shortlist = 400, topK = 3, dropSelf = true))
    val viaExhaustive = rows(Pq.searchExhaustive(enc, "vid", "v", q,
      "vid", "v", topK = 3, dropSelf = true, queryDim = Some(cb.dim)))
    assert(!viaExhaustive.exists(_._1 == 3L),
      "searchExhaustive(queryDim) must drop wrong-width queries")
    val viaShortlistGood = rows(Pq.searchReranked(enc, "vid", "v", cb, good,
      "vid", "v", shortlist = 400, topK = 3, dropSelf = true))
    assert(viaExhaustive == viaShortlistGood,
      "well-formed queries must be untouched by the wrong-width drop")
  }

  test("residual IVFPQ, full probes + full shortlist == brute force exactly") {
    val index = Ivf.build(vecs, "vid", "v", nLists = 8)
    val cb = Pq.trainResidual(index, m = 4, k = 16)
    val enc = Pq.encodeResidual(index, cb)
    val q = vecs.filter($"vid" < 10)
    val got = Pq.ivfSearchRerankedResidual(index, cb, enc, q, "vid", "v",
        nProbe = 8, shortlist = 400, topK = 3, dropSelf = true)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    val want = Embeddings.cosineTopK(q, vecs, "vid", "vid", "v", k = 3)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("multiple assignment: top-r cells per vector, primary matches build, search dedups") {
    val index = Ivf.build(vecs, "vid", "v", nLists = 8)
    val ma = Ivf.assignedTopR(index, 2)
    // two DISTINCT cells per finite vector
    val perRow = ma.groupBy("vid")
      .agg(count(lit(1)).as("n"), countDistinct($"centroid_id").as("nd"))
    assert(perRow.filter($"n" =!= 2 || $"nd" =!= 2).isEmpty)
    // build's argmax cell must be AMONG each vector's top-2 cells
    val joined = index.assigned.select($"vid", $"centroid_id".as("built"))
      .join(ma.select($"vid", $"centroid_id"), "vid")
      .groupBy("vid", "built")
      .agg(max(($"centroid_id" === $"built").cast("int")).as("has_built"))
    assert(joined.filter($"has_built" =!= 1).isEmpty)
    // multi-assigned residual search emits each (query, neighbor) once
    val cb = Pq.trainResidual(index, m = 4, k = 16)
    val enc = Pq.encodeResidual(index, cb, rAssign = 2)
    val out = Pq.ivfSearchRerankedResidual(index, cb, enc,
      vecs.filter($"vid" < 10), "vid", "v",
      nProbe = 4, shortlist = 40, topK = 5, dropSelf = true)
    assert(out.groupBy("query_id", "neighbor_id")
      .agg(count(lit(1)).as("n")).filter($"n" > 1).isEmpty)
    // full probes + multi-assign + full shortlist still == brute force
    val got = Pq.ivfSearchRerankedResidual(index, cb, enc,
        vecs.filter($"vid" < 10), "vid", "v",
        nProbe = 8, shortlist = 800, topK = 3, dropSelf = true)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    val want = Embeddings.cosineTopK(vecs.filter($"vid" < 10), vecs,
        "vid", "vid", "v", k = 3)
      .select($"query_id", $"neighbor_id", round($"sim" * 1e9).as("s"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("non-finite vectors are parked with null codes and never ranked") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val poisoned = vecs.unionByName(Seq(
      (9001L, Array.fill(32)(Float.NaN)),
      (9002L, Array.tabulate(32)(i => if (i == 0) Float.PositiveInfinity else 0.1f)))
      .toDF("vid", "v"))
    val enc = Pq.encode(poisoned, "v", cb)
    assert(Pq.invalid(enc).select("vid").as[Long].collect().sorted
      .toSeq == Seq(9001L, 9002L))
    // a NaN row would otherwise rank FIRST (NaN sorts above 1.0 under
    // desc) — parked rows must appear in NO result
    val res = Pq.searchReranked(enc, "vid", "v", cb,
      vecs.filter($"vid" < 5), "vid", "v", shortlist = 500, topK = 3,
      dropSelf = true)
    assert(res.filter($"neighbor_id" >= 9000L).isEmpty)
    assert(res.groupBy("query_id").count().filter($"count" =!= 3).isEmpty)
  }

  test("plan guard: encode is pure map-side (zero exchanges)") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val enc = Pq.encode(vecs, "v", cb)
    enc.collect()
    val exchanges = enc.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, enc.queryExecution.executedPlan.toString)
  }

  test("plan guard: trainer sampling is TakeOrderedAndProject (top-K heap), not a global sort") {
    val s = Samples.hashTopN(vecs, "vid", Seq(col("v")), 64)
    s.collect()
    val plan = s.queryExecution.executedPlan
    val topK = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    val sorts = plan.collect {
      case so: org.apache.spark.sql.execution.SortExec => so
    }
    assert(topK.nonEmpty && sorts.isEmpty,
      s"expected TakeOrderedAndProject with no SortExec:\n$plan")
  }

  test("invalidateCodeCache unpersists cached code frames; next search rebuilds") {
    val cb = Pq.train(vecs, "vid", "v", m = 4, k = 16)
    val enc = Pq.encode(vecs, "v", cb)
    val q = vecs.limit(2).toDF("qid", "qv")
    val r1 = Pq.adcSearch(enc, "vid", cb, q, "qid", "qv", topK = 3).collect()
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "adcSearch should have persisted the code frame")
    Pq.invalidateCodeCache()
    assert(spark.sparkContext.getPersistentRDDs.size < before,
      "invalidate must unpersist the cached code frame")
    val r2 = Pq.adcSearch(enc, "vid", cb, q, "qid", "qv", topK = 3).collect()
    assert(r1.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted),
      "rebuild after invalidation must reproduce the same results")
    Pq.invalidateCodeCache()
  }

  test("localKMeans separates well-separated clusters") {
    val rnd = new scala.util.Random(5)
    val pts = Array.tabulate(300) { i =>
      val base = (i % 3) * 10.0f
      Array.fill(4)(base + rnd.nextFloat() * 0.1f)
    }
    val centers = Pq.localKMeans(pts, 3, maxIter = 20, seed = 1L)
    val found = centers.map(_.head / 10.0f).map(math.round).sorted
    assert(found.toSeq == Seq(0, 1, 2), centers.map(_.mkString(",")).mkString(" | "))
  }
}
