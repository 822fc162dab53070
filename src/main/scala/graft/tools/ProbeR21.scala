package graft.tools

import org.apache.spark.sql.functions._

/** Round-21 optimization probe (guide §1: measure before changing).
  * Modes by arg: `q176` (fixture layout facts), `q74` (exact-arm piece
  * timings over the single-file testdata embeddings scan). Scratch
  * tooling, not part of the driver contract. */
object ProbeR21 {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $name%-46s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val cpus = graft.Session.cpus
    val spark = graft.Session.local()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val which = if (args.isEmpty) Set("q74") else args.toSet

    if (which("q74")) {
      val e = graft.sources.Tables.embeddings(spark, sfDir)
      println(s"[probe] embeddings scan partitions: ${e.rdd.getNumPartitions}; " +
        s"rows: ${e.count()}")
      val base = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val planted = base.filter(col("vec_id") < 40)
        .select((col("vec_id") + 200000L).as("vec_id"),
          concat(array(element_at(col("v"), 1) + lit(0.01)),
            slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
      val corpus = base.unionByName(planted)
      def isProbe(c: org.apache.spark.sql.Column) =
        c < 40 || (c >= 200000L && c < 200040L)
      for (rep <- 1 to 2) {
        t(s"q74[$rep] cosineProbePairs (truth)") {
          graft.operators.Embeddings.cosineProbePairs(
            corpus.filter(isProbe(col("vec_id"))), corpus, "vec_id", "v",
            minSim = 0.9).write.format("noop").mode("overwrite").save()
        }
        t(s"q74[$rep] cosineNearDupPairs (found)") {
          graft.operators.Embeddings.cosineNearDupPairs(corpus, "vec_id", "v",
            minSim = 0.9, nPlanes = 12, nTables = 8, dim = 64)
            .write.format("noop").mode("overwrite").save()
        }
        t(s"q74[$rep] full query") {
          graft.SparkEntry.queries("q74_cosine_neardup")(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
      }
      // widened corpus variant: does scan parallelism move the needle?
      val corpusWide = corpus.repartition(cpus)
      for (rep <- 1 to 2) {
        t(s"q74[$rep] cosineNearDupPairs over repartition($cpus)") {
          graft.operators.Embeddings.cosineNearDupPairs(corpusWide, "vec_id", "v",
            minSim = 0.9, nPlanes = 12, nTables = 8, dim = 64)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    if (which("text")) {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      println(s"[probe] documents scan partitions: ${docs.rdd.getNumPartitions}; " +
        s"rows: ${docs.count()}")
      def jac(d: org.apache.spark.sql.DataFrame) =
        graft.operators.TextOps.jaccardPairs(d, "doc_id", "text", "source",
          threshold = 0.30)
      def mh(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Dedup.minHashCandidatePairs(d, "doc_id", "text",
          shingleLen = 3, k = 32, bands = 16)
      for (rep <- 1 to 2) {
        t(s"text[$rep] jaccardPairs (q53 core)") {
          jac(docs).write.format("noop").mode("overwrite").save()
        }
        t(s"text[$rep] jaccardPairs over repartition($cpus)") {
          jac(docs.repartition(cpus)).write.format("noop").mode("overwrite").save()
        }
        t(s"text[$rep] minHashCandidatePairs (q54 half)") {
          mh(docs).write.format("noop").mode("overwrite").save()
        }
        t(s"text[$rep] minHashCandidatePairs over repartition($cpus)") {
          mh(docs.repartition(cpus)).write.format("noop").mode("overwrite").save()
        }
      }
    }

    if (which("registry")) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        })
      val e = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < 2000)
      val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
      val enc = graft.operators.Pq.encode(
        e.select("vec_id", "embedding"), "embedding", cb).cache()
      enc.count()
      def countJobs[A](name: String)(f: => A): Unit = {
        Thread.sleep(200); val j0 = jobs.get(); val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        println(f"[probe] $name%-46s $dt%8.3f s, ${jobs.get() - j0} jobs")
      }
      for (rep <- 1 to 2) {
        val reg = java.nio.file.Files.createTempDirectory("probe_reg").toString
        countJobs(s"registry[$rep] registerPq (codes cached)") {
          graft.serve.ModelRegistry.registerPq(spark, reg, "m", cb, Some(enc))
        }
        countJobs(s"registry[$rep] registerPq v2") {
          graft.serve.ModelRegistry.registerPq(spark, reg, "m", cb, Some(enc))
        }
        countJobs(s"registry[$rep] deleteIds x5") {
          for (i <- 1 to 5)
            graft.serve.ModelRegistry.deleteIds(spark, reg, "m", Seq(1L, 2L, 3L))
        }
        countJobs(s"registry[$rep] prune(keepLast=1)") {
          graft.serve.ModelRegistry.prune(spark, reg, "m", 1)
        }
      }
      enc.unpersist()
    }

    if (which("widen")) {
      val d = graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"))
      for (rep <- 1 to 3) {
        t(s"widen[$rep] Widen() construction only") {
          graft.operators.Widen(d)
        }
        t(s"widen[$rep] .rdd.getNumPartitions only") {
          d.rdd.getNumPartitions
        }
        t(s"widen[$rep] plain repartition construction") {
          d.repartition(cpus)
        }
      }
    }

    if (which("q131")) {
      import spark.implicits._
      val fn = graft.SparkEntry.queries("q131_media_decode")
      for (rep <- 1 to 3)
        t(s"q131[$rep] full query (as registered)") {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      // widened variant: the encode mapPartitions over 32 partitions
      val ids = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id")).repartition(cpus).as[Long]
      val media = ids.mapPartitions { it =>
        it.map { id =>
          if (id % 2 == 0) {
            val w = (id % 16 + 8).toInt; val h = (id % 12 + 8).toInt
            val blob = graft.operators.Multimodal.encodePng(w, h, (id % 200).toInt,
              ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
            (id, "png", blob, blob.length.toLong)
          } else {
            val n = (id % 500 + 100).toInt
            val a = ((id % 100 + 1) * 100).toInt
            val samples = Array.tabulate(n)(i => (if (i % 2 == 0) a else -a).toShort)
            val blob = graft.operators.Multimodal.encodeWavPcm16(samples,
              (8000 + (id % 8) * 4000).toFloat)
            (id, "wav", blob, blob.length.toLong)
          }
        }
      }.toDF("media_id", "kind", "blob", "n_bytes")
      for (rep <- 1 to 3)
        t(s"q131[$rep] widened encode+extract (id-only select)") {
          graft.operators.Multimodal.extractFeatures(media, dim = 8)
            .select(col("media_id")).write.format("noop").mode("overwrite").save()
        }
      // the registered query's FULL output shape over the widened ids
      for (rep <- 1 to 3)
        t(s"q131[$rep] widened FULL shape (+qz means +orderBy)") {
          graft.operators.Multimodal.extractFeatures(media, dim = 8)
            .select(col("media_id"), col("kind"),
              element_at(col("features"), 1).cast("long").as("f1"),
              element_at(col("features"), 2).cast("long").as("f2"),
              graft.queries.Util.qz(element_at(col("features"), 3).cast("double"), 4).as("mean1"),
              graft.queries.Util.qz(element_at(col("features"), 4).cast("double"), 4).as("mean2"),
              graft.queries.Util.qz(element_at(col("features"), 5).cast("double"), 4).as("mean3"))
            .orderBy("media_id")
            .write.format("noop").mode("overwrite").save()
        }
      // same full shape, narrow (the pre-round layout)
      val idsN = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id")).as[Long]
      val mediaN = idsN.mapPartitions { it =>
        it.map { id =>
          if (id % 2 == 0) {
            val w = (id % 16 + 8).toInt; val h = (id % 12 + 8).toInt
            val blob = graft.operators.Multimodal.encodePng(w, h, (id % 200).toInt,
              ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
            (id, "png", blob, blob.length.toLong)
          } else {
            val n = (id % 500 + 100).toInt
            val a = ((id % 100 + 1) * 100).toInt
            val samples = Array.tabulate(n)(i => (if (i % 2 == 0) a else -a).toShort)
            val blob = graft.operators.Multimodal.encodeWavPcm16(samples,
              (8000 + (id % 8) * 4000).toFloat)
            (id, "wav", blob, blob.length.toLong)
          }
        }
      }.toDF("media_id", "kind", "blob", "n_bytes")
      for (rep <- 1 to 3)
        t(s"q131[$rep] narrow FULL shape (+qz means +orderBy)") {
          graft.operators.Multimodal.extractFeatures(mediaN, dim = 8)
            .select(col("media_id"), col("kind"),
              element_at(col("features"), 1).cast("long").as("f1"),
              element_at(col("features"), 2).cast("long").as("f2"),
              graft.queries.Util.qz(element_at(col("features"), 3).cast("double"), 4).as("mean1"),
              graft.queries.Util.qz(element_at(col("features"), 4).cast("double"), 4).as("mean2"),
              graft.queries.Util.qz(element_at(col("features"), 5).cast("double"), 4).as("mean3"))
            .orderBy("media_id")
            .write.format("noop").mode("overwrite").save()
        }
    }

    if (which("q186")) {
      // steady-state decomposition of the compaction gate: reps 2+ pay
      // only load + the four exhaustive arms (the fixture memoizes)
      for (rep <- 1 to 3)
        t(s"q186[$rep] full query") {
          graft.SparkEntry.queries("q186_ann_compact")(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
      // piece timings on a fixture of the same shape (separate registry
      // so the memo above stays untouched)
      import graft.sources.Tables
      val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 3000).cache()
      val reg = java.nio.file.Files.createTempDirectory("probe186_").toString
      t("build+register 4 families") {
        graft.serve.ModelRegistry.registerIvf(spark, reg, "p_ivf",
          graft.operators.Ivf.build(e, "vec_id", "embedding", nLists = 16))
        val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
        graft.serve.ModelRegistry.registerPq(spark, reg, "p_pq", cb,
          Some(graft.operators.Pq.encode(e.select("vec_id", "embedding"), "embedding", cb)))
        val qz = graft.operators.Sq.train(e, "embedding", dim = 64)
        graft.serve.ModelRegistry.registerSq(spark, reg, "p_sq8", qz,
          Some(graft.operators.Sq.encode(e.select("vec_id", "embedding"), "embedding", qz)))
        graft.serve.ModelRegistry.registerHnsw(spark, reg, "p_hnsw",
          graft.operators.Hnsw.fromDataFrame(e, "vec_id", "embedding",
            m = 16, efConstruction = 100))
      }
      val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
        .sortBy(_._1).toSeq
      for (rep <- 1 to 2) {
        val idxs = Seq("p_ivf", "p_pq", "p_sq8", "p_hnsw").map(n =>
          t(s"load[$rep] $n") { graft.serve.LocalAnn.load(spark, reg, n) })
        idxs.foreach { idx =>
          t(s"armOf[$rep] ${idx.name} (20q, shortlist=size)") {
            queries.flatMap { case (qid, v) =>
              graft.serve.LocalAnn.search(idx, qid, v,
                shortlist = idx.size, topK = 5).map(h => (qid, h.neighborId, h.sim))
            }.sortBy(t => (t._1, t._2))
          }
        }
      }
      for (rep <- 1 to 2) {
        Seq("p_ivf", "p_pq", "p_sq8", "p_hnsw").foreach { n =>
          t(s"loadDeletedIds[$rep] $n") {
            graft.serve.ModelRegistry.loadDeletedIds(spark, reg, n)
          }
        }
        t(s"list+versionOk[$rep]") {
          graft.serve.ModelRegistry.list(spark, reg)
            .groupBy("name").agg(countDistinct("version").as("nv"))
            .filter(col("nv") =!= 1).isEmpty
        }
      }
      // post-compact shape: tombstone + compact each family, then re-time
      val doomed = graft.operators.Embeddings
        .cosineTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "vec_id", "embedding", k = 1)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSeq
      Seq("p_ivf", "p_pq", "p_sq8", "p_hnsw").foreach { n =>
        t(s"deleteIds $n") {
          graft.serve.ModelRegistry.deleteIds(spark, reg, n, doomed) }
        t(s"compact $n") {
          graft.serve.ModelRegistry.compact(spark, reg, n) }
      }
      for (rep <- 1 to 2) {
        Seq("p_ivf", "p_pq", "p_sq8", "p_hnsw").foreach { n =>
          t(s"postcompact load[$rep] $n") {
            graft.serve.LocalAnn.load(spark, reg, n)
          }
        }
        t(s"postcompact queries collect[$rep]") {
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20)
            .select(col("vec_id"), col("embedding")).collect()
        }
      }
      for (rep <- 1 to 3) {
        t(s"raw metaRaw-read[$rep] (12-file _registry)") {
          graft.sources.DriverParquet.readRows(spark, s"$reg/_registry",
            Seq("name", "version", "metric"))
        }
        t(s"raw assigned-read[$rep] (1-file ivf_assigned v2)") {
          graft.sources.DriverParquet.readRows(spark, s"$reg/p_ivf/v2/ivf_assigned")
        }
        t(s"raw meta-read[$rep] (1-file ivf_meta v2)") {
          graft.sources.DriverParquet.readRows(spark, s"$reg/p_ivf/v2/ivf_meta")
        }
      }
      e.unpersist()
    }

    spark.stop()
  }
}
