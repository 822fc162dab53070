package graft


/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR — k=3 back-to-back runs per query, median of record,
  * min alongside — and prints ONE bare JSON line (build.sbt routes forked
  * run output straight to stdout so no sbt prefix breaks the parse).
  *
  * Each query is materialized through the `noop` sink — unlike count(),
  * noop consumes every output column, so Catalyst can't prune away the
  * expressions under test (a count() over a window query would skip the
  * windows entirely).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local()
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM/codegen warm-up

    // optional local-iteration filter: `runMain graft.Bench q62 q58` times
    // only queries whose name starts with one of the given prefixes
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.exists(n.startsWith) }

    // MLlib JIT warm-up: the first GBT/MLP fit in a JVM pays ~2.5 s of
    // interpreter/JIT cost in the tree-aggregation and LBFGS paths —
    // compile them on a 256-row toy BEFORE the timed loop (standard
    // benchmark hygiene; the training queries then measure the
    // algorithms, not HotSpot). Skipped when the selection holds no
    // training query — filtered non-ML iterations shouldn't pay it.
    if (selected.keys.exists(n => n.startsWith("q70") || n.startsWith("q71"))) {
      import org.apache.spark.sql.functions._
      val toy = graft.sources.SyntheticData.transactions(spark, 256L)
        .withColumn("label", col("is_fraud"))
        .withColumn("class_weight", lit(1.0)).coalesce(1).cache()
      graft.ml.FraudModel.gbtPipeline(Seq("v1", "v2"), "label",
        maxIter = 2, maxDepth = 2).fit(toy)
      val vec = toy.withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(array(col("v1"), col("v2"))))
      graft.ml.FraudModel.sequenceMlpPipeline(len = 2, dim = 1,
        hidden = Seq(2), labelCol = "label", maxIter = 3).fit(vec)
      toy.unpersist
    }

    // k runs per query; the MEDIAN is the number of record and the MIN
    // rides along. Rationale (VERDICT r5): with a single run, JIT/host
    // contention swung identical binaries 2-6x between rounds
    // (q70 15.1->4.8 s, q72 3.9->9.3 s r4 vs r5) — larger than any real
    // effect being measured. Reps are INTERLEAVED round-robin across the
    // battery (q01..qN, q01..qN, ... — round-12 verdict #6): with
    // back-to-back reps a transient host spike owned all k reps of one
    // query and its median (four driver queries read 2-13× while
    // byte-identical code measured flat locally); round-robin puts the
    // same spike on at most ONE rep of any query, and the median shrugs
    // it off. JIT/codegen warmth still carries: each query's compiled
    // plan and memoized internals persist across sweeps.
    val k = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt)
    // SPARK_GRAFT_BENCH_MODE=warm (round-13 verdict #7): run each
    // query's k reps BACK-TO-BACK (the pre-r13 methodology) so in-
    // process memos, persisted frames, and the PQ code cache stay hot
    // across reps — the steady-state-SERVICE number. The default
    // (interleaved round-robin, the r13 de-bias) separates reps by the
    // whole battery + sweep, so the median is a COLD execution — the
    // batch-job number. The two answer different capacity questions;
    // the driver record stays interleaved.
    val warm = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("warm")
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val ordered = selected.toSeq.sortBy(_._1)
    val reps = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def runRep(name: String, fn: graft.queries.Util.Q): Unit = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      reps(name) = reps(name) :+ (System.nanoTime() - t0) / 1e9
      // per-query session hygiene (round-10 verdict #8): cached frames
      // left behind would shade every later query's timing with storage
      // + GC pressure — sweep them and NAME the query so residue is
      // visible, not a silent battery artifact. Some residue is
      // intentional (Pq's LRU code cache self-heals on next use; CC's
      // checkpoint blocks back their result until read) — the sweep
      // neutralizes those too, by design: between queries NOTHING
      // carries over.
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        System.err.println(s"[bench] $name left ${leaked.size} cached RDD(s) — sweeping")
        spark.catalog.clearCache()
        // blocking=true: the sweep runs outside the timed region, and a
        // non-blocking unpersist could leave block removal in flight
        // during the next query's first timed rep — the exact residue
        // the sweep exists to eliminate
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
    }
    if (warm) ordered.foreach { case (name, fn) => for (_ <- 1 to k) runRep(name, fn) }
    else for (_ <- 1 to k) ordered.foreach { case (name, fn) => runRep(name, fn) }
    val results = ordered.map { case (name, _) =>
      val times = reps(name).sorted
      (name, times(times.size / 2), times.head) // (query, median, min)
    }
    // Record rendering moved to BenchRecord (round-14 verdict #1: the
    // 156-query 2-decimal record hit 1,945 B and head-truncated out of
    // the driver's ~2,000-byte tail window; the old >1950 warning sat
    // ABOVE the real ~1,925 B ceiling and never fired). BenchRecord
    // degrades 2dp → 1dp → summary-only under a HARD 1,900 B bound and
    // is unit-tested at 200 queries (BenchRecordSpec).
    // environment stays INSIDE the record (compact keys) so BASELINE.md
    // can quote one line verbatim and local/driver numbers can't drift.
    // Round 21: the INLINE env drops jvm/gb/nq (diagnostics, not
    // comparison keys) to buy the bytes that keep tier B2.5's 1-decimal
    // map under the 1,900 B bound at 187 queries; the FULL env still
    // rides BENCH_DETAIL.json, so nothing is lost, only relocated.
    val mode = if (warm) "warm" else "cold"
    val envInline = s"""{"cpus":$cpus,"k":$k,"mode":"$mode"}"""
    val envFull = {
      val jvm = System.getProperty("java.version")
      val mem = Runtime.getRuntime.maxMemory() / (1024 * 1024 * 1024)
      s"""{"cpus":$cpus,"jvm":"$jvm","gb":$mem,"nq":${results.size},"k":$k,"mode":"$mode"}"""
    }
    // sf as the basename — "/root/testdata/sf0.1" → "sf0.1" (the full
    // path spent 15 B of the tail budget on a constant prefix)
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val names = results.map { case (n, med, mn) => f"$n=$med%.3f/$mn%.3f" }.mkString(" ")
    println(s"[bench-names med/min k=$k] $names")
    // full-precision companion file: per-query med AND min under FULL
    // names — the per-query numbers survive even the summary-only tier.
    // Written TWICE (round-20 verdict "what's wrong" #1b): the stable
    // name for tooling/judging, plus a per-core-count name so a later
    // run at a different SPARK_GRAFT_CPUS (the driver's scaling pass)
    // doesn't clobber the main run's full-precision record.
    val detail = BenchRecord.detailJson(results, failed.toSeq, k, envFull, sfShort)
    Seq("BENCH_DETAIL.json", s"BENCH_DETAIL_c$cpus.json").foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (detail + "\n").getBytes("UTF-8"))
    }
    // stop() BEFORE the record: Spark shutdown can log lines of its own,
    // and anything printed after the record eats into the driver's
    // ~2000-byte tail window
    spark.stop()
    println(BenchRecord.render(results.map { case (n, med, _) => (n, med) },
      failed.toSeq, envInline, sfShort))
  }
}
