package graft.tools

import org.apache.spark.sql.functions._

import graft.serve.{HttpApi, LocalAnn, ModelRegistry}
import graft.sources.Tables

/** q179 latency decomposition: what does the FLEET layer cost per
  * request? Three arms over the same two-shard PQ artifact —
  * (a) in-process `LocalAnn.searchSharded`, (b) one real HTTP hop to a
  * shard-group server (the q168 shape), (c) two hops through the
  * router (scatter-gather over two upstream servers, the q179 shape).
  * Reports per-request medians over `reps` requests after a warmup.
  * Usage: runMain graft.tools.RouterProbe [sfDir] [reps]
  */
object RouterProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 200
    val spark = graft.Session.local()

    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 50000)
    val cb = graft.operators.Pq.train(e, "vec_id", "embedding", m = 8, k = 64)
    val enc = graft.operators.Pq.encode(
      e.select("vec_id", "embedding"), "embedding", cb).cache()
    val reg = java.nio.file.Files.createTempDirectory("graft_router_probe").toString
    ModelRegistry.registerPq(spark, reg, "s0", cb,
      Some(enc.filter(col("vec_id") % 2 === 0)))
    ModelRegistry.registerPq(spark, reg, "s1", cb,
      Some(enc.filter(col("vec_id") % 2 === 1)))
    enc.unpersist()
    val s0 = LocalAnn.load(spark, reg, "s0")
    val s1 = LocalAnn.load(spark, reg, "s1")
    println(s"[router-probe] corpus ${s0.size + s1.size} vectors, 2 shards, reps=$reps")

    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
      .sortBy(_._1).toSeq

    val up0 = HttpApi.start(annModel = Some(("pq", s0)))
    val up1 = HttpApi.start(annModel = Some(("pq", s1)))
    val group = HttpApi.start(annShards = Seq(("pq", Seq(s0, s1))))
    val router = HttpApi.start(annRoutes = Seq(("pq", Seq(up0.port, up1.port))))
    try {
      def medianUs(arm: String)(f: (Long, Array[Float]) => Unit): Unit = {
        // warmup
        for (_ <- 1 to 50; (qid, v) <- queries.take(4)) f(qid, v)
        val ts = (0 until reps).map { i =>
          val (qid, v) = queries(i % queries.size)
          val t0 = System.nanoTime()
          f(qid, v)
          (System.nanoTime() - t0) / 1000.0
        }.sorted
        println(f"[router-probe] $arm%-22s p50=${ts(reps / 2)}%9.1f us  p99=${ts((reps * 99) / 100)}%9.1f us")
      }
      medianUs("in-process sharded") { (qid, v) =>
        LocalAnn.searchSharded(Seq(s0, s1), qid, v, 50, 5); ()
      }
      medianUs("HTTP shard-group (1 hop)") { (qid, v) =>
        HttpApi.annSearchAt(group.port, Seq(("pq", qid, v, 50)), topK = 5); ()
      }
      medianUs("HTTP via router (2 hops)") { (qid, v) =>
        HttpApi.annSearchAt(router.port, Seq(("pq", qid, v, 50)), topK = 5); ()
      }
    } finally { router.stop(); group.stop(); up1.stop(); up0.stop() }
    spark.stop()
  }
}
