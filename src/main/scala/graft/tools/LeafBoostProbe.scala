package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only scale evidence for LeafBoost's DISTRIBUTED histogram branch
  * (round 11): the driver-local route covers the reference's regime;
  * this measures the map-side-partial-histogram path on a corpus-scale
  * frame (sf1 lineitem ≈ 6M rows — 750× the q134 demo), where the
  * per-pass cost is one scan producing a bounded D×B×3 long array per
  * partition. Reports wall per tree and per histogram pass, plus the
  * (deterministic) trained structure so reruns can assert stability.
  *
  * Usage: runMain graft.tools.LeafBoostProbe [sfDir] [numTrees] [numLeaves]
  */
object LeafBoostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val numTrees = args.lift(1).map(_.toInt).getOrElse(8)
    val numLeaves = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.Session.local()

    // synthetic-but-learnable target over real corpus-scale columns:
    // label = (discounted price above a quantity-dependent line)
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("id"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_quantity").cast("double").as("qty"),
        col("l_discount").cast("double").as("disc"),
        ((col("l_extendedprice") * (lit(1) - col("l_discount"))) >
          col("l_quantity") * 1200).cast("double").as("label"))
      .withColumn("weight", lit(1.0))
    val n = li.count()

    val p = graft.ml.LeafBoost.Params(numTrees = numTrees,
      numLeaves = numLeaves, learningRate = 0.2,
      localThreshold = 0) // force the distributed branch
    val t0 = System.nanoTime()
    val m = graft.ml.LeafBoost.train(li, None, "id",
      Seq("price", "qty", "disc"), "label", "weight", p)
    val wall = (System.nanoTime() - t0) / 1e9
    val passes = m.trees.map(_.numLeaves).sum // ≈ one scan per split + root
    println(f"LEAFBOOSTPROBE rows=$n trees=${m.trees.length} " +
      f"leaves=${m.trees.map(_.numLeaves).sum} wall=$wall%.1f s " +
      f"s/tree=${wall / m.trees.length}%.2f s/pass=${wall / passes}%.2f " +
      f"top=${m.featureImportance.head._1}")
    spark.stop()
  }
}
