package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up replicator for THROUGHPUT benchmarking only (correctness
  * stays on the driver-generated sf dirs): writes an sf1-shaped copy of
  * the sf0.1 heavy-family tables by replicating each row `copies` times
  * with disjoint key spaces, so partition counts and group cardinalities
  * scale while per-group sizes stay realistic.
  *
  * Replicas are made DISSIMILAR where similarity is the workload:
  * document tokens get a per-replica prefix (replica near-dup structure
  * = 10x the original's, not a 45x-denser artificial one) and embedding
  * components get deterministic per-replica noise — so dedup/ANN queries
  * at sf1 measure 10x the work, not degenerate all-duplicate corpora.
  * Replicas are written as 32 files per table: the single-file layout
  * the driver generator uses is fine at sf0.1 but a one-file table is
  * ONE parquet row group, i.e. ONE scan partition no matter what
  * maxPartitionBytes says — at sf1 that serialized every CPU-bound
  * text/regex query onto one core (q56/q60 looked 11-13x instead of
  * ~10x). Real 100 TB tables arrive as thousands of files; the bench
  * layout should too.
  * Usage: runMain graft.tools.ScaleData [outDir] [copies] [tables]
  * `tables` (optional, comma-separated) restricts the replica to the
  * named tables — the round-16 sf25 ANN scale point replicates ONLY
  * embeddings (250× sf0.1 ≈ 15 M vectors), because a full-table 250×
  * replica would burn tens of GB for queries that read one table.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val src = "/root/testdata/sf0.1"
    val spark = graft.Session.local()

    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__r", explode(sequence(lit(0), lit(copies - 1))))

    // facts replicate with JOIN-CONSISTENT key offsets: one table ->
    // (keyCol -> offset) list, so the invariant (lineitem/orders share
    // the order-key stride, orders/customer the cust-key stride, and
    // lineitem's part/supp keys follow part/supplier) lives in ONE place
    val orderStride = 10000000000L
    val dimStride = 1000000000L
    val factOffsets: Seq[(String, Seq[(String, Long)])] = Seq(
      "lineitem" -> Seq("l_orderkey" -> orderStride,
        "l_partkey" -> dimStride, "l_suppkey" -> dimStride),
      "orders" -> Seq("o_orderkey" -> orderStride, "o_custkey" -> dimStride),
      "customer" -> Seq("c_custkey" -> dimStride),
      "supplier" -> Seq("s_suppkey" -> dimStride),
      "part" -> Seq("p_partkey" -> dimStride))
    factOffsets.filter(t => wanted(t._1)).foreach { case (table, offsets) =>
      offsets.foldLeft(replicate(spark.read.parquet(s"$src/$table.parquet"))) {
        case (df, (key, stride)) =>
          df.withColumn(key, col(key) + col("__r") * stride)
      }.drop("__r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    // fixed-cardinality dims copy as-is (25 nations / 5 regions at any
    // scale factor — replicating them would change join semantics)
    if (wanted("nation")) spark.read.parquet(s"$src/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    if (wanted("region")) spark.read.parquet(s"$src/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")

    // events: 10x the users, same per-user history depth (window
    // partitions scale in COUNT, the realistic axis)
    if (wanted("events")) replicate(graft.sources.Tables.events(spark, src))
      .withColumn("event_id", col("event_id") + col("__r") * 1000000000000L)
      .withColumn("user_id", col("user_id") + col("__r") * 1000000000L)
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // documents: per-replica token prefix keeps replicas fully
    // dissimilar (replica 0 = original); near-dup structure scales 10x
    if (wanted("documents")) replicate(spark.read.parquet(s"$src/documents.parquet"))
      .withColumn("doc_id", col("doc_id") + col("__r") * 10000000L)
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("z"), col("__r"), lit("x$1")))))
      .withColumn("source", concat(col("source"), lit("_"), col("__r")))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: deterministic per-replica noise de-duplicates the
    // geometry (replica 0 = original)
    if (wanted("embeddings")) replicate(spark.read.parquet(s"$src/embeddings.parquet"))
      .withColumn("vec_id", col("vec_id") + col("__r") * 10000000L)
      .withColumn("embedding",
        when(col("__r") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, j) =>
            (x + (pmod(xxhash64(col("vec_id"), col("__r"), j), lit(1000))
              .cast("double") / 1000.0 - 0.5) * 0.2).cast("float"))))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"[scale] wrote ${copies}x sf0.1 replicas to $out")
    spark.stop()
  }
}
