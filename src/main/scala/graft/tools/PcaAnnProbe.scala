package graft.tools
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Pca, Embeddings}
object PcaAnnProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    for (dir <- args) {
      val e0 = Tables.embeddings(spark, dir)
      val e = e0.select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 8 THEN x * CAST(3.5 AS FLOAT) ELSE x * CAST(0.5 AS FLOAT) END)").as("embedding"))
      val q = e.filter(col("vec_id") < 20)
      val m = Pca.fit(e, "embedding", 64)
      println(s"$dir eig head: " + m.eigenvalues.take(10).map(x => f"$x%.4f").mkString(","))
      def proj8(df: org.apache.spark.sql.DataFrame) =
        Pca.transform(df, "vec_id", "embedding", m, k = 8)
          .select(col("vec_id"), expr("transform(proj, x -> CAST(x AS FLOAT))").as("embedding"))
      val cand = Embeddings.cosineTopK(proj8(q), proj8(e), "vec_id", "vec_id", "embedding", k = 50)
      val rr = cand.select(col("query_id"), col("neighbor_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), "neighbor_id")
        .join(broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))), "query_id")
        .withColumn("sim", round(Embeddings.cosine(col("qv"), col("cv")) * 1e6) / 1e6)
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("sim"), col("neighbor_id"))))
        .filter(col("rn") <= 5)
      val exact = Embeddings.cosineTopK(q, e, "vec_id", "vec_id", "embedding", k = 5)
      val hits = exact.join(rr.select(col("query_id"), col("neighbor_id"), lit(1).as("h")),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("h")).as("n_hits")).head()
      println(s"$dir recall@5 = ${hits.getLong(1).toDouble / hits.getLong(0)} (${hits.getLong(1)}/${hits.getLong(0)})")
    }
    spark.stop()
  }
}
