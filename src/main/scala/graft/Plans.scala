package graft

/** Plan-audit main: for each selected query, prints the formatted
  * physical plan (shuffle count, pushdown, broadcast choice, codegen
  * spans — SURVEY.md §4 checklist) followed by its first 20 rows.
  *
  *   runMain graft.Plans [sfDir] [namePrefix...]
  *
  * With no prefixes, five representative queries are shown. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val prefixes = if (args.length > 1) args.toSeq.drop(1)
      else Seq("q02_filter_project", "q20_cum_features", "q11_join_multiway",
        "q13_target_encoding", "q03_topk_users")
    val spark = Session.local()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        val df = fn(spark, dir)
        df.explain("formatted")
        df.show(20, truncate = false)
      }
    spark.stop()
  }
}
