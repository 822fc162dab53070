package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.types._
import graft.{GraftConfig, SparkSpec}

class IoProfilerConfigSpec extends SparkSpec {
  import spark.implicits._

  test("CSV roundtrip with explicit schema (S1/S2)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "score")
    Io.writeCsv(df, s"$dir/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = Io.readCsv(spark, s"$dir/out", schema)
    assert(back.count() == 3)
    assert(back.schema == schema)
    assert(back.filter($"name".isNull).count() == 1)
  }

  test("ORC roundtrip preserves schema, values, and nulls (S1/S2)") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "score")
    Io.writeOrc(df, s"$dir/out")
    val back = Io.readOrc(spark, s"$dir/out")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq(("id", LongType), ("name", StringType), ("score", DoubleType)))
    // bit-faithful value round trip, including the null cell
    val rows = back.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, Some("a"), 1.5), (2L, Some("b"), 2.5),
      (3L, None, 3.5)))
  }

  test("partitioned parquet sink prunes on partition key (S2)") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "part")
    Io.writeParquet(df, s"$dir/out", partitionBy = Seq("part"))
    val back = Io.readParquet(spark, s"$dir/out").filter($"part" === "x")
    assert(back.count() == 2)
    val plan = back.queryExecution.executedPlan.toString
    // the predicate lands in PartitionFilters (directory pruning), not a
    // post-scan Filter node
    assert(plan.contains("PartitionFilters: [isnotnull(part") && plan.contains("= x)"), plan)
  }

  test("Profiler.summary: one-pass shape + null counts (S6)") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, None)).toDF("id", "name")
    val r = Profiler.summary(df).collect()(0)
    assert(r.getAs[Long]("n_rows") == 3 && r.getAs[Long]("n_cols") == 2)
    assert(r.getAs[Long]("null_name") == 2 && r.getAs[Long]("null_id") == 0)
    assert(math.abs(r.getAs[Double]("null_fraction") - 2.0 / 6) < 1e-12)
  }

  test("Profiler dtype classification (P3)") {
    val df = Seq((1L, "a", 1.5)).toDF("id", "name", "score")
    assert(Profiler.numericColumns(df) == Seq("id", "score"))
    assert(Profiler.stringColumns(df) == Seq("name"))
  }

  test("GraftConfig: defaults + properties override (S4)") {
    assert(GraftConfig().fraudThreshold == 0.6)
    val f = Files.createTempFile("graft", ".properties")
    Files.writeString(f,
      "risk.fraudThreshold=0.7\nfeatures.lookbackDays=2,14\nseq.length=20\n")
    val c = GraftConfig.fromProperties(f.toString)
    assert(c.fraudThreshold == 0.7)
    assert(c.lookbackDays == Seq(2, 14))
    assert(c.seqLength == 20)
    assert(c.blendModelWeight == 0.4) // untouched default
  }
}
