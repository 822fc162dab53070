package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[Tables]] infers each table's schema once per file version and reads
  * with it: a repeated read starts no Spark job, a rewritten file is seen,
  * the schema is what `spark.read.parquet` infers, and the nanosAsLong
  * conf stays save/restored on every path. */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "lineitem" -> Tables.lineitem, "orders" -> Tables.orders, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "nation" -> Tables.nation,
    "region" -> Tables.region, "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  /** Spark jobs started by `f`. Listener events arrive in order, so once a
    * marker job's start is seen every earlier job's start has been too. */
  private def jobsStartedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("tables.marker") != null)
          marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setLocalProperty("tables.marker", "1")
      try spark.range(1).collect() finally sc.setLocalProperty("tables.marker", null)
      assert(marker.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  test("a repeated read of an unchanged table starts no Spark job") {
    loaders.foreach { case (_, load) => load(spark, dir) } // infer once
    val n = jobsStartedBy {
      loaders.foreach { case (_, load) => load(spark, dir).schema }
      Tables.registerViews(spark, dir)
    }
    assert(n == 0, s"$n Spark jobs for reads of unchanged tables")
    // the uncached read of the same files does start one (the inference)
    assert(jobsStartedBy(spark.read.parquet(s"$dir/orders.parquet").schema) >= 1)
  }

  test("rewriting a table file at the same path with another schema is seen") {
    val d = Files.createTempDirectory("tables_schema")
    def put(df: DataFrame): Unit = {
      val out = d.resolve("stage").toString
      df.repartition(1).write.mode("overwrite").parquet(out)
      val part = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, d.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq((1L, 2.5), (2L, 3.5)).toDF("o_orderkey", "o_totalprice"))
    val a = Tables.orders(spark, d.toString)
    assert(a.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    assert(a.count() == 2)
    put(Seq(("x", 1, true), ("y", 2, false), ("z", 3, true)).toDF("s", "i", "b"))
    val b = Tables.orders(spark, d.toString)
    assert(b.schema == spark.read.parquet(d.resolve("orders.parquet").toString).schema)
    assert(b.as[(String, Int, Boolean)].collect().sortBy(_._2).toSeq ==
      Seq(("x", 1, true), ("y", 2, false), ("z", 3, true)))
  }

  test("the schema equals spark.read.parquet's for every harness table, cached or not") {
    def plain(name: String): DataFrame =
      if (name != "events") spark.read.parquet(s"$dir/$name.parquet")
      else {
        spark.conf.set(NanosKey, "true")
        try Tables.normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))
        finally spark.conf.unset(NanosKey)
      }
    val before = spark.conf.getOption(NanosKey)
    spark.conf.unset(NanosKey)
    try loaders.foreach { case (name, load) =>
      val want = plain(name).schema
      assert(load(spark, dir).schema == want, name)
      assert(load(spark, dir).schema == want, s"$name, second read")
    } finally before.foreach(spark.conf.set(NanosKey, _))
    assert(Tables.orders(spark, dir).collect().toSeq.map(_.toString).sorted ==
      spark.read.parquet(s"$dir/orders.parquet").collect().toSeq.map(_.toString).sorted)
  }

  test("events leaves nanosAsLong as it found it, on an inferring and a cached read") {
    def explicit = spark.conf.getAll.get(NanosKey)
    val before = explicit
    try {
      Seq(None, Some("false"), Some("true")).foreach { set =>
        set match {
          case Some(v) => spark.conf.set(NanosKey, v)
          case None    => spark.conf.unset(NanosKey)
        }
        val visible = spark.conf.getOption(NanosKey)
        (1 to 2).foreach { _ =>
          assert(Tables.events(spark, dir).count() > 0)
          assert(explicit == set, s"nanosAsLong leaked (was $set)")
          assert(spark.conf.getOption(NanosKey) == visible)
        }
      }
    } finally before match {
      case Some(v) => spark.conf.set(NanosKey, v)
      case None    => spark.conf.unset(NanosKey)
    }
  }
}
