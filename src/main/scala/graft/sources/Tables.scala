package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the harness star schema (TESTDATA.md).
  *
  * One parquet file per table; schemas are fixed by the driver so we read
  * them as-is (Parquet self-describes; Catalyst prunes columns and pushes
  * predicates into the scan). At cluster scale the same loaders work on a
  * directory of many files — nothing here assumes a single file.
  *
  * Schema inference is a one-task Spark job per `spark.read.parquet`, and
  * a features pass reads the same tables over and over, so the inferred
  * schema is kept per table version and the read is given it
  * (`.schema(s)`, no job). A version is the path, each leaf file's
  * (path, length, mtime) and the session's explicitly set
  * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` values (the confs
  * that change what inference returns, e.g. nanosAsLong in [[events]]);
  * a rewritten file or a changed conf infers again.
  */
object Tables {
  private type Files = Seq[(String, Long, Long)]
  private val schemas = new ConcurrentHashMap[(String, Seq[(String, String)]), (Files, StructType)]()

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = leafFiles(spark, path)
    if (files.isEmpty) return spark.read.parquet(path) // let Spark report a missing table
    val key = (path, spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted)
    val schema = schemas.get(key) match {
      case (fs, s) if fs == files => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemas.put(key, (files, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Every file under `path` (itself when it is a file), sorted. */
  private def leafFiles(spark: SparkSession, path: String): Files = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
  /** Normalize an event-time column to proper TIMESTAMP no matter how
    * the writer encoded it — the driver testdata has shipped `events.ts`
    * in two physical forms across rounds:
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *    with the legacy nanos-as-long conf it arrives as LongType nanos,
    *    floored to µs here (the same ns→µs floor DuckDB applies);
    *  - parquet timestamp[us] with isAdjustedToUTC=false: Spark ≥3.4
    *    infers TIMESTAMP_NTZ. Every graft session pins the UTC session
    *    timezone, so `cast(ntz as timestamp)` reinterprets the wall
    *    clock as UTC — the exact epoch micros DuckDB's naive TIMESTAMP
    *    read yields for the same file.
    * Either way downstream code sees one type (TimestampType, UTC), and
    * `unix_micros`/`window()`/`getTimestamp` all keep working when the
    * driver regenerates the data in the other encoding. */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema.find(_.name == c).map(_.dataType) match {
      case Some(LongType)         => df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      case Some(TimestampNTZType) => df.withColumn(c, col(c).cast(TimestampType))
      case _                      => df
    }

  /** The nanos-as-long conf is save/restored around the read, not left
    * set (round-8 leak fix): the parquet relation captures its hadoop
    * conf when `spark.read.parquet` builds it, so later actions on the
    * returned lazy frame don't need the session conf anymore (probed
    * empirically: count/collect succeed after an unset), while a leaked
    * `true` would make any OTHER nanos-parquet read silently see longs.
    * It is a no-op for the µs-NTZ encoding. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // getAll holds only explicitly set values; getOption would turn an
    // unset key into an explicit default and change the schema memo key
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "true")
    try normalizeTs(read(spark, dir, "events"))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Register every harness table as a temp view, giving the engine a
    * SQL front-end: the ANSI-portable part of the oracle corpus runs
    * verbatim through `spark.sql` (SqlSurfaceSpec asserts identical
    * results to the DataFrame forms). */
  def registerViews(spark: SparkSession, dir: String): Unit = Seq(
    "lineitem" -> lineitem _, "orders" -> orders _, "customer" -> customer _,
    "supplier" -> supplier _, "part" -> part _, "nation" -> nation _,
    "region" -> region _, "events" -> events _, "documents" -> documents _,
    "embeddings" -> embeddings _
  ).foreach { case (n, f) => f(spark, dir).createOrReplaceTempView(n) }
}
