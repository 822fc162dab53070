package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum => ssum}

import graft.functions.{BloomSketch, NativeVector}

/** The extensions-built session resolves the native expressions as SQL
  * functions, and each SQL call equals the Column helper the operators
  * use on the same rows. A fresh SparkSession is built over the shared
  * SparkContext (default/active cleared first — getOrCreate would
  * otherwise return the existing session and skip the extensions). */
class GraftExtensionsSpec extends SparkSpec {

  private lazy val ext: SparkSession = {
    val base = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Rows of `sqlForm` (over view `t`) and of `colForm` (over `df`), keyed
    * by `id` — the two routes must agree row for row. */
  private def assertSameRows(df: DataFrame, sqlForm: String,
                             colForm: DataFrame => DataFrame): Unit = {
    df.createOrReplaceTempView("t")
    def rows(d: DataFrame): Seq[Row] = d.orderBy("id").collect().toSeq
    val viaSql = rows(ext.sql(s"SELECT id, $sqlForm FROM t"))
    assert(viaSql.nonEmpty)
    assert(viaSql == rows(colForm(df)))
  }

  test("spark.sql.extensions registers float_dot/sorted_long_intersect/simhash32/bloom_might_contain") {
    val r = ext.sql(
      """SELECT
        | float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |           array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        | sorted_long_intersect(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS i""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)

    // SQL and Column helpers on the same rows
    val vecs = ext.range(200).selectExpr("id",
      "transform(sequence(0, 15), j -> CAST(sin(id * 7 + j) AS FLOAT)) AS a",
      "transform(sequence(0, 15), j -> CAST(cos(id * 3 - j) AS FLOAT)) AS b",
      "array_sort(array_distinct(transform(sequence(0, 9), j -> (id * j) % 17))) AS la",
      "array_sort(array_distinct(transform(sequence(0, 9), j -> (id + j * j) % 13))) AS lb")
    assertSameRows(vecs,
      "float_dot(a, b), sorted_long_intersect(la, lb), simhash32(la)",
      _.select(col("id"), NativeVector.dot(col("a"), col("b")),
        NativeVector.sortedIntersect(col("la"), col("lb")),
        NativeVector.simhash32(col("la"))))

    // bloom_might_contain: SQL over the hex literal equals the helper
    val members = ext.range(100).selectExpr("id", "md5(concat('m', id)) AS s")
    val bloom = BloomSketch.build(members, "s", 100, 0.01)
    val probes = members.unionByName(
      ext.range(100, 1100).selectExpr("id", "md5(concat('x', id)) AS s"))
    val hex = bloom.map(b => f"${b & 0xff}%02X").mkString
    assertSameRows(probes, s"bloom_might_contain(s, X'$hex')",
      _.select(col("id"), BloomSketch.mightContain(col("s"), bloom)))
    // membership of every inserted value, rejection of disjoint ones —
    // an expression that resolved to constant-true would pass the first
    def accepted(d: DataFrame): Long = d.select(ssum(
      BloomSketch.mightContain(col("s"), bloom).cast("int"))).collect()(0).getLong(0)
    val hits = accepted(members)
    assert(hits == 100L, s"members missed: ${100 - hits}")
    val fp = accepted(probes.filter(col("id") >= 100))
    assert(fp <= 30L, s"non-member acceptance $fp/1000 far above 1% FPP")
  }

  test("token_class_counts through SQL equals the Column helper") {
    val docs = ext.createDataFrame(Seq(
      (1L, "lorem ipsum 42 dolor!"), (2L, ""), (3L, "  a1b2  c3  "),
      (4L, "naïve café 2024, 100%"), (5L, null))).toDF("id", "text")
    assertSameRows(docs, "token_class_counts(text)",
      _.select(col("id"), NativeVector.tokenClassCounts(col("text"))))
  }
}
