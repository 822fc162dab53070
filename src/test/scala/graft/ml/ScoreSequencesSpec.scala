package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Distributed-scoring contract: park-don't-throw (round-10 advice) —
  * a null or empty sequence cell yields a null p_fraud instead of an
  * executor NPE; valid rows score identically to the driver-side
  * forward pass. */
class ScoreSequencesSpec extends SparkSpec {

  test("null/empty sequence cells park as null p_fraud; valid rows match forwardProb") {
    val m = BiLstm.init(dim = 1, hidden = 3, attDim = 2, seed = 4L)
    val seqType = ArrayType(ArrayType(DoubleType, false), true)
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("seq", seqType, true)))
    val good = Seq(Seq(1.0), Seq(2.0), Seq(0.5))
    val rows = java.util.Arrays.asList(
      Row(1L, good.map(_.toSeq)),
      Row(2L, null),
      Row(3L, Seq.empty[Seq[Double]]),
      Row(4L, Seq(null, Seq(1.0))))
    val df = spark.createDataFrame(rows, schema)
    val out = BiLstm.scoreSequences(df, "seq", m).orderBy("id").collect()
    assert(out.length == 4)
    val expected = BiLstm.forwardProb(m, good.map(_.toArray).toArray)
    assert(out(0).getDouble(2) == expected)
    assert(out(1).isNullAt(2) && out(2).isNullAt(2) && out(3).isNullAt(2))
  }

  test("a null ELEMENT inside an inner step row also parks (review round 11)") {
    val m = BiLstm.init(dim = 1, hidden = 3, attDim = 2, seed = 4L)
    val seqType = ArrayType(ArrayType(DoubleType, true), true) // innermost nullable
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("seq", seqType, true)))
    val rows = java.util.Arrays.asList(
      Row(1L, Seq(Seq[Any](1.0), Seq[Any](null))), // null scalar inside a step
      Row(2L, Seq(Seq[Any](1.0), Seq[Any](2.0))))
    val df = spark.createDataFrame(rows, schema)
    val out = BiLstm.scoreSequences(df, "seq", m).orderBy("id").collect()
    assert(out(0).isNullAt(2), "null inner element must park, not NPE the executor")
    assert(!out(1).isNullAt(2))
  }
}
