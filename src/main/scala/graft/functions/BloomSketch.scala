package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Cols.{expr, of}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership as a native codegen'd predicate.
  *
  * Scale rationale (the q82 vs q108 contrast): exact decontamination
  * broadcasts the DISTINCT eval-gram strings — fine while the eval
  * inventory is thousands of grams, but a full eval-suite closure at
  * 100 TB (every benchmark, every paraphrase set) reaches 10⁸+ grams,
  * and a multi-GB string broadcast per executor is the next OOM. A
  * Bloom filter of the same inventory at 1% FPP is ~1.2 bytes/gram —
  * two orders of magnitude smaller on the wire — and, used as a
  * PREFILTER below the first shuffle, it drops ~99% of corpus grams
  * before the exact verify join ever sees them. Bloom filters have no
  * false negatives, so prefilter + exact verify returns the exact
  * answer: the sketch changes the plan's cost, never its result.
  *
  * The serialized filter rides the plan as a foldable Binary literal
  * (the same shape Spark's own runtime-filter `might_contain` uses);
  * each task deserializes it once lazily, and `doGenCode` emits a
  * direct `mightContainBinary` call on the row's UTF8 bytes — no
  * per-row string materialization, stays inside whole-stage codegen.
  *
  * Reference behavior covered: decontamination semantics per
  * /root/reference data-prep conventions (see Curation.contamination);
  * the sketch tier is the engine's scale path, not a reference port.
  */
case class BloomMightContainExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects a string value, got ${left.dataType}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain expects a foldable binary bloom literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  // one deserialization per task (the lazy val lives in the serialized
  // expression instance shipped with the plan); readFrom validates the
  // stream so a corrupted literal fails loudly here, not with garbage
  // membership answers
  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval().asInstanceOf[Array[Byte]]
    require(bytes != null, "bloom_might_contain: the sketch literal is NULL")
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Codegen callback — membership on the raw UTF8 bytes. */
  def contains(s: UTF8String): Boolean = bloom.mightContainBinary(s.getBytes)

  override protected def nullSafeEval(value: Any, bytes: Any): Any =
    contains(value.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomExpr", this,
      classOf[BloomMightContainExpr].getName)
    nullSafeCodeGen(ctx, ev,
      (value, _) => s"${ev.value} = $ref.contains($value);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContainExpr =
    copy(left = newLeft, right = newRight)
}

object BloomSketch {
  val FnName = "bloom_might_contain"

  /** Build a Bloom filter over a single string column, distributed
    * (Spark's sketch aggregate — partial filters merge by bitwise OR,
    * so the result is partition-layout independent), serialized for the
    * plan literal. `expectedItems` sizes the bit array; pass the exact
    * distinct count when it is cheap (eval inventories), an upper bound
    * otherwise — overestimating only wastes bits, underestimating
    * inflates the FPP past nominal. */
  def build(df: DataFrame, colName: String, expectedItems: Long,
            fpp: Double): Array[Byte] = {
    val bf = df.stat.bloomFilter(colName, math.max(expectedItems, 1L), fpp)
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Column form: true iff `value` MIGHT be in the sketched set (never
    * false for a true member). */
  def mightContain(value: Column, bloomBytes: Array[Byte]): Column =
    of(BloomMightContainExpr(expr(value), Literal(bloomBytes)))
}
