package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{BloomMightContainExpr, BloomSketch, FloatDotProduct, SimHash32, SortedLongIntersectCount, TokenClassCounts}

/** SparkSessionExtensions hook (SURVEY.md §4.4): the SQL-name route to
  * the engine's native codegen expressions. With `--conf
  * spark.sql.extensions=graft.GraftExtensions` on any cluster, a session
  * resolves `spark.sql("SELECT float_dot(a, b) ...")` and four more
  * permanent functions.
  *
  * The engine's own operators never go through these names: the
  * `NativeVector`/`BloomSketch` Column helpers build the same Expression
  * classes directly, so both routes give identical results by
  * construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.Expression

  // arity-checked builder: a wrong-arity SQL call gets a clear analysis
  // message, not an IndexOutOfBoundsException from the raw Seq access
  private def checked(name: String, arity: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == arity,
        s"$name takes exactly $arity argument(s), got ${exprs.length}")
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      checked("float_dot", 2)(e => FloatDotProduct(e(0), e(1)))))
    ext.injectFunction((
      new FunctionIdentifier("sorted_long_intersect"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, "sorted_long_intersect"),
      checked("sorted_long_intersect", 2)(e => SortedLongIntersectCount(e(0), e(1)))))
    ext.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      checked("simhash32", 1)(e => SimHash32(e.head))))
    ext.injectFunction((
      new FunctionIdentifier(BloomSketch.FnName),
      new ExpressionInfo(classOf[BloomMightContainExpr].getName, BloomSketch.FnName),
      checked(BloomSketch.FnName, 2)(e => BloomMightContainExpr(e(0), e(1)))))
    ext.injectFunction((
      new FunctionIdentifier("token_class_counts"),
      new ExpressionInfo(classOf[TokenClassCounts].getName, "token_class_counts"),
      checked("token_class_counts", 1)(e => TokenClassCounts(e.head))))
  }
}
