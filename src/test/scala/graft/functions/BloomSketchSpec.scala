package graft.functions

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Curation

/** Contract specs for the Bloom membership expression and the
  * sketch-prefiltered decontamination built on it.
  *
  * The load-bearing test is the first: `build` inserts through Spark's
  * sketch aggregate while the expression probes `mightContainBinary`
  * over the row's UTF8 bytes — if those two byte views ever diverged,
  * members would go missing (false negatives), which is the one failure
  * Bloom prefiltering cannot tolerate (it silently loses true
  * contamination hits). */
class BloomSketchSpec extends SparkSpec {

  import spark.implicits._

  private def strings(n: Int, tag: String) =
    spark.range(n).select(md5(concat(lit(tag), col("id"))).as("s"))

  test("no false negatives: every inserted member passes the probe") {
    val members = strings(5000, "m")
    val bloom = BloomSketch.build(members, "s", 5000, 0.01)
    val missed = members
      .filter(!BloomSketch.mightContain(col("s"), bloom)).count()
    assert(missed == 0L, s"$missed members rejected — false negatives")
  }

  test("false-positive rate stays near nominal on disjoint probes") {
    val bloom = BloomSketch.build(strings(20000, "m"), "s", 20000, 0.01)
    // md5("x"+i) never collides with md5("m"+i) inputs — all 40k probes
    // are true non-members; 1% nominal, 3x headroom for hash variance
    val fp = strings(40000, "x")
      .filter(BloomSketch.mightContain(col("s"), bloom)).count()
    assert(fp <= 40000 * 0.03, s"FPR ${fp / 40000.0} exceeds 3x nominal")
  }

  test("interpreted eval agrees with codegen") {
    val bloom = BloomSketch.build(strings(100, "m"), "s", 100, 0.01)
    val expr = BloomMightContainExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          strings(1, "m").as[String].head()),
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        bloom, org.apache.spark.sql.types.BinaryType))
    assert(expr.eval() == true) // interpreted path, same member
  }

  test("contaminationBloom equals exact contamination, plan prefilters below the shuffle") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = graft.operators.TextOps.tokens(col("text"))
    val evalGrams = docs.filter(col("doc_id") % 7 === 3)
      .select(md5(concat_ws(" ", slice(toks, 11, 6))).as("g"))

    val exact = Curation.contamination(docs, "doc_id", "text", evalGrams, 6)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
    val sketched = Curation.contaminationBloom(
        docs, "doc_id", "text", evalGrams, 6)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))

    assert(sketched.exceptAll(exact).isEmpty && exact.exceptAll(sketched).isEmpty,
      "bloom-prefiltered result diverged from the exact operator")

    // plan guards on the executed (AQE-final) plan. AQE wraps
    // materialized shuffles in QueryStageExec LEAVES, so descend into
    // them explicitly when flattening.
    sketched.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val all = flatten(sketched.queryExecution.executedPlan)
    // (1) the bloom probe runs BELOW every shuffle: the FilterExec that
    // carries it must have no exchange underneath — at 100 TB this is
    // the difference between shuffling all corpus grams and ~FPP of them
    val bloomFilters = all.collect {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[BloomMightContainExpr]) => f
    }
    assert(bloomFilters.nonEmpty,
      s"no bloom FilterExec in\n${all.head}")
    // Catalyst also INFERS the bloom predicate through the equi-join
    // onto the (persisted) eval side — that inferred copy legitimately
    // sits above the cache's exchange and is harmless (bounded side).
    // The guard: the CORPUS-side probe (the one whose subtree reaches
    // the parquet scan, not the cache) must have no shuffle below it.
    val corpus = bloomFilters.filterNot(f =>
      flatten(f).exists(_.getClass.getSimpleName.startsWith("InMemoryTableScan")))
    assert(corpus.nonEmpty, s"no corpus-side bloom probe in\n${all.head}")
    corpus.foreach { f =>
      val below = flatten(f).tail
      assert(!below.exists(p =>
          p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[QueryStageExec]),
        s"corpus-side bloom probe sits above a shuffle — prefilter is not pre\n$f")
    }
    // (2) the verify join is unhinted — AQE, not a forced broadcast,
    // decides (the eval side outgrows a forced broadcast at scale)
    sketched.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.nonEmpty => j
    }.foreach { j =>
      assert(j.hint == JoinHint.NONE, s"verify join is hinted: ${j.hint}")
    }
  }
}
