package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation operators (SURVEY.md §2.11 E1-E7) as set-oriented queries.
  *
  * Everything is a single-pass aggregate or a window query — no
  * driver-side loops over thresholds (the reference's O(T·N) sweep,
  * `src/evaluation/metrics.py:155-175`, becomes one sorted pass).
  */
object Metrics {

  /** E3/E4/A10: confusion counts + point metrics + cost at threshold τ,
    * in ONE pass of conditional aggregates.
    * Cost model: fn·costFn + fp·costFp (`config/config.yaml:90-93`). */
  def confusionAt(df: DataFrame, label: Column, score: Column, tau: Double,
                  costFn: Double = 1000.0, costFp: Double = 10.0): DataFrame = {
    val pred = (score >= tau).cast("int")
    val agg = df.agg(
      sum(when(label === 1 && pred === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(label === 0 && pred === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(label === 1 && pred === 0, 1L).otherwise(0L)).as("fn"),
      sum(when(label === 0 && pred === 0, 1L).otherwise(0L)).as("tn"))
    pointMetrics(agg, costFn, costFp)
  }

  /** confusionAt over a pre-built scoreHistogram frame: the threshold
    * splits whole tie-groups, so tp = Σ pos where s ≥ τ etc. — the same
    * long counts as the row-level pass, hence bit-identical metrics. */
  def confusionFromHistogram(byScore: DataFrame, tau: Double,
                             costFn: Double = 1000.0,
                             costFp: Double = 10.0): DataFrame = {
    val hit = col("s") >= tau
    val agg = byScore.agg(
      sum(when(hit, col("pos")).otherwise(0L)).as("tp"),
      sum(when(hit, col("cnt") - col("pos")).otherwise(0L)).as("fp"),
      sum(when(not(hit), col("pos")).otherwise(0L)).as("fn"),
      sum(when(not(hit), col("cnt") - col("pos")).otherwise(0L)).as("tn"))
    pointMetrics(agg, costFn, costFp)
  }

  private def pointMetrics(agg: DataFrame, costFn: Double,
                           costFp: Double): DataFrame = {
    val tp = col("tp"); val fp = col("fp"); val fn_ = col("fn"); val tn = col("tn")
    val precision = when(tp + fp > 0, tp / (tp + fp)).otherwise(0.0)
    val recall    = when(tp + fn_ > 0, tp / (tp + fn_)).otherwise(0.0)
    agg.select(
      tp, fp, fn_, tn,
      precision.as("precision"),
      recall.as("recall"),
      when(precision + recall > 0, lit(2.0) * precision * recall / (precision + recall))
        .otherwise(0.0).as("f1"),
      ((tp + tn) / (tp + fp + fn_ + tn)).as("accuracy"),
      when(tn + fp > 0, tn / (tn + fp)).otherwise(0.0).as("specificity"),
      (fn_ * costFn + fp * costFp).as("cost"))
  }

  /** Bucket-id assignment for bucketedCumSums (split out so the bucket
    * histogram itself is testable): appends `__b`, ascending in
    * traversal order.
    *
    * `equiDepth = false`: equal-WIDTH range buckets from a broadcast
    * min/max — fully lazy, no extra action, right for the roughly-spread
    * score distributions models emit. `equiDepth = true`: bucket
    * boundaries from one approxQuantile (Greenwald-Khanna) pass — costs
    * an eager action, but bounds every bucket at ~1/nBuckets of the
    * rows even when the distinct scores are pathologically clustered
    * (e.g. sigmoid outputs saturated at 1.0 plus outliers), where
    * equal-width degenerates back to one near-full-size bucket. */
  private[eval] def bucketAssign(byScore: DataFrame, orderCol: String,
                                 descending: Boolean, nBuckets: Int,
                                 equiDepth: Boolean): DataFrame = {
    val k = (if (descending) -col(orderCol) else col(orderCol)).cast("double")
    if (equiDepth) {
      val keyed = byScore.withColumn("__k", k)
      val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      val qs = keyed.stat.approxQuantile("__k", probs, 1.0 / (4 * nBuckets))
      val splits = Double.NegativeInfinity +: qs.distinct.sorted :+ Double.PositiveInfinity
      (if (splits.length <= 2) keyed.withColumn("__b", lit(0))
       else new org.apache.spark.ml.feature.Bucketizer()
         .setInputCol("__k").setOutputCol("__bd").setSplits(splits)
         .transform(keyed)
         .withColumn("__b", col("__bd").cast("int")).drop("__bd"))
        .drop("__k")
    } else {
      val stats = byScore.agg(min(k).as("__mn"), max(k).as("__mx"))
      byScore.crossJoin(broadcast(stats))
        .withColumn("__b",
          when(col("__mx") > col("__mn"),
            least(floor((k - col("__mn")) / (col("__mx") - col("__mn")) * nBuckets),
              lit(nBuckets - 1)))
            .otherwise(0L).cast("int"))
        .drop("__mn", "__mx")
    }
  }

  /** Exact cumulative sums over a distinct-score table WITHOUT a
    * single-partition window (the 100 TB path for E1/E2/E5/E6): bucket
    * the (double-castable) order key into `nBuckets` cells (see
    * bucketAssign for the equiDepth choice), cumulative-sum WITHIN
    * buckets in parallel, then add per-bucket prefix offsets computed on
    * the (tiny, ≤nBuckets-row) bucket-total table and broadcast-joined
    * back. With continuous model scores |distinct| ≈ |rows|, so the old
    * Window.orderBy-with-no-partition plan serialized the whole curve
    * through one task; this keeps every full-size stage partitioned.
    *
    * For each c in sumCols appends inclusive `cum_<c>` in `orderCol`
    * order (ascending or descending). Assumes orderCol values are
    * distinct (callers aggregate by score first) and non-NaN. */
  private[eval] def bucketedCumSums(byScore: DataFrame, orderCol: String,
                              descending: Boolean, sumCols: Seq[String],
                              nBuckets: Int = 256,
                              equiDepth: Boolean = false): DataFrame = {
    // traversal key: ascending in iteration order regardless of direction
    val k = (if (descending) -col(orderCol) else col(orderCol)).cast("double")
    val bucketed = bucketAssign(byScore, orderCol, descending, nBuckets, equiDepth)
    val wIn = Window.partitionBy("__b").orderBy(k)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withIn = sumCols.foldLeft(bucketed) { (d, c) =>
      d.withColumn(s"__in_$c", sum(col(c)).over(wIn))
    }
    // per-bucket totals: ≤ nBuckets rows, so the prefix window is over a
    // bounded table — constant work at any data scale
    val totalAggs = sumCols.map(c => sum(col(c)).as(s"__t_$c"))
    val totalsDf = bucketed.groupBy("__b").agg(totalAggs.head, totalAggs.tail: _*)
    // prefix offsets via a triangular self-join over the ≤nBuckets-row
    // total table (≤nBuckets² pairs — trivial, and avoids any
    // unpartitioned window anywhere in the plan)
    val offAggs = sumCols.map(c =>
      coalesce(sum(col(s"b.__t_$c")), lit(0L)).as(s"__off_$c"))
    val offsets = totalsDf.as("a")
      .join(totalsDf.as("b"), col("b.__b") < col("a.__b"), "left")
      .groupBy(col("a.__b").as("__b"))
      .agg(offAggs.head, offAggs.tail: _*)
    val joined = withIn.join(broadcast(offsets), Seq("__b"))
    sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"cum_$c", col(s"__in_$c") + col(s"__off_$c"))
        .drop(s"__in_$c", s"__off_$c")
    }.drop("__b")
  }

  /** E1: exact ROC-AUC via the rank-sum (Mann-Whitney) identity with
    * average ranks for ties — numerically identical to sklearn's
    * trapezoidal `roc_auc_score`.
    * AUC = (Σ avgrank(pos) − P(P+1)/2) / (P·N).
    *
    * Scale design: aggregate to distinct scores FIRST (shuffle on score),
    * then bucketed parallel prefix sums — no stage is single-partition.
    * avgrank of a tie group = rows_below + (cnt+1)/2; all terms are
    * multiples of 0.5 < 2^53 so the float sums are exact and
    * order-independent (deterministic under parallel aggregation). */
  def rocAuc(df: DataFrame, label: Column, score: Column,
             equiDepth: Boolean = false): DataFrame =
    rocAucFromHistogram(scoreHistogram(df, label, score), equiDepth)

  /** The shared (s, cnt, pos) distinct-score histogram — one shuffle on
    * score, the common prefix of rocAuc / averagePrecision / confusion.
    * Comparison.metricsRow derives all three metrics from ONE lazy
    * histogram frame per model; nothing is persisted. That saves plan
    * code, not shuffles: each consumer reads the histogram through a
    * differently column-pruned aggregate (count and sum, the score keys
    * only, the count only), so the optimized branches are different
    * exchanges and ReuseExchange cannot merge them — q41's final AQE
    * plan scans `events` 4 times with only 2 reused exchanges.
    * Contract: `label` is non-null 0/1, as throughout this file. */
  def scoreHistogram(df: DataFrame, label: Column, score: Column): DataFrame =
    df.groupBy(score.as("s"))
      .agg(count(lit(1)).as("cnt"), sum(label.cast("long")).as("pos"))

  /** rocAuc over a pre-built scoreHistogram frame. */
  def rocAucFromHistogram(byScore: DataFrame,
                          equiDepth: Boolean = false): DataFrame = {
    bucketedCumSums(byScore, "s", descending = false, Seq("cnt"),
      equiDepth = equiDepth)
      .withColumn("below", col("cum_cnt") - col("cnt"))
      .agg(
        sum(col("pos")).cast("double").as("p"),
        sum(col("cnt")).cast("double").as("n"),
        sum(col("pos") * (col("below") + (col("cnt") + 1) / 2.0)).as("rp"))
      // one-class input → AUC undefined: null, not an ANSI divide-by-zero
      .select(when(col("p") > 0 && col("n") - col("p") > 0,
        (col("rp") - col("p") * (col("p") + 1) / 2.0) /
          (col("p") * (col("n") - col("p")))).as("roc_auc"))
  }

  /** Shared E5/E6 frame: distinct scores descending with cumulative
    * TP (cum_pos), cumulative predicted-positive (cum_cnt), and the
    * positive total — bucketed prefix sums, broadcast total. */
  private def prFrame(df: DataFrame, label: Column, score: Column,
                      equiDepth: Boolean = false): DataFrame = {
    val base = df.select(score.as("s"), label.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("cnt"))
    val tot = base.agg(sum(col("pos")).as("tot_pos"))
    bucketedCumSums(base, "s", descending = true, Seq("pos", "cnt"),
      equiDepth = equiDepth)
      .crossJoin(broadcast(tot))
  }

  /** E5: PR curve — precision/recall at every distinct score, descending.
    * Ties collapse to the tie-group's last row (sklearn semantics). */
  def prCurve(df: DataFrame, label: Column, score: Column,
              equiDepth: Boolean = false): DataFrame =
    prFrame(df, label, score, equiDepth).select(
      col("s").as("threshold"),
      (col("cum_pos") / col("cum_cnt")).as("precision"), // cum_cnt ≥ 1
      // zero positives → recall undefined: null, not an ANSI error
      when(col("tot_pos") > 0, col("cum_pos") / col("tot_pos")).as("recall"))

  /** E6 cost variant (`src/evaluation/metrics.py:155-175`): threshold
    * minimizing fn·costFn + fp·costFp over every distinct score — the
    * reference's O(T·N) loop as one sorted pass. At threshold s
    * (predict fraud when score ≥ s): TP = cum_pos, FP = cum_cnt−cum_pos,
    * FN = tot_pos−cum_pos. Ties break toward the lower threshold. */
  def minCostThreshold(df: DataFrame, label: Column, score: Column,
                       costFn: Double = 1000.0, costFp: Double = 10.0,
                       equiDepth: Boolean = false): DataFrame =
    prFrame(df, label, score, equiDepth).select(
        col("s").as("threshold"),
        ((col("tot_pos") - col("cum_pos")) * costFn +
          (col("cum_cnt") - col("cum_pos")) * costFp).as("cost"))
      .orderBy(col("cost"), col("threshold")).limit(1)

  /** E6 recall-floor variant (`metrics.py:177-194`): the highest-
    * precision threshold whose recall still meets the floor. */
  def recallFloorThreshold(df: DataFrame, label: Column, score: Column,
                           minRecall: Double = 0.9,
                           equiDepth: Boolean = false): DataFrame =
    prCurve(df, label, score, equiDepth)
      .filter(col("recall") >= minRecall)
      .orderBy(desc("precision"), col("threshold")).limit(1)

  /** E6: best-F1 threshold — derived from the PR curve in the same pass,
    * O(distinct scores · log), not the reference's O(T·N) loop. */
  def bestF1Threshold(df: DataFrame, label: Column, score: Column,
                      equiDepth: Boolean = false): DataFrame = {
    val p = col("precision"); val r = col("recall")
    // guard 0/0 (ANSI mode errors on divide-by-zero)
    val f1 = when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(0.0)
    prCurve(df, label, score, equiDepth)
      .select(col("threshold"), f1.as("f1"))
      .orderBy(desc("f1"), col("threshold"))
      .limit(1)
  }

  /** E2: sklearn-style average precision (step-wise, no interpolation):
    * AP = Σ_thresholds ΔRecall·Precision. Over distinct scores the recall
    * step of a tie-group is pos_g/P, so AP = Σ_g (pos_g/P)·(cumTP_g/cumN_g)
    * — same distinct-score frame as the PR curve, no lag needed. */
  def averagePrecision(df: DataFrame, label: Column, score: Column,
                       equiDepth: Boolean = false): DataFrame =
    averagePrecisionFromHistogram(scoreHistogram(df, label, score), equiDepth)

  /** averagePrecision over a pre-built scoreHistogram frame. */
  def averagePrecisionFromHistogram(byScore: DataFrame,
                                    equiDepth: Boolean = false): DataFrame = {
    val tot = byScore.agg(sum(col("pos")).as("tot_pos"))
    bucketedCumSums(byScore, "s", descending = true, Seq("pos", "cnt"),
      equiDepth = equiDepth)
      .crossJoin(broadcast(tot))
      .agg(sum(when(col("tot_pos") > 0,
        col("pos").cast("double") / col("tot_pos") *
          col("cum_pos") / col("cum_cnt"))).as("avg_precision"))
  }

  /** Population Stability Index between a reference and a current score
    * population — the score-drift monitor a deployed scorer needs
    * (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 retrain). One scan:
    * `isCurrent` tags each row's side, so both populations bin in a
    * single groupBy (bins bounded, shuffle rows ≤ B) — never two
    * passes over an events table that is the 100 TB side of this.
    * Laplace-smoothed proportions ((n_b+1)/(N+B)) keep ln defined for
    * empty bins and make the result total; a bin spine restores bins
    * absent from BOTH sides. Scores are clamped into [0,1) bins with
    * least(floor(score·B), B−1). */
  def psi(df: DataFrame, score: Column, isCurrent: Column,
          bins: Int = 10): DataFrame = {
    // clamp BOTH ends: without greatest(·, 0) a negative score bins
    // below the spine and its row would silently vanish in the
    // spine-left-join (a dropped population row, not an error).
    // NULL and NaN scores are EXCLUDED from both populations BY
    // CONTRACT, with an EXPLICIT guard — it cannot be left to null
    // propagation because least/greatest IGNORE nulls (least(null, 9)
    // is 9, so an unguarded null score would silently land in the top
    // bin). NaN gets the same treatment (Spark's floor(NaN).toLong is
    // 0 — bin 0 — where the DuckDB twin drops it). A null `isCurrent`
    // likewise counts toward neither side in either engine.
    val sc = score.cast("double")
    val rawBin = greatest(least(floor(sc * bins), lit(bins - 1)), lit(0))
    val counts = df
      .select(when(sc.isNull || isnan(sc), lit(null)).otherwise(rawBin)
          .cast("long").as("bin"),
        isCurrent.cast("int").as("__cur"))
      .groupBy("bin")
      .agg(sum(when(col("__cur") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__cur") === 1, 1L).otherwise(0L)).as("n_cur"))
    val spine = df.sparkSession.range(bins).select(col("id").as("bin"))
    val full = spine.join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"))
    val contrib = full.crossJoin(broadcast(tot)).select(
      col("bin"), col("n_ref"), col("n_cur"),
      (((col("n_cur") + 1).cast("double") / (col("__tc") + bins)) -
        ((col("n_ref") + 1).cast("double") / (col("__tr") + bins))).as("__d"),
      log(((col("n_cur") + 1).cast("double") / (col("__tc") + bins)) /
        ((col("n_ref") + 1).cast("double") / (col("__tr") + bins))).as("__l"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        (col("__d") * col("__l")).as("psi_contrib"))
    contrib.crossJoin(broadcast(
        contrib.agg(sum("psi_contrib").as("psi"))))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        col("psi_contrib"), col("psi"))
  }

  /** Calibration diagnostics for a probabilistic scorer: per-bin
    * reliability rows (n, mean predicted score, observed positive
    * fraction) over B equal-width score bins, plus the two standard
    * scalar summaries on every row (spine-total, q111 convention):
    *   - ECE  = Σ_b (n_b/N)·|mean_score_b − frac_pos_b|
    *   - Brier = mean((score − label)²)
    * A well-calibrated scorer has mean_score ≈ frac_pos in every bin —
    * the check a fraud-ops team runs before trusting "risk 0.8" to mean
    * 80%. One scan: binning is a bounded groupBy (shuffle rows ≤ B, map-
    * side combined), Brier folds into the same pass as conditional sums.
    * Null/NaN scores AND null labels are EXCLUDED with the explicit
    * guard (least/greatest ignore nulls — the q111 lesson; an unlabeled
    * row left in would count in every denominator while contributing to
    * no numerator, silently biasing frac_pos and Brier low); scores
    * clamp into [0,1) bins with greatest(least(floor(s·B), B−1), 0).
    *
    * Cross-engine parity: mean_score and frac_pos are quantized (qz 6)
    * BEFORE the |diff|, so ECE is a B-term sum of identically-rounded
    * operands in both engines (quantize-before-derive, the windowed-
    * quotient rule). */
  def calibration(df: DataFrame, label: Column, score: Column,
                  bins: Int = 10): DataFrame = {
    val sc = score.cast("double")
    val y = label.cast("long")
    val rawBin = greatest(least(floor(sc * bins), lit(bins - 1)), lit(0))
    val perBin = df
      .select(when(sc.isNull || isnan(sc) || y.isNull, lit(null)).otherwise(rawBin)
          .cast("long").as("bin"),
        sc.as("__s"), y.as("__y"))
      .filter(col("bin").isNotNull)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("__s")).as("__sum_s"),
        sum(col("__y")).as("__sum_y"),
        sum((col("__s") - col("__y")) * (col("__s") - col("__y"))).as("__sum_sq"))
    val spine = df.sparkSession.range(bins).select(col("id").as("bin"))
    val q6 = (c: Column) => round(c * 1e6) / 1e6
    val full = spine.join(perBin, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("__sum_s"), lit(0.0)).as("__sum_s"),
        coalesce(col("__sum_y"), lit(0L)).as("__sum_y"),
        coalesce(col("__sum_sq"), lit(0.0)).as("__sum_sq"))
      .select(col("bin"), col("n"),
        when(col("n") > 0, q6(col("__sum_s") / col("n"))).as("mean_score"),
        when(col("n") > 0, q6(col("__sum_y").cast("double") / col("n"))).as("frac_pos"),
        col("__sum_sq"))
    val tot = full.agg(sum("n").as("__N"), sum("__sum_sq").as("__SQ"),
      sum(when(col("n") > 0,
        abs(col("mean_score") - col("frac_pos")) * col("n"))).as("__E"))
    full.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("mean_score"), col("frac_pos"),
        when(col("__N") > 0, col("__E") / col("__N")).as("ece"),
        when(col("__N") > 0, col("__SQ") / col("__N")).as("brier"))
  }

  /** E7: metrics at a grid of thresholds via explode — one shuffle-free
    * pass over (rows × |grid|) conditional sums. */
  def thresholdGrid(df: DataFrame, label: Column, score: Column,
                    taus: Seq[Double]): DataFrame = {
    val tagged = df.select(label.cast("long").as("y"), score.as("s"))
      .withColumn("tau", explode(array(taus.map(lit): _*)))
    tagged.groupBy("tau").agg(
        sum(when(col("y") === 1 && col("s") >= col("tau"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("s") >= col("tau"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("s") <  col("tau"), 1L).otherwise(0L)).as("fn"))
      .select(col("tau"),
        when(col("tp") + col("fp") > 0, col("tp") / (col("tp") + col("fp"))).as("precision"),
        when(col("tp") + col("fn") > 0, col("tp") / (col("tp") + col("fn"))).as("recall"))
      .orderBy("tau")
  }
}
