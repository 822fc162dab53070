package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model comparison leaderboard (SURVEY.md §2.11 E8).
  *
  * One metrics row per scored model (AUC, AP, point metrics at τ),
  * unioned and sorted by ROC-AUC descending — the reference's
  * `compare_models` table (`src/evaluation/metrics.py:203-237`).
  */
object Comparison {

  def metricsRow(name: String, scored: DataFrame, label: Column,
                 score: Column, tau: Double = 0.5): DataFrame = {
    // One fully LAZY plan per model: the three metrics all derive from
    // the same distinct-score histogram (Metrics.scoreHistogram). The
    // groupBy(score) shuffle is NOT shared: column pruning gives each
    // branch a different aggregate, so ReuseExchange finds no match and
    // the scored frame is scanned and shuffled per branch (q41's final
    // AQE plan: 4 scans of `events`, 2 reused exchanges; q42 and q45 also
    // scan it 4 times). The 1-row metric frames join by broadcast
    // (BroadcastNestedLoopJoin, never CartesianProductExec), so a
    // leaderboard of N models is ONE job — the previous shape paid
    // 2 eager driver actions per model, and this query class is
    // job-latency-bound, not data-bound (measured 6.6 → 5.3 s for 3
    // models at sf0.1; an eager persist-per-model variant measured
    // 13 s — more actions, not fewer).
    val byScore = Metrics.scoreHistogram(scored, label, score)
    Metrics.confusionFromHistogram(byScore, tau)
      .crossJoin(broadcast(Metrics.rocAucFromHistogram(byScore)))
      .crossJoin(broadcast(Metrics.averagePrecisionFromHistogram(byScore)))
      .select(lit(name).as("model"), col("roc_auc"),
        col("avg_precision").as("pr_auc"),
        col("precision"), col("recall"), col("f1"), col("cost"))
  }

  /** Leaderboard over (name, scoredDf) pairs, best AUC first. */
  def leaderboard(models: Seq[(String, DataFrame)], label: Column,
                  score: Column, tau: Double = 0.5): DataFrame =
    models.map { case (n, df) => metricsRow(n, df, label, score, tau) }
      .reduce(_.unionByName(_))
      .orderBy(desc("roc_auc"))
}
