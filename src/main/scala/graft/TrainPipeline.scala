package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.eval.Comparison
import graft.functions.{AmountFeatures, TimeFeatures}
import graft.ml.FraudModel
import graft.operators.{BehaviorWindows, TargetEncoding, TimeSplit}
import graft.queries.Util.addCols
import graft.sources.{Io, Profiler, SyntheticData}

/** End-to-end training orchestration (SURVEY.md §2.9 M11) — the engine's
  * equivalent of the reference's `train_pipeline.py` 10-step script:
  * load → profile → features (temporal, amount, behavior windows, target
  * encoding fit on train only) → chronological split → THREE true
  * engines (round 12: MLlib GBT + LeafBoost leaf-wise/LightGBM +
  * LeafBoost depth-wise/XGBoost-hist — the reference's distinct
  * boosters, not hyperparameter variants) → stacking LR meta-model
  * fit on val predictions → leaderboard → persist ALL engines through
  * the model registry (each in its family's artifact format) +
  * importance + stacked weights.
  *
  * One lazy plan from scan to features; actions happen only at fit/write.
  * Usage: runMain graft.TrainPipeline [outDir] [nRows]
  */
object TrainPipeline {

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_train"
    val n = if (args.length > 1) args(1).toLong else 50000L
    val spark = Session.local()
    run(spark, outDir, n)
    spark.stop()
  }

  def run(spark: SparkSession, outDir: String, n: Long): Unit = {
    // 1-2. load + profile
    val raw = SyntheticData.transactions(spark, n)
      .withColumn("ts", timestamp_seconds(col("transaction_dt")))
    Profiler.summary(raw.select("transaction_id", "transaction_amt",
      "p_emaildomain", "device_info")).show(truncate = false)

    // 3. split FIRST (chronological), so every fitted stage sees train only
    val split = TimeSplit.assign(raw, col("ts"), col("transaction_id"))

    // 4. features: one select per family (no withColumn chains)
    val c = BehaviorWindows.Cols("card1", "ts", "transaction_amt", "transaction_id")
    def featurize(df: DataFrame): DataFrame = addCols(addCols(addCols(df,
      TimeFeatures.all(col("ts"))),
      AmountFeatures.all(col("transaction_amt"))),
      BehaviorWindows.cumulativeFeatures(c) ++ BehaviorWindows.lagFeatures(c))

    val trainRaw = split.filter(col("split") === "train")
    val enc = TargetEncoding.fit(trainRaw, "card2",
      col("is_fraud").cast("double"), smoothing = 50.0)
    val featured = TargetEncoding.transform(featurize(split), enc, "card2", 0.035)
      .na.fill(-999.0)

    // card2_enc stays OUT of the model features: the synthetic generator
    // gives merchants no fraud signal, so the 1000-cardinality encoding is
    // pure label noise — measured cost ~17 AUC points on the held-out
    // split even with smoothing. The encoding capability itself is
    // exercised (computed + joined) and oracle-tested in q13.
    val featureCols = Seq("transaction_amt", "v1", "v2", "v3",
      "hour", "dow", "is_weekend", "is_night", "log_amt", "amt_bin",
      "prior_count", "cum_mean", "amt_deviation", "time_diff",
      "spending_rate")

    // Early stopping (the reference's valid_sets=[val] +
    // early_stopping_rounds, `lightgbm_model.py:96-110`,
    // `config/config.yaml:43`) and the stacking fold must be DISJOINT:
    // the val rows that pick each base model's tree count are
    // optimistically biased, so fitting the meta-LR on them would
    // overweight exactly the noise the bases already optimized against.
    // Carve val deterministically in half by row-key hash — es-half
    // flags early stopping inside the fit frame, stack-half feeds the
    // meta-model. (The reference stacks on TRAIN preds, ensemble.py:107,
    // which is in-fold for the bases; both halves here are out-of-fold.)
    val isEsHalf = graft.operators.Sampling.keepRow(
      col("transaction_id"), 0.5, "esfold")
    val trainOnly = featured.filter(col("split") === "train")
    val train = FraudModel.withClassWeight(
      featured.filter(col("split") =!= "test")
        .filter(col("split") === "train" || isEsHalf)
        .withColumn("is_val", col("split") === "val"), col("is_fraud"),
      // scale_pos_weight stays a pure function of TRAIN labels
      // (`lightgbm_model.py:81-84`), not of the early-stopping holdout
      statsOn = Some(trainOnly))
    val va = featured.filter(col("split") === "val" && !isEsHalf)
    val test = featured.filter(col("split") === "test")

    // 5. three TRUE engines (round 12 — the reference trains three
    // distinct boosters, `src/models/ensemble.py:39-133`; until the
    // engine-distinct trainers existed these were GBT hyperparameter
    // variants): MLlib GBT, LeafBoost leaf-wise (LightGBM semantics),
    // LeafBoost depth-wise with a depth cap (XGBoost-hist semantics).
    // Each early-stops on the es-half of val; each scores test
    // distributed.
    val gbtModel = FraudModel.gbtPipeline(featureCols, "is_fraud",
      maxIter = 15, maxDepth = 5,
      validationIndicatorCol = Some("is_val")).fit(train)
    val lbTrain = train.filter(!col("is_val"))
    val lbVal = Some(train.filter(col("is_val")))
    def lbParams(growth: String, maxDepth: Int) = graft.ml.LeafBoost.Params(
      numTrees = 15, numLeaves = 16, learningRate = 0.2,
      earlyStoppingRounds = 5, growth = growth, maxDepth = maxDepth)
    // ONE shared prep (edges/binning/probe) for both LeafBoost engines —
    // they differ only in growth policy (trainMany, review round 12)
    val Seq(lgbModel, xgbModel) = graft.ml.LeafBoost.trainMany(
      lbTrain, lbVal, "transaction_id", featureCols, "is_fraud", "class_weight",
      Seq(lbParams("leafwise", -1), lbParams("depthwise", 5)))

    // uniform engine surface: name -> (frame => (transaction_id, p_<name>))
    def gbtPreds(name: String)(df: DataFrame): DataFrame =
      FraudModel.withProbability(gbtModel.transform(df), s"p_$name")
        .select(col("transaction_id"), col(s"p_$name"))
    def lbPreds(m: graft.ml.LeafBoost.Model, name: String)(df: DataFrame): DataFrame =
      graft.ml.LeafBoost.score(df, featureCols, m, s"p_$name")
        .select(col("transaction_id"), col(s"p_$name"))
    val engines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "gbt_mllib" -> gbtPreds("gbt_mllib") _,
      "leafboost_lgb" -> lbPreds(lgbModel, "leafboost_lgb") _,
      "leafboost_xgb" -> lbPreds(xgbModel, "leafboost_xgb") _)
    def predMatrix(df: DataFrame): DataFrame =
      engines.foldLeft(df.select("transaction_id", "is_fraud")) {
        case (acc, (_, score)) => acc.join(score(df), "transaction_id")
      }
    val predCols = engines.map { case (name, _) => s"p_$name" }

    // 6. stacking meta-model (M7) fit on the VAL split's base predictions
    // — out-of-training-fold, the reference's stacking discipline
    val (stackModel, stackWeights) = FraudModel.stackingEnsemble(
      FraudModel.withClassWeight(predMatrix(va), col("is_fraud")),
      predCols, "is_fraud")

    // 7. leaderboard over the TEST split: three base engines + the stack
    val stackScored = FraudModel.withProbability(
      stackModel.transform(predMatrix(test)))
    // materialize the (4-row) leaderboard ONCE — it re-runs every model
    // transform + metric suite per action otherwise
    val board = Comparison.leaderboard(
      engines.map { case (name, score) =>
        name -> score(test).withColumnRenamed(s"p_$name", "p_fraud")
          .join(test.select("transaction_id", "is_fraud"), "transaction_id")
      } :+ ("stacked" -> stackScored),
      col("is_fraud"), col("p_fraud")).cache()
    board.show(truncate = false)
    val aucs = board.select("model", "roc_auc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    // 8-9. persist EVERY engine through the registry (S5 — the
    // reference persists all three boosters, `lightgbm_model.py:166`,
    // `xgboost_model.py:131`) + the stack, each in its family's
    // artifact format; importance comes from the top-AUC BASE engine
    // ((auc, name) max: AUC ties break on name — deterministic).
    val reg = s"$outDir/registry"
    graft.serve.ModelRegistry.register(spark, reg, "gbt_mllib",
      gbtModel, Map("roc_auc" -> aucs("gbt_mllib")))
    graft.serve.ModelRegistry.registerLeafBoost(spark, reg, "leafboost_lgb",
      lgbModel, Map("roc_auc" -> aucs("leafboost_lgb")))
    graft.serve.ModelRegistry.registerLeafBoost(spark, reg, "leafboost_xgb",
      xgbModel, Map("roc_auc" -> aucs("leafboost_xgb")))
    graft.serve.ModelRegistry.register(spark, reg, "stacked",
      stackModel, Map("roc_auc" -> aucs("stacked")))
    graft.serve.ModelRegistry.health(spark, reg).show()
    val bestName = engines.map(_._1).maxBy(n => (aucs(n), n))
    import spark.implicits._
    val importance: Seq[(String, Double)] = bestName match {
      case "gbt_mllib" => FraudModel.featureImportance(gbtModel, featureCols)
      case "leafboost_lgb" => lgbModel.featureImportance
      case _ => xgbModel.featureImportance
    }
    Io.writeParquet(importance.toDF("feature", "importance"),
      s"$outDir/feature_importance")
    Io.writeParquet(board, s"$outDir/leaderboard")
    Io.writeParquet(stackWeights.toDF("model", "weight"), s"$outDir/stacked_weights")
    board.unpersist(blocking = false)
    println(s"[train] artifacts written to $outDir")
  }
}
