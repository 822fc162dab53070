package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.Comparison
import graft.functions.{AmountFeatures, TimeFeatures}
import graft.ml.{FraudModel, LeafBoost}
import graft.operators.{BehaviorWindows, Sampling, TargetEncoding, TimeSplit}
import graft.queries.Util.addCols
import graft.serve.ModelRegistry
import graft.sources.{Io, Profiler, SyntheticData}

/** `train`: `graft.TrainPipeline.run` end to end, one whole pipeline per
  * unit of work. The traced run times the pipeline's steps instead: the
  * same public calls with the same arguments, each step's frame executed
  * through the `noop` sink so its cost lands on its own timer. */
object Train {

  /** TrainPipeline's model features (card2_enc stays out, as there). */
  val featureCols = Seq("transaction_amt", "v1", "v2", "v3", "hour", "dow", "is_weekend",
    "is_night", "log_amt", "amt_bin", "prior_count", "cum_mean", "amt_deviation",
    "time_diff", "spending_rate")
  val engines = Seq("gbt_mllib", "leafboost_lgb", "leafboost_xgb")

  final case class Frames(raw: DataFrame, split: DataFrame, enc: DataFrame,
                          featured: DataFrame, train: DataFrame, va: DataFrame,
                          test: DataFrame)

  /** TrainPipeline.run's steps 1-4: load, split, encode, featurize. */
  def frames(spark: SparkSession, n: Long): Frames = {
    val raw = SyntheticData.transactions(spark, n)
      .withColumn("ts", timestamp_seconds(col("transaction_dt")))
    val split = TimeSplit.assign(raw, col("ts"), col("transaction_id"))
    val c = BehaviorWindows.Cols("card1", "ts", "transaction_amt", "transaction_id")
    def featurize(df: DataFrame): DataFrame = addCols(addCols(addCols(df,
      TimeFeatures.all(col("ts"))), AmountFeatures.all(col("transaction_amt"))),
      BehaviorWindows.cumulativeFeatures(c) ++ BehaviorWindows.lagFeatures(c))
    val enc = TargetEncoding.fit(split.filter(col("split") === "train"), "card2",
      col("is_fraud").cast("double"), smoothing = 50.0)
    val featured = TargetEncoding.transform(featurize(split), enc, "card2", 0.035)
      .na.fill(-999.0)
    val isEsHalf = Sampling.keepRow(col("transaction_id"), 0.5, "esfold")
    val train = FraudModel.withClassWeight(
      featured.filter(col("split") =!= "test")
        .filter(col("split") === "train" || isEsHalf)
        .withColumn("is_val", col("split") === "val"), col("is_fraud"),
      statsOn = Some(featured.filter(col("split") === "train")))
    Frames(raw, split, enc, featured, train,
      featured.filter(col("split") === "val" && !isEsHalf),
      featured.filter(col("split") === "test"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** TrainPipeline.run, step by step under timers (the traced run). */
  def tracedPipeline(spark: SparkSession, out: String, n: Long, t: Trace.Timers): Unit = {
    val f = t.time("sources.synth_s") {
      val f = frames(spark, n)
      Profiler.summary(f.raw.select("transaction_id", "transaction_amt",
        "p_emaildomain", "device_info")).show(truncate = false)
      noop(f.raw)
      f
    }
    t.time("operators.split_s")(noop(f.split))
    t.time("operators.target_enc_s")(noop(f.enc))
    t.time("operators.features_s")(noop(f.featured))
    val gbt = t.time("ml.gbt_fit_s") {
      FraudModel.gbtPipeline(featureCols, "is_fraud", maxIter = 15, maxDepth = 5,
        validationIndicatorCol = Some("is_val")).fit(f.train)
    }
    def lbParams(growth: String, maxDepth: Int) = LeafBoost.Params(numTrees = 15,
      numLeaves = 16, learningRate = 0.2, earlyStoppingRounds = 5, growth = growth,
      maxDepth = maxDepth)
    val Seq(lgb, xgb) = t.time("ml.leafboost_fit_s") {
      LeafBoost.trainMany(f.train.filter(!col("is_val")), Some(f.train.filter(col("is_val"))),
        "transaction_id", featureCols, "is_fraud", "class_weight",
        Seq(lbParams("leafwise", -1), lbParams("depthwise", 5)))
    }
    val score = scorers(gbt, lgb, xgb)
    val (stack, weights) = t.time("ml.stack_fit_s") {
      FraudModel.stackingEnsemble(FraudModel.withClassWeight(predMatrix(f.va, score),
        col("is_fraud")), engines.map(e => s"p_$e"), "is_fraud")
    }
    val board = t.time("eval.leaderboard_s") {
      val stackScored = FraudModel.withProbability(stack.transform(predMatrix(f.test, score)))
      val b = Comparison.leaderboard(engines.map { e =>
        e -> score(e)(f.test).withColumnRenamed(s"p_$e", "p_fraud")
          .join(f.test.select("transaction_id", "is_fraud"), "transaction_id")
      } :+ ("stacked" -> stackScored), col("is_fraud"), col("p_fraud")).cache()
      b.show(truncate = false)
      b
    }
    val aucs = board.select("model", "roc_auc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val reg = s"$out/registry"
    t.time("serve.registry_write_s") {
      ModelRegistry.register(spark, reg, "gbt_mllib", gbt, Map("roc_auc" -> aucs("gbt_mllib")))
      ModelRegistry.registerLeafBoost(spark, reg, "leafboost_lgb", lgb,
        Map("roc_auc" -> aucs("leafboost_lgb")))
      ModelRegistry.registerLeafBoost(spark, reg, "leafboost_xgb", xgb,
        Map("roc_auc" -> aucs("leafboost_xgb")))
      ModelRegistry.register(spark, reg, "stacked", stack, Map("roc_auc" -> aucs("stacked")))
      ModelRegistry.health(spark, reg).show()
    }
    t.time("sources.artifact_write_s") {
      import spark.implicits._
      val best = engines.maxBy(e => (aucs(e), e))
      val importance = best match {
        case "gbt_mllib" => FraudModel.featureImportance(gbt, featureCols)
        case "leafboost_lgb" => lgb.featureImportance
        case _ => xgb.featureImportance
      }
      Io.writeParquet(importance.toDF("feature", "importance"), s"$out/feature_importance")
      Io.writeParquet(board, s"$out/leaderboard")
      Io.writeParquet(weights.toDF("model", "weight"), s"$out/stacked_weights")
    }
    board.unpersist(blocking = false)
  }

  /** engine name -> (frame => (transaction_id, p_<engine>)). */
  def scorers(gbt: org.apache.spark.ml.PipelineModel, lgb: LeafBoost.Model,
              xgb: LeafBoost.Model): Map[String, DataFrame => DataFrame] = {
    def lb(m: LeafBoost.Model, e: String)(df: DataFrame) =
      LeafBoost.score(df, featureCols, m, s"p_$e").select(col("transaction_id"), col(s"p_$e"))
    Map("gbt_mllib" -> ((df: DataFrame) => FraudModel.withProbability(gbt.transform(df),
        "p_gbt_mllib").select(col("transaction_id"), col("p_gbt_mllib"))),
      "leafboost_lgb" -> lb(lgb, "leafboost_lgb") _,
      "leafboost_xgb" -> lb(xgb, "leafboost_xgb") _)
  }

  def predMatrix(df: DataFrame, score: Map[String, DataFrame => DataFrame]): DataFrame =
    engines.foldLeft(df.select("transaction_id", "is_fraud")) {
      case (acc, e) => acc.join(score(e)(df), "transaction_id")
    }

  /** ROC-AUC by the rank-sum formula, tied scores sharing their mean rank. */
  def rankSumAuc(labelled: Seq[(Int, Double)]): Double = {
    val sorted = labelled.sortBy(_._2).toIndexedSeq
    var rankSumPos = 0.0
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
      val meanRank = (i + 1 + j) / 2.0 // ranks i+1 .. j
      (i until j).foreach(k => if (sorted(k)._1 == 1) rankSumPos += meanRank)
      i = j
    }
    val p = sorted.count(_._1 == 1).toDouble
    val q = sorted.length - p
    (rankSumPos - p * (p + 1) / 2) / (p * q)
  }

  /** Reload every registered artifact, rescore the test split with it and
    * recompute each ROC-AUC; returns (model, leaderboard AUC, recomputed). */
  def check(spark: SparkSession, out: String, n: Long): Seq[(String, Double, Double)] = {
    val reg = s"$out/registry"
    val gbt = ModelRegistry.load(spark, reg, "gbt_mllib")
    val lgb = ModelRegistry.loadLeafBoost(spark, reg, "leafboost_lgb")
    val xgb = ModelRegistry.loadLeafBoost(spark, reg, "leafboost_xgb")
    val stack = ModelRegistry.load(spark, reg, "stacked")
    val test = frames(spark, n).test.cache()
    val score = scorers(gbt, lgb, xgb)
    val preds = predMatrix(test, score)
    val stacked = FraudModel.withProbability(stack.transform(preds), "p_stacked")
      .select("transaction_id", "is_fraud", "p_stacked", "p_gbt_mllib", "p_leafboost_lgb",
        "p_leafboost_xgb").collect()
    test.unpersist()
    val board = spark.read.parquet(s"$out/leaderboard").select("model", "roc_auc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    (engines :+ "stacked").map { e =>
      val auc = rankSumAuc(stacked.map(r => (r.getAs[Int]("is_fraud"), r.getAs[Double](s"p_$e"))))
      (e, board(e), auc)
    }
  }

  def run(a: Main.Args): Main.Result = {
    val n = a.size.toLong
    val setups = Main.setupRounds(a, 3)(_ => ())
    val spark = SparkSession.active
    val counters = if (a.trace) Some(Trace.attach(spark.sparkContext)) else None
    val timers = new Trace.Timers
    val before = counters.map(Trace.snap(spark.sparkContext, _))
    val runs = ArrayBuffer[(Double, Double)]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do {
      val out = s"${a.work}/train_${runs.size + 1}"
      val w0 = System.nanoTime()
      val c0 = Trace.processCpuNs
      if (a.trace) tracedPipeline(spark, out, n, timers)
      else graft.TrainPipeline.run(spark, out, n)
      runs += (((System.nanoTime() - w0) / 1e9, (Trace.processCpuNs - c0) / 1e9))
    } while (System.nanoTime() < deadline)
    val after = counters.map(Trace.snap(spark.sparkContext, _))
    val rss = Trace.peakRssMb
    val heapMb = Trace.liveHeapMb

    // output check, outside the timed window, on every pipeline's output
    val notes = ArrayBuffer[String]()
    val failedRuns = (1 to runs.size).count { i =>
      val rows = check(spark, s"${a.work}/train_$i", n)
      val bad = rows.filter { case (_, b, r) => math.abs(b - r) > 1e-6 || r < 0.8 }
      bad.foreach { case (m, b, r) => notes += s"pipeline $i $m: leaderboard roc_auc $b, recomputed $r" }
      bad.nonEmpty
    }
    val e2e = Seq(
      "setup_s" -> Stats.median(setups),
      "wall_s" -> Stats.median(runs.map(_._1).toSeq),
      "cpu_s" -> Stats.median(runs.map(_._2).toSeq),
      "live_heap_mb" -> heapMb,
      "p50_ms" -> Stats.median(runs.map(_._1).toSeq) * 1e3)
    val layers = (before, after) match {
      case (Some(b), Some(e)) =>
        Trace.layerMetrics(b, e, runs.size) ++ Trace.jvmTotals ++
          Seq("sources.synth_s", "operators.split_s", "operators.target_enc_s",
            "operators.features_s", "ml.gbt_fit_s", "ml.leafboost_fit_s", "ml.stack_fit_s",
            "eval.leaderboard_s", "serve.registry_write_s", "sources.artifact_write_s")
            .map(k => k -> timers.medianS(k))
      case _ => Nil
    }
    val detail = Seq("pipelines" -> runs.size.toDouble, "peak_rss_mb" -> rss) ++
      setups.zipWithIndex.map { case (s, i) => s"setup_round_${i + 1}_s" -> s }
    // a pipeline and its check are the operations of this workload
    Main.Result(2L * runs.size, failedRuns.toLong, failedRuns == 0, e2e, layers, detail,
      notes.toSeq)
  }
}
