package graft

import org.apache.spark.sql.SparkSession

import graft.serve.{HttpApi, LocalScorer, ModelRegistry, Transaction}

/** Serving entry point — the engine's `uvicorn api.main:app` twin
  * (reference `api/main.py` bottom + README run instructions): bring up
  * the HTTP scoring API against a model-registry root and block.
  *
  *   runMain graft.Serve [registryRoot] [port]
  *
  * Startup mirrors the reference's import-time model loading
  * (`api/main.py:40-94`): the registry inventory backs
  * /models //health //stats, and if a model named `serving` of kind
  * `leafboost` is registered AND was trained on either serving schema
  * (`LocalScorer.servingFeatureNames` numeric, or
  * `servingFeatureNamesCat` with categorical product_code — the
  * CatBoost-semantics family), /score serves the
  * 0.4·model + 0.6·heuristic blend through it; otherwise the API
  * serves heuristic-only (the reference's fallback when no booster
  * artifact is present). Spark is touched only at startup (artifact
  * load) and by the bounded inventory refresh — the hot path is the
  * driver-local scorer at ~µs latency.
  */
object Serve {

  /** Build the server (separated from `main` so tests can probe a
    * running instance without blocking). */
  def build(spark: SparkSession, registryRoot: String, port: Int): HttpApi.Server = {
    val inventory = HttpApi.registryInventory(spark, registryRoot)
    val model: Option[(String, Transaction => Double)] =
      if (ModelRegistry.latestVersion(spark, registryRoot, "serving") > 0 &&
          ModelRegistry.kindOf(spark, registryRoot, "serving") == "leafboost") {
        val m = ModelRegistry.loadLeafBoost(spark, registryRoot, "serving")
        // either serving schema loads — numeric (servingFeatureNames)
        // or categorical (servingFeatureNamesCat, the CatBoost-semantics
        // family); the reference serves whichever booster is present
        // (api/main.py:227-231)
        if (LocalScorer.servable(m))
          Some(("LEAFBOOST", LocalScorer.leafBoostHook(m)))
        else {
          System.err.println(
            s"[serve] registered 'serving' model rejected (features " +
              s"${m.features} with categorical indices " +
              s"${m.catDicts.keySet.toSeq.sorted} match neither " +
              s"${LocalScorer.servingFeatureNames} (numeric) nor " +
              s"${LocalScorer.servingFeatureNamesCat} (product_code " +
              "categorical)) — serving heuristic-only")
          None
        }
      } else None
    // sequence tier (beyond-reference): a registered `serving_seq`
    // BiLstm with the serving feature dim wires /score/sequence
    val seqModel: Option[(String, Seq[Transaction] => Double)] =
      if (ModelRegistry.latestVersion(spark, registryRoot, "serving_seq") > 0 &&
          ModelRegistry.kindOf(spark, registryRoot, "serving_seq") == "bilstm") {
        val m = ModelRegistry.loadBiLstm(spark, registryRoot, "serving_seq")
        if (m.dim == LocalScorer.servingFeatureNames.length)
          Some(("BILSTM", LocalScorer.biLstmHook(m)))
        else {
          System.err.println(s"[serve] registered 'serving_seq' model " +
            s"rejected (dim ${m.dim} != ${LocalScorer.servingFeatureNames.length}) " +
            "— /score/sequence disabled")
          None
        }
      } else None
    HttpApi.start(port = port, inventory = inventory, model = model,
      seqModel = seqModel)
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_train/registry")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = Session.local()
    val server = build(spark, root, port)
    println(s"[serve] fraud-detection API on http://127.0.0.1:${server.port} " +
      s"(registry: $root, model: ${server.model.map(_._1).getOrElse("Heuristic")})")
    sys.addShutdownHook { server.stop(); spark.stop() }
    Thread.currentThread().join() // block until killed
  }
}
