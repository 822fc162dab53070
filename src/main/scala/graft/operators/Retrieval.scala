package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lexical (BM25) and hybrid lexical→semantic retrieval over a document
  * corpus — the retrieval primitives an LLM-data pipeline runs for
  * dedup triage, decontamination review, and hard-negative mining for
  * retrieval training sets (beyond the reference, which has no corpus
  * search; SURVEY.md §7 training-data tier).
  *
  * BM25 is the Okapi form with Lucene's +1 idf smoothing (public:
  * Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework"):
  *   idf(t)     = ln((N − df + 0.5)/(df + 0.5) + 1)
  *   score(d)   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Scale shape: tokens explode once and filter to the |terms| query
  * terms BEFORE the shuffle (the exchange carries only matching
  * (doc, term) rows); df and the corpus stats are term-count-bounded
  * broadcasts; the per-doc sum is a bounded groupBy. The corpus text
  * itself never shuffles. Determinism: the per-term contributions are
  * summed as exact longs (round(x·10⁹) — the Util.exactSum doctrine),
  * so the per-doc score is association-free and safe to quantize-hash
  * cross-engine; only ln sits upstream, with ~1e-16 of engine slack
  * against a 5e-10 rounding step.
  */
object Retrieval {

  /** Per-document BM25 score for `terms` (documents hitting no query
    * term are absent — standard sparse-retrieval semantics). Output:
    * (idCol, bm25 double = exact-long sum of term scores / 10⁹). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("double").as("__dl"))
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__dl")).as("__sumdl"))
    val tf = toks
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfT = tf.groupBy("__t").agg(count(lit(1)).cast("double").as("__df"))
    // association order is part of the cross-engine contract: the SQL
    // twin must write these very shapes (left-assoc, same literals)
    val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val dlNorm = col("__dl") * b * col("__n") / col("__sumdl") // dl/avgdl
    val termScore =
      idf * col("__tf") * (k1 + 1.0) /
        (col("__tf") + (dlNorm + (1.0 - b)) * k1)
    tf.join(broadcast(dfT), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__ts", round(termScore * 1e9, 0).cast("long"))
      .groupBy(col(idCol))
      .agg((sum(col("__ts")) / 1e9 + lit(0.0)).as("bm25"))
  }

  /** Hybrid retrieval: BM25 shortlist of `shortlist` docs, exact-cosine
    * reranked against `queryVec`'s embedding — the lexical-then-semantic
    * two-stage ranker (hard-negative mining shape: lexically close,
    * semantically scored). `embeddings` joins on (embIdCol == idCol);
    * shortlisted docs without an embedding drop out, standard for a
    * corpus whose embedding coverage trails ingestion. Both stages are
    * bounded: TakeOrdered for the shortlist, a |shortlist|-row join and
    * rerank. */
  def hybrid(docs: DataFrame, idCol: String, textCol: String,
             terms: Seq[String], embeddings: DataFrame, embIdCol: String,
             vecCol: String, queryVec: DataFrame, shortlist: Int,
             topK: Int): DataFrame = {
    val lex = bm25(docs, idCol, textCol, terms)
      .withColumn("__bq", round(col("bm25") * 1e6, 0) / 1e6)
      .orderBy(col("__bq").desc, col(idCol))
      .limit(shortlist)
    val shortEmb = lex.join(embeddings,
      lex(idCol) === embeddings(embIdCol))
    Embeddings.cosineTopK(queryVec, shortEmb.select(col(embIdCol), col(vecCol)),
        embIdCol, embIdCol, vecCol, k = topK)
      .join(lex.select(col(idCol).as("neighbor_id"), col("__bq").as("bm25_q")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("bm25_q"))
  }

  /** Batch BM25: score a SET of queries against the corpus in ONE pass —
    * the shape a mining pipeline actually runs (thousands of queries at
    * once), where per-query `bm25()` calls would each rescan the corpus.
    * The query inventory rides a broadcast join on the token (replacing
    * the single-query isin filter); everything downstream is keyed
    * (query_id, doc) and the arithmetic is the IDENTICAL left-assoc
    * shape as `bm25`, with the same exact-long term-score sums — so a
    * batch run is bit-equal to the per-query runs (spec-pinned).
    *
    * Also emits `n_terms_matched` (distinct query terms present in the
    * doc — one tf row per (query, doc, term) by construction), the
    * deterministic relevance ingredient an IR-evaluation harness needs.
    *
    * Scale: the exploded token stream joins the |Σterms|-row broadcast
    * BEFORE any shuffle, so the exchange carries only matching
    * (query, doc, term) rows; df and corpus stats stay bounded. */
  def bm25Batch(docs: DataFrame, idCol: String, textCol: String,
                queries: Seq[(Int, Seq[String])],
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25Batch needs at least one query, each with at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    // per-query term DEDUP (round-14 advice): bm25()'s isin filter
    // dedups implicitly, but a duplicated term here would fan out the
    // broadcast join and double __tf — silently breaking the documented
    // bit-equality contract with the per-query path
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "__t")
    val toks = docs.select(col(idCol),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("double").as("__dl"))
    val stats = toks.agg(count(lit(1)).cast("double").as("__n"),
      sum(col("__dl")).as("__sumdl"))
    val tf = toks
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("__t"))
      .join(broadcast(qt), "__t")
      .groupBy(col("query_id"), col(idCol), col("__dl"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfT = tf.groupBy("query_id", "__t")
      .agg(count(lit(1)).cast("double").as("__df"))
    // the very shapes of bm25() — the SQL twin and the per-query spec
    // parity both depend on them
    val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
    val dlNorm = col("__dl") * b * col("__n") / col("__sumdl")
    val termScore =
      idf * col("__tf") * (k1 + 1.0) /
        (col("__tf") + (dlNorm + (1.0 - b)) * k1)
    tf.join(broadcast(dfT), Seq("query_id", "__t"))
      .crossJoin(broadcast(stats))
      .withColumn("__ts", round(termScore * 1e9, 0).cast("long"))
      .groupBy(col("query_id"), col(idCol))
      .agg((sum(col("__ts")) / 1e9 + lit(0.0)).as("bm25"),
        count(lit(1)).cast("long").as("n_terms_matched"))
  }
}
