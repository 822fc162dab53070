package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained interpolated bigram language-model scoring — the
  * perplexity quality filter of an LLM-data curation pipeline (CCNet /
  * Wenzek et al. 2020 filter documents by LM perplexity; the reference
  * has no corpus LM — SURVEY.md §7 training-data tier; public formula:
  * Jelinek–Mercer interpolation, Chen & Goodman 1999):
  *
  *   p(w2 | w1) = λ · c(w1,w2)/c(w1·)  +  (1−λ) · u(w2)/T
  *
  * where c(w1,w2) is the corpus bigram count, c(w1·) the count of
  * bigrams starting with w1, u(w2) the corpus unigram count and T the
  * total token count. The unigram back-off term makes every observed
  * bigram's probability strictly positive without a vocabulary prior,
  * so ln(p) is total on the exploded stream.
  *
  * Scale shape (q85/q93 doctrine): the document tokenizes ONCE; the
  * count tables are corpus-bounded aggregates keyed on tokens (the
  * joins are deliberately UNHINTED — vocabulary and bigram inventories
  * grow with the corpus, so a forced broadcast is a 100 TB OOM; AQE
  * picks broadcast while they fit); only the 1-row total rides an
  * explicit broadcast. Document text itself never joins — just the
  * (doc_id, w1, w2) stream.
  *
  * Determinism (the Retrieval/Util.exactSum doctrine): each position's
  * ln(p) quantizes to a long (round(x·10⁶)) BEFORE the per-doc sum, so
  * the document score is an exact integer sum — association-free and
  * hash-safe at any partitioning. The 5e-7 rounding step is chosen
  * against ln's ~1 ulp (≈2e-16) of engine slack: the straddle budget
  * is per DISTINCT BIGRAM (p depends only on the pair's counts), so
  * even a 10⁷-bigram corpus keeps the cross-engine mismatch odds
  * below 10⁻². The default λ=0.75 is deliberate: both λ and 1−λ are
  * exact binary fractions, so a decimal-literal SQL twin (0.75/0.25)
  * folds to the IDENTICAL doubles — λ=0.8 would leave Java's 1.0−0.8
  * one ulp away from SQL's 0.2.
  *
  * The perplexity itself, exp(−avg_logprob), is a monotone display
  * transform that spans orders of magnitude (a hapax-bigram doc scores
  * ppl ≈ T/(1−λ)), so no fixed decimal quantization bounds exp's libm
  * slack — it is emitted raw for API consumers and deliberately kept
  * OUT of cross-engine hash gates, which compare the exact
  * avg_logprob instead.
  */
object LangModel {

  /** Per-document average bigram log-probability (and raw perplexity)
    * under the corpus's own interpolated bigram LM. Documents with
    * fewer than two tokens have no bigram positions and are absent
    * (the sparse semantics of q93/q149). Output: (idCol, n_bigrams
    * long, avg_logprob double — exact-long sum / 10⁶ / n, ppl double —
    * exp(−avg), raw; see the class note on quantizing it). */
  def bigramLogprob(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0,1) to keep ln total: $lambda")
    val toks = docs.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"))
    // adjacent-pair stream: zip the tokens against themselves shifted
    // by one (slice lengths are size−1 ≥ 0, so 1-token docs yield an
    // empty zip, not an error; `sequence(1, size-1)` would flip to a
    // DESCENDING range on those docs — the trap this shape avoids)
    val pairs = toks
      .select(col(idCol),
        slice(col("__toks"), lit(1), size(col("__toks")) - 1).as("__a"),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1).as("__b"))
      .select(col(idCol), explode(arrays_zip(col("__a"), col("__b"))).as("__z"))
      .select(col(idCol), col("__z.__a").as("__w1"), col("__z.__b").as("__w2"))
    val c12 = pairs.groupBy("__w1", "__w2")
      .agg(count(lit(1)).as("__c12"))
    // c(w1·) folds out of the bigram counts — no second pass over text
    val c1 = c12.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
    val uni = toks.select(explode(col("__toks")).as("__w2"))
      .groupBy("__w2").agg(count(lit(1)).as("__u2"))
    val total = uni.agg(sum(col("__u2")).as("__t"))
    // association order is part of the cross-engine contract: the SQL
    // twin writes these very shapes (left-assoc, same literals)
    val p = lit(lambda) * (col("__c12").cast("double") / col("__c1")) +
      lit(1.0 - lambda) * (col("__u2").cast("double") / col("__t"))
    pairs
      .join(c12, Seq("__w1", "__w2"))
      .join(c1, Seq("__w1"))
      .join(uni, Seq("__w2"))
      .crossJoin(broadcast(total))
      .withColumn("__ls", round(log(p) * 1e6, 0).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__ls")) / 1e6 / count(lit(1)) + lit(0.0)).as("avg_logprob"),
        exp(-(sum(col("__ls")) / 1e6 / count(lit(1)))).as("ppl"))
  }

  /** Per-LANGUAGE interpolated bigram LM scoring (round-16 verdict
    * "Missing #2"): Wenzek et al. 2020 train one LM per language, so a
    * minority language's fluency is scored against ITS OWN
    * distribution, not the majority's — a global-LM floor silently
    * punishes every non-majority document for using non-majority
    * vocabulary. Same formula, same exact-long determinism as
    * [[bigramLogprob]]; the only change is that EVERY count table
    * (bigram, prefix, unigram, total) carries `langCol` as an extra
    * key, so p(w2|w1) is conditioned on the document's language
    * bucket. In the intended composition the bucket is the PREDICTED
    * language (TextOps.predictLang — the q163 discipline: no label
    * side-channel).
    *
    * Scale shape: identical to the global LM — the lang key only
    * NARROWS each aggregate's groups and keeps every join colocated
    * on (lang, token); the per-lang totals frame is bounded by the
    * language inventory and rides an explicit broadcast. Output:
    * (idCol, langCol, n_bigrams, avg_logprob, ppl). */
  def bigramLogprobByLang(docs: DataFrame, idCol: String, textCol: String,
                          langCol: String,
                          lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0,1) to keep ln total: $lambda")
    val toks = docs.select(col(idCol), col(langCol),
      TextOps.tokens(col(textCol)).as("__toks"))
    val pairs = toks
      .select(col(idCol), col(langCol),
        slice(col("__toks"), lit(1), size(col("__toks")) - 1).as("__a"),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1).as("__b"))
      .select(col(idCol), col(langCol),
        explode(arrays_zip(col("__a"), col("__b"))).as("__z"))
      .select(col(idCol), col(langCol),
        col("__z.__a").as("__w1"), col("__z.__b").as("__w2"))
    val c12 = pairs.groupBy(col(langCol), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c12"))
    val c1 = c12.groupBy(col(langCol), col("__w1"))
      .agg(sum(col("__c12")).as("__c1"))
    val uni = toks.select(col(langCol), explode(col("__toks")).as("__w2"))
      .groupBy(col(langCol), col("__w2")).agg(count(lit(1)).as("__u2"))
    val totals = uni.groupBy(col(langCol)).agg(sum(col("__u2")).as("__t"))
    val p = lit(lambda) * (col("__c12").cast("double") / col("__c1")) +
      lit(1.0 - lambda) * (col("__u2").cast("double") / col("__t"))
    pairs
      .join(c12, Seq(langCol, "__w1", "__w2"))
      .join(c1, Seq(langCol, "__w1"))
      .join(uni, Seq(langCol, "__w2"))
      .join(broadcast(totals), Seq(langCol))
      .withColumn("__ls", round(log(p) * 1e6, 0).cast("long"))
      .groupBy(col(idCol), col(langCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__ls")) / 1e6 / count(lit(1)) + lit(0.0)).as("avg_logprob"),
        exp(-(sum(col("__ls")) / 1e6 / count(lit(1)))).as("ppl"))
  }
}
