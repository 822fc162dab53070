package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §7 extensions): tokenization, quality stats, heuristic
  * language ID, exact dedup, n-gram Jaccard pair similarity.
  *
  * Everything is built from codegen'd Column expressions (split /
  * higher-order array functions) — no UDFs — so the ops scale linearly
  * and stay inside whole-stage codegen. Pairwise ops join within a
  * blocking key (`source`) to bound the candidate set.
  */
object TextOps {

  /** Whitespace tokenization, trim first (parity with DuckDB
    * regexp_split_to_array(trim(x), '\s+')). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def nTokens(text: Column): Column = size(tokens(text))

  /** Canonical text normalization for cleaning/dedup pipelines: case
    * fold, strip ASCII control characters, collapse whitespace runs to
    * one space, trim. Pure codegen'd string expressions; the explicit
    * control-char class (not \p{Cntrl}) keeps the semantics portable
    * across regex engines (Java here, RE2 in the DuckDB oracle). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1f\\x7f]", " "),
      "\\s+", " "))

  /** Total characters across tokens (fold — exact integer). */
  def charSum(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t)), lit(0), (a, x) => a + x)

  /** Count of tokens contained in `words` (duplicates counted). */
  def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  def punctCount(text: Column): Column = regexp_count(text, lit("[.,;:!?]"))

  /** Composite quality score ∈ [0,1]: length component + stopword
    * density + punctuation sparsity (deterministic arithmetic). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val n = nTokens(text).cast("double")
    val lenScore = least(lit(1.0), n / 100.0)
    val stopRatio = hitCount(text, stopwords).cast("double") / n
    val punctRatio = punctCount(text).cast("double") / n
    lit(0.4) * lenScore + lit(0.3) * stopRatio + lit(0.3) * (lit(1.0) - least(lit(1.0), punctRatio))
  }

  /** Per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: first language in this order
    * with the (weakly) max hit count wins; zero hits → "unknown". */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist"),
    "es" -> Seq("el", "los", "de", "y", "un", "es"))

  /** The English stopword list as a DuckDB array literal — the ONE
    * source for every oracle that mirrors langWords.head (q51, q92);
    * derived, so the three can never drift. */
  def stopListSql: String = langWords.head._2.mkString("['", "','", "']")

  def langHits(text: Column): Seq[(String, Column)] =
    langWords.map { case (l, ws) => l -> hitCount(text, ws) }

  def predictLang(text: Column): Column = {
    val hits = langHits(text)
    val maxHits = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("unknown"): Column) { case ((l, h), acc) =>
      when(h > 0 && h === maxHits, lit(l)).otherwise(acc)
    }
  }

  /** Exact-duplicate summary: docs sharing identical text (also by md5
    * content hash — the form that scales to a shuffle on a 32-char key
    * instead of full text). */
  def exactDupSummary(docs: DataFrame, text: Column): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(text).as("n_distinct_text"),
      countDistinct(md5(text)).as("n_distinct_md5"))

  /** Keeper (min doc_id) per duplicated text group. */
  def dupGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Distinct-token-set Jaccard over doc pairs inside a blocking key.
    * Exact set semantics (array_intersect/array_union dedup) — matches
    * DuckDB list_intersect / list_distinct(list_concat).
    *
    * Scale guard: the within-block join is quadratic, which is fine when
    * blocks are bounded but a blowup if one block is huge. Blocks larger
    * than `maxBlockSize` are automatically rerouted through MinHash-LSH
    * candidate generation (band-bucket join, still inside the block)
    * followed by the same exact-Jaccard verification. The reroute is
    * APPROXIMATE — unlike simHashPairs' pigeonhole banding: a pair at
    * similarity j survives with p = 1−(1−j^r)^bands (r = lshK/lshBands);
    * at the defaults (r=2, 16 bands) that is ~78% for j=0.30, ~96% for
    * j=0.5, ~100% for j≥0.8. Oracle parity therefore holds only while
    * every block is under the cap (true at all harness SFs); at corpus
    * scale tune (lshK, lshBands) so r ≲ ln(bands)/ln(1/threshold), or
    * raise maxBlockSize where exactness matters more than boundedness. */
  def jaccardPairs(docs: DataFrame, id: String, text: String,
                   blockKey: String, threshold: Double,
                   maxBlockSize: Int = 10000,
                   lshK: Int = 32, lshBands: Int = 16,
                   seed: Long = 42L): DataFrame = {
    // Pair-join optimization ladder (semantics unchanged vs naive
    // token-set jaccard):
    //  1. tokenize ONCE per doc, before the join;
    //  2. represent token sets as SORTED DISTINCT xxhash64 values
    //     (injective on any realistic vocabulary);
    //  3. |A∩B| via the native two-pointer SortedLongIntersectCount —
    //     codegen'd, zero allocation (vs array_intersect's hash build);
    //  4. |A∪B| = |A|+|B|−|A∩B|;
    //  5. size-ratio prefilter: jaccard ≥ t ⟹ min(n1,n2) ≥ t·max(n1,n2).
    require(lshK % lshBands == 0, s"lshK=$lshK must be divisible by lshBands=$lshBands")
    val toks = array_sort(array_distinct(transform(tokens(col(text)), t => xxhash64(t))))
    // tokenize runs per REFERENCE of `base` (4-6× here) and each pass is
    // CPU-bound — widen a narrow scan so the passes parallelize
    // (round-21, guide §2.5; no-op at cluster-scale layouts)
    val base = Widen(docs).select(col(blockKey).as("bk"), col(id).as("doc"),
      toks.as("t"), size(toks).as("n"))
    val sizes = base.groupBy("bk").agg(count(lit(1)).as("__bn"))
    val tagged = base.join(sizes, Seq("bk")) // same bk shuffle the pair join needs
    val inter = graft.functions.NativeVector.sortedIntersect(col("t1"), col("t2"))
    def verify(pairs: DataFrame): DataFrame = pairs
      .filter(least(col("n1"), col("n2")) >= greatest(col("n1"), col("n2")) * threshold)
      .withColumn("jaccard",
        inter.cast("double") / (col("n1") + col("n2") - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))

    val small = tagged.filter(col("__bn") <= maxBlockSize)
    val smallPairs =
      small.select(col("bk"), col("doc").as("doc1"), col("t").as("t1"), col("n").as("n1"))
        .join(small.select(col("bk"), col("doc").as("doc2"), col("t").as("t2"), col("n").as("n2")),
          Seq("bk"))
        .filter(col("doc1") < col("doc2"))

    // oversized blocks: MinHash over the token-hash set (mod 2^31−1 keeps
    // the affine permutes overflow-free), band-bucket self-join inside
    // (block, band, bucket), then exact verification of the candidates
    val big = tagged.filter(col("__bn") > maxBlockSize)
    val r = lshK / lshBands
    val bigSig = big.withColumn("mh", Dedup.minHashFromShingles(
      transform(col("t"), x => pmod(x, lit(2147483647L))), lshK, seed))
    val banded = bigSig.select(col("bk"), col("doc"),
      explode(transform(sequence(lit(0), lit(lshBands - 1)),
        b => struct(b.as("band"), hash(slice(col("mh"), b * r + 1, lit(r))).as("bucket"))))
        .as("bb"))
      .select(col("bk"), col("doc"), col("bb.band"), col("bb.bucket"))
    val bigCands = banded.select(col("bk"), col("band"), col("bucket"), col("doc").as("doc1"))
      .join(banded.select(col("bk"), col("band"), col("bucket"), col("doc").as("doc2")),
        Seq("bk", "band", "bucket"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
    val bigPairs = bigCands
      .join(base.select(col("doc").as("doc1"), col("t").as("t1"), col("n").as("n1")), Seq("doc1"))
      .join(base.select(col("doc").as("doc2"), col("t").as("t2"), col("n").as("n2")), Seq("doc2"))

    verify(smallPairs).unionByName(verify(bigPairs))
  }

  /** Gopher/MassiveText-style intra-document REPETITION signals — the
    * standard pretraining quality filters the reference's cleaning stage
    * lacks (Rae et al. 2021 §A1.1, public): per document,
    *   - dup_{n}gram_frac: fraction of n-gram OCCURRENCES that are
    *     repeats of an earlier occurrence (1 − distinct/total);
    *   - top_{n}gram_frac: fraction contributed by the single most
    *     frequent n-gram.
    * Per-doc state is bounded by the doc's own gram count — the same
    * bound the old explode → two-shuffle rollup paid, now without any
    * exchange at all (see inline comment).
    *
    * Gram construction mirrors the q53 oracle form exactly:
    * generate_series(0, greatest(len−n, 0)) slices joined with spaces —
    * a doc with fewer than n tokens yields its whole token list as one
    * truncated "gram" on BOTH engines (total ≥ 1, so the fractions are
    * total; parity over elegance). */
  def repetitionSignals(docs: DataFrame, id: String, text: String,
                        ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad gram orders $ns")
    // __-prefixed internals (repo convention for staged columns): a
    // caller frame carrying its own "toks" must not collide.
    // The statistics are strictly per-document, so the scalable shape is
    // ZERO exchanges: the native ngram_stats expression (one local
    // counting pass per (doc, n) inside whole-stage codegen) replaces
    // the earlier explode → groupBy(doc, n, gram) → groupBy(doc, n) →
    // pivot pipeline, which shuffled every gram of the corpus twice —
    // at 100 TB that shuffle IS the job. A null text tokenizes to null
    // and emits no row, matching the explode form's drop.
    val staged = docs
      .select(col(id), tokens(col(text)).as("__toks"))
      .filter(col("__toks").isNotNull)
      .select(col(id) +: ns.map(n =>
        graft.functions.NativeVector.ngramStats(col("__toks"), n).as(s"__st_$n")): _*)
    staged.select(col(id) +: ns.flatMap(n => Seq(
      col(s"__st_$n.total").as(s"n_${n}grams"),
      col(s"__st_$n.distinct").as(s"d_${n}grams"),
      col(s"__st_$n.top").as(s"top_${n}gram"))): _*)
  }
}
