package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{CorpusStats, Dedup, TextOps}
import Util.{Q, qz}

/** Text-pipeline queries over `documents` (SURVEY.md §7 extensions):
  * dedup (exact, MinHash-LSH, SimHash, fingerprint), quality stats,
  * language ID, n-gram Jaccard. Hash-based ops (xxhash64) have no DuckDB
  * equivalent → rows-only checks; everything else is oracle-checked.
  */
object TextQueries {

  def queries: Map[String, Q] = Map(
    // exact dedup summary (count + md5 content-hash form)
    "q50_exact_dedup" -> ((s, dir) =>
      TextOps.exactDupSummary(Tables.documents(s, dir), col("text"))),

    // per-doc token/quality stats
    "q51_text_stats" -> ((s, dir) => {
      val t = col("text")
      val stop = TextOps.langWords.head._2
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.nTokens(t).cast("long").as("n_tokens"),
        TextOps.charSum(t).cast("long").as("char_sum"),
        qz(TextOps.charSum(t).cast("double") / TextOps.nTokens(t), 6).as("avg_token_len"),
        TextOps.hitCount(t, stop).cast("long").as("stop_hits"),
        qz(TextOps.qualityScore(t, stop), 6).as("quality")
      ).orderBy("doc_id")
    }),

    // heuristic language ID (deterministic stopword-hit argmax)
    "q52_lang_id" -> ((s, dir) => {
      val t = col("text")
      val hits = TextOps.langHits(t)
      Tables.documents(s, dir).select(
        Seq(col("doc_id")) ++
          hits.map { case (l, c) => c.cast("long").as(s"hits_$l") } ++
          Seq(TextOps.predictLang(t).as("pred_lang"),
            (TextOps.predictLang(t) === col("lang")).cast("long").as("is_match")): _*)
        .orderBy("doc_id")
    }),

    // n-gram (token-set) Jaccard similarity pairs, blocked by source
    "q53_jaccard_pairs" -> ((s, dir) => {
      TextOps.jaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", "source", threshold = 0.30)
        .select(col("doc1"), col("doc2"), qz(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc1", "doc2")
    }),

    // duplicated-content groups (md5 key). The corpus has no natural
    // exact duplicates at harness SFs, which made a green row vacuous
    // (0 = 0 proves nothing) — so the query PLANTS copies of every 20th
    // doc under disjoint ids (q69/q59 pattern) and the oracle must find
    // exactly those groups, keeper = original id, n_copies = 2. A
    // regression in the hash-groupBy now turns the row red.
    "q61_dup_groups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000000L))
      TextOps.dupGroups(docs.unionByName(planted), col("doc_id"), col("text"))
        .orderBy("keep_id")
    }),

    // text normalization (case fold + control strip + whitespace
    // collapse + trim), proven on a deliberately-messied input both
    // engines derive identically — md5 equality means every character
    // of the normalized form agrees. The derivation keeps itself to
    // printable ASCII first: full (Java) vs simple (utf8proc) case
    // mapping diverges on characters like 'ß', so the cross-engine
    // upper/lower round trip is only a parity check inside ASCII
    "q72_normalize" -> ((s, dir) => {
      val asciiOnly = regexp_replace(col("text"), "[^\\x20-\\x7e]", " ")
      val messy = concat(lit("  "), upper(asciiOnly), lit("\tEND  "))
      // stage the normalized form ONCE as its own projection (the repo's
      // HOF-staging rule): referencing TextOps.normalize(messy) in all
      // three outputs would run the lower + regex chain 3x per row —
      // that constant factor made q72 the most expensive query in the
      // round-5 record
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(messy).as("norm"))
        .select(
          col("doc_id"),
          md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast("long").as("norm_len"),
          TextOps.nTokens(col("norm")).cast("long").as("norm_tokens"))
        .orderBy("doc_id")
    }),

    // token-class counts (whitespace + BPE-ish regex token census)
    // token_class_counts fuses what were three full java.util.regex
    // scans into ONE native byte loop (NativeVector.TokenClassCounts —
    // this was the heavy battery's largest pure-CPU cost, 25 s at sf5).
    // The DuckDB oracle still computes the regexp_count truth, so the
    // gate proves loop ≡ regex class by class on the whole corpus.
    "q60_token_classes" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.nTokens(t).cast("long").as("n_ws_tokens"),
          graft.functions.NativeVector.tokenClassCounts(t).as("tc"))
        .select(col("doc_id"), col("n_ws_tokens"),
          col("tc.n_alpha").as("n_alpha"),
          col("tc.n_num").as("n_num"),
          col("tc.n_other").as("n_other"))
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup DETECTION, oracle-checked end to end: LSH
    // (32 minhashes, 16 bands of 2) generates candidates, exact
    // shingle-set Jaccard verifies them, and only verified pairs are
    // emitted — so the output must EQUAL the exact Jaccard>=0.5 pair set
    // DuckDB computes directly. The data's true pairs all have j>=0.8,
    // where a 2-row band misses with probability (1-j^2)^16 <= 4e-8 —
    // a single missing pair turns this row red, which is exactly the
    // candidate-generation recall guarantee that matters at 100 TB.
    "q54_minhash_lsh" -> ((s, dir) =>
      verifiedNearDupPairs(s, dir)
        .select(col("doc1"), col("doc2"), qz(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc1", "doc2")),

    // near-dup pairs -> canonical dedup GROUPS: connected components
    // (min-label propagation) over the verified pair graph. The oracle
    // recomputes the same components via a recursive transitive closure
    // on the exact Jaccard pairs — so candidate generation, exact
    // verification AND the clustering converge to the same keep-ids.
    "q65_dup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(verifiedNearDupPairs(s, dir), "doc1", "doc2")
        .select(col("id").as("doc_id"), col("canonical_id"))
        .orderBy("doc_id")),

    // SimHash near-dup pairs within source (rows-only — hamming-pair
    // truth at maxDist=10 has no portable SQL form; exactness of the
    // oversized-block pigeonhole reroute is spec-proven)
    // SimHash near-dup pairs at the WIDE radius (maxDist=10 — the
    // probabilistic operator with pigeonhole banding on oversized
    // blocks). The raw pair list has no portable SQL twin (spec-proven
    // in TextDedupSpec), so the emitted surface is a planted-pair
    // containment check (q69/q59 pattern, distinct id offset): exact
    // copies sit at hamming 0, pigeonhole banding guarantees any
    // hamming<=10 pair survives the block reroute, so every planted
    // pair MUST appear in the operator's output — found=true, hamming=0
    // is the complete predictable truth set.
    "q55_simhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      val pairs = Dedup.simHashPairs(docs.unionByName(planted), "doc_id",
        "text", "source", maxDist = 10)
      val truth = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("doc1"),
          (col("doc_id") + 2000000L).as("doc2"))
      truth.join(pairs, Seq("doc1", "doc2"), "left")
        .select(col("doc1"), col("doc2"),
          col("hamming").isNotNull.as("found"),
          coalesce(col("hamming"), lit(-1)).cast("long").as("hamming"))
        .orderBy("doc1", "doc2")
    }),

    // SimHash's deterministic guarantee, oracle-checked (q59 pattern):
    // equal text => equal token stream => equal 32-bit signature =>
    // hamming 0 => the within-source block join MUST emit the pair.
    // Planted exact copies (SQL-reproducible) + any natural same-source
    // exact-text dups form the complete truth set; output is restricted
    // to text-equal pairs so probabilistic near-miss pairs stay out.
    "q69_simhash_dups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val all = docs.unionByName(planted)
      // text-equal pairs necessarily sit at hamming 0 — drop the
      // probabilistic near-miss pairs BEFORE the equality verification,
      // and verify on the md5 CONTENT HASH, not the text: the joins then
      // ship 32-char digests instead of kilobyte documents (the same
      // hashes-shuffle-text-never rule as q50/q61/q96; md5 equality is
      // the exact-dup operator's own definition of "same content")
      val pairs = Dedup.simHashPairs(all, "doc_id", "text", "source", maxDist = 2)
        .filter(col("hamming") === 0)
      val hashes = all.select(col("doc_id"), md5(col("text")).as("h"))
      pairs
        .join(hashes.select(col("doc_id").as("doc1"), col("h").as("h1")), Seq("doc1"))
        .join(hashes.select(col("doc_id").as("doc2"), col("h").as("h2")), Seq("doc2"))
        .filter(col("h1") === col("h2"))
        .select(col("doc1"), col("doc2"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc1", "doc2")
    }),

    // winnowing fingerprints — md5-shingle twin so DuckDB can reproduce
    // the exact fingerprint (xxhash64 fast path covered by TextDedupSpec)
    "q56_fingerprint" -> ((s, dir) =>
      Dedup.fingerprintMd5(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // heavy-hitter token census via the Misra–Gries sketch — the
    // bounded-state 100 TB path where an exact census (q60/q84) would
    // shuffle the whole Heaps'-law vocabulary; the sketch caps state at
    // k counters per partition and k on the wire. Deterministic surface
    // per the q17/q62 tolerance-flag convention: the heavy set
    // (cnt > N/(k+1)) and its EXACT counts are cross-engine
    // reproducible, and the sketch guarantees become always-true flags
    // (in_sketch: every guaranteed-heavy item IS in the summary;
    // est_ok: est ∈ [cnt − N/(k+1), cnt]). Raw estimates are
    // merge-order dependent and are never hashed.
    // PLANTED heavy set (round-8 fix of the sf1 vacuity caveat): the
    // ScaleData replicas dilute every natural token below N/(k+1), so a
    // green row proved only 0 = 0 at sf1. Ten __hot_i tokens are
    // unioned in with m = n0 div 40 + 1 copies each: the new total is
    // N = n0 + 10m ≈ 1.25·n0, so m ≈ n0/40 clears the N/65 ≈ 0.019·n0
    // threshold with ~30% margin AT ANY SF — the heavy set is provably
    // nonempty and the sketch guarantees are exercised, never vacuous.
    "q101_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val k = 64
      // persist: the tokenized stream feeds the sizing count, the
      // sketch pass and the exact census — unpersisted it would
      // re-tokenize the corpus per job (the verify-skill persist rule)
      val natural = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n0 = natural.count()
      val m = n0 / 40 + 1
      val plants = s.range(10 * m)
        .select(concat(lit("__hot_"), col("id") % 10).as("token"))
      val toks = natural.unionByName(plants)
      val summary: Map[String, Long] =
        toks.as[String].select(new graft.functions.FreqSketchAgg(k).toColumn.name("s")).head()
      val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      // total is driver arithmetic, not a fourth pass: n = n0 + 10·m
      val n = n0 + 10 * m
      val bound = n.toDouble / (k + 1)
      val sumDf = summary.toSeq.toDF("token", "est")
      val out = exact.filter(col("cnt") > bound)
        .join(broadcast(sumDf), Seq("token"), "left")
        .select(col("token"), col("cnt"),
          col("est").isNotNull.cast("long").as("in_sketch"),
          (col("est").isNotNull && col("est") <= col("cnt") &&
            col("est") >= col("cnt") - bound).cast("long").as("est_ok"))
        .orderBy("token")
      // bounded output (> n/(k+1) ⇒ at most k+10 heavy rows): materialize
      // NOW so the tokenized cache can be released instead of waiting on
      // the ContextCleaner (the q70 no-pin rule; bench leak sweep flagged
      // this one)
      val rows = out.collect()
      natural.unpersist()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // Gopher-style intra-doc repetition signals (dup/top n-gram
    // fractions, n ∈ {2,3}) with planted high-repetition docs (every
    // 25th doc's first-5-token phrase repeated 12×) so the filter flag
    // provably fires — the pretraining quality filter between cleaning
    // and dedup. Thresholds compare the QUANTIZED fractions on both
    // engines, so the flag can't straddle a rounding boundary.
    "q105_repetition" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val phrase = array_join(slice(TextOps.tokens(col("text")), 1, 5), " ")
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), // negative plant ids: disjoint from replica ids at EVERY scale (the q148 doctrine; +2e8 collided with sf5 replica ids)
          rtrim(repeat(concat(phrase, lit(" ")), 12)).as("text"))
      val sig = TextOps.repetitionSignals(
        docs.unionByName(planted), "doc_id", "text")
      sig.select(col("doc_id"),
        col("n_2grams"), col("d_2grams"),
        qz(lit(1.0) - col("d_2grams").cast("double") / col("n_2grams"), 6).as("dup_2gram_frac"),
        qz(col("top_2gram").cast("double") / col("n_2grams"), 6).as("top_2gram_frac"),
        col("n_3grams"),
        qz(lit(1.0) - col("d_3grams").cast("double") / col("n_3grams"), 6).as("dup_3gram_frac"),
        qz(col("top_3gram").cast("double") / col("n_3grams"), 6).as("top_3gram_frac"))
        .withColumn("rep_flag",
          (col("top_2gram_frac") > 0.2 || col("dup_3gram_frac") > 0.3).cast("long"))
        .orderBy("doc_id")
    }),

    // per-source Jensen-Shannon divergence vs the whole-corpus token
    // distribution — the domain-mix representativeness monitor. The
    // absent-token tail is the closed form 0.5·ln2·(1 − present mass),
    // so only each source's OWN tokens materialize (see CorpusStats);
    // the oracle recomputes distributions, the present-token sum AND
    // the closed form independently.
    "q113_js_divergence" -> ((s, dir) =>
      CorpusStats.jsDivergenceVsCorpus(Tables.documents(s, dir), "source", "text")
        .select(col("source"), col("n_tokens"), col("n_types"),
          qz(col("js"), 6).as("js"), qz(col("js_norm"), 6).as("js_norm"))
        .orderBy("source")),

    // Zipf power-law fit of the token-frequency head (top-1000 by
    // count desc, token asc): alpha = -OLS slope on (ln rank, ln count),
    // r2 as the is-it-Zipfian check. Rank window runs over the top-K
    // only (constant-bounded after TakeOrderedAndProject).
    "q114_zipf_fit" -> ((s, dir) =>
      CorpusStats.zipfFit(Tables.documents(s, dir), "text", topK = 1000)
        .select(col("n_vocab"), col("n_tokens"), col("k_fit"),
          qz(col("alpha"), 6).as("alpha"),
          qz(col("intercept"), 6).as("intercept"),
          qz(col("r2"), 6).as("r2"))),

    // distributed BPE tokenizer training (Sennrich 2016): 15 merges on
    // the documents word histogram — ONE corpus shuffle, then every
    // round is vocabulary-bounded (pair count + argmax + codegen'd
    // map-side merge). Deterministic by total-order tie-break, so the
    // emitted merge table is stable across layouts/engines — and FULLY
    // oracle-gated since round 10: bpeOracleSql generates a chained-CTE
    // DuckDB twin that runs the complete 15-round merge loop
    // independently (sentinel-wrapped symbol strings + replace), so the
    // whole merge table is rows+schema+hash checked. BpeSpec's
    // independent-implementation parity remains as the third witness.
    "q121_bpe_train" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Bpe.train(Tables.documents(s, dir), "text", numMerges = 15)
        .toDF().select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("freq"))
        .orderBy("rank")
    }),

    // tokenizer APPLICATION at corpus scale (the encode half of q121's
    // trainer): train 15 merges, then tokenize every document with the
    // codegen'd bpe_apply — merge replay runs once per DISTINCT word
    // (vocabulary-bounded), docs join their exploded words against that
    // map and reassemble in order. Oracle replays the same 15 rounds in
    // DuckDB and reassembles with an ordered list aggregate; per-doc
    // token count + an md5 over the space-joined token sequence make
    // every token of every document hash-checked.
    "q130_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Bpe.train(docs, "text", numMerges = 15)
      graft.operators.Bpe.tokenizeCorpus(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("toks_md5"))
        .orderBy("doc_id")
    }),

    // mix-concentration monitor over the source dimension: entropy,
    // normalized entropy, HHI, effective source count — the one-row
    // dashboard a data-mixing pipeline checks per snapshot (drift
    // toward a dominant source moves HHI/effective-n long before a
    // per-source threshold trips). Weighted by TOKEN mass, not doc
    // count — what actually enters a training mix.
    "q122_mix_concentration" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      CorpusStats.mixConcentration(toks, "source")
        .select(col("n_categories"), col("n_rows"),
          qz(col("entropy"), 6).as("entropy"),
          qz(col("entropy_norm"), 6).as("entropy_norm"),
          qz(col("hhi"), 6).as("hhi"),
          qz(col("effective_n"), 6).as("effective_n"))
    })
  )

  /** MinHash-LSH (32 hashes, 16 bands of 2) candidates, exact-verified
    * on shingle STRINGS (cross-engine reproducible; the hashed-shingle
    * fast path stays inside candidate generation) at Jaccard >= 0.5.
    * The data's true pairs all have j >= 0.8, where a 2-row band misses
    * with probability (1-j^2)^16 <= 4e-8 — the emitted set must EQUAL
    * the exact pair set DuckDB computes directly (one missing pair turns
    * q54/q65 red), which is the candidate-generation recall guarantee
    * that matters at 100 TB. Short docs get one whole-doc shingle —
    * same contract as q56. */
  private[graft] def verifiedNearDupPairs(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame = {
    // the shingle frame below tokenizes per verify-join side — widen a
    // narrow scan so both passes (and the MinHash pass inside the
    // candidate generator) parallelize (round-21, guide §2.5)
    val docs = graft.operators.Widen(Tables.documents(s, dir))
    val cands = Dedup.minHashCandidatePairs(docs, "doc_id", "text",
      shingleLen = 3, k = 32, bands = 16)
    val sh = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(0), greatest(size(col("__toks")) - 3, lit(0))),
        i => concat_ws(" ", slice(col("__toks"), i + 1, lit(3))))).as("sh"))
    cands
      .join(sh.select(col("doc_id").as("doc1"), col("sh").as("sh1")), Seq("doc1"))
      .join(sh.select(col("doc_id").as("doc2"), col("sh").as("sh2")), Seq("doc2"))
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2")))) // union >= 1 always
      .filter(col("jaccard") >= 0.5)
      .select("doc1", "doc2", "jaccard")
  }

  private val stopList = TextOps.stopListSql

  /** Full DuckDB twin of iterative BPE training — the round-9 verdict
    * asked for a partial oracle (histogram + round-1 argmax); the whole
    * merge loop turns out to be single-statement SQL, so q121 gets the
    * complete gate instead. Each word's symbol sequence is encoded as a
    * string with every symbol wrapped in chr(31) (US) sentinels:
    *   "he" -> (U)h(U)(U)e(U)(U)</w>(U)   [U = chr(31)]
    * A merge of pair (a,b) is then plain replace() of
    * (U)a(U)(U)b(U) with (U)ab(U) — string replace is
    * left-to-right non-overlapping, exactly the BPE fuse, and the
    * PER-SYMBOL wrapping means adjacent matches share no characters
    * (a space-join would: ' a b a b ' matches ' a b ' once, not twice)
    * and a pattern can never straddle a symbol boundary ("xa by" would
    * match 'a b' under naive space-joining). Pair counts re-split on
    * the double sentinel; argmax uses the same total order as the Spark
    * side (freq DESC, a, b — DuckDB compares varchar by UTF-8 bytes,
    * matching Spark's UTF8String ordering). Every stage is
    * MATERIALIZED: the default inlined CTEs expand w_k's ~3 references
    * to w_{k-1} into 3^k scans. Safe because the corpus tokens contain
    * no chr(31)/chr(30) (synthetic text; tokens are whitespace-split so
    * neither control char survives tokenization as a symbol edge). */
  private def bpeMergeCtes(numMerges: Int): Seq[(String, String)] = {
    val U = "chr(31)"; val R = "chr(30)"
    def pairs(prev: String): String =
      s"SELECT cnt, unnest(list_transform(generate_series(1, len(syms)-1), i -> syms[i] || $R || syms[i+1])) AS pr " +
        s"FROM (SELECT cnt, string_split(trim(s, $U), $U||$U) AS syms FROM $prev)"
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "hist" -> ("SELECT w, count(*) AS cnt FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w " +
        "FROM documents) WHERE len(w) > 0 GROUP BY w"),
      // w rides through every round so the final table doubles as the
      // word -> tokenized-form map q130 joins against
      "w0" -> s"SELECT w, cnt, regexp_replace(w, '(.)', $U||'\\1'||$U, 'g') || $U||'</w>'||$U AS s FROM hist")
    for (k <- 1 to numMerges) {
      val prev = s"w${k - 1}"
      ctes += s"b$k" -> (s"SELECT a, b, freq FROM (SELECT string_split(pr, $R)[1] AS a, string_split(pr, $R)[2] AS b, " +
        s"sum(cnt) AS freq FROM (${pairs(prev)}) GROUP BY 1, 2) ORDER BY freq DESC, a, b LIMIT 1")
      ctes += s"w$k" -> (s"SELECT w, cnt, replace(s, (SELECT $U||a||$U||$U||b||$U FROM b$k), " +
        s"(SELECT $U||a||b||$U FROM b$k)) AS s FROM $prev")
    }
    ctes.toSeq
  }

  private def withCtes(ctes: Seq[(String, String)], tail: String): String =
    "WITH " + ctes.map { case (n, q) => s"$n AS MATERIALIZED ($q)" }.mkString(",\n") +
      "\n" + tail

  private def bpeOracleSql(numMerges: Int): String = {
    val union = (1 to numMerges)
      .map(k => s"SELECT ${k - 1} AS rank, a, b, freq FROM b$k").mkString(" UNION ALL ")
    withCtes(bpeMergeCtes(numMerges),
      "SELECT CAST(rank AS BIGINT) AS rank, a AS \"left\", b AS \"right\", " +
        "CAST(freq AS BIGINT) AS freq FROM (" + union + ") ORDER BY rank")
  }

  /** q130 twin: the same merge replay, then every word's final symbol
    * string re-splits into its token list, documents' exploded words
    * join against that map, and per-doc sequences reassemble in word
    * order (list(... ORDER BY pos) + flatten — DuckDB's ordered list
    * aggregate). Documents with no words survive via the LEFT JOIN with
    * empty tokens, mirroring tokenizeCorpus's null-word row. */
  private def bpeTokenizeOracleSql(numMerges: Int): String = {
    val U = "chr(31)"
    val tail =
      s"""tok AS MATERIALIZED (
         | SELECT w, string_split(trim(s, $U), $U||$U) AS toks FROM w$numMerges),
         |dw AS (
         | SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS pos
         | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
         |       FROM documents)),
         |joined AS (
         | SELECT doc_id, pos, toks FROM dw JOIN tok USING (w) WHERE len(w) > 0),
         |agg AS (
         | SELECT doc_id, flatten(list(toks ORDER BY pos)) AS tokens
         | FROM joined GROUP BY doc_id)
         |SELECT d.doc_id,
         | CAST(coalesce(len(a.tokens), 0) AS BIGINT) AS n_tokens,
         | md5(coalesce(array_to_string(a.tokens, ' '), '')) AS toks_md5
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    val ctes = bpeMergeCtes(numMerges)
    "WITH " + ctes.map { case (n, q) => s"$n AS MATERIALIZED ($q)" }.mkString(",\n") +
      ",\n" + tail
  }

  def oracle: Map[String, String] = Map(
    "q121_bpe_train" -> bpeOracleSql(15),
    "q130_bpe_tokenize" -> bpeTokenizeOracleSql(15),
    // exact 3-shingle-set Jaccard >= 0.5 pairs via an inverted-index
    // join (pairs sharing no shingle never materialize — the same
    // principle the Spark side's LSH exploits)
    "q54_minhash_lsh" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(0, greatest(len(toks) - 3, 0)),
        |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
        | FROM t),
        |c AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS g FROM s),
        |p AS (
        | SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  any_value(a.nsh) AS n1, any_value(b.nsh) AS n2, count(*) AS cc
        | FROM c a JOIN c b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id)
        |SELECT d1 AS doc1, d2 AS doc2,
        | round((CAST(cc AS DOUBLE) / (n1 + n2 - cc)) * 1000000.0) / 1000000.0 + 0.0 AS jaccard
        |FROM p WHERE CAST(cc AS DOUBLE) / (n1 + n2 - cc) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin,

    // complete truth: same-source text-equal pairs over corpus+copies,
    // all necessarily at hamming 0
    // the deterministic guarantee is the oracle: every planted exact
    // copy must be found by the wide-radius SimHash operator, at
    // hamming 0 — the truth set is SQL-trivial
    "q55_simhash_pairs" ->
      """SELECT doc_id AS doc1, doc_id + 2000000 AS doc2,
        | TRUE AS found, CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY doc1""".stripMargin,

    "q69_simhash_dups" ->
      """WITH ad AS (
        | SELECT doc_id, text, source FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id < 50)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2, CAST(0 AS BIGINT) AS hamming
        |FROM ad a JOIN ad b
        | ON a.source = b.source AND a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY doc1, doc2""".stripMargin,

    // same exact pair set, then components as a recursive transitive
    // closure: canonical_id = min id reachable in the pair graph
    "q65_dup_clusters" ->
      """WITH RECURSIVE t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(0, greatest(len(toks) - 3, 0)),
        |   i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
        | FROM t),
        |c AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS g FROM s),
        |p AS (
        | SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  any_value(a.nsh) AS n1, any_value(b.nsh) AS n2, count(*) AS cc
        | FROM c a JOIN c b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY a.doc_id, b.doc_id),
        |e0 AS (
        | SELECT d1 AS a, d2 AS b FROM p
        | WHERE CAST(cc AS DOUBLE) / (n1 + n2 - cc) >= 0.5),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id)
        |SELECT id AS doc_id, min(r) AS canonical_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q56_fingerprint" ->
      """WITH t AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        | FROM documents),
        |s AS (
        | SELECT doc_id, list_transform(
        |   generate_series(0, greatest(len(toks) - 8, 0)),
        |   i -> md5(array_to_string(toks[i+1:i+8], ' '))) AS sh
        | FROM t)
        |SELECT doc_id, list_min(sh) AS fingerprint_md5,
        | CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin,

    "q50_exact_dedup" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_text,
        | count(DISTINCT md5(text)) AS n_distinct_md5
        |FROM documents""".stripMargin,

    "q51_text_stats" ->
      s"""WITH t AS (
         | SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
         | FROM documents),
         |f AS (
         | SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS char_sum,
         |  len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
         |  n_punct
         | FROM t)
         |SELECT doc_id, n_tokens, char_sum,
         | round((CAST(char_sum AS DOUBLE)/n_tokens) * 1000000.0) / 1000000.0 + 0.0 AS avg_token_len,
         | stop_hits,
         | round((0.4*least(1.0, CAST(n_tokens AS DOUBLE)/100.0)
         |  + 0.3*(CAST(stop_hits AS DOUBLE)/n_tokens)
         |  + 0.3*(1.0 - least(1.0, CAST(n_punct AS DOUBLE)/n_tokens))) * 1000000.0) / 1000000.0 + 0.0 AS quality
         |FROM f ORDER BY doc_id""".stripMargin,

    "q52_lang_id" ->
      """WITH t AS (
        | SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
        | FROM documents),
        |h AS (
        | SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','to','and','is','in'], x))) AS hits_en,
        |  len(list_filter(toks, x -> list_contains(['le','la','de','et','un','est'], x))) AS hits_fr,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','ist'], x))) AS hits_de,
        |  len(list_filter(toks, x -> list_contains(['el','los','de','y','un','es'], x))) AS hits_es
        | FROM t),
        |p AS (
        | SELECT doc_id, lang, hits_en, hits_fr, hits_de, hits_es,
        |  CASE WHEN hits_en > 0 AND hits_en >= greatest(hits_fr, hits_de, hits_es) THEN 'en'
        |       WHEN hits_fr > 0 AND hits_fr >= greatest(hits_de, hits_es) THEN 'fr'
        |       WHEN hits_de > 0 AND hits_de >= hits_es THEN 'de'
        |       WHEN hits_es > 0 THEN 'es'
        |       ELSE 'unknown' END AS pred_lang
        | FROM h)
        |SELECT doc_id, hits_en, hits_fr, hits_de, hits_es, pred_lang,
        | CAST(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,

    "q53_jaccard_pairs" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        | FROM documents)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        | round((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |  / len(list_distinct(list_concat(a.toks, b.toks)))) * 1000000.0) / 1000000.0 + 0.0 AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.30
        |ORDER BY doc1, doc2""".stripMargin,

    "q61_dup_groups" ->
      """WITH planted AS (
        | SELECT doc_id + 100000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |al AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM planted)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM al GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,

    // same messy derivation + normalization in RE2 syntax (ASCII-first,
    // matching the Spark side's case-mapping guard)
    "q72_normalize" ->
      """WITH m AS (
        | SELECT doc_id, '  ' || upper(regexp_replace(text, '[^\x20-\x7e]', ' ', 'g'))
        |   || chr(9) || 'END  ' AS messy
        | FROM documents),
        |n AS (
        | SELECT doc_id, trim(regexp_replace(
        |   regexp_replace(lower(messy), '[\x00-\x1f\x7f]', ' ', 'g'),
        |   '\s+', ' ', 'g')) AS norm
        | FROM m)
        |SELECT doc_id, md5(norm) AS norm_md5,
        | CAST(length(norm) AS BIGINT) AS norm_len,
        | CAST(len(regexp_split_to_array(trim(norm), '\s+')) AS BIGINT) AS norm_tokens
        |FROM n ORDER BY doc_id""".stripMargin,

    "q60_token_classes" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
        | len(regexp_extract_all(text, '[0-9]+')) AS n_num,
        | len(regexp_extract_all(text, '[^a-z0-9\s]')) AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact heavy set + counts; the sketch guarantees are always-true
    // flags on the Spark side (k=64 → threshold N/65)
    "q101_heavy_hitters" ->
      """WITH nat AS (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        | FROM documents),
        |n0 AS (SELECT count(*) AS c FROM nat),
        |plant AS (
        | SELECT unnest(regexp_split_to_array(rtrim(repeat(
        |   '__hot_' || CAST(h AS VARCHAR) || ' ',
        |   CAST((SELECT c // 40 + 1 FROM n0) AS BIGINT))), '\s+')) AS token
        | FROM generate_series(0, 9) AS t(h)),
        |toks AS (SELECT token FROM nat UNION ALL SELECT token FROM plant),
        |tot AS (SELECT count(*) AS n FROM toks),
        |cnt AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
        |SELECT token, cnt, CAST(1 AS BIGINT) AS in_sketch,
        | CAST(1 AS BIGINT) AS est_ok
        |FROM cnt, tot WHERE cnt > n/65.0 ORDER BY token""".stripMargin,

    // same planted union + q53-style gram construction, rolled up the
    // same two levels; thresholds applied to the quantized fractions
    "q105_repetition" ->
      """WITH planted AS (
        | SELECT -doc_id - 1 AS doc_id,
        |  rtrim(repeat(array_to_string(
        |    (regexp_split_to_array(trim(text), '\s+'))[1:5], ' ') || ' ', 12)) AS text
        | FROM documents WHERE doc_id % 25 = 0),
        |al AS (SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id, text FROM planted),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM al),
        |g AS (
        | SELECT doc_id, 2 AS n, unnest(list_transform(
        |   generate_series(0, greatest(len(toks) - 2, 0)),
        |   i -> array_to_string(toks[i+1:i+2], ' '))) AS g
        | FROM t
        | UNION ALL
        | SELECT doc_id, 3 AS n, unnest(list_transform(
        |   generate_series(0, greatest(len(toks) - 3, 0)),
        |   i -> array_to_string(toks[i+1:i+3], ' '))) AS g
        | FROM t),
        |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
        |st AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot,
        |  CAST(count(*) AS BIGINT) AS dist, max(c) AS top
        | FROM c GROUP BY doc_id, n),
        |w AS (SELECT doc_id,
        |  max(CASE WHEN n = 2 THEN tot END) AS n2,
        |  max(CASE WHEN n = 2 THEN dist END) AS d2,
        |  max(CASE WHEN n = 2 THEN top END) AS t2,
        |  max(CASE WHEN n = 3 THEN tot END) AS n3,
        |  max(CASE WHEN n = 3 THEN dist END) AS d3,
        |  max(CASE WHEN n = 3 THEN top END) AS t3
        | FROM st GROUP BY doc_id),
        |f AS (SELECT doc_id, n2 AS n_2grams, d2 AS d_2grams,
        |  round((1.0 - CAST(d2 AS DOUBLE) / n2) * 1000000.0) / 1000000.0 + 0.0 AS dup_2gram_frac,
        |  round((CAST(t2 AS DOUBLE) / n2) * 1000000.0) / 1000000.0 + 0.0 AS top_2gram_frac,
        |  n3 AS n_3grams,
        |  round((1.0 - CAST(d3 AS DOUBLE) / n3) * 1000000.0) / 1000000.0 + 0.0 AS dup_3gram_frac,
        |  round((CAST(t3 AS DOUBLE) / n3) * 1000000.0) / 1000000.0 + 0.0 AS top_3gram_frac
        | FROM w)
        |SELECT f.*, CAST(top_2gram_frac > 0.2 OR dup_3gram_frac > 0.3 AS BIGINT) AS rep_flag
        |FROM f ORDER BY doc_id""".stripMargin,

    // the same sparse JS identity: present-token sum + closed-form
    // absent tail 0.5*ln(2)*(1 - present mass of the global side)
    "q113_js_divergence" ->
      """WITH toks AS (
        | SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        | FROM documents),
        |c AS (SELECT source, t, count(*) AS cs FROM toks GROUP BY 1, 2),
        |g AS (SELECT t, sum(cs) AS cg FROM c GROUP BY 1),
        |ts AS (SELECT source, sum(cs) AS tot_s, count(*) AS n_types
        | FROM c GROUP BY 1),
        |tg AS (SELECT sum(cg) AS tot_g FROM g),
        |j AS (
        | SELECT c.source,
        |  CAST(cs AS DOUBLE) / tot_s AS ps,
        |  CAST(cg AS DOUBLE) / tot_g AS pg
        | FROM c JOIN g USING (t) JOIN ts ON c.source = ts.source
        |  CROSS JOIN tg),
        |agg AS (
        | SELECT source,
        |  sum(0.5*ps*ln(ps/((ps+pg)/2)) + 0.5*pg*ln(pg/((ps+pg)/2))) AS present,
        |  sum(pg) AS mass_g
        | FROM j GROUP BY 1)
        |SELECT ts.source, CAST(tot_s AS BIGINT) AS n_tokens,
        | CAST(n_types AS BIGINT) AS n_types,
        | round((present + 0.5*ln(2)*(1.0 - mass_g)) * 1000000.0) / 1000000.0 + 0.0 AS js,
        | round((present + 0.5*ln(2)*(1.0 - mass_g)) / ln(2) * 1000000.0) / 1000000.0 + 0.0 AS js_norm
        |FROM agg JOIN ts USING (source) ORDER BY source""".stripMargin,

    // identical head construction (count desc, token asc) + OLS over
    // (ln rank, ln count)
    "q114_zipf_fit" ->
      """WITH toks AS (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        | FROM documents),
        |c AS (SELECT t, count(*) AS cnt FROM toks GROUP BY 1),
        |v AS (SELECT count(*) AS n_vocab, sum(cnt) AS n_tokens FROM c),
        |top AS (
        | SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t ASC) AS r
        | FROM c ORDER BY cnt DESC, t ASC LIMIT 1000),
        |fit AS (
        | SELECT count(*) AS k_fit,
        |  -regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(r AS DOUBLE))) AS alpha,
        |  regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(r AS DOUBLE))) AS intercept,
        |  regr_r2(ln(CAST(cnt AS DOUBLE)), ln(CAST(r AS DOUBLE))) AS r2
        | FROM top)
        |SELECT CAST(n_vocab AS BIGINT) AS n_vocab,
        | CAST(n_tokens AS BIGINT) AS n_tokens, CAST(k_fit AS BIGINT) AS k_fit,
        | round(alpha * 1000000.0) / 1000000.0 + 0.0 AS alpha,
        | round(intercept * 1000000.0) / 1000000.0 + 0.0 AS intercept,
        | round(r2 * 1000000.0) / 1000000.0 + 0.0 AS r2
        |FROM fit CROSS JOIN v""".stripMargin,

    // token-mass-weighted source shares → entropy/HHI re-derived
    "q122_mix_concentration" ->
      """WITH toks AS (
        | SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        | FROM documents),
        |c AS (SELECT source, count(*) AS n FROM toks GROUP BY 1),
        |t AS (SELECT sum(n) AS big_n, count(*) AS k FROM c),
        |e AS (
        | SELECT k, big_n,
        |  sum(-(CAST(n AS DOUBLE)/big_n) * ln(CAST(n AS DOUBLE)/big_n)) AS entropy,
        |  sum((CAST(n AS DOUBLE)/big_n) * (CAST(n AS DOUBLE)/big_n)) AS hhi
        | FROM c CROSS JOIN t GROUP BY k, big_n)
        |SELECT CAST(k AS BIGINT) AS n_categories, CAST(big_n AS BIGINT) AS n_rows,
        | round(entropy * 1000000.0) / 1000000.0 + 0.0 AS entropy,
        | round(CASE WHEN k > 1 THEN entropy / ln(CAST(k AS DOUBLE)) ELSE 0.0 END
        |   * 1000000.0) / 1000000.0 + 0.0 AS entropy_norm,
        | round(hhi * 1000000.0) / 1000000.0 + 0.0 AS hhi,
        | round(exp(entropy) * 1000000.0) / 1000000.0 + 0.0 AS effective_n
        |FROM e""".stripMargin
  )
}
