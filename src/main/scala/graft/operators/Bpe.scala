package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.NativeVector

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, public — the GPT-2/HF training algorithm).
  *
  * The scale insight every real BPE trainer uses: merges depend only on
  * the DISTINCT-WORD HISTOGRAM, not the corpus. One corpus-sized
  * word-count shuffle up front (vocabulary-bounded output), then every
  * merge round runs on the word table: count adjacent symbol pairs
  * weighted by word count (explode → groupBy pair — bounded by the
  * live pair vocabulary), take the argmax (freq desc, then pair
  * lexicographic — a total order, so training is deterministic across
  * engines/layouts), and apply the merge to each word's symbol array
  * map-side via the codegen'd `bpe_merge` expression. A 100 TB corpus
  * and a 100 GB corpus with the same vocabulary train at the SAME
  * per-round cost after the first shuffle.
  *
  * Each round persists its symbol table and unpersists the previous one
  * (K rounds would otherwise stack K transforms of lineage onto every
  * job). The driver holds one (pair, freq) row per round — nothing
  * else ever collects. */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** End-of-word marker, appended as a separate final symbol so merges
    * can distinguish word-final from word-internal contexts (the
    * original BPE formulation). Chosen outside any natural alphabet. */
  val EndOfWord = "</w>"

  /** Train `numMerges` merges on the word histogram of `text`. Returns
    * the ordered merge table; `vocabulary` rebuilds the final symbol
    * vocabulary from it. Words shorter than 2 symbols never merge and
    * ride along untouched.
    *
    * Two EXACT-equivalent execution branches (BpeSpec proves parity on
    * real documents), chosen by histogram size — the Ivf/Pq bounded-
    * state doctrine, except here the bounded path is exact, not
    * approximate, because merges are a pure function of the histogram:
    *  - histogram ≤ `localThreshold` distinct words: collect it and run
    *    the merge loop driver-side. K merge rounds over a 10⁵-word
    *    histogram are milliseconds; K distributed rounds would pay K
    *    fixed job latencies for the same answer.
    *  - larger (the 100 TB corpus with a 10⁸ vocabulary): stay
    *    distributed — per round, one vocabulary-bounded pair-count job
    *    (argmax collects ONE row) and a lazy map-side merge via the
    *    codegen'd `bpe_merge`; each round's table is persisted and the
    *    previous one dropped only after its successor materializes. */
  def train(docs: DataFrame, text: String, numMerges: Int,
            localThreshold: Long = 100000L, batchSize: Int = 16): Seq[Merge] = {
    val hist = wordHistogram(docs, text).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (hist.count() <= localThreshold) {
        val local = hist.collect().map(r => r.getString(0) -> r.getLong(1))
        localTrain(local, numMerges)
      } else distributedTrain(hist, numMerges, batchSize)
    } finally hist.unpersist()
  }

  /** ONE corpus-sized job: word histogram (map-side combined). The
    * single construction both train() and vocabulary() read — a drift
    * between their tokenizations would silently decouple the replayed
    * vocabulary from the trained merge table. */
  private def wordHistogram(docs: DataFrame, text: String): DataFrame =
    docs
      .select(explode(TextOps.tokens(col(text))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Histogram rows → (cnt, syms) with the end marker appended; shared
    * by the distributed branch and vocabulary(). split("") keeps
    * multi-byte code points whole. */
  private def withSyms(hist: DataFrame): DataFrame =
    hist.select(col("cnt"),
      concat(split(col("w"), "").cast("array<string>"),
        array(lit(EndOfWord))).as("syms"))

  /** Spark's string ordering compares UTF-8 BYTES (code-point order);
    * Java's String '<' compares UTF-16 code units, which DISAGREES for
    * supplementary-plane symbols (an emoji's lead surrogate sorts below
    * U+FFFF in UTF-16 but above it in UTF-8). The local branch must
    * tie-break exactly like the distributed orderBy or the two branches
    * diverge on such corpora. */
  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Driver-side merge loop over a collected histogram — bit-identical
    * merges to the distributed branch (same tie-break total order,
    * UTF-8 byte comparison included). */
  private[operators] def localTrain(hist: Array[(String, Long)],
                                    numMerges: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] = hist.map { case (w, c) =>
      (w.split("").filter(_.nonEmpty) :+ EndOfWord, c)
    }
    val out = scala.collection.mutable.ArrayBuffer[Merge]()
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Array[Long]]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          val cur = counts.get(k)
          if (cur == null) counts.put(k, Array(c)) else cur(0) += c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, v) =>
          if (best == null || v(0) > best._2 ||
            (v(0) == best._2 && (utf8Less(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Less(k._2, best._1._2))))) best = (k, v(0))
        }
        val ((a, b), f) = best
        out += Merge(r, a, b, f)
        words = words.map { case (syms, c) =>
          (applyMerge(syms, a, b), c)
        }
      }
      r += 1
    }
    out.toSeq
  }

  /** The same left-to-right non-overlapping fuse as the `bpe_merge`
    * expression, over driver-local arrays. */
  private def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new Array[String](syms.length)
    var i = 0; var o = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out(o) = a + b; i += 2
      } else { out(o) = syms(i); i += 1 }
      o += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Distributed merge loop, BATCHED: each Spark round counts pairs
    * once and then applies up to `batchSize` merges whose sequential
    * equivalence is provable from the pre-round histogram alone — a
    * 32K-merge vocabulary no longer means 32K job barriers (the
    * round-9 verdict's #3). BpeSpec proves batched ≡ one-at-a-time ≡
    * localTrain on real documents and on adversarial corpora (ties,
    * self-pairs, atom collisions). */
  private[operators] def distributedTrain(hist: DataFrame, numMerges: Int,
                                          batchSize: Int = 16): Seq[Merge] = {
    // AQE OFF for the training loop (restored after): every Spark
    // action builds an explain string for its SQLExecutionStart event,
    // and a cached ADAPTIVE plan prints BOTH its initial and final
    // plans — so a chain of per-round persists nests AQE plans whose
    // explain doubles per round, 2^rounds. At 32 serial merges this
    // OOM'd an 8 GB driver before any data moved; with plain plans the
    // nesting prints linearly. The loop's small fixed-shape shuffles
    // get nothing from AQE anyway.
    val spark = hist.sparkSession
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try distributedTrainLoop(hist, numMerges, batchSize)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def distributedTrainLoop(hist: DataFrame, numMerges: Int,
                                   batchSize: Int): Seq[Merge] = {
    var cur = withSyms(hist).persist(StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    // Multi-char atoms that may exist in `cur`: initial symbols are
    // single characters except the end marker, so every other
    // multi-char atom is some earlier merge's output — all known
    // driver-side. Needed by the batch validator's collision guard.
    val knownAtoms = scala.collection.mutable.Set[String](EndOfWord)
    var exhausted = false
    var sinceCheckpoint = 0
    while (merges.length < numMerges && !exhausted) {
      val want = math.min(batchSize, numMerges - merges.length)
      val k = math.max(64, want * 4)
      val top = topPairs(cur, k)
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        // topPairs materialized `cur`'s cache — NOW the predecessor
        // can go (dropping it earlier would recompute full lineage)
        prev.foreach(_.unpersist())
        prev = Some(cur)
        val batch = selectBatch(top, k, want, knownAtoms)
        batch.foreach { case (a, b, f) =>
          merges += Merge(merges.length, a, b, f)
          knownAtoms += (a + b)
        }
        val next = batch.foldLeft(cur) { case (df, (a, b, _)) =>
          // chained per-row application == applying the merges one
          // table-pass at a time (function composition is identical);
          // ONE persist + ONE pair-count job per batch
          df.withColumn("syms", NativeVector.bpeMerge(col("syms"), lit(a), lit(b)))
        }
        // persist stops recomputation but the LOGICAL plan still grows
        // one projection per merge — a long training run (the 32K-merge
        // regime this branch exists for) otherwise drags an unbounded
        // plan through every analyze/optimize pass until the driver
        // dies (observed at 64 serial merges). localCheckpoint
        // truncates the plan to a LogicalRDD every ~64 merges; the
        // superseded checkpoint RDDs are dropped by the ContextCleaner
        // as their frames fall out of scope.
        sinceCheckpoint += batch.length
        cur =
          if (sinceCheckpoint >= 64) { sinceCheckpoint = 0; next.localCheckpoint(true) }
          else next.persist(StorageLevel.MEMORY_AND_DISK)
      }
    }
    prev.foreach(_.unpersist())
    cur.unpersist()
    merges.toSeq
  }

  /** Top-k adjacent pairs weighted by word count, in the training
    * total order (freq desc, left asc, right asc — Spark's string sort
    * is UTF-8 byte order, matching utf8Less). k=1 is the argmax; the
    * batched loop collects a top-k margin so the batch validator can
    * see every pair that could tie with a candidate. */
  private def topPairs(words: DataFrame, k: Int): Array[(String, String, Long)] = {
    words
      .select(col("cnt"), col("syms"), posexplode(slice(col("syms"), lit(1),
        greatest(size(col("syms")) - 1, lit(0)))).as(Seq("i", "a")))
      // posexplode is 0-indexed, element_at 1-indexed: +2 pairs (i, i+1)
      .withColumn("b", element_at(col("syms"), col("i") + 2))
      .groupBy("a", "b").agg(sum("cnt").as("freq"))
      .orderBy(desc("freq"), col("a").asc, col("b").asc)
      .limit(k)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Longest prefix of the total-ordered pair list that provably
    * replays identically to one-merge-at-a-time. The argument, pick by
    * pick (each clause is checked in code below):
    *
    *  - A merge of (a,b) can only DESTROY occurrences of pairs (x,a)
    *    (x now precedes the fused atom) and (b,y), plus (a,b) itself;
    *    no two old symbols ever become newly adjacent. So candidate
    *    p's count survives earlier picks unchanged iff p.right is no
    *    pick's left and p.left is no pick's right — sharing a symbol
    *    in the SAME position (two picks with the same right, like
    *    (e,◄) and (n,◄)) is harmless, which is what makes batches
    *    non-trivial on real text where ◄ = end-of-word dominates.
    *  - Because the batch is a CONTIGUOUS prefix, every unpicked
    *    pre-existing pair ranks below the candidate, and destruction
    *    only lowers it further — it cannot overtake.
    *  - A pick (a,b) CREATES pairs (x,ab) / (ab,y), with counts
    *    bounded by the pre-round counts of (x,a) / (b,y). Those
    *    sharers are necessarily unpicked (the position rule above
    *    rejects any pick pairing with another pick's side), so they
    *    rank at-or-below the candidate: strictly below → the created
    *    pair cannot overtake; EQUAL freq → it could win the lexical
    *    tie-break, so any same-freq sharer of an accepted pick stops
    *    the batch (the validator sees every such row because it
    *    requires candidate.freq > the collected tail's freq).
    *  - A self-pair (c,c) fuses left-to-right ("ccc" → "cc c"), so its
    *    created pairs (cc,c) are NOT bounded by any unpicked sharer —
    *    accept it, then close the batch.
    *  - If a pick's output string collides with an atom that already
    *    exists (possible: (a,bc) and (ab,c) both make "abc"), created
    *    pairs conflate with pre-existing ones and counts can RISE —
    *    accept, then close. knownAtoms (end marker + all prior merge
    *    outputs) plus the batch's own outputs is exactly the set of
    *    possible multi-char atoms, so the guard is complete. */
  private[operators] def selectBatch(top: Array[(String, String, Long)], k: Int,
                                     maxB: Int, knownAtoms: scala.collection.Set[String])
      : Seq[(String, String, Long)] = {
    // all pairs ranking >= any candidate we accept must be visible in
    // `top`; rows below the collected horizon have freq <= tailFreq
    val tailFreq = if (top.length < k) 0L else top.last._3
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val lefts = scala.collection.mutable.Set[String]()
    val rights = scala.collection.mutable.Set[String]()
    val batchAtoms = scala.collection.mutable.Set[String]()
    var closed = false
    var i = 0
    while (i < top.length && out.length < maxB && !closed) {
      val (a, b, f) = top(i)
      val interacts = out.nonEmpty && (
        f <= tailFreq ||                       // ties may hide below horizon
        lefts.contains(b) || rights.contains(a) || // count changed by a pick
        // created-pair tie hazard: an unpicked same-freq sharer of an
        // accepted pick bounds a created pair that could win tie-break
        top.iterator.drop(i + 1).takeWhile(_._3 == f)
          .exists(r => lefts.contains(r._2) || rights.contains(r._1)))
      if (interacts) closed = true
      else {
        out += ((a, b, f))
        lefts += a; rights += b
        if (a == b || knownAtoms.contains(a + b) || batchAtoms.contains(a + b)
          || f <= tailFreq) closed = true
        batchAtoms += (a + b)
      }
      i += 1
    }
    out.toSeq
  }

  /** TOKENIZE a corpus with a trained merge table — the apply half of
    * the tokenizer (encode, not train). The same histogram insight as
    * training: a word tokenizes identically wherever it appears, so the
    * merge replay runs ONCE PER DISTINCT WORD (vocabulary-bounded, via
    * the codegen'd `bpe_apply` — one expression evaluation per word
    * regardless of merge count, the only shape that survives a
    * 32K-merge table) and documents get their token sequences back by
    * joining their exploded words against that table. Shuffles: one
    * distinct on words (vocabulary-bounded), the word join (AQE
    * broadcasts small vocabularies), one doc-keyed reassembly whose
    * per-group state is bounded by document length.
    *
    * Output: (id, tokens array<string>, n_tokens) — one row per input
    * document, empty tokens for wordless text. */
  def tokenizeCorpus(docs: DataFrame, id: String, text: String,
                     merges: Seq[Merge]): DataFrame = {
    val mergesLit = typedLit(merges.sortBy(_.rank).map(m => (m.left, m.right)))
      .cast("array<struct<a:string,b:string>>")
    val words = docs
      .select(col(id), posexplode_outer(TextOps.tokens(col(text))).as(Seq("__pos", "w")))
      // empty-string words (blank text) become null instead of being
      // filtered, so every document keeps >= 1 row and surfaces with
      // empty tokens rather than vanishing from the output
      .withColumn("w", when(length(col("w")) > 0, col("w")))
    val vocab = words.filter(col("w").isNotNull).select("w").distinct()
      .select(col("w"), NativeVector.bpeApply(
        concat(split(col("w"), "").cast("array<string>"),
          array(lit(EndOfWord))).as("syms"), mergesLit).as("__toks"))
    words
      .join(vocab, Seq("w"), "left") // null word (empty doc) keeps its row
      .groupBy(col(id))
      .agg(coalesce(
        flatten(transform(
          array_sort(collect_list(when(col("w").isNotNull,
            struct(col("__pos"), col("__toks"))))),
          s => s.getField("__toks"))),
        typedLit(Seq.empty[String])).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** Re-derive the final vocabulary (distinct symbols + their weighted
    * corpus frequency) by replaying the merge table over the word
    * histogram — the artifact a tokenizer ships. */
  def vocabulary(docs: DataFrame, text: String, merges: Seq[Merge]): DataFrame = {
    val words = withSyms(wordHistogram(docs, text))
    val merged = merges.foldLeft(words) {
      case (df, m) =>
        df.withColumn("syms", NativeVector.bpeMerge(col("syms"), lit(m.left), lit(m.right)))
    }
    merged
      .select(col("cnt"), explode(col("syms")).as("symbol"))
      .groupBy("symbol").agg(sum("cnt").as("freq"))
  }

}
