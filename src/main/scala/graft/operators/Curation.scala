package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BloomSketch

/** Training-data curation operators (SURVEY.md §7 extensions): document
  * chunking, benchmark decontamination, PII redaction, deterministic
  * shard assignment. These are the steps a 100 TB pretraining pipeline
  * runs AFTER dedup/quality filtering (TextOps, Dedup) and BEFORE the
  * data leaves the engine as training shards.
  *
  * Everything is codegen'd Column expressions — no UDFs — and every
  * per-row op is embarrassingly parallel (zero shuffle); the only
  * shuffles are the per-doc hit aggregation in `contamination` (bounded
  * by map-side combine) and whatever the caller does with shard ids.
  */
object Curation {

  /** Distinct `len`-token shingles of an ALREADY-PROJECTED token array
    * as md5 STRINGS — the cross-engine form (DuckDB twin:
    * md5(array_to_string(toks[i+1:i+len], ' '))). Docs shorter than
    * `len` tokens get one whole-doc shingle — same contract as
    * Dedup.fingerprintMd5.
    *
    * `toks` must be a plain column reference, not the tokenizer
    * expression itself: an expression referenced inside the transform
    * lambda re-evaluates per element (the repo's HOF-staging rule —
    * un-staged, this was ~6× the whole decontamination cost). */
  def shingleMd5s(toks: Column, len: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - len, lit(0))),
      i => md5(concat_ws(" ", slice(toks, i + 1, lit(len))))))

  /** Split each document into token-window chunks of `chunkTokens`
    * tokens overlapping by `overlapTokens` (context-window preparation
    * for sequence training). Chunk starts advance by the stride
    * chunkTokens−overlapTokens; a start is emitted only while it opens
    * at least one token PAST the previous chunk's overlap
    * (start ≤ nTokens−overlapTokens−1), so no trailing chunk is fully
    * contained in its predecessor; every doc yields ≥ 1 chunk.
    *
    * Scale: tokenize once, explode starts — linear in output tokens,
    * no shuffle, stays inside whole-stage codegen. At 100 TB the output
    * is written straight to bucketed shards (see shardId) without ever
    * collecting a document's chunk list in one place. */
  def chunk(docs: DataFrame, id: String, text: String,
            chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      s"need chunkTokens > overlapTokens >= 0, got $chunkTokens/$overlapTokens")
    val stride = chunkTokens - overlapTokens
    docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .select(col(id), col("__toks"),
        explode(sequence(lit(0),
          greatest(size(col("__toks")) - overlapTokens - 1, lit(0)),
          lit(stride))).as("__start"))
      .select(
        col(id),
        (col("__start") / stride).cast("long").as("chunk_id"),
        size(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** CONTENT-DEFINED chunking (the CDC complement to `chunk`'s fixed
    * windows): a token opens a new chunk iff its own hash satisfies the
    * boundary predicate (first md5 hex digit = '0', p = 1/16 → mean
    * chunk ~16 tokens). Boundaries depend on CONTENT, not position, so
    * an insertion early in a document shifts only the chunk it lands
    * in — every later chunk re-aligns (the property storage dedup and
    * shift-robust near-dup pipelines rely on; spec-proven in
    * CurationSpec). Per-doc position windows (doc-sized partitions);
    * chunk text rebuilt order-deterministically via sort_array over
    * (pos, token) structs. Returns (id, chunk_id, n_tokens, chunk_text). */
  def cdcChunk(docs: DataFrame, id: String, text: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col(id), posexplode(TextOps.tokens(col(text))))
      .withColumnRenamed("col", "tok")
      .withColumn("b", (substring(md5(col("tok")), 1, 1) === "0").cast("long"))
      .withColumn("chunk_id", sum(col("b")).over(w))
      .groupBy(col(id), col("chunk_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("chunk_text"))
  }

  /** Benchmark decontamination: per-document count of `shingleLen`-token
    * shingles that also appear in the evaluation set's shingle inventory
    * (`evalGrams`: one column `g` of md5 shingle strings). A document
    * with n_hits > 0 is contaminated and must be dropped/quarantined
    * before training.
    *
    * Scale: eval inventories (benchmark suites) are tiny next to a
    * 100 TB corpus — the distinct eval grams are BROADCAST, so the
    * corpus-side explode never shuffles; the per-doc hit count is a
    * groupBy(id) whose shuffle rows are bounded by doc count (map-side
    * combine collapses the exploded shingles first). */
  def contamination(docs: DataFrame, id: String, text: String,
                    evalGrams: DataFrame, shingleLen: Int): DataFrame = {
    val ev = broadcast(evalGrams.select(col("g").as("__eg")).distinct())
    docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .select(col(id), explode(shingleMd5s(col("__toks"), shingleLen)).as("__g"))
      .join(ev, col("__g") === col("__eg"), "left")
      .groupBy(col(id))
      .agg(count(col("__eg")).as("n_hits"))
      .select(col(id), col("n_hits"),
        (col("n_hits") > 0).as("contaminated"))
  }

  /** Fuzzy (overlap-RATIO) decontamination — the published
    * partial-overlap criterion (GPT-3 appendix C / PaLM-style N-gram
    * overlap): a document is contaminated when the FRACTION of its
    * distinct shingles found in the eval inventory reaches
    * `thresholdNum/thresholdDen`, not when any single shingle hits
    * ([[contamination]]'s membership form — right for exact benchmark
    * strings, blind to lightly edited ones and trigger-happy on
    * incidental collisions). The flag compares INTEGERS
    * (den·hits ≥ num·grams) so no float threshold can sit on a ulp;
    * `overlap` is emitted for reporting as an exact-quotient double
    * (identical longs divide identically in any engine).
    *
    * Same scale shape as [[contamination]]: broadcast eval grams, one
    * corpus-side explode, groupBy(id) bounded by doc count. At an eval
    * inventory too large to broadcast, the [[contaminationBloom]]
    * prefilter composes: n_grams comes from the SAME ungated aggregate
    * (no join needed), and only the hit count rides the sketch-gated
    * verify join. */
  def fuzzyContamination(docs: DataFrame, id: String, text: String,
                         evalGrams: DataFrame, shingleLen: Int,
                         thresholdNum: Int, thresholdDen: Int): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0, "threshold must be a nonneg rational")
    val ev = broadcast(evalGrams.select(col("g").as("__eg")).distinct())
    docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .select(col(id), explode(shingleMd5s(col("__toks"), shingleLen)).as("__g"))
      .join(ev, col("__g") === col("__eg"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), count(col("__eg")).as("n_hits"))
      .select(col(id), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("overlap"),
        (col("n_hits") * thresholdDen >= col("n_grams") * thresholdNum)
          .as("contaminated"))
  }

  /** Decontamination, sketch-prefiltered: the exact same answer as
    * [[contamination]], computed with the 100 TB-shaped plan. The exact
    * form broadcasts the distinct eval-gram STRINGS — ~40 bytes/gram,
    * multi-GB per executor once the eval closure reaches 10⁸ grams. The
    * sketch form ships a Bloom filter of the inventory (~1.2 bytes/gram
    * at 1% FPP) as a plan literal, prefilters the corpus-side shingles
    * BELOW the first shuffle with a codegen'd membership probe, and
    * exact-verifies only the survivors (unhinted join — AQE broadcasts
    * while the eval side is small, shuffles when it is not). No false
    * negatives ⇒ no lost hits; the verify join kills false positives ⇒
    * bit-identical output to the exact operator, ~FPP of the corpus
    * grams reaching the join instead of all of them.
    *
    * Zero-hit docs are restored by a doc-id left join (bounded by doc
    * count) because the prefilter legitimately drops ALL grams of an
    * uncontaminated doc. */
  def contaminationBloom(docs: DataFrame, id: String, text: String,
                         evalGrams: DataFrame, shingleLen: Int,
                         fpp: Double = 0.01): DataFrame = {
    // persist the (small) eval side ONCE: the sizing count, the sketch
    // build, and the verify join all read the same cache — unpersisted,
    // the eval lineage (often itself a tokenize+shingle pipeline, q108)
    // would execute three times per invocation. Spark's ContextCleaner
    // drops the cache entry when the frame is GC'd.
    val ev = evalGrams.select(col("g")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = BloomSketch.build(ev, "g", ev.count(), fpp)
    val hits = docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .select(col(id), explode(shingleMd5s(col("__toks"), shingleLen)).as("__g"))
      .filter(BloomSketch.mightContain(col("__g"), bloom))
      .join(ev.select(col("g").as("__eg")), col("__g") === col("__eg"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("__h"))
    // Restore docs whose grams ALL failed the prefilter — but the doc
    // list must be the EXACT operator's doc set, or the contract
    // diverges on degenerate input: a NULL text tokenizes to null and
    // explodes to NOTHING (the exact operator emits no row for it), and
    // a NULL id must keep its hit count through a null-SAFE join
    // instead of silently zeroing. distinct mirrors groupBy(id)'s
    // one-row-per-id on duplicate-id input.
    val docIds = docs
      .select(col(id), TextOps.tokens(col(text)).as("__toks"))
      .filter(col("__toks").isNotNull)
      .select(col(id)).distinct()
    docIds.join(hits.withColumnRenamed(id, "__hid"),
        docIds(id) <=> col("__hid"), "left")
      .select(col(id), coalesce(col("__h"), lit(0L)).as("n_hits"),
        (coalesce(col("__h"), lit(0L)) > 0).as("contaminated"))
  }

  /** PII redaction patterns, applied IN ORDER (email before URL before
    * IP before long digit runs — an address inside a URL query string is
    * taken by the earlier, more specific pattern). Each regex keeps to
    * the portable common subset of Java regex and RE2 (ASCII classes,
    * `\b` word boundaries, no backrefs/lookaround) so the identical
    * pattern runs in the DuckDB oracle. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    // open-ended run length: a bounded {9,16} cannot match a 17+ digit
    // run AT ALL (no interior \b exists), so the longest, most sensitive
    // account/IBAN-like numbers would pass through unredacted
    "\\b\\d{9,}\\b" -> "<NUM>")

  /** Apply the full redaction chain (linear per-row regex pipeline;
    * stage the result ONCE per the repo's HOF-staging rule when several
    * outputs reference it). */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Deterministic shard assignment — the "global training-data shuffle"
    * as a pure key function. shard = first 12 md5 hex digits (48 bits)
    * of `salt:key` mod `nShards`; like Sampling.keepRow it is
    * partition-layout/engine/rerun independent, so a training job can
    * re-derive the exact shard of any example from its key alone.
    * DuckDB twin: CAST('0x' || substr(md5(salt||':'||key),1,12) AS
    * UBIGINT) % n. Within a shard, ordering by `shardOrder` gives a
    * deterministic example order (the shuffled read order).
    *
    * Scale: per-row hash + mod, zero shuffle to ASSIGN; writing the
    * shards is one exchange on shard id (or none, with
    * partitionBy(shard) file layout). */
  def shardId(key: Column, nShards: Int, salt: String = ""): Column = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    conv(substring(Sampling.memberHash(key, salt), 1, 12), 16, 10)
      .cast("long") % nShards
  }

  /** Deterministic within-shard order key (md5 of the same salted key —
    * string order is the shuffled order; both engines sort it identically). */
  def shardOrder(key: Column, salt: String = ""): Column =
    Sampling.memberHash(key, salt)

  /** Fast path for the same assignment when cross-engine reproducibility
    * is not required: xxhash64 beats md5 ~10× and stays codegen'd. NOT
    * interchangeable with shardId — different hash, different shards. */
  def shardIdFast(key: Column, nShards: Int, seed: Int = 42): Column =
    pmod(xxhash64(lit(seed), key), lit(nShards.toLong))
}
