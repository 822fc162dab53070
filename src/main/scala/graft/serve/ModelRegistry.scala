package graft.serve

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-side model registry + health probe (SURVEY.md §2.10 H7).
  *
  * Capability match for the reference API's model dictionary and
  * /health endpoint (`api/main.py:40-94, 315-321`): models are
  * PipelineModel artifacts under a registry root with one metadata row
  * per registered version; register/latest/load/health are set-oriented
  * (metadata is a parquet table), so any HTTP shell can expose them
  * without the engine knowing about transport. Versions are monotonically
  * increasing per model name; `load` resolves the latest by default.
  *
  * Concurrency contract: registration is SINGLE-WRITER per registry
  * root (the reference's train script is, too). Version assignment is
  * read-then-append, so two concurrent `register` calls for one name
  * could claim the same version — serialize registrations (one training
  * pipeline per root, or an external lock) when that can happen; reads
  * (`list`/`load`/`health`) are safe against a concurrent writer because
  * metadata rows append after the artifact write completes.
  */
object ModelRegistry {

  private def metaPath(root: String) = s"$root/_registry"

  /** Metadata row layout (long form — see [[list]]). */
  private val metaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("metric",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  /** Append metadata rows DRIVER-LOCALLY (round-21, the write twin of
    * round-20's [[metaRaw]]): each register/prune appended a KiB of
    * rows through a full Spark write job (~0.3–0.5 s of orchestration
    * per call; q181's build stacks ten `deleteIds` appends). The same
    * parquet bytes now land through [[graft.sources.DriverParquet]]'s
    * hidden-write-then-rename — one new uniquely-named part file,
    * atomic to every reader, exactly the crash contract the parquet
    * append gave ([[prune]]'s doctrine note). Readers are unchanged:
    * `spark.read` and [[metaRaw]] both list part files by name. */
  private def appendMeta(spark: SparkSession, root: String,
                         rows: Seq[org.apache.spark.sql.Row]): Unit =
    graft.sources.DriverParquet.writeRows(spark, metaPath(root),
      metaSchema, rows, overwrite = false)

  /** Marker metric for a pruned (name, version): [[prune]] APPENDS one
    * of these instead of rewriting the table — a parquet append either
    * commits or leaves only an ignored _temporary dir, so a crash
    * mid-prune can never lose or corrupt OTHER models' metadata (the
    * round-15 advice defect: the old delete-then-write overwrite had a
    * window where the whole table was gone). */
  val Tombstone = "__tombstoned"

  /** Metadata table: (name, version, path, metric, value) — long form so
    * arbitrary metric sets need no schema migration. A missing table
    * (fresh root) reads as empty; any OTHER read failure (corrupt
    * parquet, permission) is rethrown with the registry context rather
    * than surfacing as a bare reader error. Tombstoned versions are
    * excluded HERE, so every reader (latest/load/health/kindOf) sees
    * pruned versions as gone — the anti join is over a KiB-scale table. */
  def list(spark: SparkSession, root: String): DataFrame = {
    val raw = listRaw(spark, root)
    val tomb = raw.filter(col("metric") === Tombstone)
      .select("name", "version").distinct()
    raw.join(tomb, Seq("name", "version"), "left_anti")
  }

  /** The on-disk table verbatim, tombstones included (gc/prune internals). */
  private def listRaw(spark: SparkSession, root: String): DataFrame =
    try spark.read.parquet(metaPath(root))
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.emptyDataFrame.select(lit("").as("name"), lit(0L).as("version"),
          lit("").as("path"), lit("").as("metric"), lit(0.0).as("value"))
          .limit(0)
      case e: Exception => throw new IllegalStateException(
        s"model registry metadata at ${metaPath(root)} is unreadable " +
          "(corrupt table or storage error) - repair or remove it", e)
    }

  /** (name, version, metric) of every metadata row, tombstones
    * included, read DRIVER-LOCALLY (round-20 optimization): version
    * resolution runs before every artifact read — 3-5 times per
    * `LocalAnn.load` — and each resolution was a full Spark job over a
    * KiB-scale table (~0.2 s of orchestration for a ~5 ms read). Same
    * missing-table/corrupt-table contract as [[listRaw]]. */
  private def metaRaw(spark: SparkSession, root: String): Array[(String, Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(root))
    val exists =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      catch { case e: Exception => throw new IllegalStateException(
        s"model registry metadata at ${metaPath(root)} is unreadable " +
          "(corrupt table or storage error) - repair or remove it", e) }
    if (!exists) Array.empty
    else try graft.sources.DriverParquet
      .readRows(spark, metaPath(root), Seq("name", "version", "metric"))
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    catch { case e: Exception => throw new IllegalStateException(
      s"model registry metadata at ${metaPath(root)} is unreadable " +
        "(corrupt table or storage error) - repair or remove it", e) }
  }

  /** Latest registered version per model name (0 when absent). */
  def latestVersion(spark: SparkSession, root: String, name: String): Long = {
    val rows = metaRaw(spark, root)
    val tomb = rows.collect { case (n, v, m) if m == Tombstone => (n, v) }.toSet
    rows.iterator
      .filter { case (n, v, _) => n == name && !tomb((n, v)) }
      .map(_._2).foldLeft(0L)(math.max)
  }

  /** Shared register core: claim the next version, run the artifact
    * `write` against the claimed path, THEN append metadata — so a
    * failed artifact write never leaves a metadata row pointing at
    * nothing. All three model families (MLlib PipelineModel, LeafBoost,
    * BiLstm — round-11 verdict "What's missing" #1) register through
    * this one path; the family is recoverable from the artifact layout
    * ([[kindOf]]), so the metadata schema needs no migration. */
  private def registerArtifact(spark: SparkSession, root: String, name: String,
                               metrics: Map[String, Double])
                              (write: String => Unit): Long = {
    // claim over the RAW table (tombstones included): re-using a pruned
    // version number would put live rows behind that version's
    // tombstone and hide the new artifact from every reader
    val v = metaRaw(spark, root).iterator
      .filter(_._1 == name).map(_._2).foldLeft(0L)(math.max) + 1
    val path = s"$root/$name/v$v"
    write(path)
    // metadata lands driver-locally (round-21): same append-only
    // atomic-commit contract, no Spark write job for a KiB of rows
    appendMeta(spark, root,
      (if (metrics.nonEmpty) metrics.toSeq else Seq("" -> Double.NaN))
        .map { case (m, x) => org.apache.spark.sql.Row(name, v, path, m, x) })
    v
  }

  /** Persist `model` as the next version of `name`; returns the version.
    * Metadata appends atomically after the artifact write succeeds. */
  def register(spark: SparkSession, root: String, name: String,
               model: PipelineModel,
               metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics)(p =>
      model.write.overwrite().save(p))

  /** Register a LeafBoost model (parquet artifact, bit-exact reload). */
  def registerLeafBoost(spark: SparkSession, root: String, name: String,
                        model: graft.ml.LeafBoost.Model,
                        metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics)(p =>
      graft.ml.LeafBoost.save(spark, model, p))

  /** Register a BiLstm model (parquet artifact, bit-exact reload). */
  def registerBiLstm(spark: SparkSession, root: String, name: String,
                     model: graft.ml.BiLstmModel,
                     metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics)(p =>
      graft.ml.BiLstm.save(spark, model, p))

  /** Register an IVF index (round-13 verdict #5 — the ANN artifacts
    * get the same registry discipline as the model families; the
    * assigned corpus rides the artifact, so a reloaded index searches
    * without re-running the assignment scan). */
  def registerIvf(spark: SparkSession, root: String, name: String,
                  index: graft.operators.Ivf.Index,
                  metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics)(p =>
      graft.operators.Ivf.save(index, p))

  /** Register PQ codebooks, optionally with the encoded corpus codes
    * (the searchable artifact — FAISS stores codes, search reads them). */
  def registerPq(spark: SparkSession, root: String, name: String,
                 cb: graft.operators.Pq.Codebooks,
                 codes: Option[DataFrame] = None,
                 metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics) { p =>
      graft.operators.Pq.save(spark, cb, p)
      codes.foreach(graft.operators.Pq.saveCodes(_, p))
    }

  /** Register an SQ8 scalar quantizer (round 17), optionally with its
    * encoded corpus — the codes frame rides the same `pq_codes` table
    * convention the PQ family uses (one codes table per artifact),
    * carrying `sq_codes` instead of `codes`. */
  def registerSq(spark: SparkSession, root: String, name: String,
                 q: graft.operators.Sq.Quantizer,
                 codes: Option[DataFrame] = None,
                 metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics) { p =>
      graft.operators.Sq.save(spark, q, p)
      codes.foreach(graft.operators.Pq.saveCodes(_, p))
    }

  /** Register a binary quantizer (round 20 — the Hamming memory tier),
    * optionally with the packed-signature corpus; the codes frame
    * rides the shared `pq_codes` table convention carrying `bq_codes`
    * (array<long> packed words). */
  def registerBq(spark: SparkSession, root: String, name: String,
                 q: graft.operators.Bq.Quantizer,
                 codes: Option[DataFrame] = None,
                 metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics) { p =>
      graft.operators.Bq.save(spark, q, p)
      codes.foreach(graft.operators.Pq.saveCodes(_, p))
    }

  /** Register an HNSW graph (round 17) — nodes (vectors + id-keyed
    * per-level links) and meta ride parquet; the artifact is the
    * complete serveable index. `attrs` (round 18): per-node integer
    * metadata columns (aligned with `g.ids` order) riding the nodes
    * table for attribute-filtered serving, the same substrate the
    * pq/opq/sq8 codes tables carry. */
  def registerHnsw(spark: SparkSession, root: String, name: String,
                   g: graft.operators.Hnsw.Graph,
                   attrs: Seq[(String, Array[Long])] = Nil,
                   metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics) { p =>
      graft.operators.Hnsw.save(spark, g, p, attrs)
    }

  /** Register an OPQ rotation, optionally together with the PQ
    * codebooks/codes trained on the rotated corpus — one artifact then
    * carries the complete OPQ deployment (rotate queries map-side,
    * ADC-search the codes, rerank). */
  def registerOpq(spark: SparkSession, root: String, name: String,
                  rot: graft.operators.Opq.Rotation,
                  cb: Option[graft.operators.Pq.Codebooks] = None,
                  codes: Option[DataFrame] = None,
                  metrics: Map[String, Double] = Map.empty): Long =
    registerArtifact(spark, root, name, metrics) { p =>
      graft.operators.Opq.save(spark, rot, p)
      cb.foreach(graft.operators.Pq.save(spark, _, p))
      codes.foreach(graft.operators.Pq.saveCodes(_, p))
    }

  private def artifactPath(spark: SparkSession, root: String, name: String,
                           version: Long): String = {
    val v = if (version > 0) version else latestVersion(spark, root, name)
    require(v > 0, s"no registered model named '$name' under $root")
    s"$root/$name/v$v"
  }

  /** The resolved on-disk directory of a registered version — the
    * serving loader ([[graft.serve.LocalAnn.load]]) reads artifact
    * tables driver-locally from it (round-20). */
  private[serve] def artifactPathOf(spark: SparkSession, root: String,
                                    name: String, version: Long = -1L): String =
    artifactPath(spark, root, name, version)

  /** Which family a registered artifact belongs to, from its on-disk
    * layout: "leafboost" ($path/leafboost_nodes), "bilstm"
    * ($path/bilstm_weights), "ivf" ($path/ivf_centroids), "opq"
    * ($path/opq_rotation), "pq" ($path/pq_codebooks), "sq8"
    * ($path/sq_meta), "bq" ($path/bq_meta), "hnsw" ($path/hnsw_meta),
    * else "pipeline" (MLlib's metadata dir). */
  def kindOf(spark: SparkSession, root: String, name: String,
             version: Long = -1L): String = {
    val path = artifactPath(spark, root, name, version)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    def has(sub: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))
    if (has("leafboost_nodes")) "leafboost"
    else if (has("bilstm_weights")) "bilstm"
    else if (has("ivf_centroids")) "ivf"
    else if (has("opq_rotation")) "opq" // before pq: an OPQ artifact may carry codebooks too
    else if (has("pq_codebooks")) "pq"
    else if (has("sq_meta")) "sq8"
    else if (has("bq_meta")) "bq"
    else if (has("hnsw_meta")) "hnsw"
    else "pipeline"
  }

  /** Load a registered model; latest version when `version` ≤ 0. */
  def load(spark: SparkSession, root: String, name: String,
           version: Long = -1L): PipelineModel =
    PipelineModel.load(artifactPath(spark, root, name, version))

  /** Load a registered LeafBoost; latest version when `version` ≤ 0. */
  def loadLeafBoost(spark: SparkSession, root: String, name: String,
                    version: Long = -1L): graft.ml.LeafBoost.Model =
    graft.ml.LeafBoost.loadModel(spark, artifactPath(spark, root, name, version))

  /** Load a registered BiLstm; latest version when `version` ≤ 0. */
  def loadBiLstm(spark: SparkSession, root: String, name: String,
                 version: Long = -1L): graft.ml.BiLstmModel =
    graft.ml.BiLstm.loadModel(spark, artifactPath(spark, root, name, version))

  /** Load a registered IVF index; latest version when `version` ≤ 0. */
  def loadIvf(spark: SparkSession, root: String, name: String,
              version: Long = -1L): graft.operators.Ivf.Index =
    graft.operators.Ivf.load(spark, artifactPath(spark, root, name, version))

  /** Load registered PQ codebooks; latest version when `version` ≤ 0. */
  def loadPq(spark: SparkSession, root: String, name: String,
             version: Long = -1L): graft.operators.Pq.Codebooks =
    graft.operators.Pq.load(spark, artifactPath(spark, root, name, version))

  /** Load the codes saved with a registered PQ artifact (present iff
    * `registerPq` was called with `codes`). */
  def loadPqCodes(spark: SparkSession, root: String, name: String,
                  version: Long = -1L): DataFrame =
    graft.operators.Pq.loadCodes(spark, artifactPath(spark, root, name, version))

  /** Load a registered SQ8 quantizer; latest version when `version` ≤ 0.
    * Its codes frame (if registered) loads via [[loadPqCodes]] — the
    * families share one codes-table convention. */
  def loadSq(spark: SparkSession, root: String, name: String,
             version: Long = -1L): graft.operators.Sq.Quantizer =
    graft.operators.Sq.load(spark, artifactPath(spark, root, name, version))

  /** Load a registered binary quantizer; latest version when
    * `version` ≤ 0. Its codes frame loads via [[loadPqCodes]] — the
    * families share one codes-table convention. */
  def loadBq(spark: SparkSession, root: String, name: String,
             version: Long = -1L): graft.operators.Bq.Quantizer =
    graft.operators.Bq.load(spark, artifactPath(spark, root, name, version))

  /** Load a registered HNSW graph; latest version when `version` ≤ 0. */
  def loadHnsw(spark: SparkSession, root: String, name: String,
               version: Long = -1L): graft.operators.Hnsw.Graph =
    graft.operators.Hnsw.load(spark, artifactPath(spark, root, name, version))

  /** The raw nodes table of a registered HNSW artifact — the substrate
    * LocalAnn reads attr columns from for filtered search (q178); rows
    * align with the graph's ascending-id node order after an id sort. */
  def loadHnswNodes(spark: SparkSession, root: String, name: String,
                    version: Long = -1L): DataFrame =
    spark.read.parquet(
      s"${artifactPath(spark, root, name, version)}/hnsw_nodes")

  /** Load a registered OPQ rotation; latest version when `version` ≤ 0.
    * Companion codebooks/codes (if registered) load via loadPq /
    * loadPqCodes under the same name and version. */
  def loadOpq(spark: SparkSession, root: String, name: String,
              version: Long = -1L): graft.operators.Opq.Rotation =
    graft.operators.Opq.load(spark, artifactPath(spark, root, name, version))

  /** ANN deletion (round-19 — FAISS `remove_ids` for the registry
    * tier): append `ids` to the tombstone set of a registered ANN
    * artifact. The artifact bytes stay immutable (codes/assigned
    * rows/graph untouched — an in-place rewrite of a shared artifact
    * would race every reader); instead the ids land in a
    * `deleted_ids` parquet under the version directory, and every
    * serving path ([[graft.serve.LocalAnn.load]], hence /ann/search
    * and the router) pre-filters them out of the candidate scan, so
    * results are the top-k OF THE SURVIVING corpus — the q169
    * pre-filter discipline applied to a not-deleted predicate. For
    * the graph family the mask rides [[graft.operators.Hnsw]]'s allow
    * predicate: deleted nodes stay TRAVERSABLE (hnswlib semantics —
    * removing them from the graph would orphan their neighbors) but
    * never surface.
    *
    * Deletes are append-only and idempotent (readers dedup); deleting
    * an id the corpus never held is a no-op mask entry. COMPACTION —
    * physical removal — happens at rebuild: register the next version
    * from the filtered corpus and [[prune]] the old one; the tombstone
    * mask is the serving-time bridge until then (at 100 TB a takedown
    * must be effective immediately, while the rebuild is a scheduled
    * job). Parquet appends commit atomically, so a crash mid-delete
    * leaves the previous mask intact — same doctrine as [[prune]].
    * Single-writer per root, like registration. */
  def deleteIds(spark: SparkSession, root: String, name: String,
                ids: Seq[Long], version: Long = -1L): Unit = {
    require(ids.nonEmpty, "deleteIds needs at least one id")
    val path = artifactPath(spark, root, name, version)
    // tombstones land driver-locally (round-21, the appendMeta
    // rationale): a takedown appends a KiB of ids — the Spark write
    // job was pure orchestration. Same atomic rename-commit contract.
    graft.sources.DriverParquet.writeRows(spark, s"$path/deleted_ids",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      ids.map(org.apache.spark.sql.Row(_)), overwrite = false)
  }

  /** Carry an ANN artifact's tombstone mask onto a NEWER version (the
    * deletion × refresh composition, round 20 — q187's gate): a
    * refresh registered as the next version starts mask-less, so a
    * takedown applied to the old version would silently RESURRECT on
    * the refreshed one without this. Appends the source version's
    * deduped mask to `toVersion`'s (idempotent, append-only — the
    * [[deleteIds]] doctrine; ids the new corpus legitimately re-added
    * under NEW identifiers are unaffected, masks key on ids). No-op
    * when the source mask is empty. Call it immediately after
    * registering a refreshed version; [[compact]] is the one path
    * that intentionally does NOT carry — its new corpus already
    * excludes the masked rows. */
  def carryDeletedIds(spark: SparkSession, root: String, name: String,
                      fromVersion: Long, toVersion: Long = -1L): Unit = {
    val ids = loadDeletedIds(spark, root, name, fromVersion)
    if (ids.nonEmpty)
      deleteIds(spark, root, name, ids.toSeq.sorted, toVersion)
  }

  /** The tombstoned ids of a registered artifact (empty when none were
    * ever deleted). Deduped — [[deleteIds]] appends blindly. */
  def loadDeletedIds(spark: SparkSession, root: String, name: String,
                     version: Long = -1L): Set[Long] = {
    val path = s"${artifactPath(spark, root, name, version)}/deleted_ids"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(conf).exists(p)) Set.empty
    else graft.sources.DriverParquet.readRows(spark, path, Seq("id"))
      .map(_.getLong(0)).toSet
  }

  /** The BATCH-path twin of LocalAnn's serving-time mask: filter a
    * frame (a codes/assigned table about to feed `Pq.searchReranked` /
    * `Ivf.search`, or any per-id corpus) down to rows surviving the
    * artifact's tombstones. A left-anti join against the (tiny,
    * broadcastable) deleted-id table — at 100 TB the mask is KiB–MiB
    * and never shuffles the corpus. No tombstones → the frame returns
    * unchanged (no join in the plan). */
  def filterDeleted(spark: SparkSession, df: DataFrame, idCol: String,
                    root: String, name: String,
                    version: Long = -1L): DataFrame = {
    val path = s"${artifactPath(spark, root, name, version)}/deleted_ids"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(conf).exists(p)) df
    else df.join(
      broadcast(spark.read.parquet(path).select(col("id").as(idCol)).distinct()),
      Seq(idCol), "left_anti")
  }

  /** COMPACTION — the tombstone lifecycle's terminal step (round-20
    * verdict #3; until now the doctrine documented at [[deleteIds]]
    * was a manual recipe). One call physically rebuilds a masked ANN
    * artifact from its SURVIVORS: register the filtered corpus as the
    * NEXT version (write-then-swap — readers of the old version are
    * never raced, exactly the [[prune]] doctrine), then prune down to
    * `keepLast` versions. The new version starts with an EMPTY
    * tombstone mask; its search results equal the masked search's by
    * construction — the quantizer families drop exactly the masked
    * rows from the scan (codebooks/centroids/rotations are untouched
    * bytes, so surviving rows' codes and sims are bit-identical),
    * and the graph family rebuilds deterministically from the
    * surviving (id, vec) rows (levels re-draw per id, so COMPARE
    * RESULT SETS, not structure — the q186 gate does). No tombstones
    * → no-op (returns the current version untouched). Non-ANN
    * families have no tombstone mask and are rejected. At 100 TB this
    * is the scheduled rebuild the takedown mask bridges to: the mask
    * is immediate, compact reclaims the bytes.
    *
    * `idCol`: the codes-table id column for pq/opq/sq8 artifacts —
    * auto-detected when the table carries exactly one long column
    * besides the codes (the LocalAnn serving convention); registered
    * long ATTR columns make that ambiguous, so pass it explicitly
    * then. Single-writer per root, like registration. Returns the
    * surviving registered version. */
  def compact(spark: SparkSession, root: String, name: String,
              keepLast: Int = 1, idCol: Option[String] = None): Long = {
    val v = latestVersion(spark, root, name)
    require(v > 0, s"no registered model named '$name' under $root")
    val deleted = loadDeletedIds(spark, root, name, v)
    if (deleted.isEmpty) return v
    val family = kindOf(spark, root, name, v)
    val path = artifactPath(spark, root, name, v)
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(conf).exists(p)
    }
    def survivorCodes(): DataFrame = {
      val codes = graft.operators.Pq.loadCodes(spark, path)
      val id = idCol.getOrElse {
        val hits = codes.schema.fields.filter(f =>
          f.dataType == org.apache.spark.sql.types.LongType &&
            f.name != "codes" && f.name != "sq_codes")
        require(hits.length == 1,
          s"cannot auto-detect the id column of '$name' v$v's codes table " +
            s"(long columns: ${hits.map(_.name).mkString("[", ", ", "]")}) - " +
            "pass compact(..., idCol = Some(...))")
        hits.head.name
      }
      filterDeleted(spark, codes, id, root, name, v)
    }
    val metrics = Map("compacted_from" -> v.toDouble)
    val newV = family match {
      case "ivf" =>
        val idx = loadIvf(spark, root, name, v)
        registerIvf(spark, root, name, idx.copy(assigned =
          filterDeleted(spark, idx.assigned, idx.idCol, root, name, v)),
          metrics)
      case "pq" =>
        registerPq(spark, root, name, loadPq(spark, root, name, v),
          Some(survivorCodes()), metrics)
      case "sq8" =>
        registerSq(spark, root, name, loadSq(spark, root, name, v),
          Some(survivorCodes()), metrics)
      case "bq" =>
        registerBq(spark, root, name, loadBq(spark, root, name, v),
          Some(survivorCodes()), metrics)
      case "opq" =>
        registerOpq(spark, root, name, loadOpq(spark, root, name, v),
          if (exists("pq_codebooks")) Some(loadPq(spark, root, name, v)) else None,
          if (exists("pq_codes")) Some(survivorCodes()) else None,
          metrics)
      case "hnsw" =>
        val g = loadHnsw(spark, root, name, v)
        val keep = g.ids.indices.filterNot(i => deleted.contains(g.ids(i)))
        require(keep.nonEmpty,
          s"compacting '$name' v$v would delete every node - prune the " +
            "version instead")
        // attr columns ride the nodes table (anything beyond the graph's
        // own id/vec/level/links) — carry them onto the rebuilt artifact,
        // aligned with the survivors' ascending-id node order
        val nodes = loadHnswNodes(spark, root, name, v)
        val attrCols = nodes.columns.toSeq
          .filterNot(Set("id", "vec", "level", "links"))
        val attrs: Seq[(String, Array[Long])] =
          if (attrCols.isEmpty) Nil
          else {
            val rows = nodes
              .select(("id" +: attrCols).map(org.apache.spark.sql.functions.col): _*)
              .collect()
              .filter(r => !deleted.contains(r.getLong(0)))
              .sortBy(_.getLong(0))
            attrCols.zipWithIndex.map { case (a, i) =>
              a -> rows.map(_.getLong(i + 1))
            }
          }
        registerHnsw(spark, root, name,
          graft.operators.Hnsw.build(
            keep.map(i => g.ids(i) -> g.vecs(i)),
            g.m, g.efC, g.seed, g.heuristic),
          attrs, metrics)
      case other => throw new IllegalArgumentException(
        s"registered '$name' is family '$other' - compaction applies to " +
          "ANN artifacts with tombstone masks")
    }
    prune(spark, root, name, keepLast)
    newV
  }

  /** Registry retention (round-14 verdict #5: versions accumulated
    * forever). Keep the newest `keepLast` versions of `name`; drop the
    * rest. Crash-safety (round-15 advice — the old in-place overwrite
    * had a delete-then-write window that could lose the WHOLE table):
    * prune now APPENDS one [[Tombstone]] row per dropped version — a
    * parquet append either commits atomically or leaves an ignored
    * _temporary dir — and only then deletes the artifact directories.
    * A crash before the append changes nothing; after it, the versions
    * are invisible to every reader and the worst residue is an orphaned
    * (invisible) artifact dir, which [[gc]] sweeps. Returns the pruned
    * versions. Single-writer per root, like registration. */
  def prune(spark: SparkSession, root: String, name: String,
            keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    // live-version listing rides the driver-local metadata read
    // (round-21): the Spark list().distinct().collect() was two jobs
    // over a KiB table per prune
    val raw = metaRaw(spark, root)
    val tomb = raw.collect { case (n, v, m) if m == Tombstone => (n, v) }.toSet
    val versions = raw.iterator
      .filter { case (n, v, _) => n == name && !tomb((n, v)) }
      .map(_._2).toSeq.distinct.sorted
    val drop = versions.dropRight(keepLast)
    if (drop.nonEmpty) {
      appendMeta(spark, root, drop.map(v =>
        org.apache.spark.sql.Row(name, v, s"$root/$name/v$v", Tombstone,
          Double.NaN)))
      val conf = spark.sparkContext.hadoopConfiguration
      drop.foreach { v =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$name/v$v")
        p.getFileSystem(conf).delete(p, true)
      }
    }
    drop
  }

  /** Orphan sweep (round-15 verdict #7): delete version directories
    * that no LIVE metadata row points at — the residue a crash between
    * prune's tombstone append and its artifact delete leaves behind
    * (or a register whose artifact wrote but whose metadata append
    * died). Scans only directory NAMES (`$root/<name>/v<N>`), never
    * artifact bytes; anything not matching the registry layout is left
    * alone. Returns the deleted paths. Single-writer per root: do not
    * run gc concurrently with a register (its artifact lands before
    * its metadata row and would look orphaned for that window).
    *
    * Safety latch (round-16 advice, medium): a missing `_registry`
    * table reads as an EMPTY live set, so a lost metadata table — or a
    * wrong `root` that happens to contain version-shaped directories —
    * would make gc delete every `v<N>` artifact under it. When the live
    * set is empty but version directories exist, gc refuses with an
    * IllegalStateException unless `force = true` (the caller asserting
    * "yes, this root's registry is intentionally empty — sweep it"). */
  def gc(spark: SparkSession, root: String, force: Boolean = false): Seq[String] = {
    // compare (name, version-dir) keys, not path strings — a filesystem
    // may render the same location with or without a scheme prefix
    val live: Set[(String, String)] = list(spark, root)
      .select("name", "version").distinct().collect()
      .map(r => (r.getString(0), s"v${r.getLong(1)}")).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return Seq.empty
    val vDir = "v\\d+".r
    val orphans = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .flatMap { nameDir =>
        fs.listStatus(nameDir.getPath).toSeq
          .filter(v => v.isDirectory && vDir.matches(v.getPath.getName))
          .map(v => (nameDir.getPath.getName, v.getPath.getName))
          .filterNot(live.contains)
      }
      .map { case (n, v) => s"$root/$n/$v" }
    if (live.isEmpty && orphans.nonEmpty && !force)
      throw new IllegalStateException(
        s"registry metadata at ${metaPath(root)} is empty but ${orphans.size} " +
          s"version director${if (orphans.size == 1) "y" else "ies"} exist under $root - " +
          "refusing to delete them all (lost metadata table or wrong root?); " +
          "pass force=true to sweep an intentionally-empty registry")
    orphans.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    orphans
  }

  /** Health row (the reference's /health payload, engine-side):
    * (status, models_loaded, versions_total). Per-model detail comes
    * from `list` — the metadata table is the queryable surface. */
  def health(spark: SparkSession, root: String): DataFrame = {
    val meta = list(spark, root).select("name", "version").distinct()
    meta.agg(
      countDistinct("name").as("models_loaded"),
      count(lit(1)).as("versions_total"))
      .select(
        when(col("models_loaded") > 0, "healthy").otherwise("empty").as("status"),
        col("models_loaded"), col("versions_total"))
  }
}
