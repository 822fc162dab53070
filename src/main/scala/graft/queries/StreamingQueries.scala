package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import Util.{Q, qz}

/** Streaming queries with BATCH oracles (SURVEY.md §2.10 H6).
  *
  * The streaming engine's event-time semantics are spec-covered
  * (StreamingOpsSpec: watermarks, session windows, keyed state, dedup);
  * what a correctness gate can additionally pin is the STREAM ≡ BATCH
  * equivalence Structured Streaming promises: the same aggregation over
  * the same input must produce identical results whether it arrives as
  * a bounded table or as a file-source stream. q78 runs the real
  * streaming path (readStream → event-time tumbling windows → memory
  * sink, AvailableNow trigger) and the DuckDB oracle is the batch
  * date_trunc form — hash equality IS the equivalence proof.
  *
  * MULTI-BATCH evidence: the driver testdata ships one file per table,
  * and a one-file AvailableNow stream delivers everything in a single
  * micro-batch — which proves nothing about state MERGING across
  * batches (the actual hard semantics of dropDuplicates /
  * mapGroupsWithState / window aggregation on a stream). So every query
  * here first stages its input as a multi-file parquet directory
  * (stable per (sf dir, table) — written once, reused across
  * invocations) and streams it with maxFilesPerTrigger=1, then REQUIRES
  * ≥3 data-carrying micro-batches before returning. The oracle match is
  * therefore evidence of cross-batch incremental state, not of one big
  * batch that happened to equal the batch query.
  */
object StreamingQueries {

  private val sinkId = new AtomicInteger(0)

  /** Minimum data-carrying micro-batches each streaming oracle query
    * must observe (asserted after awaitTermination). */
  private val MinBatches = 3

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Run `body` with the legacy nanos-as-long parquet conf set, restoring
    * the previous value (or unsetting) afterwards — the conf must not
    * outlive the read it exists for (round-7 verdict: a leaked `true`
    * makes any later non-normalizing nanos-parquet read silently see
    * longs). Only safe when `body` EXECUTES its reads eagerly; the
    * staging write below does. */
  private def withNanosAsLong[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.getAll.get(NanosKey) // explicit value only, so None really unsets
    s.conf.set(NanosKey, "true")
    try body
    finally prev match {
      case Some(v) => s.conf.set(NanosKey, v)
      case None    => s.conf.unset(NanosKey)
    }
  }

  /** Shared staging mechanics for every streaming scenario dir under
    * java.io.tmpdir: one place owns the cache key, the done-marker
    * protocol, and the FileSystem plumbing (review round 8 s3 — three
    * hand-rolled copies had already diverged).
    *
    * The key is `<scenario>_v<version>_<md5(abs sf dir)[0,8)>`:
    *  - md5 prefix, NOT String.hashCode — 32-bit hashCode collisions
    *    across two sf dirs would silently serve one sf's staged data
    *    for the other;
    *  - `version` names the CONSTRUCTION SCHEME. Staged dirs outlive
    *    the JVM, so any change to what `build` writes (plant constants,
    *    slicing, normalization) must bump the scenario's version or
    *    machines staged under the old scheme keep serving stale files
    *    and an oracle mismatch looks like an engine bug.
    * `build` runs once per key; the `_STAGED` marker commits it. */
  private def stagedDir(s: SparkSession, scenario: String, version: Int,
                        dir: String)(build: Path => Unit): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val stage = new Path(
      new Path(System.getProperty("java.io.tmpdir"), "graft_stream_stage"),
      s"${scenario}_v${version}_$key")
    val fs = stage.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(stage, "_STAGED")
    if (!fs.exists(marker)) {
      build(stage)
      fs.create(marker).close()
    }
    stage.toString
  }

  /** (min, max) event time of `df.ts` in epoch micros. */
  private def tsBoundsUs(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Stage `$dir/$table.parquet` as a multi-file parquet directory,
    * normalizing nanos timestamps to proper microsecond timestamps in
    * the process (so the STREAM needs neither the legacy conf nor a
    * per-query ts cast — the conf stays confined to this eager,
    * finally-restored write). Written once per (sf dir, table), reused
    * by later invocations — the bench's k-run medians don't pay the
    * write k times. Round-robin repartition(n) spreads rows evenly, so
    * all n files are non-empty for any table with ≥n rows and
    * maxFilesPerTrigger=1 yields n data-carrying batches. */
  private def stageMultiFile(s: SparkSession, dir: String, table: String,
                             nFiles: Int = 4): String =
    // v2: driver testdata regenerated round 9 (events.ts re-encoded
    // TIMESTAMP(NANOS) → µs-NTZ, values re-drawn) — v1 stages on disk
    // were built from the old files and must not be served
    stagedDir(s, s"${table}_$nFiles", 2, dir) { stage =>
      withNanosAsLong(s) {
        val normalized = graft.sources.Tables.normalizeTs(
          s.read.parquet(s"$dir/$table.parquet"))
        normalized.repartition(nFiles).write.mode("overwrite").parquet(stage.toString)
      }
    }

  /** Write one slice as a SINGLE parquet file with an explicit
    * modification time — the file source processes files in (modTime,
    * path) order, so spaced mod times (and slice_N names, which agree
    * lexicographically) make the micro-batch arrival order
    * deterministic. */
  private def writeSliceFile(s: SparkSession, df: DataFrame, stage: Path,
                             name: String, modTime: Long): Unit = {
    val fs = stage.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new Path(stage, s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written for slice $name"))
    val dest = new Path(stage, s"$name.parquet")
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(part, dest)) sys.error(s"rename failed for slice $name")
    fs.delete(tmp, true)
    fs.setTimes(dest, modTime, -1)
  }

  /** Stage the watermark-lateness scenario for q103 (idempotent, keyed
    * by sf dir): events split into three TIME-ORDERED slices plus two
    * plantings with poisoned values (+1e6 — invisible only if the
    * engine handles them correctly):
    *   slice_0: ts < t1                 (t1 = min + (max-min)/3, µs)
    *   slice_1: t1 ≤ ts < t2, PLUS clones of the last pre-t1 hour
    *            (late vs slice_0, but ABOVE the watermark max(slice_0)
    *            − 2 h — must be ACCEPTED into their still-open windows)
    *   slice_2: ts ≥ t2
    *   slice_3: clones of the first DAY (weeks below the watermark by
    *            now — must be DROPPED, and their early windows are
    *            already finalized)
    * The oracle counts the accepted clones in and the dropped clones
    * out; either mistake shifts n and the poisoned sums by 1e6-sized
    * amounts. */
  private def stageLatenessFiles(s: SparkSession, dir: String): String =
    stagedDir(s, "late_events", 2, dir) { stage =>  // v2: round-9 data regen
      val ev = graft.sources.Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
      val (mn, mx) = tsBoundsUs(ev)
      val t1 = mn + (mx - mn) / 3  // floor div — DuckDB mirrors with //
      val t2 = mn + 2 * ((mx - mn) / 3)
      val us = unix_micros(col("ts"))
      val hourUs = 3600000000L
      val base = System.currentTimeMillis() - 60000
      writeSliceFile(s, ev.filter(us < t1), stage, "slice_0", base)
      val acceptPlants = ev.filter(us >= t1 - hourUs && us < t1)
        .withColumn("value", col("value") + 1000000.0)
      writeSliceFile(s,
        ev.filter(us >= t1 && us < t2).unionByName(acceptPlants),
        stage, "slice_1", base + 2000)
      writeSliceFile(s, ev.filter(us >= t2), stage, "slice_2", base + 4000)
      val dropPlants = ev.filter(us < mn + 24 * hourUs)
        .withColumn("value", col("value") + 1000000.0)
      writeSliceFile(s, dropPlants, stage, "slice_3", base + 6000)
    }

  /** Stage the stream-stream-join scenario for q104 (idempotent, keyed
    * by sf dir): events plus DETERMINISTIC planted purchase/click pairs
    * that straddle every slice boundary, written as four TIME-ORDERED
    * slice files (quartiles of the event-time span). At each boundary
    * t_i (i=1..3), synthetic user 1000000+i gets 5 clicks at t_i −
    * 1..5 min (landing in slice i−1) and 5 purchases at t_i + 1..5 min
    * (landing in slice i): 25 within-the-hour pairs per boundary whose
    * click arrives a MICRO-BATCH EARLIER than its purchase — the join
    * must buffer the click side across batches to emit them, so their
    * presence in the oracle-matched output is cross-batch state
    * evidence, independent of where natural pairs fall. Planted values
    * are poisoned (2e6/3e6 + j) so a lost or duplicated pair is
    * hash-visible. */
  private def stageJoinFiles(s: SparkSession, dir: String): String =
    stagedDir(s, "join_events", 2, dir) { stage =>  // v2: round-9 data regen
      val ev = graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (mn, mx) = tsBoundsUs(ev)
      val q = (mx - mn) / 4  // floor div — DuckDB mirrors with //
      val minuteUs = 60000000L
      // the plant placement (clicks at t_i − 1..5 min land a slice
      // EARLIER than their purchases at t_i + 1..5 min) and the
      // 4-non-empty-slice contract both assume quartiles wider than
      // the 5-minute plant offset — fail at the actual cause, not as
      // a confusing MinBatches error downstream
      require(q > 5 * minuteUs,
        s"stageJoinFiles needs an event-time span > 20 min, got ${mx - mn} us")
      val idx = s.range(0, 15).select(
        (col("id") / 5 + 1).cast("long").as("i"),
        (col("id") % 5).cast("long").as("j"))
      val plants =
        idx.select(
          (lit(900000000L) + col("i") * 100 + col("j")).as("event_id"),
          timestamp_micros(lit(mn) + col("i") * q + (col("j") + 1) * minuteUs).as("ts"),
          (lit(1000000L) + col("i")).as("user_id"),
          lit("purchase").as("event_type"),
          (lit(2000000.0) + col("j")).as("value"))
        .unionByName(idx.select(
          (lit(910000000L) + col("i") * 100 + col("j")).as("event_id"),
          timestamp_micros(lit(mn) + col("i") * q - (col("j") + 1) * minuteUs).as("ts"),
          (lit(1000000L) + col("i")).as("user_id"),
          lit("click").as("event_type"),
          (lit(3000000.0) + col("j")).as("value")))
      val all = ev.unionByName(plants)
      val us = unix_micros(col("ts"))
      val base = System.currentTimeMillis() - 60000
      (0 until 4).foreach { i =>
        val lo = mn + i * q
        val slice =
          if (i == 0) all.filter(us < lo + q)
          else if (i == 3) all.filter(us >= lo)
          else all.filter(us >= lo && us < lo + q)
        writeSliceFile(s, slice, stage, s"slice_$i", base + 2000L * i)
      }
    }

  /** readStream over a staged multi-file dir, one file per micro-batch.
    * Streams need an explicit schema; the staged dir's own (already
    * normalized) batch schema is it. */
  private def streamStaged(s: SparkSession, stage: String): DataFrame =
    s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)

  /** Run a streaming frame to a memory sink with AvailableNow, assert
    * the multi-batch contract, return the sink contents materialized
    * (the sink's temp view is dropped — returning it lazily would leak
    * one registered view per invocation). */
  private def runToSink(s: SparkSession, frame: DataFrame, mode: String,
                        finish: DataFrame => DataFrame): DataFrame = {
    val name = s"q_stream_sink_${sinkId.incrementAndGet()}"
    // Stateful streaming cost here is dominated by STATE STORE COMMITS,
    // not data: every micro-batch commits one store per shuffle
    // partition per stateful-operator instance (a stream-stream join
    // keeps FOUR per partition), so partitions × batches × instances
    // small-file commits swamp second-long batches when partitions is
    // sized for batch shuffles (32 here → q104 was 13.9 s of which
    // ~11 s was commit overhead). The streaming query captures
    // shuffle.partitions at START and keeps it for life; pin a
    // state-sized value around start() and restore after — batch
    // queries on the session are unaffected. At cluster scale the same
    // knob is sized to executor count × state volume, not to the
    // batch-shuffle width. 8 is MEASURED, not assumed: 32 → 13.9 s
    // q104, 8 → 6.4 s, 4 → 9.5 s (halving again loses more per-batch
    // parallelism than it saves in commits — the curve bottoms here).
    // getOption/unset restore (the withNanosAsLong form): a get/set
    // restore would turn a never-set key into an explicitly-set one —
    // exactly the session-conf delta the leak specs police.
    // SPARK_GRAFT_STREAM_PARTS (round 21): the state-store width is a
    // deployment knob (executor count × state volume at cluster scale),
    // so it is parameterised rather than hard-coded; the default stays
    // the measured local knee (r13 curve 32 → 13.9 s / 8 → 6.4 / 4 →
    // 9.5 for q104, RE-MEASURED round 21 on the current engine: the
    // sweep in OPTIMIZATION_r21.md confirms 8 is still the bottom).
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = s.conf.getOption(partsKey)
    s.conf.set(partsKey,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8").toInt.toString)
    val q = try frame.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    finally prevParts match {
      case Some(v) => s.conf.set(partsKey, v)
      case None    => s.conf.unset(partsKey)
    }
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= MinBatches,
      s"streaming oracle must cross >=$MinBatches data micro-batches to " +
        s"prove cross-batch state, saw $dataBatches")
    val out = finish(s.table(name))
    val rows = out.collect()
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  def queries: Map[String, Q] = Map(
    // hourly event-time tumbling windows per event type, computed by the
    // streaming engine over a file-source stream of the events table.
    // Complete output mode: every window is in the sink when the
    // AvailableNow run terminates (append would withhold windows newer
    // than the final watermark — a trailing-window hole the oracle would
    // catch). Result size is bounded by the time span (hours/year x
    // event types), not the row count — safe to materialize at any SF.
    // Multi-batch: rows for ONE hour window arrive across several
    // micro-batches (round-robin staging scatters each hour over all
    // files), so the window counts the oracle checks are provably the
    // MERGE of per-batch partial state, not a single-batch total.
    "q78_stream_agg" -> ((s, dir) => {
      val evs = streamStaged(s, stageMultiFile(s, dir, "events"))
      val agg = evs
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
      runToSink(s, agg, "complete", _
        .select(col("window_start"), col("event_type"), col("n"),
          qz(col("total_value"), 4).as("total_value"))
        .orderBy("window_start", "event_type"))
    }),

    // streaming exact dedup: the content-hash dropDuplicates path run by
    // the STREAMING engine over a file-source stream of documents plus
    // planted copies of every 20th doc (q61's planting — so the dedup
    // state provably discards something). Which arrival survives is
    // partition-order dependent, so the emitted surface is the
    // arrival-order-free one: the distinct content-hash set, which must
    // EQUAL DuckDB's batch DISTINCT md5(text) — the stream ≡ batch
    // equivalence proof for the dedup operator. Bounded state: one
    // 32-char hash per distinct text, no payload retained.
    // Multi-batch: a hash admitted in batch i must suppress re-arrivals
    // in batches j > i (the planted copies land in a DIFFERENT file than
    // their originals for most doc_ids under round-robin staging), so
    // matching the batch DISTINCT proves the dedup STATE carries across
    // micro-batches.
    "q88_stream_dedup" -> ((s, dir) => {
      val stream = streamStaged(s, stageMultiFile(s, dir, "documents"))
      val withCopies = stream.unionByName(
        stream.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + lit(100000000L)))
      val deduped = withCopies
        .select(md5(col("text")).as("content_hash"))
        .dropDuplicates("content_hash")
      runToSink(s, deduped, "append", _.orderBy("content_hash"))
    }),

    // custom keyed state through the real streaming engine:
    // mapGroupsWithState maintains per-user running count/sum/max across
    // micro-batches (the streaming analog of the batch expanding
    // windows W1-W5). Update mode emits a profile row per key per batch;
    // the FINAL profile per user (n is monotone — max_by(·, n)) must
    // equal the batch groupBy aggregates DuckDB computes. The sum is
    // qz(4)-quantized: state folds in arrival order, the oracle in scan
    // order — associativity slack is below 1e-4 at this value range.
    // Multi-batch: each user's events are scattered over all staged
    // files, so the final profile is necessarily state UPDATED across
    // batches (update mode emits one row per user per batch it appears
    // in; max_by(·, n) picks the last), not one batch's fold.
    "q89_stream_state" -> ((s, dir) => {
      import s.implicits._
      val evs = streamStaged(s, stageMultiFile(s, dir, "events"))
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.StreamingOps.Event]
      val profiles = evs.groupByKey(_.user_id)
        .mapGroupsWithState(
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
          graft.streaming.StreamingOps.updateProfile)
      runToSink(s, profiles.toDF(), "update", _
        .groupBy("user_id")
        .agg(max(col("n")).as("n"),
          qz(max_by(col("total"), col("n")), 4).as("total_value"),
          max_by(col("maxValue"), col("n")).as("max_value"))
        .orderBy("user_id"))
    }),

    // watermark LATENESS semantics through the real engine, both sides
    // of the boundary at once (staging doc above): within-delay late
    // rows must be ACCEPTED into their still-open windows, rows below
    // the watermark must be DROPPED and their finalized windows left
    // untouched. Append mode + 2h watermark: the sink holds exactly the
    // windows whose end ≤ final watermark (max on-time event time − 2h;
    // the trailing 2h of windows are legitimately withheld, and the
    // oracle applies the same cut). Both plantings carry +1e6 poisoned
    // values, so a wrong accept/drop shifts n and the sums by 1e6-sized
    // amounts — hash-visible. The ms-floor the engine applies to the
    // watermark cannot shift the cut: window ends are hour-aligned and
    // the data's max timestamp is not, so no window end falls in the
    // sub-ms gap.
    "q103_stream_late" -> ((s, dir) => {
      val evs = streamStaged(s, stageLatenessFiles(s, dir))
      val agg = evs
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
      runToSink(s, agg, "append", _
        .select(col("window_start"), col("event_type"), col("n"),
          qz(col("total_value"), 4).as("total_value"))
        .orderBy("window_start", "event_type"))
    }),

    // STREAM-STREAM interval join through the real engine — the last
    // §2.10 shape the gate didn't pin: purchases joined to the same
    // user's clicks within the preceding hour, both sides watermarked
    // (2 h ≥ the 1 h join range, so with the time-ordered slice files
    // nothing is ever late and the watermarked bounded-state join must
    // equal DuckDB's unbounded batch join — the stream ≡ batch proof).
    // The staged plants guarantee pairs whose click arrives a micro-
    // batch before its purchase (see stageJoinFiles): matching the
    // oracle proves the click-side buffer carried across batches.
    // Append is the only output mode stream-stream joins support;
    // state on both sides is bounded by the watermark horizon, so at
    // 100 TB the state store holds 2-3 h of keys, not the stream.
    "q104_stream_join" -> ((s, dir) => {
      val stage = stageJoinFiles(s, dir)
      val p = streamStaged(s, stage)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("value").as("p_value"))
        .withWatermark("p_ts", "2 hours")
      val c = streamStaged(s, stage)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
          col("ts").as("c_ts"), col("value").as("c_value"))
        .withWatermark("c_ts", "2 hours")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
        .select(col("p_event"), col("c_event"), col("p_user").as("user_id"),
          qz(col("p_value") + col("c_value"), 4).as("pair_value"))
      runToSink(s, joined, "append", _.orderBy("p_event", "c_event"))
    }),

    // stream-STATIC enrichment join + downstream streaming agg: the
    // events stream joins the static customer dimension (broadcast — a
    // static dim never re-shuffles the stream; at cluster scale this is
    // the map-side hash join every enrichment pipeline wants), then
    // aggregates counts/sums per (event_type, segment). Complete mode:
    // the result is bounded by |event types| × |segments|, not rows.
    // Multi-batch (≥3 asserted): the per-group totals are provably
    // merged across micro-batches.
    "q106_stream_enrich" -> ((s, dir) => {
      val evs = streamStaged(s, stageMultiFile(s, dir, "events"))
      val dim = graft.sources.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = evs.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      runToSink(s, agg, "complete", _
        .select(col("event_type"), col("c_mktsegment"), col("n"),
          qz(col("total_value"), 4).as("total_value"))
        .orderBy("event_type", "c_mktsegment"))
    }),

    // STATELESS streaming scoring — the reference's real-time scoring
    // loop (HTTP /score per transaction) expressed as the scale-out
    // form: a file-source stream scored by the SAME RiskScore column
    // expressions the batch (q32) and HTTP (q102) paths use, append
    // sink, zero state. Oracle equality closes the three-way
    // batch ≡ stream ≡ serving contract on the scorer; the ≥3
    // micro-batch floor proves scores are computed per arriving batch,
    // not one big pass. At 100 TB/day this is the shape that scores an
    // event firehose: narrow projection, no shuffle, no state store.
    "q107_stream_score" -> ((s, dir) => {
      val evs = streamStaged(s, stageMultiFile(s, dir, "events"))
      val blended = graft.serve.RiskScore.EventScore.blended
      val scored = evs.select(col("event_id"),
        qz(blended, 6).as("risk_score"),
        graft.serve.RiskScore.riskLevel(blended).as("risk_level"))
      runToSink(s, scored, "append", _.orderBy("event_id"))
    }),

    // H6 RUNNING STATS through the real engine (previously spec-only):
    // a global streaming aggregate in update mode maintains prediction
    // count / fraud count / exact score total across micro-batches —
    // the reference's service-level counters (`api/main.py:30-32`,
    // prediction_count/fraud_count updated per request) as ONE state
    // row instead of process globals. Update mode emits the running
    // row each batch; the FINAL row (prediction_count is monotone) must
    // equal the batch fold DuckDB computes over the same events. The
    // average derives from an exact long sum (runningStatsExact), so
    // stream ≡ batch is bit-exact at any batch split — and the ≥3
    // micro-batch floor (runToSink) proves the state actually carried
    // across batches.
    "q146_stream_running_stats" -> ((s, dir) => {
      val evs = streamStaged(s, stageMultiFile(s, dir, "events"))
      val scored = evs.withColumn("risk_score",
        graft.serve.RiskScore.EventScore.blended)
      val stats = graft.streaming.StreamingOps.runningStatsExact(scored)
      runToSink(s, stats, "update", _
        .orderBy(desc("prediction_count")).limit(1)
        .select(col("prediction_count"), col("fraud_count"),
          qz(col("score_sum") / col("prediction_count"), 6).as("avg_score")))
    }),

    // INCREMENTAL CURATION: the batch curation tier (q51 quality score,
    // q52 lang-ID, q50/q88 content-hash dedup) run as ONE streaming
    // pipeline — the shape that curates a corpus arriving continuously
    // at 100 TB/day: stateless per-batch filter expressions, then a
    // content-hash aggregation whose state is bounded by DISTINCT
    // surviving content, not stream length. Every 20th doc is cloned
    // under a disjoint id (q88's planting), so the min(doc_id) keeper
    // choice must merge groups ACROSS micro-batches; the oracle
    // recomputes quality, language, and keeper from scratch in SQL.
    "q110_stream_curate" -> ((s, dir) => {
      val stream = streamStaged(s, stageMultiFile(s, dir, "documents"))
      val withCopies = stream.unionByName(
        stream.filter(col("doc_id") % 20 === 0)
          // negative plant ids: disjoint from replica ids at EVERY
          // scale (q148 doctrine)
          .withColumn("doc_id", -col("doc_id") - lit(1L)))
      val t = col("text")
      val stop = graft.operators.TextOps.langWords.head._2
      val scored = withCopies.select(col("doc_id"),
        md5(t).as("content_hash"),
        qz(graft.operators.TextOps.qualityScore(t, stop), 6).as("quality"),
        graft.operators.TextOps.predictLang(t).as("pred_lang"))
      val kept = scored
        .filter(col("quality") >= 0.55 && col("pred_lang") === "en")
        .groupBy("content_hash")
        .agg(min(col("doc_id")).as("doc_id"), max(col("quality")).as("quality"))
      // update mode emits a row per group per batch it changes in; the
      // finish fold keeps the final state (min doc_id is monotone
      // nonincreasing, quality constant within a hash)
      runToSink(s, kept, "update", _.groupBy("content_hash")
        .agg(min(col("doc_id")).as("doc_id"), max(col("quality")).as("quality"))
        .orderBy("content_hash"))
    }),

    // MODEL INFERENCE IN A STREAM (round 12): the registry-loaded
    // LeafBoost that serves /score (q137) scores a file-source stream —
    // the reference's real-time scoring loop at firehose scale: trees
    // broadcast in the task closure, map-side binOf→probability per
    // arriving row, blended with the heuristic, append sink, zero
    // state, no shuffle. The model probability has no SQL twin, so the
    // gate is the q102/q137 convention: the stream's scores are
    // EXACT-compared driver-side against the batch LeafBoost.score +
    // blend over the IDENTICAL staged files (stream ≡ batch through
    // the same mapPartitions, per arriving micro-batch — the ≥3-batch
    // floor applies), and DuckDB pins row coverage + the TRUE flags.
    "q139_stream_model_score" -> ((s, dir) => {
      val model = FeatureQueries.servingModel(s, dir)
      val fcols = graft.serve.LocalScorer.servingFeatureNames
      def scoreFrame(df: DataFrame): DataFrame = {
        val in = df.select(FeatureQueries.servingFeatureCols: _*)
        val scored = graft.ml.LeafBoost.score(in, fcols, model, "p_model")
        val heuristic = graft.serve.RiskScore.heuristicScore(col("amount"),
          col("hour_of_day"), col("device_missing") === 1.0,
          col("unusual_product") === 1.0)
        val b = graft.serve.RiskScore.blend(col("p_model"), heuristic)
        scored.select(col("event_id"), b.as("blended"),
          graft.serve.RiskScore.riskLevel(b).as("risk_level"))
      }
      val stage = stageMultiFile(s, dir, "events")
      val streamed = runToSink(s, scoreFrame(streamStaged(s, stage)),
        "append", _.orderBy("event_id"))
      // flags via a DISTRIBUTED join against the batch twin (review
      // round 12: a collect-to-Map batch side doubled driver residency
      // next to the sink's own local frame — the sink is the only
      // driver copy now; exact double equality through ===)
      val batch = scoreFrame(s.read.parquet(stage))
        .select(col("event_id"), col("blended").as("b_batch"),
          col("risk_level").as("lvl_batch"))
      streamed.join(batch, "event_id")
        .select(col("event_id"),
          (col("blended") === col("b_batch")).cast("long").as("score_ok"),
          (col("risk_level") === col("lvl_batch")).cast("long").as("level_ok"))
        .orderBy("event_id")
    }),

    // STREAMING ANN INDEX REFRESH (round 15, the verdict's q110-mold
    // composition of StreamingOps with Ivf.append): build and SAVE an
    // IVF index over 80% of the corpus, then stream the remaining 20%
    // (4 single-file micro-batches) into a foreachBatch sink that runs
    // Ivf.appendShard per batch — assign the arriving vectors to the
    // FROZEN quantizer and append ONLY their rows to the artifact's
    // ivf_assigned table. That is the steady-state index-refresh job
    // at 100 TB (daily shards → a map-only assignment pass + an
    // append-only write; nothing corpus-sized is ever rewritten, the
    // artifact stays searchable throughout). Gates: the refreshed
    // artifact's search is BIT-IDENTICAL (result set AND every rounded
    // sim) to the in-memory batch append over the same delta, ≥3
    // data-carrying micro-batches actually flowed, and row conservation
    // pins base + Σ shards == corpus.
    // STREAMING HNSW REFRESH (round 19 — verdict #5: q161's refresh
    // pattern applied to the GRAPH tier, with Hnsw.append as the delta
    // step). Build and SAVE a base graph over ids < 1200, then stream
    // the 1200..1999 tail as 4 ascending-id-range micro-batches into a
    // foreachBatch sink that load→append→save's the artifact per
    // batch. EXACTLY-ONCE here is the ID WATERMARK: append's
    // ascending-id contract means a replayed batch (all ids ≤ the
    // graph's max) filters to empty and no-ops — idempotence without
    // sink-side state. Scope (round-19 advice): the watermark covers
    // CLEAN restarts (replayed micro-batches); a crash DURING the
    // in-place overwrite save can leave a corrupt artifact the replay
    // cannot heal. The production refresh doctrine is write-then-swap:
    // save each refresh as the next REGISTRY version and prune
    // (ModelRegistry.registerHnsw + prune — the q186/q187 compaction
    // path), so readers only ever see complete artifacts; this gate
    // keeps the bare-path overwrite because what it proves is the
    // append replay identity, not crash recovery. Unlike IVF's
    // per-shard append-only layout, the
    // graph artifact REWRITES per refresh (its links are global
    // state); at 100 TB that is one bounded-shard rewrite per
    // micro-batch per serving node, amortized exactly like q177's
    // append-vs-rebuild pricing. Gates: struct_eq — the streamed
    // artifact is BIT-IDENTICAL (links/levels/entry) to a from-scratch
    // build of the full corpus (q177's replay identity, now reached
    // THROUGH the streaming engine); the served exhaustive rows ARE
    // exact brute force over the full corpus (hashed against DuckDB's
    // replay); http_eq — served-over-HTTP ≡ the fresh full build's
    // in-process search, bit-for-bit; ≥3 data batches; conservation.
    "q183_stream_hnsw_refresh" -> ((s, dir) => {
      import s.implicits._
      val e = graft.sources.Tables.embeddings(s, dir)
        .filter(col("vec_id") < 2000)
      def rowsOf(df: DataFrame): Seq[(Long, Array[Float])] =
        df.select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) ->
            r.getAs[scala.collection.Seq[Float]](1).toArray).toSeq
      // split by SORTED-ID POSITION, not fixed id ranges — the table is
      // 500 rows at sf0.01 and 2000 at sf0.1, and the gate needs 4
      // non-empty ascending-id delta batches at every scale: base =
      // first 60% of ids, delta = the tail in 4 equal ascending chunks
      val all = rowsOf(e).sortBy(_._1)
      val baseRows = all.take(all.length * 3 / 5)
      val delta = all.drop(baseRows.length)
      val chunks = (0 until 4).map(i =>
        delta.slice(i * delta.length / 4, (i + 1) * delta.length / 4))
      require(chunks.forall(_.nonEmpty), "delta chunking left an empty batch")
      val stage = stagedDir(s, "hnsw_delta_4", 1, dir) { st =>
        chunks.zipWithIndex.foreach { case (c, i) =>
          writeSliceFile(s, c.toDF("vec_id", "embedding"),
            st, f"slice_$i", 1000000L + i * 60000L)
        }
      }
      val root = java.nio.file.Files.createTempDirectory("graft_q183")
        .toString + "/g"
      graft.operators.Hnsw.save(s,
        graft.operators.Hnsw.build(baseRows, m = 8, efConstruction = 64),
        root)
      val q = s.readStream
        .schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val g = graft.operators.Hnsw.load(s, root)
          // the id watermark IS the exactly-once state (clean-restart
          // scope — see the gate header for the crash-mid-save
          // doctrine): a replayed batch's ids all sit ≤ the graph's
          // max and filter to empty
          val fresh = b.select(col("vec_id").cast("long"), col("embedding"))
            .collect()
            .map(r => r.getLong(0) ->
              r.getAs[scala.collection.Seq[Float]](1).toArray)
            .filter(_._1 > g.ids.last).sortBy(_._1).toSeq
          if (fresh.nonEmpty)
            graft.operators.Hnsw.save(s,
              graft.operators.Hnsw.append(g, fresh), root)
        }
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= MinBatches,
        s"graph refresh must cross >=$MinBatches micro-batches, saw $dataBatches")
      val refreshed = graft.operators.Hnsw.load(s, root)
      val full = graft.operators.Hnsw.build(rowsOf(e), m = 8,
        efConstruction = 64)
      val structOk = graft.operators.Hnsw.structEq(refreshed, full)
      val conservationOk = refreshed.size == e.count()
      val queries = rowsOf(e.filter(col("vec_id") < 20)).sortBy(_._1)
      val idx = graft.serve.LocalAnn.fromGraph("hnsw_refresh", refreshed)
      val served = graft.serve.HttpApi
        .annSearchOverHttp(queries, ("hnsw_refresh", idx),
          shortlist = idx.size, topK = 5)
        .flatMap { o =>
          val qid = o.path("query_id").asLong
          val rs = o.path("results")
          (0 until rs.size()).map(i => (qid,
            rs.get(i).path("neighbor_id").asLong,
            rs.get(i).path("sim").asDouble))
        }.sortBy(t => (t._1, t._2))
      val freshBits = queries.flatMap { case (qid, v) =>
        graft.operators.Hnsw.search(full, v, efSearch = full.size,
          topK = 5, dropId = Some(qid)).map(h =>
          (qid, h._1, java.lang.Double.doubleToLongBits(h._2)))
      }.toSet
      val httpEq = served
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3)))
        .toSet == freshBits
      served.toDF("query_id", "neighbor_id", "sim")
        .withColumn("struct_eq", lit(structOk))
        .withColumn("http_eq", lit(httpEq))
        .withColumn("multi_batch_ok", lit(dataBatches >= MinBatches))
        .withColumn("conservation_ok", lit(conservationOk))
        .orderBy("query_id", "neighbor_id")
    }),

    "q161_stream_index_refresh" -> ((s, dir) => {
      val e = graft.sources.Tables.embeddings(s, dir)
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val stage = stagedDir(s, "embed_delta_4", 1, dir) { st =>
        delta.repartition(4).write.mode("overwrite").parquet(st.toString)
      }
      val root = java.nio.file.Files.createTempDirectory("graft_q161")
        .toString + "/idx"
      val index = graft.operators.Ivf.build(base, "vec_id", "embedding",
        nLists = 16)
      graft.operators.Ivf.save(index, root)
      val q = s.readStream
        .schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          // batchId keys the shard dir: a replayed batch overwrites its
          // OWN shard instead of duplicating rows (exactly-once is the
          // engine's contract now — round-15 verdict #2)
          graft.operators.Ivf.appendShard(s, root, b, batchId)
        }
        .start()
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= MinBatches,
        s"index refresh must cross >=$MinBatches micro-batches, saw $dataBatches")
      val refreshed = graft.operators.Ivf.load(s, root)
      val conservationOk =
        refreshed.assigned.count() == e.count() // base + Σ shards, no loss/dup
      val probes = e.filter(col("vec_id") < 20)
      val streamRes = graft.operators.Ivf.search(refreshed, probes,
          "vec_id", "embedding", nProbe = 4, topK = 5)
        .select(col("query_id"), col("neighbor_id"), col("sim").as("ssim"))
      val batchRes = graft.operators.Ivf.search(
          graft.operators.Ivf.append(index, delta), probes,
          "vec_id", "embedding", nProbe = 4, topK = 5)
        .select(col("query_id"), col("neighbor_id"), col("sim").as("bsim"))
      streamRes.join(batchRes, Seq("query_id", "neighbor_id"), "full_outer")
        .agg(
          count_distinct(col("query_id")).as("n_queries"),
          count(lit(1)).cast("long").as("n_results"),
          (sum(when(col("ssim").isNull || col("bsim").isNull, 1L)
            .otherwise(0L)) === 0).as("sets_match"),
          (sum(when(col("ssim") === col("bsim"), 0L).otherwise(1L)) === 0)
            .as("sims_bit_equal"))
        .select(col("n_queries"), col("n_results"), col("sets_match"),
          col("sims_bit_equal"),
          lit(dataBatches >= MinBatches).as("multi_batch_ok"),
          lit(conservationOk).as("conservation_ok"))
    })
  )

  def oracle: Map[String, String] = Map(
    // the streamed-refresh graph's exhaustive served rows ARE exact
    // brute force over the full corpus — DuckDB recomputes them; the
    // four flags (stream ≡ rebuild structure, HTTP ≡ fresh search,
    // multi-batch, conservation) derive in-query
    "q183_stream_hnsw_refresh" ->
      """WITH e AS MATERIALIZED (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings WHERE vec_id < 2000),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |sims AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  round((list_dot_product(q.qv, e.v)
        |   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0) / 1000000.0 + 0.0 AS sim
        | FROM q JOIN e ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim, TRUE AS struct_eq,
        | TRUE AS http_eq, TRUE AS multi_batch_ok, TRUE AS conservation_ok
        |FROM (
        | SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk
        | FROM sims)
        |WHERE rk <= 5
        |ORDER BY query_id, neighbor_id""".stripMargin,

    // ANN results have no SQL twin — DuckDB pins the probe inventory
    // and result cardinality; the stream ≡ batch bit-equality,
    // multi-batch, and conservation flags are driver-compared literal
    // TRUE (q62/q143 convention)
    "q161_stream_index_refresh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(5 * count(*) AS BIGINT) AS n_results,
        | TRUE AS sets_match, TRUE AS sims_bit_equal,
        | TRUE AS multi_batch_ok, TRUE AS conservation_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin,

    // model probability has no SQL twin — DuckDB pins row coverage
    // (every event exactly once) and the driver-side exact-equality
    // flags are literal TRUE (q102/q137 convention)
    "q139_stream_model_score" ->
      """SELECT event_id, CAST(1 AS BIGINT) AS score_ok,
        | CAST(1 AS BIGINT) AS level_ok
        |FROM events ORDER BY event_id""".stripMargin,

    // the batch twin: tumbling 1-hour event-time windows are exactly
    // date_trunc('hour') buckets (Spark's window() is epoch-aligned)
    "q78_stream_agg" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS n,
        | round((sum(value)) * 10000.0) / 10000.0 + 0.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // batch twin: planted copies add no new distinct hash, so the
    // deduped set is exactly the corpus's distinct content hashes
    "q88_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash
        |FROM documents ORDER BY content_hash""".stripMargin,

    // batch twin of the keyed-state profile: expanding aggregates at
    // end-of-stream are plain per-key aggregates
    "q89_stream_state" ->
      """SELECT user_id, count(*) AS n,
        | round((sum(value)) * 10000.0) / 10000.0 + 0.0 AS total_value,
        | max(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // batch twin of the lateness run: on-time events plus the ACCEPTED
    // within-delay clones (last pre-t1 hour, +1e6 values), the DROPPED
    // first-day clones absent, windows cut at the final watermark
    // (max event time − 2h)
    "q103_stream_late" ->
      """WITH b AS (
        | SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        |t AS (SELECT mn + (mx - mn) // 3 AS t1, mx FROM b),
        |accept AS (
        | SELECT ts, event_type, value + 1000000.0 AS value
        | FROM events, t
        | WHERE epoch_us(ts) >= t1 - 3600000000 AND epoch_us(ts) < t1),
        |ontime AS (
        | SELECT ts, event_type, value FROM events
        | UNION ALL SELECT ts, event_type, value FROM accept),
        |agg AS (
        | SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, sum(value) AS tv
        | FROM ontime GROUP BY 1, 2)
        |SELECT window_start, event_type, n,
        | round(tv * 10000.0) / 10000.0 + 0.0 AS total_value
        |FROM agg, t
        |WHERE epoch_us(window_start) + 3600000000 <= mx - 7200000000
        |ORDER BY window_start, event_type""".stripMargin,

    // batch twin of the stream-stream join: the same plants (exact µs
    // arithmetic mirrored) unioned in, then the unbounded interval join
    "q104_stream_join" ->
      """WITH b AS (
        | SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        |t AS (SELECT mn, (mx - mn) // 4 AS q FROM b),
        |idx AS (
        | SELECT i, j FROM generate_series(1, 3) AS s1(i),
        |  generate_series(0, 4) AS s2(j)),
        |plants AS (
        | SELECT 900000000 + i*100 + j AS event_id,
        |  make_timestamp(mn + i*q + (j+1)*60000000) AS ts,
        |  1000000 + i AS user_id, 'purchase' AS event_type,
        |  2000000.0 + j AS value
        | FROM idx, t
        | UNION ALL
        | SELECT 910000000 + i*100 + j,
        |  make_timestamp(mn + i*q - (j+1)*60000000),
        |  1000000 + i, 'click', 3000000.0 + j
        | FROM idx, t),
        |al AS (
        | SELECT event_id, ts, user_id, event_type, value FROM events
        | UNION ALL SELECT * FROM plants),
        |p AS (SELECT event_id AS p_event, user_id, epoch_us(ts) AS pus,
        |  value AS pv FROM al WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_event, user_id, epoch_us(ts) AS cus,
        |  value AS cv FROM al WHERE event_type = 'click')
        |SELECT p_event, c_event, p.user_id AS user_id,
        | round((pv + cv) * 10000.0) / 10000.0 + 0.0 AS pair_value
        |FROM p JOIN c ON p.user_id = c.user_id
        | AND cus >= pus - 3600000000 AND cus < pus
        |ORDER BY p_event, c_event""".stripMargin,

    // batch twin of the enrichment pipeline: plain join + group-by
    "q106_stream_enrich" ->
      """SELECT e.event_type, c.c_mktsegment, count(*) AS n,
        | round(sum(e.value) * 10000.0) / 10000.0 + 0.0 AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // batch twin of the streaming scorer — the q32 heuristic/blend
    // chain trimmed to the streamed projection
    "q107_stream_score" ->
      """WITH base AS (
        | SELECT event_id, value*20.0 AS amt, hour(ts) AS h,
        |  (event_type = 'error') AS dev_missing,
        |  (event_type = 'signup') AS unusual
        | FROM events),
        |s0 AS (SELECT *, 1.0/(1.0 + exp(-0.003*(amt - 500.0))) AS b0 FROM base),
        |s1 AS (SELECT *, CASE WHEN amt > 5000 THEN least(b0 + 0.15, 0.95)
        |                      WHEN amt > 1000 THEN least(b0 + 0.08, 0.85)
        |                      ELSE b0 END AS b1 FROM s0),
        |s2 AS (SELECT *, CASE WHEN dev_missing THEN least(b1 + 0.05, 0.95) ELSE b1 END AS b2 FROM s1),
        |s3 AS (SELECT *, CASE WHEN unusual THEN least(b2 + 0.05, 0.95) ELSE b2 END AS b3 FROM s2),
        |scored AS (
        | SELECT *, CASE WHEN h < 5 OR h > 23 THEN least(b3 + 0.07, 0.95) ELSE b3 END AS heuristic,
        |  least(1.0, amt/10000.0) AS model
        | FROM s3),
        |blended AS (
        | SELECT *, least(1.0, greatest(0.0, model*0.4 + heuristic*0.6)) AS b
        | FROM scored)
        |SELECT event_id,
        | round(b * 1000000.0) / 1000000.0 + 0.0 AS risk_score,
        | CASE WHEN b < 0.2 THEN 'MINIMAL' WHEN b < 0.4 THEN 'LOW'
        |      WHEN b < 0.6 THEN 'MEDIUM' WHEN b < 0.8 THEN 'HIGH'
        |      ELSE 'CRITICAL' END AS risk_level
        |FROM blended ORDER BY event_id""".stripMargin,

    // q107's score chain folded to the global stats row; the exact
    // long-sum average (sum of round(b·10⁶) as BIGINT) reproduces the
    // stream's runningStatsExact arithmetic term for term
    "q146_stream_running_stats" ->
      """WITH base AS (
        | SELECT event_id, value*20.0 AS amt, hour(ts) AS h,
        |  (event_type = 'error') AS dev_missing,
        |  (event_type = 'signup') AS unusual
        | FROM events),
        |s0 AS (SELECT *, 1.0/(1.0 + exp(-0.003*(amt - 500.0))) AS b0 FROM base),
        |s1 AS (SELECT *, CASE WHEN amt > 5000 THEN least(b0 + 0.15, 0.95)
        |                      WHEN amt > 1000 THEN least(b0 + 0.08, 0.85)
        |                      ELSE b0 END AS b1 FROM s0),
        |s2 AS (SELECT *, CASE WHEN dev_missing THEN least(b1 + 0.05, 0.95) ELSE b1 END AS b2 FROM s1),
        |s3 AS (SELECT *, CASE WHEN unusual THEN least(b2 + 0.05, 0.95) ELSE b2 END AS b3 FROM s2),
        |scored AS (
        | SELECT *, CASE WHEN h < 5 OR h > 23 THEN least(b3 + 0.07, 0.95) ELSE b3 END AS heuristic,
        |  least(1.0, amt/10000.0) AS model
        | FROM s3),
        |blended AS (
        | SELECT *, least(1.0, greatest(0.0, model*0.4 + heuristic*0.6)) AS b
        | FROM scored)
        |SELECT CAST(count(*) AS BIGINT) AS prediction_count,
        | CAST(sum(CASE WHEN b >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS fraud_count,
        | round(((CAST(sum(CAST(round(b*1000000.0) AS BIGINT)) AS DOUBLE)/1000000.0) / count(*)) * 1000000.0) / 1000000.0 + 0.0 AS avg_score
        |FROM blended""".stripMargin,

    // the whole curation chain re-derived in SQL: planted clones in,
    // quality + lang + per-hash keeper out
    "q110_stream_curate" ->
      s"""WITH base AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT -doc_id - 1, text FROM documents WHERE doc_id % 20 = 0),
         |t AS (
         | SELECT doc_id, md5(text) AS content_hash,
         |  regexp_split_to_array(trim(text), '\\s+') AS toks,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct
         | FROM base),
         |f AS (
         | SELECT doc_id, content_hash, len(toks) AS n_tokens, n_punct,
         |  len(list_filter(toks, x -> list_contains(${graft.operators.TextOps.stopListSql}, x))) AS stop_hits,
         |  len(list_filter(toks, x -> list_contains(['the','a','of','to','and','is','in'], x))) AS hits_en,
         |  len(list_filter(toks, x -> list_contains(['le','la','de','et','un','est'], x))) AS hits_fr,
         |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ein','ist'], x))) AS hits_de,
         |  len(list_filter(toks, x -> list_contains(['el','los','de','y','un','es'], x))) AS hits_es
         | FROM t),
         |q AS (
         | SELECT doc_id, content_hash,
         |  round((0.4*least(1.0, CAST(n_tokens AS DOUBLE)/100.0)
         |   + 0.3*(CAST(stop_hits AS DOUBLE)/n_tokens)
         |   + 0.3*(1.0 - least(1.0, CAST(n_punct AS DOUBLE)/n_tokens))) * 1000000.0) / 1000000.0 + 0.0 AS quality,
         |  CASE WHEN hits_en > 0 AND hits_en >= greatest(hits_fr, hits_de, hits_es) THEN 'en'
         |       WHEN hits_fr > 0 AND hits_fr >= greatest(hits_de, hits_es) THEN 'fr'
         |       WHEN hits_de > 0 AND hits_de >= hits_es THEN 'de'
         |       WHEN hits_es > 0 THEN 'es'
         |       ELSE 'unknown' END AS pred_lang
         | FROM f)
         |SELECT content_hash, min(doc_id) AS doc_id, max(quality) AS quality
         |FROM q WHERE quality >= 0.55 AND pred_lang = 'en'
         |GROUP BY content_hash ORDER BY content_hash""".stripMargin
  )
}
