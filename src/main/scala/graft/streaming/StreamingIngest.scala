package graft.streaming

import graft.catalog.VectorIndex
import graft.embed.Embedder
import graft.ingest.Chunker
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Incremental ingestion as Structured Streaming (SURVEY §2.9): the
  * idiomatic Spark form of the reference's POST /upload → re-ingest loop
  * (`app/api/routes.py:314-334`) — files land in a directory, and
  * `foreachBatch` runs each micro-batch through the batch ingest's own
  * chunk → embed → id → dedup → upsert pipeline. No watermark is
  * needed (no event-time logic); exactly-once lands on the index's
  * upsert-by-id semantics + checkpointed source offsets.
  *
  * [[start]] is the resumable form: its checkpoint is the caller's, so a
  * restart resumes from the committed offsets. The bounded `run*Once`
  * runners are foreachBatch bodies handed to [[StreamRunner.drain]],
  * which gives every run a fresh checkpoint: each is a one-shot replay
  * of what its source holds, never a resume.
  */
object StreamingIngest {

  /** One micro-batch of the upload→ingest path: [[graft.rag.Ingest]]'s
    * own pipeline at the default chunk size, so the batch and streaming
    * forms can't fork. An empty micro-batch writes nothing (an empty
    * write would still publish one empty part file and change the log's
    * fingerprint).
    */
  private def ingestBatch(
      batch: DataFrame, index: VectorIndex, embedder: Embedder): Unit =
    if (!batch.isEmpty) {
      graft.rag.Ingest.upsertDocs(batch, index, embedder, new Chunker())
      ()
    }

  /** Run `body` with `static` persisted and materialized: a static side
    * joined into EVERY micro-batch would otherwise re-execute its
    * lineage per batch (N batches = N full scans of its source).
    */
  private def pinned(static: DataFrame)(body: => Unit): Unit = {
    static.persist()
    try {
      static.count() // materialize before the stream starts
      body
    } finally static.unpersist()
  }

  /** Start a file-source stream over `landingDir` (*.txt, one doc per
    * file, `source` = the file's path) into `index`, checkpointed at
    * `checkpointDir`. At most 100 files per trigger bound a micro-batch
    * — the streaming analog of the reference's upsert batching
    * (100/request, `pinecone_service.py:135-140`).
    */
  def start(
      spark: SparkSession,
      landingDir: String,
      index: VectorIndex,
      embedder: Embedder,
      checkpointDir: String
  ): StreamingQuery =
    spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.txt")
      .option("maxFilesPerTrigger", 100)
      .text(landingDir)
      .select(col("value").as("text"), input_file_name().as("source"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, index, embedder)
      }
      .start()

  /** Bounded ingest of ANY streaming `(text, source)` DataFrame: drain
    * everything currently available through the same per-batch pipeline
    * as the continuous form — the shape a backfill or an oracle-gated
    * replay uses. Spark's file stream source costs ~ms PER FILE
    * (driver-side listing + source log, PERF.md round 5), so a million
    * tiny per-doc files bottleneck the driver: land uploads as BATCH
    * files (one upload batch per JSONL file, the reference's own
    * 100-per-request upsert batching) when volume is more than a trickle.
    */
  def runIngestStreamOnce(
      docs: DataFrame, index: VectorIndex, embedder: Embedder): Unit =
    StreamRunner.drain(docs)(_.foreachBatch { (batch: DataFrame, _: Long) =>
      ingestBatch(batch, index, embedder)
    })

  /** Streaming corpus EXPORT — the write side of the streaming story
    * (landing → transform → publish while the crawl still runs): every
    * arriving micro-batch packs into its OWN `batch-<id>/` set of
    * deterministic gzipped-JSONL shards via
    * [[graft.pipeline.JsonlSink]]. Which docs share a batch depends on
    * how the source cut files into triggers, so per-batch shard bytes
    * are not replayable — but the UNION of all batches' parsed content
    * is batch-split-independent, which is what the q8S gate checks.
    * Within one drain each batch id names a fixed doc set, so a batch
    * retry overwrites its own dir (the sink's bytes are deterministic),
    * never duplicates.
    */
  def runExportStreamOnce(
      docs: DataFrame, outDir: String, nShards: Int, seed: Int): Unit =
    StreamRunner.drain(docs)(_.foreachBatch { (batch: DataFrame, id: Long) =>
      val dir = s"$outDir/batch-$id"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      graft.pipeline.JsonlSink
        .writeJsonlShards(batch, "doc_id", "text", nShards, seed, dir)
        .collect()
      ()
    })

  /** Streaming analytics over the events shape (batch q06's streaming
    * twin): watermarked tumbling-window counts per event type.
    */
  def eventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))

  /** Streaming exact dedup: drop events whose `dedupCols` were already
    * seen within the watermark horizon — `dropDuplicatesWithinWatermark`
    * keys on the dedup columns ONLY (a re-delivery with a jittered
    * timestamp is still dropped) while the watermark bounds state.
    * The streaming twin of the batch exact-dedup operator.
    */
  def dedupStream(
      events: DataFrame, tsCol: String, watermarkDelay: String,
      dedupCols: Seq[String]
  ): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(dedupCols)

  /** Streaming near-dup dedup against a static corpus: incoming docs
    * whose minhash-LSH band buckets collide with the corpus bucket table
    * (any band) are dropped. Completely stateless on the stream side —
    * the per-row band column ([[graft.operators.Dedup.minhashBandsCol]])
    * needs no aggregation, and the check is `nBands` stream-static
    * left_outer joins against per-band DISTINCT bucket sets (distinct ⇒
    * at most one match ⇒ no row duplication), so it runs in append mode
    * with no watermark. Docs too short to shingle pass through.
    *
    * This is the streaming twin of the batch incremental dedup
    * (`Dedup.newDocSurvivors`): bucket collision is the (recall-biased)
    * gate; at 100 TB the corpus bucket table is the precomputed,
    * bucket-partitioned artifact the batch path also maintains. A
    * jaccard-verify stage can follow in foreachBatch where exactness
    * matters more than latency.
    */
  def lshDedupStream(
      incoming: DataFrame, corpusBuckets: DataFrame, textCol: String,
      numHashes: Int, shingleN: Int, rowsPerBand: Int
  ): DataFrame = {
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    require(!incoming.columns.contains("_bands") &&
      incoming.columns.forall(!_.startsWith("_hit")),
      "incoming already has _bands/_hit* columns (would be clobbered)")
    // MATERIALIZE the static side once: the caller hands a LOGICAL
    // bucket table, and without the cut every band join re-derives it
    // — nBands re-runs of the corpus minhash per micro-batch, per
    // stream construction (measured as q77's 3-27 s bench variance;
    // the heavy interpreted-HOF minhash amplified every GC/scheduling
    // hiccup). What materializes is (band, bucket) longs — the
    // fetcher-cache-sized artifact the incremental batch path (q3A)
    // maintains anyway, never the corpus.
    val staticBuckets = corpusBuckets.localCheckpoint()
    val withBands = incoming.withColumn("_bands",
      graft.operators.Dedup.minhashBandsCol(
        col(textCol), numHashes, shingleN, rowsPerBand))
    val checked = (0 until nBands).foldLeft(withBands) { (df, b) =>
      val side = staticBuckets
        .filter(col("band") === b)
        .select(col("bucket").as(s"_hit$b"))
        .distinct()
      df.join(side, element_at(col("_bands"), b + 1) === col(s"_hit$b"),
        "left_outer")
    }
    checked
      .filter((0 until nBands).map(b => col(s"_hit$b").isNull).reduce(_ && _))
      .drop("_bands" +: (0 until nBands).map(b => s"_hit$b"): _*)
  }

  /** Streaming exact-substring span flagging: each arriving doc's
    * duplicated spans vs the PRECOMPUTED duplicated-window dictionary
    * (the batch-maintained artifact of
    * [[graft.operators.Dedup.duplicatedWindows]]) are computed per
    * micro-batch and appended to `outDir` — the streaming twin of the
    * batch span family ([[graft.operators.Dedup.duplicatedSpans]]).
    *
    * Exactness, not approximation: a doc is ONE source row (file sources
    * never split a file's rows across micro-batches), and span semantics
    * against a static dictionary are per-doc-local — so the micro-batch
    * body ([[graft.operators.Dedup.spansAgainstDictionary]]) computes
    * exactly what the batch operator computes for those docs. No
    * cross-batch state is needed, which is why this runs in foreachBatch
    * with zero streaming state: the gaps-and-islands window sort Spark
    * refuses on an unbounded stream is legal inside each (bounded)
    * micro-batch. At 100 TB the dictionary is the bucket-partitioned
    * artifact the batch path maintains; the per-batch cost is linear in
    * arriving tokens (one dictionary equi-join, no pair join — the same
    * scale shape as the batch family).
    */
  def runSpanFlagStreamOnce(
      incoming: DataFrame,
      dictionary: DataFrame,
      idCol: String, textCol: String, k: Int,
      outDir: String
  ): Unit =
    // the dictionary joins into every micro-batch: pinned, or each batch
    // re-executes the corpus-wide window aggregation lineage
    pinned(dictionary) {
      StreamRunner.drain(incoming)(_.foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup
          .spansAgainstDictionary(batch, idCol, textCol, dictionary, k)
          .write.mode("append").parquet(outDir)
      })
    }

  /** Streaming KNN serving: each arriving query micro-batch scores
    * against the STATIC corpus through the same batched-KNN reduction as
    * the batch path ([[graft.operators.Knn.topKBatch]]: broadcast query
    * batch × corpus scan → per-partition top-k heaps → k-bounded merge)
    * and appends its top-k rows to `outDir` — the reference's
    * request-at-a-time serving loop (`app/api/routes.py:189-212`) as a
    * stream-static pipeline. Zero streaming state: every query is
    * answered entirely within its micro-batch, so this runs in append
    * mode at any arrival rate, and the ONLY per-batch cost beyond the
    * scoring scan is the broadcast of that batch's queries. The corpus
    * is persisted across micro-batches — without the pin each batch
    * would re-execute the corpus lineage (N batches = N corpus loads).
    */
  def runKnnStreamOnce(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      queryIdCol: String, queryVecCol: String, k: Int,
      outDir: String
  ): Unit =
    pinned(corpus) {
      StreamRunner.drain(queries)(_.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Knn
            .topKBatch(corpus, idCol, vecCol, batch, queryIdCol,
              queryVecCol, k)
            .write.mode("append").parquet(outDir)
          ()
        }
      })
    }

  /** Watermarked stream-stream join with a time-interval condition
    * (the impressions-to-clicks attribution pattern): each left row
    * joins right rows of the same key whose timestamp falls in
    * `[left.ts, left.ts + intervalSeconds]`. Both sides carry a
    * watermark, so the join state the engine buffers is bounded by
    * `delay + intervalSeconds` per key — the requirement for append-mode
    * stream-stream joins and the reason this holds at 100 TB/day
    * (state size tracks the time window, not the stream length).
    * The right side's key column is returned as `<keyCol>_r`.
    *
    * `joinType = "left_outer"` gives attribution WITH the negatives:
    * a left row that attracts no in-window right row emits once, with
    * NULL right columns, when the watermark passes the end of its
    * window (the engine then KNOWS no future match can arrive — the
    * only sound moment to emit a negative on an unbounded stream).
    * Left rows whose window is still open when a bounded replay ends
    * never emit a negative — exactly the production semantics, which
    * the q7M oracle replays via the final-watermark cutoff.
    */
  def joinWithinInterval(
      left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightTsCol: String,
      delay: String, intervalSeconds: Long,
      joinType: String = "inner"
  ): DataFrame = {
    require(leftTsCol != rightTsCol,
      "left and right timestamp columns must have distinct names")
    // the only legal shared column name is the key (which the right side
    // gives up via rename) — anything else would make the join output
    // ambiguous; also guard the rename target itself
    val shared = (left.columns.toSet & right.columns.toSet) - keyCol
    require(shared.isEmpty,
      s"left and right streams share non-key columns: ${shared.mkString(", ")}")
    require(!right.columns.contains(s"${keyCol}_r"),
      s"right stream already has a ${keyCol}_r column")
    val l = left.withWatermark(leftTsCol, delay)
    val r = right.withColumnRenamed(keyCol, s"${keyCol}_r")
      .withWatermark(rightTsCol, delay)
    // Column-API condition (not an interpolated SQL string) so key /
    // timestamp names needing quoting still work
    l.join(r,
      col(keyCol) === col(s"${keyCol}_r") &&
        col(rightTsCol) >= col(leftTsCol) &&
        col(rightTsCol) <= col(leftTsCol) + expr(s"interval $intervalSeconds seconds"),
      joinType)
  }

  /** `ts` carries the event time (and, in event-time flush mode, the
    * watermark metadata — Spark requires the watermarked COLUMN to reach
    * the stateful operator's input, so projecting it away to `ts_us`
    * alone fails analysis); `ts_us` is the micros the session arithmetic
    * uses.
    */
  final case class UserEvent(
      user_id: Long, ts: java.sql.Timestamp, ts_us: Long, value: Double)

  /** `ts` carries the event time so an event-time conversion-window
    * horizon can evict abandoning users (Spark requires the watermarked
    * COLUMN to reach the stateful operator's input — see [[UserEvent]]);
    * the funnel arithmetic itself runs on `ts_us` micros.
    */
  final case class FunnelEvent(
      user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_id: Long, event_type: String)
  /** `firstUs` = event time of the user's first observed funnel-relevant
    * event, the conversion window's anchor (set even when that event
    * advanced no step — an out-of-order `click` still starts the clock).
    */
  final case class FunnelState(firstUs: Long, reached: Seq[Long])
  final case class StepReached(user_id: Long, step: Int, ts_us: Long)

  /** Ordered-funnel state machine (q4G's semantics as a STREAM): per
    * user, each step's FIRST occurrence strictly after the previous
    * step's timestamp emits a [[StepReached]] row ON ARRIVAL. State is
    * one tiny timestamp vector per user still mid-funnel — REMOVED the
    * moment the final step completes, so converted users cost nothing
    * forever — and, under [[SessionFlush.WatermarkHorizon]], ALSO
    * removed (emitting nothing) once the watermark passes the user's
    * first funnel event + horizon: the conversion window. Without that
    * horizon every user who views but never purchases — the vast
    * majority in any real funnel — would hold state forever, which is
    * unbounded growth on an unbounded stream. The horizon keeps state
    * O(users inside their conversion window), is replay-deterministic
    * (event-time timers are data, not wall clock), and terminates under
    * [[StreamRunner.drain]]. Requires `withWatermark` on `ts` upstream.
    * A user whose state expired and who then sends fresh in-window
    * events restarts the funnel from step 1 — the semantics of "convert
    * within the window", matching the batch q4G min-chain whenever the
    * horizon exceeds the data's time span. Within a batch rows process
    * in (ts, event_id) order, so the emitted step timestamps equal the
    * batch `min(ts > prev)` chain exactly.
    */
  def funnelSteps(events: Dataset[FunnelEvent], steps: Seq[String],
                  flush: SessionFlush = SessionFlush.NoFlush
                 ): Dataset[StepReached] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "steps must be non-empty and distinct")
    val timeoutConf = flush match {
      case SessionFlush.WatermarkHorizon(_) => GroupStateTimeout.EventTimeTimeout
      case SessionFlush.NoFlush             => GroupStateTimeout.NoTimeout
      case SessionFlush.IdleWallClock(_) => throw new IllegalArgumentException(
        "funnelSteps: conversion windows are event-time by definition — " +
          "use WatermarkHorizon (or NoFlush for bounded fixtures)")
    }
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .filter(e => stepIdx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StepReached](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // conversion window elapsed mid-funnel: abandoned, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val st      = state.getOption
            var firstUs = st.map(_.firstUs).getOrElse(-1L)
            val reached = st.map(_.reached.toArray)
              .getOrElse(Array.fill(steps.size)(-1L))
            val out = Seq.newBuilder[StepReached]
            for (e <- rows.toSeq.sortBy(x => (x.ts_us, x.event_id))) {
              if (firstUs < 0) firstUs = e.ts_us
              val k = stepIdx(e.event_type)
              if (reached(k) < 0 &&
                  (k == 0 || (reached(k - 1) >= 0 && e.ts_us > reached(k - 1)))) {
                reached(k) = e.ts_us
                out += StepReached(user, k + 1, e.ts_us)
              }
            }
            if (reached.last >= 0) state.remove() // funnel complete: evict
            else {
              state.update(FunnelState(firstUs, reached.toSeq))
              flush match {
                case SessionFlush.WatermarkHorizon(h) =>
                  // the engine rejects a timeout at-or-before the current
                  // watermark; a straggler expires at the next instant
                  state.setTimeoutTimestamp(math.max(
                    (firstUs + h) / 1000L, state.getCurrentWatermarkMs() + 1))
                case _ =>
              }
            }
            out.result().iterator
          }
      }
  }
  final case class ScdChange(k: Long, ts_us: Long, attr: String, tie: Long)
  final case class ScdCurrent(validFrom: Long, attr: String)
  final case class ClosedVersion(k: Long, attr: String,
                                 valid_from: Long, valid_to: Long)

  /** Streaming SCD Type 2 maintenance: consume a change feed, keep each
    * key's CURRENT version as state (ONE small row per key — the honest
    * floor for dimension maintenance: the open version must be known to
    * close it), and emit a [[ClosedVersion]] the moment an attribute
    * change closes the previous validity interval. The streaming twin
    * of [[graft.operators.Scd.scd2]]: same same-ts dedup (highest tie
    * wins), same run collapse (unchanged attrs emit nothing), and the
    * emitted rows equal the batch build's CLOSED intervals whenever
    * each key's changes arrive time-ordered across micro-batches
    * (within a batch, rows process in (ts asc, tie desc) order, so
    * any single-batch replay matches the batch build exactly).
    * Cross-batch late duplicates: an arrival at or before the current
    * version's `validFrom` is dropped — the tie-break for that instant
    * already ran when the state row was installed, so re-delivered
    * same-ts events (at-least-once sources redeliver across batches)
    * can never emit a zero-length `[ts, ts)` interval, and a genuinely
    * older straggler can never close the current version with
    * `valid_to < valid_from`. The cost of that guard is a POLICY
    * divergence for same-ts rows SPLIT ACROSS micro-batches: the batch
    * build tie-breaks globally over all rows of a timestamp, but here a
    * higher-tie same-ts row delivered in a LATER batch is
    * indistinguishable from a redelivery and is dropped — first
    * delivered wins, batch parity forfeited for exactly those rows. So
    * "emitted rows equal the batch build" requires not just
    * time-ordered arrival but that one timestamp's rows never straddle
    * a batch boundary; same-batch arrivals tie-break identically to
    * batch. Open (current) versions live only in state — stream a
    * snapshot out with a final batch read if needed.
    */
  def scdMaintain(changes: Dataset[ScdChange]): Dataset[ClosedVersion] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.k)
      .flatMapGroupsWithState[ScdCurrent, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[ScdChange], state: GroupState[ScdCurrent]) =>
          val out = Seq.newBuilder[ClosedVersion]
          var cur = state.getOption.orNull
          var lastTs = Long.MinValue
          // (ts asc, tie desc): the first row of each ts group is the
          // tie-break winner; later same-ts rows are dropped
          for (e <- rows.toSeq.sortBy(x => (x.ts_us, -x.tie))) {
            // late-duplicate policy: cur.validFrom's tie-break already
            // ran (possibly in an earlier micro-batch) — drop arrivals
            // at or before it rather than emit a degenerate interval
            if (e.ts_us != lastTs && (cur == null || e.ts_us > cur.validFrom)) {
              lastTs = e.ts_us
              if (cur == null) cur = ScdCurrent(e.ts_us, e.attr)
              else if (cur.attr != e.attr) {
                out += ClosedVersion(k, cur.attr, cur.validFrom, e.ts_us)
                cur = ScdCurrent(e.ts_us, e.attr)
              }
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
  }

  final case class KllEvent(g: String, event_id: Long, v: Double)
  final case class KllGroupEst(g: String, n: Long, e50: Double, e90: Double)

  /** Streaming per-group KLL quantile maintenance: state = ONE
    * serialized [[graft.operators.KllSketch]] per group (a few KB at
    * k = 256, forever — the bounded-state alternative to q7D's
    * fixed-grid histogram and q7L's bottom-k/DKW sample, ~6× tighter
    * rank error at the same footprint). Each micro-batch folds its
    * group's rows into the sketch in `(event_id)` order — the seeded
    * compaction is then deterministic for a deterministic delivery
    * order — and emits the group's CURRENT (n, p50, p90) estimate.
    * Update semantics: a group emits once per micro-batch that touched
    * it, so an append-style consumer (the memory sink) accumulates one
    * row per (group, batch) — downstream must REDUCE to the latest row
    * per group itself, e.g. max_by on `n` (the cumulative exact count,
    * strictly increasing across a group's emissions), as q7Q does.
    * Estimates are not set functions of the data (the compaction tree
    * isn't), so oracles gate via the rank audit, not the raw values.
    */
  def kllMaintain(events: Dataset[KllEvent], k: Int,
                  seed: Long): Dataset[KllGroupEst] = {
    import events.sparkSession.implicits._
    import graft.operators.KllSketch
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState[Array[Byte], KllGroupEst](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[KllEvent], state: GroupState[Array[Byte]]) =>
          val sk = state.getOption.map(KllSketch.deserialize)
            .getOrElse(new KllSketch(k, seed))
          rows.toSeq.sortBy(_.event_id).foreach(e => sk.insert(e.v))
          state.update(sk.serialized)
          sk.quantile(0.5).zip(sk.quantile(0.9)).iterator
            .map { case (e50, e90) => KllGroupEst(g, sk.n, e50, e90) }
      }
  }

  final case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)
  final case class ClosedSession(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long, total_value: Double)

  /** How an IDLE user's final open session gets flushed out of state. */
  sealed trait SessionFlush
  object SessionFlush {
    /** Wall-clock idle flush: the session closes `ms` of processing time
      * after the user's last batch. Lowest latency, but wall-clock-
      * dependent (a replay of the same data can emit at different
      * batches), and under an AvailableNow trigger the engine keeps
      * scheduling empty micro-batches forever to evaluate the pending
      * wall-clock timers (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch`
      * is unconditionally true for ProcessingTimeTimeout) — so this mode
      * never terminates under a bounded-replay harness.
      */
    final case class IdleWallClock(ms: Long) extends SessionFlush
    /** Event-time flush: the session closes when the watermark passes
      * `last event + horizonUs`. Deterministic on replay (timers are data,
      * not wall clock) and terminates under an AvailableNow trigger (the
      * engine only re-batches while the watermark advances). Requires a
      * `withWatermark` upstream of the sessionizer. The mode to use for
      * incremental 100 TB pipelines: state stays O(open sessions) and a
      * backfill replay emits byte-identical sessions.
      */
    final case class WatermarkHorizon(horizonUs: Long) extends SessionFlush
    /** No flush: only a strictly-later event past the gap closes a
      * session; each user's final session stays in state. For tests and
      * bounded corpora.
      */
    case object NoFlush extends SessionFlush
  }

  /** Custom cross-batch state (SURVEY §2.9 / KeyValueGroupedDataset):
    * per-user session accumulation with a gap timeout —
    * `flatMapGroupsWithState` keeps one small state object per user and
    * emits a session row when the inactivity gap closes it. This is the
    * streaming twin of the batch q44_sessionize window query; state is
    * O(users with an open session): an idle user's final session is
    * flushed (and their state removed) per the [[SessionFlush]] mode.
    *
    * Late events: an event older than the session's high-water mark is
    * folded into the current session without moving the mark backwards —
    * a deliberately simple late policy (exact event-time sessionization
    * would need watermark-held buffering).
    */
  def statefulSessions(
      events: Dataset[UserEvent], gapUs: Long,
      flush: SessionFlush = SessionFlush.IdleWallClock(60000L)
  ): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val timeoutConf = flush match {
      case SessionFlush.IdleWallClock(_)    => GroupStateTimeout.ProcessingTimeTimeout
      case SessionFlush.WatermarkHorizon(_) => GroupStateTimeout.EventTimeTimeout
      case SessionFlush.NoFlush             => GroupStateTimeout.NoTimeout
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, timeoutConf) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(ClosedSession(user, st.startUs, st.lastUs, st.n, st.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.value))
            var st     = state.getOption.orNull
            val closed = Seq.newBuilder[ClosedSession]
            for (e <- sorted) {
              if (st == null) st = SessionState(e.ts_us, e.ts_us, 1, e.value)
              else if (e.ts_us - st.lastUs > gapUs) {
                closed += ClosedSession(user, st.startUs, st.lastUs, st.n, st.total)
                st = SessionState(e.ts_us, e.ts_us, 1, e.value)
              } else {
                st = SessionState(st.startUs, math.max(st.lastUs, e.ts_us),
                  st.n + 1, st.total + e.value)
              }
            }
            if (st != null) {
              state.update(st)
              flush match {
                case SessionFlush.IdleWallClock(ms) => state.setTimeoutDuration(ms)
                case SessionFlush.WatermarkHorizon(h) =>
                  // the engine rejects a timeout at-or-before the current
                  // watermark; a very-late straggler session flushes at the
                  // next possible instant instead
                  state.setTimeoutTimestamp(math.max(
                    (st.lastUs + h) / 1000L, state.getCurrentWatermarkMs() + 1))
                case SessionFlush.NoFlush =>
              }
            }
            closed.result().iterator
          }
      }
  }
}
