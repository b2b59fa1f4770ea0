package graft.queries

import graft.Tables
import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.DeterministicEmbedder
import graft.streaming.{StreamRunner, StreamingIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.LongType

/** Batch-parity gates for the Structured Streaming operator family
  * (SURVEY §2.9): each query REALLY runs as a stream — file source over
  * the events fixture, state-store aggregation / `flatMapGroupsWithState`
  * sessions / `dropDuplicatesWithinWatermark` / stream-stream interval
  * join, an AvailableNow drain into a memory sink — and the materialized
  * result is hash-compared against the batch SQL twin in DuckDB. This
  * graduates streaming from spec-only to the same oracle gate as every
  * batch operator: the claim is "the streaming form computes the SAME
  * answer as the batch form", which is exactly what an incremental
  * 100 TB pipeline needs from its streaming twin.
  *
  * Determinism notes (why these are byte-stable under the harness):
  * the fixture is one parquet file, so `AvailableNow` runs exactly one
  * micro-batch; the first batch's watermark is epoch 0, so no row is
  * dropped as late and no dedup state is evicted mid-run; sessions only
  * CLOSE when a strictly-later event arrives (the event-time flush
  * horizon sits beyond the fixture's range), so the emitted set is
  * exactly "every session except each user's last" — a set the batch
  * oracle reproduces.
  */
object StreamingQueries {

  /** Streaming twin of [[graft.Tables.events]]: same nanos→micros
    * conversion, but as a `readStream` file source.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val path   = s"$d/events.parquet"
    val schema = s.read.parquet(path).schema
    // the fixture is a single FILE, and the file stream source insists
    // on a directory — stream the parent dir with a name filter instead
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  private val SessionGapUs  = 86400L * 1000000L // 24 h inactivity closes a session
  private val AttribIvalSec = 21600L            // view→click attribution window, 6 h

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Watermarked tumbling-window aggregation through the streaming
    // state store (q06's streaming twin, running as an actual stream).
    "q70_stream_hourly" -> { (s, d) =>
      StreamRunner
        .runToBatch(StreamingIngest.eventCounts(eventsStream(s, d)),
          OutputMode.Complete)
        .select(col("window.start").as("win_start"),
          col("window.end").as("win_end"),
          col("event_type"), col("n"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("win_start", "event_type")
    },

    // Custom cross-batch state: per-user sessions with a 24 h gap via
    // flatMapGroupsWithState, flushed on EVENT-time timers (deterministic
    // on replay, and the reason the stream terminates under AvailableNow
    // — wall-clock timers would re-batch forever). The flush horizon sits
    // beyond the fixture's time range, so the emitted set is CLOSED
    // sessions only and the oracle is the batch sessionization minus
    // each user's final session.
    "q71_stream_sessions" -> { (s, d) =>
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .as[StreamingIngest.UserEvent]
      StreamRunner
        .runToBatch(
          StreamingIngest.statefulSessions(ev, gapUs = SessionGapUs,
            StreamingIngest.SessionFlush.WatermarkHorizon(
              365L * 86400L * 1000000L)).toDF(),
          OutputMode.Append)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "start_us")
    },

    // Streaming exact dedup: dropDuplicatesWithinWatermark on
    // (user_id, event_type). Projected to the key columns, the emitted
    // set is exactly the batch DISTINCT.
    "q72_stream_dedup" -> { (s, d) =>
      StreamRunner
        .runToBatch(
          StreamingIngest.dedupStream(eventsStream(s, d), "ts", "1 hour",
            Seq("user_id", "event_type")),
          OutputMode.Append)
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    },

    // Watermarked stream-stream interval join: each view joins the same
    // user's clicks within the next 6 h (the attribution pattern whose
    // state the engine bounds by delay + interval per key).
    "q73_stream_attribution" -> { (s, d) =>
      val ev = eventsStream(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      StreamRunner
        .runToBatch(
          StreamingIngest.joinWithinInterval(views, clicks,
            keyCol = "user_id", leftTsCol = "view_ts",
            rightTsCol = "click_ts", delay = "1 hour",
            intervalSeconds = AttribIvalSec),
          OutputMode.Append)
        .select(col("user_id"), col("view_id"), col("click_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
            .as("lag_us"))
        .orderBy("user_id", "view_id", "click_id")
    },

    // Attribution WITH the negatives: the q73 interval join as a
    // LEFT OUTER stream-stream join — views that attract no in-window
    // click emit ONE NULL-click row when the watermark passes the end
    // of their window (only then can the engine know no future click
    // matches). Views whose window is still open when the bounded
    // replay ends emit nothing — the production semantics; the oracle
    // replays the final-watermark cutoff (max ts − delay) exactly.
    "q7M_stream_attribution_outer" -> { (s, d) =>
      val ev = eventsStream(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      StreamRunner
        .runToBatch(
          StreamingIngest.joinWithinInterval(views, clicks,
            keyCol = "user_id", leftTsCol = "view_ts",
            rightTsCol = "click_ts", delay = "1 hour",
            intervalSeconds = AttribIvalSec, joinType = "left_outer"),
          OutputMode.Append)
        .select(col("user_id"), col("view_id"), col("click_id"),
          col("click_id").isNotNull.as("attributed"))
        .orderBy(col("user_id"), col("view_id"),
          col("click_id").asc_nulls_last)
    },

    // The upload→ingest path (S4) as an oracle-gated stream: uploads
    // land as JSONL BATCH files (one file per 100-doc upload batch —
    // the reference's own upsert batching, pinecone_service.py:135-140;
    // one record per uploaded doc carries its name), a REAL file-source
    // stream drains the landing dir in two micro-batches through the
    // SAME chunk→embed→id→upsert foreachBatch body as the continuous
    // ingest, and the resulting merge-on-read index view is
    // hash-compared against the batch chunk/embed oracle (the q50
    // recursive walk + q51 trigram-embed mirrors composed). Ids derive
    // from the per-record upload NAME (<doc_id>.txt), not landing file
    // paths, so the oracle can mint them from doc_id alone. Batched
    // landing files are also the measured scale answer: the file stream
    // source costs ~ms PER FILE driver-side (PERF.md round 5), so
    // per-doc files bottleneck at 10⁶ uploads while per-batch files
    // don't.
    "q79_stream_ingest" -> { (s, d) =>
      import java.nio.file.Files
      val landing = graft.util.TempDirs.scratch("graft-landing-")
      val idxRoot = graft.util.TempDirs.scratch("graft-ingest-idx-")
      val docs    = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nDocs   = docs.count()
      val nFiles  = math.max(1L, (nDocs + 99) / 100).toInt
      // overwrite: createTempDirectory pre-made the (empty) landing dir
      docs.repartition(nFiles).write.mode("overwrite").json(landing)
      val catalog = new VectorCatalog(s, idxRoot)
      val index = VectorIndex.createOrConnect(s, catalog,
        IndexMeta("stream-ingest", 64))
      // two micro-batches at any fixture scale: incremental multi-batch
      // semantics stay exercised (batch 2 upserts against batch 1's
      // index state) with the replay cost bounded
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val uploads = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", math.max(1, (nFiles + 1) / 2))
        .json(landing)
        .select(col("text"), concat(col("doc_id"), lit(".txt")).as("source"))
      StreamingIngest.runIngestStreamOnce(uploads, index,
        new DeterministicEmbedder(64))
      index.read
        .select(col("id"), col("source"), col("chunk_index"),
          length(col("text")).as("chunk_len"),
          size(col("embedding")).as("dim"),
          round(graft.functions.VectorFunctions.l2Norm(col("embedding")), 4).as("norm"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("c0"))
        .orderBy("id")
    },

    // The serving path as a stream (q11's streaming twin): every 10th
    // vector arrives as a query REQUEST over two micro-batches (two
    // parquet landing files, one per trigger) and is answered against
    // the static corpus by the same broadcast-batch + per-partition-heap
    // reduction as the batch path — zero streaming state, corpus pinned
    // across batches, appended top-5 rows hash-equal to batch KNN.
    "q7C_stream_knn" -> { (s, d) =>
      import graft.operators.Knn
      val e       = Tables.embeddings(s, d)
      val landing = graft.util.TempDirs.scratch("graft-knnq-landing-")
      val outDir  = graft.util.TempDirs.scratch("graft-knnq-out-")
      val qBatch  = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // overwrite: scratch() pre-made the (empty) landing dir; parquet
      // landing keeps the float vectors bit-exact across the round-trip
      qBatch.repartition(2).write.mode("overwrite").parquet(landing)
      val queries = s.readStream.schema(qBatch.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      StreamingIngest.runKnnStreamOnce(queries, e, "vec_id", "embedding",
        "query_id", "qvec", k = 5, outDir = outDir)
      // read back under the operator's own schema (zero-row plan, no
      // action) — an empty query stream writes no parquet data files
      val outSchema = Knn.topKBatch(e.limit(0), "vec_id", "embedding",
        qBatch.limit(0), "query_id", "qvec", k = 5).schema
      s.read.schema(outSchema).parquet(outDir)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("score"), col("rn"))
        .orderBy("query_id", "rn")
    },

    // Streaming SEMANTIC contamination gate (q6J's streaming twin, and
    // the embedding-space sibling of q77's minhash gate): arriving
    // train vectors are cell-assigned by a PURE column expression over
    // the driver-collected centroids (AnnIvf.assignCellCol — the batch
    // assign is a max_by aggregation, stateful on a stream) and
    // stream-static joined against the precomputed bench cell table.
    // Stateless append mode; per-arrival pairs hash-equal to the batch
    // cross-set pairs restricted to the train side.
    "q7F_stream_semantic_flag" -> { (s, d) =>
      import graft.functions.VectorFunctions.cosineSimilarity
      import graft.operators.AnnIvf
      val e       = Tables.embeddings(s, d)
      val centsDf = AnnIvf.centroids(e, "vec_id", "embedding", 16)
      val cents   = centsDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val bench = AnnIvf.assign(e.filter(col("vec_id") % 25 === 0),
          "vec_id", "embedding", centsDf)
        .select(col("cell"), col("vec_id").as("bench_id"),
          col("embedding").as("bvec"))
      val schema = s.read.parquet(s"$d/embeddings.parquet").schema
      val incoming = s.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        .filter(col("vec_id") % 25 =!= 0)
      val flagged = incoming
        .withColumn("cell", AnnIvf.assignCellCol(col("embedding"), cents))
        .join(bench, Seq("cell"))
        .select(col("vec_id").as("train_id"), col("bench_id"),
          round(cosineSimilarity(col("embedding"), col("bvec")), 6).as("score"))
        .filter(col("score") >= 0.35)
      StreamRunner.runToBatch(flagged, OutputMode.Append)
        .orderBy("train_id", "bench_id")
    },

    // Distinct counting as a STREAMING aggregate: the HLL register
    // table is a Complete-mode groupBy(j).max(r) — ≤1024 state rows
    // FOREVER, vs a streaming exact distinct whose state grows with the
    // vocabulary. The stream really runs; the register table feeding
    // the estimate is bit-identical to the batch sketch (max-merge is
    // what the state store does between micro-batches), and the
    // estimate is compared against the batch exact count in-query.
    // Streaming canonical-URL dedup: messy crawl URLs canonicalize ON
    // ARRIVAL (row-local — q6P's exact operator) and dropDuplicates on
    // the canonical key emits each logical page ONCE, whatever
    // case/port/dot-segment/tracking variant arrived first — the
    // URL-seen filter a streaming crawl ingest runs in front of fetch/
    // store. State = one row per DISTINCT canonical url (the honest
    // floor for exact dedup; a time-bounded crawl swaps in
    // dropDuplicatesWithinWatermark, an approximate one the q7N Bloom).
    // Projected to the key column (the q72 idiom), the emitted set is
    // exactly the batch DISTINCT — order-independent, so it hash-gates.
    "q7U_stream_url_dedup" -> { (s, d) =>
      import graft.operators.Url
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val curls = docs
        .select(CurationQueries.messyUrl(col("doc_id")).as("url"))
        .select(Url.canonicalizeUrl(col("url")).as("curl"))
        .dropDuplicates("curl")
      StreamRunner.runToBatch(curls, OutputMode.Append)
        .orderBy("curl")
    },

    // BOUNDED-STATE streaming URL seen-filter — q7U's honest complement:
    // exact dropDuplicates carries one state row per distinct canonical
    // URL FOREVER, which a multi-year crawl cannot afford. Here the
    // HISTORICAL frontier (the canonical URLs of the first half of the
    // logical page groups) packs into an 8 KB Bloom bitmap ONCE
    // (driver-bounded by the grid, never the URL count) and every
    // arriving URL canonicalizes (q6P's exact operator) and probes the
    // broadcast bitmap via the codegen'd BloomHitExpr — ZERO streaming
    // state for the filter itself; the Complete-mode roll-up that makes
    // the result deterministic holds ≤ 4 rows forever (asserted in
    // StreamingSpec). One-sided error, measured IN the output: a truly
    // seen URL always flags (no false negatives — the crawl never
    // re-fetches known pages), and the (bloom_hit=true, truly_seen=
    // false) row IS the false-positive count the 8 KB buys. The
    // oracle replays the slice-hash arithmetic, false positives and
    // all (the q7N idiom applied to crawl frontier dedup).
    "q7V_stream_url_seen" -> { (s, d) =>
      import graft.operators.{Sketch, Url}
      val g = col("doc_id") % CurationQueries.UrlGroups
      val seenCurls = Tables.documents(s, d)
        .filter(g < 20)
        .select(Url.canonicalizeUrl(
          CurationQueries.messyUrl(col("doc_id"))).as("curl"))
      val words = Sketch.packBloom(
        Sketch.bloomBits(seenCurls, "curl", depth = 4, width = 16384),
        depth = 4, width = 16384)
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val flagged = docs
        .select(
          Sketch.bloomHitCol(
            Url.canonicalizeUrl(CurationQueries.messyUrl(col("doc_id"))),
            words, depth = 4, width = 16384).as("bloom_hit"),
          (g < 20).as("truly_seen"))
        .groupBy("bloom_hit", "truly_seen")
        .agg(count(lit(1)).as("n"))
      StreamRunner.runToBatch(flagged, OutputMode.Complete)
        .orderBy("bloom_hit", "truly_seen")
    },

    // robots.txt gate ON ARRIVAL (q6W's politeness decision as the
    // in-flight fetch filter a streaming crawl frontier runs): the
    // per-host robots table is STATIC (the fetcher cache, broadcast),
    // each arriving URL canonicalizes, splits, and decides row-locally
    // — a stateless Append stream-static join, ZERO streaming state.
    // Output (and oracle) identical to batch q6W.
    "q7W_stream_robots_gate" -> { (s, d) =>
      import graft.operators.Url
      val robots = CurationQueries.robotsTable(
        graft.util.Scans.fanOut(
            Tables.documents(s, d).select("doc_id"), col("doc_id"))
          .select(Url.hostOf(Url.canonicalizeUrl(
            CurationQueries.messyUrl(col("doc_id")))).as("host"))
          .distinct())
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      // stream fan-out (Scans.streamFanOut). Measured both ways at
      // local[32] under a clean canary: WITH the per-batch exchange
      // 2.5 s, WITHOUT 5.7 s — the row-local canonicalize + robots fold
      // over an unsplittable-file micro-batch is single-task without it.
      // The exchange carries doc_id ONLY.
      StreamRunner.runToBatch(
          CurationQueries.robotsGate(
            graft.util.Scans.streamFanOut(
              docs.select("doc_id"), col("doc_id")),
            robots),
          OutputMode.Append)
        .orderBy("doc_id")
    },

    // STREAMING CRAWL FRONTIER — q6Y's in-flight half, fully stateless:
    // each arriving URL canonicalizes (row-local), probes the 8 KB
    // broadcast Bloom seen-bitmap (q7V's zero-state filter — no false
    // negatives, false positives replayed by the oracle), and passes
    // the robots politeness gate (q7W's broadcast per-host parse) in
    // ONE Append-mode pass with ZERO streaming state. The per-domain
    // cap is the one frontier stage that NEEDS cross-row state, so it
    // stays batch-side on the frontier store (q6Y) — in-flight
    // admission vs stored-frontier budgeting, the split a real crawler
    // runs. Output is per-arrival (doc_id, curl) of fetch-eligible
    // URLs; every expectation is a closed form of g plus the replayed
    // Bloom arithmetic.
    "q7X_stream_frontier" -> { (s, d) =>
      import graft.operators.{Robots, Sketch, Url}
      val g = col("doc_id") % CurationQueries.UrlGroups
      val seen = Tables.documents(s, d).filter(g < 10)
        .select(Url.canonicalizeUrl(
          CurationQueries.messyUrl(col("doc_id"))).as("curl"))
      val words = Sketch.packBloom(
        Sketch.bloomBits(seen, "curl", depth = 4, width = 16384),
        depth = 4, width = 16384)
      val parsed = CurationQueries.robotsParsed(
        graft.util.Scans.fanOut(
            Tables.documents(s, d).select("doc_id"), col("doc_id"))
          .select(Url.hostOf(Url.canonicalizeUrl(
            CurationQueries.messyUrl(col("doc_id")))).as("host"))
          .distinct())
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      // stream fan-out (the q7W note — measured 3.0 s with vs 5.0 s
      // without at local[32]); doc_id only.
      val gated = CurationQueries.hostPath(
        graft.util.Scans.streamFanOut(
            docs.select(col("doc_id")), col("doc_id"))
          .select(col("doc_id"),
            Url.canonicalizeUrl(
              CurationQueries.messyUrl(col("doc_id"))).as("curl"))
          .filter(!Sketch.bloomHitCol(col("curl"), words,
            depth = 4, width = 16384)))
        .join(broadcast(parsed), "host")
        .filter(Robots.robotsAllowed(col("_rules"), col("path")))
        .select("doc_id", "curl")
      StreamRunner.runToBatch(gated, OutputMode.Append)
        .orderBy("doc_id")
    },

    // Streaming LINE-BOILERPLATE flag (q6Z's serving half): the static
    // corpus's heavy-hitter line keys (df >= BoilerplateDf) pack into
    // an 8 KB Bloom bitmap ONCE (driver-bounded by the grid, never the
    // set), and each arriving doc keeps its page lines INSIDE an array
    // column — the membership probe runs per line via the codegen'd
    // BloomHitExpr inside a HOF filter, so there is no explode, no
    // shuffle, and ZERO streaming state (stateless Append projection,
    // the q7N shape). No false negatives by the BloomProbe contract;
    // false positives replay in the oracle's slice-hash arithmetic.
    "q7Y_stream_line_flag" -> { (s, d) =>
      import graft.operators.Sketch
      val page = CurationQueries.linesPage(
        col("doc_id"), col("source"), col("text"))
      val statik = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(page, "\n")).as("line"))
        .select(col("doc_id"), lower(trim(col("line"))).as("lkey"))
      val boiler = statik.groupBy("lkey")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= CurationQueries.BoilerplateDf)
      val words = Sketch.packBloom(
        Sketch.bloomBits(boiler, "lkey", depth = 4, width = 16384),
        depth = 4, width = 16384)
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val out = docs
        .select(col("doc_id"), split(page, "\n").as("lines"))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          size(filter(col("lines"), l =>
            Sketch.bloomHitCol(lower(trim(l)), words,
              depth = 4, width = 16384))).cast("long").as("n_boiler"))
      StreamRunner.runToBatch(out, OutputMode.Append)
        .orderBy("doc_id")
    },

    // Encoding-repair gate ON ARRIVAL: q6S's corrupt → detect → repair
    // projection is row-local and stateless, so the same mojibakeGate
    // runs unchanged as an Append-mode stream — the shape a 100 TB
    // ingest uses to quarantine/repair in-flight with ZERO streaming
    // state. Output (and oracle) identical to batch q6S.
    "q7T_stream_mojibake_gate" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      StreamRunner.runToBatch(CurationQueries.mojibakeGate(docs),
          OutputMode.Append)
        .orderBy("doc_id")
    },

    // Secret/credential gate ON ARRIVAL: q84's scan is row-local and
    // stateless, so the same secretGate projection runs unchanged as an
    // Append-mode stream — quarantine credentials before a document
    // ever lands in the corpus, with ZERO streaming state. Output (and
    // oracle) identical to batch q84.
    "q7Z_stream_secret_flag" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      StreamRunner.runToBatch(SignalQueries.secretGate(docs),
          OutputMode.Append)
        .orderBy("doc_id")
    },

    // Streaming corpus EXPORT (the q79 ingest stream's write-side
    // complement): the corpus lands as 4 hash-partitioned parquet
    // files, a REAL file-source stream cuts them into 2 micro-batches
    // (maxFilesPerTrigger=2), and each batch packs its docs into its
    // own batch-<id>/ gzipped-JSONL shard set through the q8I sink.
    // Per-batch bytes depend on the batch cut; the gate is the
    // batch-split-INDEPENDENT union: Spark's own JSON parser reads
    // every written shard back and each doc's text must byte-equal the
    // source, exactly once, across exactly 2 batches.
    "q8S_stream_export" -> { (s, d) =>
      val landing = graft.util.TempDirs.scratch("graft-export-landing-")
      val outDir  = graft.util.TempDirs.scratch("graft-export-out-")
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(4, pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").parquet(landing)
      val docs = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "2")
        .parquet(landing)
      graft.streaming.StreamingIngest.runExportStreamOnce(
        docs, outDir, nShards = 4, seed = 29)
      val parsed = s.read.schema("doc_id LONG, text STRING")
        .json(outDir + "/batch-*/shard_*.jsonl.gz")
        .withColumn("_file", input_file_name())
      val src = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("src_text"))
      val stats = parsed.join(src, "doc_id").agg(
        count(lit(1)).as("n_exported"),
        sum(when(col("text") === col("src_text"), 1L).otherwise(0L))
          .as("n_matched"),
        countDistinct(regexp_extract(col("_file"), "batch-(\\d+)", 1))
          .as("n_batches"))
      val tot = src.agg(count(lit(1)).as("n_docs"))
      tot.crossJoin(stats).select(
        col("n_docs"), col("n_exported"), col("n_matched"), col("n_batches"),
        (col("n_exported") === col("n_docs") &&
          col("n_matched") === col("n_docs") &&
          col("n_batches") === 2L).as("complete"))
    },

    // The q8L pretraining recipe as a LIVE mixture monitor: the
    // per-language (n_docs, n_tokens) aggregate runs as a Complete-mode
    // stream (state = strata rows FOREVER — the bounded-state floor for
    // a mixture dashboard while shards land); the temperature weights /
    // budget / epochs arithmetic applies batch-side to the streamed
    // 5-row result via the SHARED CurationQueries.recipeFrom, so the
    // live table is bit-identical to the batch recipe. Shares q8L's
    // oracle verbatim.
    "q8N_stream_data_recipe" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val counts = StreamRunner.runToBatch(
        CurationQueries.recipeCounts(docs), OutputMode.Complete)
      CurationQueries.recipeFrom(counts).orderBy("lang")
    },

    // The composed q8G release gate as a stream: every arriving doc
    // decides has_secret / license / route / releasable / reason
    // row-locally in-flight (the in-line release decision a corpus
    // export runs while shards land) — ZERO streaming state, stateless
    // Append mode, the q7Z shape on the composition. Shares q8G's
    // oracle verbatim.
    "q8J_stream_release_gate" -> { (s, d) =>
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      StreamRunner.runToBatch(SignalQueries.releaseGate(docs),
          OutputMode.Append)
        .orderBy("doc_id")
    },

    "q7E_stream_hll" -> { (s, d) =>
      import graft.functions.TextFunctions
      import graft.operators.Sketch
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val terms = docs.select(
        explode(TextFunctions.tokens(col("text"))).as("term"))
      val regs = StreamRunner.runToBatch(
        Sketch.hllTable(terms, Nil, "term", m = 1024), OutputMode.Complete)
      val est = Sketch.hllEstimate(regs, Nil, m = 1024)
      val exact = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .agg(countDistinct("term").as("exact_distinct"))
      est.crossJoin(exact)
        .withColumn("rel_err",
          round(abs(col("hll_distinct") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double"), 6))
    },

    // Quantile estimation as a STREAMING aggregate: the 128-bucket
    // token-count histogram is the bounded-state quantile summary (the
    // CMS argument applied to quantiles — exact selection carries
    // distinct-value-sized state, the grid holds ≤128 state rows
    // forever; the streaming length-drift monitor every ingest pipeline
    // wants). The stream really runs (Complete-mode aggregation); the
    // p50/p90/p99 interpolation is closed-form double math the oracle
    // replays bit-for-bit.
    "q7D_stream_quantiles" -> { (s, d) =>
      import graft.functions.TextFunctions
      import graft.operators.Sketch
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val toks = docs.select(
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val hist = StreamRunner.runToBatch(
        Sketch.histogramTable(toks, "n_tokens", nBuckets = 128,
          lo = 0.0, hi = 1024.0),
        OutputMode.Complete)
      Sketch.histogramQuantiles(hist, nBuckets = 128, lo = 0.0, hi = 1024.0,
          ps = Seq(0.5, 0.9, 0.99))
        .orderBy("p")
    },

    // Count-Min Sketch as a STREAMING aggregate: the d×w cell grid is
    // the canonical bounded-state stream summary — the state store holds
    // ≤ 4096 cells FOREVER while a streaming exact term count's state
    // grows with the vocabulary (unbounded on a 100 TB/day feed). The
    // stream really runs (Complete-mode stateful aggregation) and the
    // final grid hash-matches the batch q2C grid oracle cell by cell.
    "q7A_stream_cms" -> { (s, d) =>
      import graft.functions.TextFunctions
      import graft.operators.Sketch
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      // r13: the r12 stream-side repartition is REMOVED (VERDICT r12
      // "What's wrong" #2) — it shuffled the full doc rows INCLUDING
      // `text` before tokenize, a corpus-text exchange per micro-batch
      // at scale where the map-side partial CMS aggregate would
      // otherwise ship ≤ d·w grid cells; and the driver measured it as
      // a local regression too (q7A 1.48 s → 3.69 s). The tokenize+md5
      // runs in the micro-batch's scan tasks, partial-aggregates
      // map-side, and ships only grid cells to the stateful aggregate.
      val terms = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      StreamRunner
        .runToBatch(Sketch.cmsTable(terms, "term", depth = 4, width = 1024),
          OutputMode.Complete)
        .orderBy("j", "b")
    },

    // Deterministic uniform sampling as a STREAMING aggregate (the
    // reservoir): q6F's salted-md5-rank sample, but the k smallest
    // ranks are kept by the bounded TopKByRankAgg — ≤ k state entries
    // FOREVER (orderBy().limit() cannot run on an unbounded stream),
    // partial aggregation ships partitions × k entries per micro-batch.
    // The hash-rank total order makes the kept set arrival- and
    // partition-order-independent, so the streamed sample is
    // bit-identical to the batch TakeOrderedAndProject form and SHARES
    // q6F's oracle (same salt, same k, same tiebreak).
    "q7G_stream_sample" -> { (s, d) =>
      import graft.functions.TopKByRankAgg
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val ranked = docs.select(
        md5(concat(col("doc_id").cast("string"), lit("sample"))).as("rk"),
        col("doc_id"))
      val top = StreamRunner.runToBatch(
        ranked.agg(TopKByRankAgg.topKByRank(col("rk"), col("doc_id"), 50)
          .as("top")),
        OutputMode.Complete)
      top.select(explode(col("top")).as("e"))
        .select(col("e.id").as("doc_id"))
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .orderBy("doc_id")
    },

    // STRATIFIED streaming sampling: the per-group form of the q7G
    // reservoir — groupBy(source).agg(topKByRank) holds ≤ k state
    // entries PER STRATUM forever, the streaming twin of q67's
    // per-domain cap (same salted-hash order, same k, same tiebreak,
    // so it SHARES q67's oracle). The per-domain eval-sampling /
    // cap-on-arrival every multi-source ingest stream needs; state is
    // strata × k no matter how much flows through.
    "q7H_stream_stratified_sample" -> { (s, d) =>
      import graft.functions.TopKByRankAgg
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val ranked = docs.select(col("source"),
        md5(concat(col("doc_id").cast("string"), lit("cap"))).as("rk"),
        col("doc_id"))
      val top = StreamRunner.runToBatch(
        ranked.groupBy("source")
          .agg(TopKByRankAgg.topKByRank(col("rk"), col("doc_id"), 15)
            .as("top")),
        OutputMode.Complete)
      top.select(col("source"), explode(col("top.id")).as("doc_id"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Data-quality expectations as a STREAMING monitor: q0K's
    // declarative report running as a Complete-mode aggregate over the
    // event stream — every rate metric's state is one (sum, count)
    // pair, so the monitor holds a handful of state rows forever (the
    // drift gate an ingest pipeline keeps live). Exact-uniqueness is
    // deliberately absent from the streaming form: its state grows
    // with the key space (the HLL sketch q7E is the bounded-state
    // alternative). Shares the metric formulas and round-then-compare
    // contract with q0K's oracle.
    "q7I_stream_expectations" -> { (s, d) =>
      import graft.operators.Expect
      import graft.operators.Expect._
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val raw = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      val ev = if (schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) else raw
      StreamRunner.runToBatch(
          Expect.report(ev, Seq(
            NotNull("user_id"),
            InRange("value", 0, 1000000),
            InSet("event_type",
              Seq("view", "click", "signup", "purchase", "error")),
            MinRows(100))),
          OutputMode.Complete)
        .orderBy("check")
    },

    // Fuzzy-duplicate screening ON ARRIVAL (the q7B/q7F pattern applied
    // to entity resolution): the set of names having a Levenshtein-≤2
    // neighbor is precomputed batch-side by the VERIFIED q3E/q3F
    // operator chain and broadcast; the stream is then a STATELESS
    // Append-mode semi-join flag per arriving part row — zero streaming
    // state, which is exactly how a production catalog screens incoming
    // records against a curated dictionary.
    "q7J_stream_fuzzy_flag" -> { (s, d) =>
      import graft.operators.Dedup
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      val pairs = Dedup.fuzzyPairs(names, "name", "name", maxDist = 2)
      val flagged = pairs.select(col("id_a").as("name"))
        .unionByName(pairs.select(col("id_b").as("name")))
        .distinct()
        .withColumn("has_neighbor", lit(true))
      val schema = s.read.parquet(s"$d/part.parquet").schema
      val parts = s.readStream.schema(schema)
        .option("pathGlobFilter", "part.parquet").parquet(d)
      val out = parts
        .select(col("p_partkey"), col("p_name"))
        .join(broadcast(flagged), col("p_name") === col("name"), "left")
        .select(col("p_partkey"), col("p_name"),
          coalesce(col("has_neighbor"), lit(false)).as("has_neighbor"))
      StreamRunner.runToBatch(out, OutputMode.Append)
        .orderBy("p_partkey")
    },

    // Streaming SCD Type 2 maintenance: the orders change feed streams
    // through flatMapGroupsWithState; state is each customer's CURRENT
    // version (one small row per key — the floor for dimension
    // maintenance), and every attribute change CLOSES the previous
    // validity interval on arrival. Emitted rows equal the batch q4V
    // build's closed intervals exactly (open versions live in state).
    "q7P_stream_scd2" -> { (s, d) =>
      import graft.streaming.StreamingIngest
      import s.implicits._
      val schema = s.read.parquet(s"$d/orders.parquet").schema
      val ch = s.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet").parquet(d)
        .select(col("o_custkey").as("k"),
          unix_micros(col("o_orderdate")).as("ts_us"),
          col("o_orderpriority").as("attr"),
          col("o_orderkey").as("tie"))
        .as[StreamingIngest.ScdChange]
      StreamRunner.runToBatch(
          StreamingIngest.scdMaintain(ch).toDF(), OutputMode.Append)
        .select(col("k").as("cust_key"), col("attr").as("priority"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"))
        .orderBy("cust_key", "valid_from_us")
    },

    // Streaming PSI drift monitor with DATA-DERIVED bins: the 20-cell
    // grid's 19 edges are the reference slice's own quantiles
    // (Sketch.referenceEdges — computed once by the exact distributed
    // Quantiles path, 19 doubles to the driver, embedded as literals in
    // the streaming projection), so a metric of ANY range spreads the
    // reference ~uniformly across the cells instead of saturating one
    // cell of a hardcoded domain and reading as "no drift". Complete-
    // mode state stays 20 rows forever. Smoothed PSI terms round to
    // nano fixed-point longs (the tokenDrift idiom) so the streamed
    // statistic replays bit-identically — the oracle re-derives the
    // same rounded edges from quantile_cont.
    "q7O_stream_psi" -> { (s, d) =>
      import graft.operators.Sketch
      val edges = Sketch.referenceEdges(
        Tables.events(s, d).filter(col("event_id") % 2 === 0)
          .select(col("value").cast("double").as("v")),
        "v", nCells = 20)
      def bucketed(df: DataFrame): DataFrame =
        df.select(Sketch.bucketByEdges(col("value").cast("double"), edges)
          .as("b"))
      val ref = bucketed(Tables.events(s, d).filter(col("event_id") % 2 === 0))
        .groupBy("b").agg(count(lit(1)).as("c_ref"))
      val live = StreamRunner.runToBatch(
        bucketed(eventsStream(s, d).filter(col("event_id") % 2 =!= 0))
          .groupBy("b").agg(count(lit(1)).as("c_live")),
        OutputMode.Complete)
      val spine = s.range(0, 20).select(col("id").cast("int").as("b"))
      val j = spine.join(ref, Seq("b"), "left").join(live, Seq("b"), "left")
        .select(col("b"),
          (coalesce(col("c_ref"), lit(0L)) + lit(1L)).cast("double").as("sa"),
          (coalesce(col("c_live"), lit(0L)) + lit(1L)).cast("double").as("sb"))
      val tot = j.agg(sum("sa").as("ta"), sum("sb").as("tb"))
      j.crossJoin(broadcast(tot))
        .select(round(((col("sa") / col("ta")) - (col("sb") / col("tb"))) *
          (log(col("sa") / col("ta")) - log(col("sb") / col("tb"))) *
          lit(1e9)).cast("long").as("t"))
        .agg(sum("t").as("psi_nano"))
        .select(col("psi_nano"),
          round(col("psi_nano").cast("double") / lit(1e9), 6).as("psi"))
    },

    // Streaming Bloom runtime-filter flag: the dim side's keys pack
    // into an 8 KB bitmap ONCE (driver-bounded by the grid, never the
    // set), and every arriving row is flagged by the codegen'd
    // BloomHitExpr — one md5 per row, ZERO streaming state (stateless
    // Append projection, the q7J shape without even a broadcast join).
    // This is the serving half of q0Q's bloom-filtered join: drop
    // non-matching rows before they ever reach a shuffle or sink. The
    // flag (false positives included) is replayed exactly by the
    // oracle's slice-hash arithmetic.
    "q7N_stream_bloom_flag" -> { (s, d) =>
      import graft.operators.Sketch
      val dim = Tables.part(s, d)
        .filter(col("p_brand").startsWith("Brand#1"))
        .select(col("p_partkey").cast("string").as("k"))
      val words = Sketch.packBloom(
        Sketch.bloomBits(dim, "k", depth = 4, width = 16384),
        depth = 4, width = 16384)
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val li = s.readStream.schema(schema)
        .option("pathGlobFilter", "lineitem.parquet").parquet(d)
      // flag per row in-stream, aggregate in-stream too: Complete-mode
      // state is TWO rows forever, and the sink materializes two rows
      // instead of the whole flagged stream
      val out = li.select(col("l_partkey"),
          Sketch.bloomHitCol(col("l_partkey").cast("string"), words,
            depth = 4, width = 16384).as("bloom_hit"))
        .groupBy("bloom_hit")
        .agg(count(lit(1)).as("n"), sum("l_partkey").as("sum_partkey"))
      StreamRunner.runToBatch(out, OutputMode.Complete)
        .orderBy("bloom_hit")
    },

    // Streaming QUANTILE SKETCH: the bottom-k value sample as a
    // Complete-mode aggregate — q7D's histogram quantiles need a fixed
    // bucket grid and a known value range; this sketch needs neither
    // and carries a proven DKW rank bound. State is ONE buffer of
    // ≤ 2·256 entries forever (the state-store row count is asserted in
    // SketchSpec); partial aggregation ships partitions × k entries per
    // micro-batch, never the stream. The kept set is a pure set
    // function of the data, so the streamed sketch is bit-identical to
    // the batch form and the DuckDB mirror replays it exactly.
    "q7L_stream_sketch_quantiles" -> { (s, d) =>
      import graft.functions.BottomKSampleAgg.bottomKSample
      import graft.operators.Sketch
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val ev = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
      val ranked = ev.select(
        md5(concat(col("event_id").cast("string"), lit("qsk7"))).as("rk"),
        col("event_id").cast("long").as("rid"),
        col("value").cast("double").as("v"))
      val sk = StreamRunner.runToBatch(
        ranked.agg(bottomKSample(col("rk"), col("rid"), col("v"), 256)
          .as("sample")),
        OutputMode.Complete)
      Sketch.sampleQuantiles(sk, "sample",
          Seq((0.25, "p25"), (0.5, "p50"), (0.9, "p90")))
        .select(round(col("p25"), 6).as("p25"), round(col("p50"), 6).as("p50"),
          round(col("p90"), 6).as("p90"), size(col("sample")).as("n_sample"))
    },

    // STREAMING image dedup, ZERO state: incoming images (a re-render
    // batch under new ids) decode, hash, and band IN-FLIGHT, join the
    // static corpus band table (broadcast — bucket it by (band, key)
    // when a real corpus outgrows that), and each near-dup pair emits
    // exactly once from its smallest agreeing band — a pure row-local
    // dedup, so the whole flag path is a stateless Append stream (the
    // q77 shape for pixels). Emitted rows equal the batch q5L result.
    "q7R_stream_image_dedup" -> { (s, d) =>
      import graft.multimodal.Multimodal
      val corpusIds = Tables.documents(s, d)
        .filter(col("doc_id") < 200).select("doc_id")
        .repartition(s.sparkContext.defaultParallelism)
      val corpus = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(corpusIds, "doc_id"))
        .filter(col("ahash_ok"))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val incomingIds = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter(col("doc_id") >= 200 && col("doc_id") < 240)
        .select(col("doc_id"), (col("doc_id") % 200).as("content_id"))
      val incoming = Multimodal.aHash(
          Multimodal.syntheticSpikedPngs(incomingIds, "content_id"))
        .filter(col("ahash_ok"))
      StreamRunner.runToBatch(
          Multimodal.imageNearDupFlags(corpus, incoming, "doc_id",
            maxDist = 3),
          OutputMode.Append)
        .orderBy("inc_id", "corpus_id")
    },

    // STREAMING join-size monitor: the live side's count-min grid is a
    // Complete-mode aggregate — state is the d×w grid (65,536 rows)
    // FOREVER, never the stream — and each micro-batch's refreshed
    // cells inner-product against the static dimension's grid for the
    // current |A⋈B| estimate (q0X's planner signal, maintained live:
    // "is tonight's feed about to skew tomorrow's join"). Exact side,
    // never-under invariant, and the Markov bound replay verbatim (the
    // md5 grid is a set function).
    "q7S_stream_cms_join_size" -> { (s, d) =>
      import graft.operators.Sketch
      val width = 16384
      val cmsOrd = Sketch.cmsTable(
        Tables.orders(s, d)
          .select(col("o_orderkey").cast("string").as("t")),
        "t", depth = 4, width = width, salt = "jsz")
      val schema = s.read.parquet(s"$d/lineitem.parquet").schema
      val liStream = s.readStream.schema(schema)
        .option("pathGlobFilter", "lineitem.parquet").parquet(d)
      // stateless fan-out shuffle before the per-row md5 probes (r12):
      // the single-row-group micro-batch otherwise computes every probe
      // in ONE task before the stateful grid aggregate (see q7A note)
      val streamedCells = StreamRunner.runToBatch(
        Sketch.cmsTable(
          liStream.select(col("l_orderkey").cast("string").as("t"))
            .repartition(s.sparkContext.defaultParallelism, col("t")),
          "t", depth = 4, width = width, salt = "jsz"),
        OutputMode.Complete)
      val est = streamedCells.select(col("j"), col("b"), col("c").as("ca"))
        .join(cmsOrd.select(col("j"), col("b"), col("c").as("cb")),
          Seq("j", "b"))
        .groupBy("j").agg(sum(col("ca") * col("cb")).as("ip"))
        .agg(min("ip").as("est"))
      val li = Tables.lineitem(s, d)
      val exact = li.join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact"))
      val ns = li.agg(count(lit(1)).as("n_li")).crossJoin(
        Tables.orders(s, d).agg(count(lit(1)).as("n_ord")))
      broadcast(est).crossJoin(broadcast(exact)).crossJoin(broadcast(ns))
        .select(col("exact"), col("est"),
          (col("est") - col("exact")).as("overestimate"),
          expr(s"(2 * n_li * n_ord) div $width").as("bound"),
          (col("est") >= col("exact")).as("never_under"),
          (col("est") - col("exact") <=
            expr(s"(2 * n_li * n_ord) div $width")).as("within_bound"))
    },

    // Streaming KLL quantile sketch, per event type: ONE serialized
    // KllSketch per group in state (~6 KB at k = 256, forever), folded
    // per micro-batch in event_id order (deterministic seeded
    // compaction), ~6× tighter rank error than q7L's bottom-k/DKW at
    // the same footprint. Estimates aren't set functions (the
    // compaction tree is order-sensitive), so the gate is the q0V rank
    // audit against the batch table: exact per-group count (sketch
    // weight is exact), exact quantiles, and the within-kllEpsilon
    // flags replay; the estimates themselves stay internal.
    "q7Q_stream_kll_quantiles" -> { (s, d) =>
      import s.implicits._
      import graft.operators.{Kll, Quantiles}
      val ev = eventsStream(s, d)
        .select(col("event_type").as("g"),
          col("event_id").cast("long").as("event_id"),
          col("value").cast("double").as("v"))
        .as[StreamingIngest.KllEvent]
      // Update-mode memory sink APPENDS one row per group per
      // micro-batch (it does not upsert), so "downstream keeps the
      // latest row per group" must be implemented here: keep each
      // group's max-n emission (n is the sketch's cumulative exact
      // count, strictly increasing across a group's emissions). With
      // the fixture's single-file source this is a no-op reduce, but a
      // multi-file / maxFilesPerTrigger source would otherwise leave
      // stale per-group rows fanning out the joins below.
      val est = StreamRunner.runToBatch(
        StreamingIngest.kllMaintain(ev, k = 256, seed = 0x6b6c6cL).toDF(),
        OutputMode.Update)
        .withColumnRenamed("g", "event_type")
        .groupBy("event_type")
        .agg(max_by(struct(col("n"), col("e50"), col("e90")), col("n")).as("r"))
        .select(col("event_type"), col("r.n").as("n"),
          col("r.e50").as("e50"), col("r.e90").as("e90"))
        .localCheckpoint(eager = false) // reused: ranks join + output
      val rows = Tables.events(s, d)
        .select(col("event_type"), col("value").cast("double").as("v"))
      val exact = Quantiles.groupQuantiles(
        rows, "event_type", Seq(("v", 0.5, "x50"), ("v", 0.9, "x90")))
      val ranks = rows.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
          avg(when(col("v") < col("e50"), 1.0d).otherwise(0.0d)).as("lo50"),
          avg(when(col("v") <= col("e50"), 1.0d).otherwise(0.0d)).as("hi50"),
          avg(when(col("v") < col("e90"), 1.0d).otherwise(0.0d)).as("lo90"),
          avg(when(col("v") <= col("e90"), 1.0d).otherwise(0.0d)).as("hi90"))
      def within(p: Double, lo: String, hi: String) =
        greatest(lit(0.0d), col(lo) - lit(p), lit(p) - col(hi)) <=
          lit(Kll.kllEpsilon(256))
      est.join(exact, "event_type").join(ranks, "event_type")
        .select(col("event_type"), col("n"),
          round(col("x50"), 6).as("exact_p50"),
          round(col("x90"), 6).as("exact_p90"),
          within(0.5, "lo50", "hi50").as("within_p50"),
          within(0.9, "lo90", "hi90").as("within_p90"))
        .orderBy("event_type")
    },

    // Ordered funnel as a STREAMING state machine: per-user monotone
    // progress through view → click → purchase via
    // flatMapGroupsWithState, each step emitted ON ARRIVAL and the
    // user's state REMOVED at completion (self-evicting state — the
    // pattern sessions/dedup don't cover) OR when the watermark passes
    // first-event-time + the conversion window, so abandoning users
    // never hold state forever (the 100 TB bound). The 365-day window
    // exceeds the fixture's time span, so step counts equal q4G's
    // batch min-chain exactly.
    "q7K_stream_funnel" -> { (s, d) =>
      import s.implicits._
      val ev = eventsStream(s, d)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[StreamingIngest.FunnelEvent]
      val reached = StreamRunner.runToBatch(
        StreamingIngest.funnelSteps(ev, Seq("view", "click", "purchase"),
          StreamingIngest.SessionFlush.WatermarkHorizon(
            365L * 86400L * 1000000L))
          .toDF(),
        OutputMode.Append)
      reached.groupBy("step")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("step")
    }
  )

  val oracles: Map[String, String] = Map(

    // identical output contract to batch q6S — shared SQL verbatim
    "q7T_stream_mojibake_gate" -> CurationQueries.duckMojibakeOracle,
    "q7Z_stream_secret_flag" -> SignalQueries.duckSecretOracle,

    "q8J_stream_release_gate" -> SignalQueries.duckReleaseOracle,

    "q8N_stream_data_recipe" -> CurationQueries.duckRecipeOracle,

    // Export mirror: content-complete closed form — every doc exported
    // exactly once, text byte-equal, across exactly 2 micro-batches
    // (ceil(4 landing files / 2 per trigger)); the Spark side proved it
    // against the real files and its own JSON parser.
    "q8S_stream_export" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_exported,
        |       CAST(count(*) AS BIGINT) AS n_matched,
        |       CAST(2 AS BIGINT) AS n_batches,
        |       true AS complete
        |FROM documents""".stripMargin,

    // identical output contract to batch q6W — closed-form robots
    // decision replayed from g (see the q6W mirror comment)
    "q7W_stream_robots_gate" ->
      s"""WITH ${CurationQueries.duckUrlBase},
         |r AS (
         |  SELECT doc_id, g, h, g % 11 AS k,
         |    ((g % 7) + (g % 3) * 7) % 3 AS rc
         |  FROM mb)
         |SELECT doc_id, h AS host,
         |  '/p' || k || '/x~e' AS path,
         |  CASE WHEN rc = 0 THEN k NOT IN (2, 10)
         |       WHEN rc = 1 THEN k NOT IN (3, 4)
         |       ELSE true END AS allowed
         |FROM r
         |ORDER BY doc_id""".stripMargin,

    // Frontier mirror: per-doc closed-form canonical URL, kept iff the
    // q7V-replayed Bloom probe misses (seen = g < 10, false positives
    // included) AND q6W's closed-form robots bit allows.
    "q7X_stream_frontier" ->
      s"""WITH ${CurationQueries.duckUrlBase},
         |cu AS (
         |  SELECT doc_id, g, ${CurationQueries.duckCanonClosedForm} AS curl,
         |    g % 11 AS k, ((g % 7) + (g % 3) * 7) % 3 AS rc
         |  FROM mb),
         |seen AS (SELECT DISTINCT curl FROM cu WHERE g < 10),
         |bloom AS (
         |  SELECT DISTINCT j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT md5(curl || ':bloom') AS h, unnest(range(0, 4)) AS j
         |        FROM seen)),
         |dcu AS (SELECT DISTINCT curl FROM cu),
         |probe AS (
         |  SELECT curl, j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT curl, md5(curl || ':bloom') AS h,
         |          unnest(range(0, 4)) AS j
         |        FROM dcu)),
         |hit AS (
         |  SELECT probe.curl,
         |    min(CASE WHEN bloom.b IS NOT NULL THEN 1 ELSE 0 END) = 1
         |      AS bloom_hit
         |  FROM probe LEFT JOIN bloom
         |    ON probe.j = bloom.j AND probe.b = bloom.b
         |  GROUP BY 1)
         |SELECT doc_id, curl
         |FROM cu JOIN hit USING (curl)
         |WHERE NOT bloom_hit
         |  AND (CASE WHEN rc = 0 THEN k NOT IN (2, 10)
         |            WHEN rc = 1 THEN k NOT IN (3, 4)
         |            ELSE true END)
         |ORDER BY doc_id""".stripMargin,

    // Line-flag mirror: q6Z's template and heavy-hitter rule, then the
    // q7N slice-hash bloom replay per DISTINCT line key (same
    // md5 || ':bloom' digest, same 4-hex windows mod 16384) joined back
    // to every line — false positives replay too.
    "q7Y_stream_line_flag" ->
      s"""WITH pages AS (
         |  SELECT doc_id, ${CurationQueries.duckLinesPage} AS page
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, lower(trim(line)) AS lkey
         |  FROM (SELECT doc_id, unnest(string_split(page, chr(10))) AS line
         |        FROM pages)),
         |boiler AS (
         |  SELECT lkey FROM keyed GROUP BY lkey
         |  HAVING count(DISTINCT doc_id) >= ${CurationQueries.BoilerplateDf}),
         |bloom AS (
         |  SELECT DISTINCT j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT md5(lkey || ':bloom') AS h, unnest(range(0, 4)) AS j
         |        FROM boiler)),
         |dk AS (SELECT DISTINCT lkey FROM keyed),
         |probe AS (
         |  SELECT lkey, j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT lkey, md5(lkey || ':bloom') AS h,
         |          unnest(range(0, 4)) AS j
         |        FROM dk)),
         |hit AS (
         |  SELECT probe.lkey,
         |    min(CASE WHEN bloom.b IS NOT NULL THEN 1 ELSE 0 END) = 1
         |      AS bloom_hit
         |  FROM probe LEFT JOIN bloom
         |    ON probe.j = bloom.j AND probe.b = bloom.b
         |  GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler
         |FROM keyed JOIN hit USING (lkey)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // the distinct CLOSED-FORM canonicals (q6Q's independent
    // expectation, projected to the key)
    "q7U_stream_url_dedup" ->
      s"""WITH ${CurationQueries.duckUrlBase}
         |SELECT DISTINCT ${CurationQueries.duckCanonClosedForm} AS curl
         |FROM mb
         |ORDER BY curl""".stripMargin,

    // Seen-filter mirror: closed-form canonical URLs, the q7N slice-hash
    // bloom replay (same md5 || ':bloom' digest, same 4-hex windows mod
    // 16384), counts per (hit, truly_seen) — false positives replay too.
    "q7V_stream_url_seen" ->
      s"""WITH ${CurationQueries.duckUrlBase},
         |cu AS (
         |  SELECT doc_id, g, ${CurationQueries.duckCanonClosedForm} AS curl
         |  FROM mb),
         |seen AS (SELECT DISTINCT curl FROM cu WHERE g < 20),
         |bloom AS (
         |  SELECT DISTINCT j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT md5(curl || ':bloom') AS h, unnest(range(0, 4)) AS j
         |        FROM seen)),
         |dcu AS (SELECT DISTINCT curl FROM cu),
         |probe AS (
         |  SELECT curl, j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT curl, md5(curl || ':bloom') AS h,
         |          unnest(range(0, 4)) AS j
         |        FROM dcu)),
         |hit AS (
         |  SELECT probe.curl,
         |    min(CASE WHEN bloom.b IS NOT NULL THEN 1 ELSE 0 END) = 1
         |      AS bloom_hit
         |  FROM probe LEFT JOIN bloom
         |    ON probe.j = bloom.j AND probe.b = bloom.b
         |  GROUP BY 1)
         |SELECT bloom_hit, (g < 20) AS truly_seen, count(*) AS n
         |FROM cu JOIN hit USING (curl)
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    "q70_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS win_start,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY win_start, event_type""".stripMargin,

    // Batch sessionization (24 h gap), drop each user's last session —
    // the one the stream leaves open.
    "q71_stream_sessions" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us, value, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         > 86400 * 1000000::BIGINT THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, us, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |agg AS (
        |  SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
        |         count(*) AS n_events, round(sum(value), 2) AS total_value
        |  FROM s GROUP BY 1, 2),
        |last AS (SELECT user_id, max(sid) AS msid FROM agg GROUP BY 1)
        |SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.total_value
        |FROM agg a
        |JOIN last l ON a.user_id = l.user_id AND a.sid < l.msid
        |ORDER BY a.user_id, a.start_us""".stripMargin,

    "q72_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type
        |FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q73_stream_attribution" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        |FROM events v
        |JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(v.ts)
        | AND epoch_us(c.ts) <= epoch_us(v.ts) + 21600 * 1000000::BIGINT
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    // Outer-attribution mirror: the q73 inner join UNION the negatives
    // whose windows the final watermark closed. The watermark replayed
    // here is EXACTLY Spark's: each side tracks its own max event time
    // (views and clicks are separate watermark operators), the global
    // watermark is the MIN of the sides (multipleWatermarkPolicy=min),
    // event-time stats are kept in whole milliseconds (floor), and the
    // 1 h delay is subtracted in ms. A view emits a negative iff its
    // 6 h window end precedes that watermark — only then can the engine
    // KNOW no future click matches.
    "q7M_stream_attribution_outer" ->
      """WITH mx AS (
        |  SELECT ((least(
        |      (SELECT max(ts) FROM events WHERE event_type = 'view'),
        |      (SELECT max(ts) FROM events WHERE event_type = 'click'))
        |    ::TIMESTAMP)) AS mxts),
        |wm AS (
        |  SELECT (epoch_us(mxts) // 1000 - 3600000) * 1000 AS wm_us FROM mx),
        |v AS (SELECT user_id, event_id AS view_id, ts AS vts
        |      FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS cts
        |      FROM events WHERE event_type = 'click'),
        |matched AS (
        |  SELECT v.user_id, v.view_id, c.click_id
        |  FROM v JOIN c ON c.user_id = v.user_id
        |   AND epoch_us(c.cts) >= epoch_us(v.vts)
        |   AND epoch_us(c.cts) <= epoch_us(v.vts) + 21600 * 1000000::BIGINT),
        |negatives AS (
        |  SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id
        |  FROM v CROSS JOIN wm
        |  WHERE NOT EXISTS (
        |      SELECT 1 FROM c
        |      WHERE c.user_id = v.user_id
        |        AND epoch_us(c.cts) >= epoch_us(v.vts)
        |        AND epoch_us(c.cts) <= epoch_us(v.vts) + 21600 * 1000000::BIGINT)
        |    AND epoch_us(v.vts) + 21600 * 1000000::BIGINT < wm.wm_us)
        |SELECT user_id, view_id, click_id,
        |       click_id IS NOT NULL AS attributed
        |FROM (SELECT * FROM matched UNION ALL SELECT * FROM negatives)
        |ORDER BY user_id, view_id, click_id""".stripMargin,

    // Batch mirror of the streamed ingest: q50's recursive chunk walk +
    // q51's trigram-murmur embed, with source/id derived from the
    // landing file name (<doc_id>.txt) exactly as Ingest mints
    // them: doc_<chunk_index>_<md5(md5(source)||md5(chunk_text))[:16]>.
    "q79_stream_ingest" ->
      s"""WITH RECURSIVE ${PipelineQueries.duckChunkWalk},
         |chunks AS (
         |  SELECT w.doc_id, CAST(w.ck - 1 AS INT) AS chunk_index,
         |         trim(substr(d.text, CAST(w.jstart_s AS INT) + 1,
         |                     CAST(w.jend_s - w.jstart_s AS INT))) AS chunk_text
         |  FROM walk w JOIN documents d USING (doc_id)),
         |csrc AS (
         |  SELECT doc_id, chunk_index, chunk_text,
         |         '^' || lower(chunk_text) || '$$' AS etext
         |  FROM chunks),
         |${PipelineQueries.duckTrigramEmbed("e", "csrc",
             Seq("doc_id", "chunk_index", "chunk_text"))}
         |SELECT concat('doc_', chunk_index, '_',
         |         substr(md5(concat(md5(concat(doc_id, '.txt')),
         |                           md5(chunk_text))), 1, 16)) AS id,
         |       concat(doc_id, '.txt') AS source,
         |       chunk_index,
         |       CAST(len(chunk_text) AS INT) AS chunk_len,
         |       64 AS dim,
         |       round(sqrt(list_sum([CAST(vec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE)
         |                            for i in range(1, len(vec)+1)])), 4) AS norm,
         |       round(CAST(vec[1] AS DOUBLE), 6) AS c0
         |FROM evecs
         |ORDER BY id""".stripMargin,

    // Batch mirror of the streamed KNN serving: q11's oracle shape over
    // the vec_id % 10 = 0 query set.
    "q7C_stream_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
         |           FROM embeddings WHERE vec_id % 10 = 0),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${DuckSql.cosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY score DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, score, rn FROM ranked
         |WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,

    // Batch mirror of the streamed semantic flag: the shared IVF
    // assignment labeled bench/train, same-cell cross pairs as rows.
    "q7F_stream_semantic_flag" ->
      s"""WITH ${DuckSql.ivfCells(16)},
         |lab AS (
         |  SELECT vec_id, cell, (vec_id % 25 = 0) AS bench FROM assigned)
         |SELECT t.vec_id AS train_id, b.vec_id AS bench_id,
         |  round(${DuckSql.cosine("e1.embedding", "e2.embedding")}, 6) AS score
         |FROM lab t
         |JOIN lab b ON t.cell = b.cell AND NOT t.bench AND b.bench
         |JOIN embeddings e1 ON e1.vec_id = t.vec_id
         |JOIN embeddings e2 ON e2.vec_id = b.vec_id
         |WHERE round(${DuckSql.cosine("e1.embedding", "e2.embedding")}, 6) >= 0.35
         |ORDER BY train_id, bench_id""".stripMargin,

    // Batch mirror of the streamed HLL: q2H's global form (same bucket
    // slice, rank chain, integer-exact register sum, same literals).
    "q7E_stream_hll" ->
      s"""WITH t AS (SELECT unnest(${DuckSql.toks}) AS term FROM documents),
         |${DuckSql.hll(1024, "t", Nil)},
         |exact AS (SELECT count(DISTINCT term) AS exact_distinct FROM t)
         |SELECT hll_distinct, exact_distinct,
         |  round(abs(hll_distinct - CAST(exact_distinct AS DOUBLE))
         |        / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
         |FROM est CROSS JOIN exact""".stripMargin,

    // Batch mirror of the streamed histogram quantiles: same clamp
    // bucketing, same cumulative walk, same uniform-within-bucket
    // interpolation in the same double order.
    "q7D_stream_quantiles" ->
      s"""WITH v AS (
         |  SELECT CAST(len(${DuckSql.toks}) AS DOUBLE) AS nt FROM documents),
         |hist AS (
         |  SELECT greatest(0, least(127,
         |           CAST(floor((nt - 0.0) / 8.0) AS INT))) AS b,
         |         count(*) AS c
         |  FROM v
         |  WHERE nt IS NOT NULL AND NOT isnan(nt)
         |  GROUP BY 1),
         |cum AS (
         |  SELECT b, c,
         |    CAST(coalesce(sum(c) OVER (ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cb
         |  FROM hist),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows FROM hist),
         |pq AS (
         |  SELECT p, n_rows,
         |    p * CAST(n_rows - 1 AS DOUBLE) + 1.0 AS t
         |  FROM (SELECT unnest([0.5, 0.9, 0.99]) AS p) CROSS JOIN n),
         |ks AS (
         |  SELECT p, n_rows, t,
         |    CAST(floor(t) AS BIGINT) AS k_lo, CAST(ceil(t) AS BIGINT) AS k_hi
         |  FROM pq),
         |vlo AS (
         |  SELECT ks.*, 0.0 + 8.0 * (CAST(cum.b AS DOUBLE)
         |    + CAST(ks.k_lo - cum.cb AS DOUBLE) / CAST(cum.c AS DOUBLE)) AS v_lo
         |  FROM ks JOIN cum ON ks.k_lo > cum.cb AND ks.k_lo <= cum.cb + cum.c),
         |vhi AS (
         |  SELECT vlo.*, 0.0 + 8.0 * (CAST(cum.b AS DOUBLE)
         |    + CAST(vlo.k_hi - cum.cb AS DOUBLE) / CAST(cum.c AS DOUBLE)) AS v_hi
         |  FROM vlo JOIN cum ON vlo.k_hi > cum.cb AND vlo.k_hi <= cum.cb + cum.c)
         |SELECT p, n_rows,
         |  round(v_lo + (t - CAST(k_lo AS DOUBLE)) * (v_hi - v_lo), 6) AS estimate
         |FROM vhi
         |ORDER BY p""".stripMargin,

    // Batch mirror of the streamed CMS grid — identical sliced-md5
    // hashing (see q2C), identical cells.
    "q7A_stream_cms" ->
      s"""WITH t AS (SELECT unnest(${DuckSql.toks}) AS term FROM documents),
         |occ AS (SELECT term, md5(term || ':cms') AS h,
         |               unnest(range(0, 4)) AS j FROM t)
         |SELECT j, ${DuckSql.bucketSlice("h", "j", 1024)} AS b,
         |       count(*) AS c
         |FROM occ GROUP BY 1, 2
         |ORDER BY j, b""".stripMargin,

    // The streamed reservoir must equal the batch q6F draw exactly:
    // identical salted-md5 permutation, identical k and id tiebreak.
    "q7G_stream_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || 'sample'), doc_id
        |  LIMIT 50) t
        |ORDER BY doc_id""".stripMargin,

    // The streamed per-stratum reservoir must equal q67's batch cap
    // exactly: identical per-source salted-hash order, k, tiebreak.
    "q7H_stream_stratified_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 15
        |ORDER BY doc_id""".stripMargin,

    // Streamed expectations mirror: q0K's metric formulas over events.
    "q7I_stream_expectations" ->
      """WITH m AS (SELECT
        |  round(avg(CASE WHEN user_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS c_nn,
        |  round(avg(CASE WHEN value >= 0 AND value <= 1000000 THEN 1.0 ELSE 0.0 END), 6) AS c_v,
        |  round(avg(CASE WHEN event_type IN ('view', 'click', 'signup', 'purchase', 'error') THEN 1.0 ELSE 0.0 END), 6) AS c_et,
        |  round(CAST(count(*) AS DOUBLE), 6) AS c_rows
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'not_null:user_id' AS "check", c_nn AS metric,
        |    1.0 AS threshold, c_nn >= 1.0 AS passed FROM m
        |  UNION ALL
        |  SELECT 'in_range:value', c_v, 1.0, c_v >= 1.0 FROM m
        |  UNION ALL
        |  SELECT 'in_set:event_type', c_et, 1.0, c_et >= 1.0 FROM m
        |  UNION ALL
        |  SELECT 'min_rows', c_rows, 100.0, c_rows >= 100.0 FROM m)
        |ORDER BY "check"""".stripMargin,

    // Streamed fuzzy-flag mirror: q3E's blocking at dist <= 2 yields the
    // neighbor-name set; every part row flags by membership.
    // Streaming-SCD2 mirror: the shared batch dim CTEs, CLOSED
    // intervals only (open versions are state, not output).
    "q7P_stream_scd2" ->
      s"""WITH ${PipelineQueries.duckScd2Dim},
         |iv AS (
         |  SELECT cust_key, priority, valid_from AS valid_from_us,
         |    lead(valid_from) OVER (PARTITION BY cust_key
         |                           ORDER BY valid_from) AS valid_to_us
         |  FROM dim)
         |SELECT cust_key, priority, valid_from_us, valid_to_us
         |FROM iv WHERE valid_to_us IS NOT NULL
         |ORDER BY cust_key, valid_from_us""".stripMargin,

    // PSI mirror: same fixed buckets, same add-one smoothing over the
    // 20-cell spine, same nano fixed-point terms (identical expression
    // association), batch-replayed over the full stream content.
    "q7O_stream_psi" ->
      """WITH refv AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE event_id % 2 = 0),
        |edges AS (
        |  SELECT round(unnest(quantile_cont(v,
        |    [1/20.0, 2/20.0, 3/20.0, 4/20.0, 5/20.0, 6/20.0, 7/20.0,
        |     8/20.0, 9/20.0, 10/20.0, 11/20.0, 12/20.0, 13/20.0, 14/20.0,
        |     15/20.0, 16/20.0, 17/20.0, 18/20.0, 19/20.0])), 6) AS e
        |  FROM refv),
        |ref AS (
        |  SELECT (SELECT count(*) FROM edges WHERE e <= r.v) AS b,
        |    count(*) AS c_ref
        |  FROM refv r GROUP BY 1),
        |live AS (
        |  SELECT (SELECT count(*) FROM edges
        |          WHERE e <= CAST(value AS DOUBLE)) AS b,
        |    count(*) AS c_live
        |  FROM events WHERE event_id % 2 <> 0 GROUP BY 1),
        |sp AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS b),
        |j AS (
        |  SELECT sp.b,
        |    CAST(coalesce(c_ref, 0) + 1 AS DOUBLE) AS sa,
        |    CAST(coalesce(c_live, 0) + 1 AS DOUBLE) AS sb
        |  FROM sp LEFT JOIN ref USING (b) LEFT JOIN live USING (b)),
        |t AS (SELECT sum(sa) AS ta, sum(sb) AS tb FROM j),
        |terms AS (
        |  SELECT CAST(round(((sa / ta) - (sb / tb))
        |    * (ln(sa / ta) - ln(sb / tb)) * 1000000000) AS BIGINT) AS t
        |  FROM j CROSS JOIN t)
        |SELECT CAST(sum(t) AS BIGINT) AS psi_nano,
        |  round(CAST(sum(t) AS DOUBLE) / 1000000000, 6) AS psi
        |FROM terms""".stripMargin,

    // Bloom-flag mirror: the q2D slice-hash replay (same md5 || ':bloom'
    // digest, same 4-hex-char windows mod 16384, same all-bits-set
    // rule) over the dim's keys and every lineitem row — false
    // positives and all.
    "q7N_stream_bloom_flag" ->
      s"""WITH dim AS (
         |  SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS k FROM part
         |  WHERE p_brand LIKE 'Brand#1%'),
         |bloom AS (
         |  SELECT DISTINCT j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT md5(k || ':bloom') AS h, unnest(range(0, 4)) AS j
         |        FROM dim)),
         |keys AS (SELECT DISTINCT l_partkey FROM lineitem),
         |probe AS (
         |  SELECT l_partkey, j, ${DuckSql.bucketSlice("h", "j", 16384)} AS b
         |  FROM (SELECT l_partkey,
         |          md5(CAST(l_partkey AS VARCHAR) || ':bloom') AS h,
         |          unnest(range(0, 4)) AS j
         |        FROM keys)),
         |khit AS (
         |  SELECT probe.l_partkey,
         |    min(CASE WHEN bloom.b IS NOT NULL THEN 1 ELSE 0 END) = 1
         |      AS bloom_hit
         |  FROM probe LEFT JOIN bloom
         |    ON probe.j = bloom.j AND probe.b = bloom.b
         |  GROUP BY 1)
         |SELECT bloom_hit, count(*) AS n,
         |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey
         |FROM lineitem JOIN khit USING (l_partkey)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7J_stream_fuzzy_flag" ->
      """WITH nm AS (SELECT DISTINCT p_name AS s FROM part),
        |gd AS (
        |  SELECT DISTINCT s, g FROM (
        |    SELECT s, unnest(CASE WHEN len(s) < 3 THEN [s]
        |      ELSE [substr(s, i, 3) for i in range(1, len(s) - 1)] END) AS g
        |    FROM nm)),
        |cand AS (
        |  SELECT DISTINCT a.s AS s_a, b.s AS s_b
        |  FROM gd a JOIN gd b ON a.g = b.g AND a.s < b.s),
        |e2 AS (
        |  SELECT s_a, s_b FROM cand
        |  WHERE abs(len(s_a) - len(s_b)) <= 2
        |    AND levenshtein(s_a, s_b) <= 2),
        |flagged AS (SELECT s_a AS name FROM e2 UNION SELECT s_b FROM e2)
        |SELECT p.p_partkey, p.p_name,
        |  (f.name IS NOT NULL) AS has_neighbor
        |FROM part p LEFT JOIN flagged f ON f.name = p.p_name
        |ORDER BY p.p_partkey""".stripMargin,

    // Streamed sketch mirror: identical bottom-k sample over events,
    // identical ⌊p·(n−1)⌋ index selection (batch SQL replays the whole
    // streamed sketch because the kept set is a set function).
    "q7L_stream_sketch_quantiles" ->
      """WITH samp AS (
        |  SELECT event_id AS rid, CAST(value AS DOUBLE) AS v FROM events
        |  ORDER BY md5(CAST(event_id AS VARCHAR) || 'qsk7'), event_id
        |  LIMIT 256),
        |sorted AS (
        |  SELECT v, row_number() OVER (ORDER BY v, rid) - 1 AS rn,
        |         count(*) OVER () AS n
        |  FROM samp)
        |SELECT
        |  round((SELECT v FROM sorted
        |         WHERE rn = CAST(floor(0.25 * (n - 1)) AS BIGINT)), 6) AS p25,
        |  round((SELECT v FROM sorted
        |         WHERE rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)), 6) AS p50,
        |  round((SELECT v FROM sorted
        |         WHERE rn = CAST(floor(0.9 * (n - 1)) AS BIGINT)), 6) AS p90,
        |  CAST((SELECT count(*) FROM samp) AS INT) AS n_sample""".stripMargin,

    // Streaming join-size mirror: the q0X join half — identical md5
    // buckets, inner product, min over rows, exact side, both flags.
    "q7S_stream_cms_join_size" -> {
      val w = 16384
      def cells(src: String, keyExpr: String) =
        s"""(SELECT j, ${DuckSql.bucketSlice("h", "j", w)} AS bkt,
           |        count(*) AS c
           | FROM (SELECT md5(CAST($keyExpr AS VARCHAR) || ':jsz') AS h,
           |              unnest(range(0, 4)) AS j FROM $src)
           | GROUP BY 1, 2)""".stripMargin
      s"""WITH est_join AS (
         |  SELECT min(ip) AS est FROM (
         |    SELECT x.j, sum(x.c * y.c) AS ip
         |    FROM ${cells("lineitem", "l_orderkey")} x
         |    JOIN ${cells("orders", "o_orderkey")} y
         |      ON x.j = y.j AND x.bkt = y.bkt
         |    GROUP BY x.j)),
         |x_join AS (SELECT count(*) AS x FROM lineitem l
         |           JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |ns AS (SELECT (SELECT count(*) FROM lineitem) AS n_li,
         |              (SELECT count(*) FROM orders) AS n_ord)
         |SELECT CAST(x AS BIGINT) AS exact, CAST(est AS BIGINT) AS est,
         |       CAST(est - x AS BIGINT) AS overestimate,
         |       CAST((2 * n_li * n_ord) // $w AS BIGINT) AS bound,
         |       est >= x AS never_under,
         |       est - x <= (2 * n_li * n_ord) // $w AS within_bound
         |FROM est_join, x_join, ns""".stripMargin
    },

    // Streaming image-dedup mirror: identical to the batch q5L mirror —
    // the stateless stream computes the same pair set, banding and the
    // smallest-agreeing-band dedup being plan choices.
    "q7R_stream_image_dedup" ->
      """WITH mask AS (
        |  SELECT cid, i.i AS i,
        |    CASE WHEN
        |      (strpos('13579bdf',
        |        substr(md5((cid // 4) || ':' || i.i), 1, 1)) > 0)
        |      <> (CASE cid % 4
        |            WHEN 1 THEN i.i = (cid // 4) % 64
        |            WHEN 2 THEN i.i = (cid // 4) % 64
        |                     OR i.i = ((cid // 4) + 32) % 64
        |            WHEN 3 THEN i.i % 8 = (cid // 4) % 8
        |            ELSE false END)
        |      THEN 1 ELSE 0 END AS bit
        |  FROM (SELECT DISTINCT doc_id % 200 AS cid FROM documents
        |        WHERE doc_id < 240) c,
        |       LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |corp AS (SELECT doc_id, doc_id AS cid FROM documents
        |         WHERE doc_id < 200),
        |inc AS (SELECT doc_id, doc_id % 200 AS cid FROM documents
        |        WHERE doc_id >= 200 AND doc_id < 240),
        |dist AS (
        |  SELECT i.doc_id AS inc_id, c.doc_id AS corpus_id,
        |    CAST(sum(CASE WHEN mi.bit <> mc.bit THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dist
        |  FROM inc i JOIN mask mi ON mi.cid = i.cid
        |       JOIN corp c ON true
        |       JOIN mask mc ON mc.cid = c.cid AND mc.i = mi.i
        |  GROUP BY 1, 2)
        |SELECT inc_id, corpus_id, dist FROM dist
        |WHERE dist <= 3 ORDER BY inc_id, corpus_id""".stripMargin,

    // Streaming KLL mirror (the q0V contract): per-group exact count,
    // exact quantiles, and within_kll = true — the Spark side computes
    // the flags from the streamed estimates' true rank intervals, so a
    // bound violation (or a lost/duplicated row in state) forks the
    // hash; the order-sensitive estimates themselves are not replayed.
    "q7Q_stream_kll_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS exact_p50,
        |  round(quantile_cont(CAST(value AS DOUBLE), 0.9), 6) AS exact_p90,
        |  true AS within_p50, true AS within_p90
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Streamed funnel mirror: q4G's strict min-chain, as step counts.
    "q7K_stream_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT step, n_users FROM (
        |  SELECT 1 AS step, CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_users
        |  UNION ALL
        |  SELECT 2, CAST((SELECT count(*) FROM t2) AS BIGINT)
        |  UNION ALL
        |  SELECT 3, CAST((SELECT count(*) FROM t3) AS BIGINT))
        |ORDER BY step""".stripMargin
  )
}
