package perfbench

import graft.api.{GraftApi, GraftHttpServer}
import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.{DeterministicEmbedder, EmbedOps}
import graft.ingest.{Chunker, Readers}
import graft.rag.Ingest
import org.apache.spark.sql.functions.col

import java.nio.file.Path

/** `ingest`: the write path. Each round bulk-loads the seeded corpus
  * into empty catalogs with `Ingest.run` (twice, for a steady median),
  * then sends sequential
  * `POST /api/v1/upload` batches from one closed-loop client to an
  * in-process `GraftHttpServer` on that catalog. The number of rounds
  * follows from the measured time alone, so every run takes the same
  * samples. Ingest, embed and catalog writes do most of the work here;
  * no query is served.
  */
object IngestWorkload {
  private final case class Size(bulkFiles: Int, warmFiles: Int, bulkReps: Int, uploads: Int,
      filesPerUpload: Int)

  private def size(ctx: Ctx) =
    if (ctx.args.tiny) Size(bulkFiles = 24, warmFiles = 8, bulkReps = 2, uploads = 2, filesPerUpload = 4)
    else Size(bulkFiles = 500, warmFiles = 100, bulkReps = 2, uploads = 8, filesPerUpload = 10)

  val IndexName = "bench"

  /** One round per this many seconds of `--seconds`, and one at least; a
    * round takes 15-20 s on 4 cores. Rounds are counted from `--seconds`,
    * not from a deadline, because a round that started in some runs and
    * not in others would split the results in two.
    */
  val RoundSeconds = 10

  def run(ctx: Ctx): Outcome = {
    val sz = size(ctx)
    val embedder = new DeterministicEmbedder(64)
    val texts = Corpus.texts(ctx)
    val bulk = Corpus.files(ctx.rng, texts, "doc", sz.bulkFiles)
    val batches = (0 until sz.uploads).map(u =>
      Corpus.files(ctx.rng, texts, f"upload$u%02d", sz.filesPerUpload))
    val bulkChunks = Corpus.expectedChunks(bulk)
    val uploadChunks = Corpus.expectedChunks(batches.flatten)
    val corpusDir = ctx.dir("corpus")
    Corpus.write(corpusDir, bulk)

    // set-up, five times: ingest a warm-up slice of the corpus into a
    // throwaway catalog; only `Ingest.run` is timed
    val warm = ctx.dir("warm")
    Corpus.write(warm, bulk.take(sz.warmFiles))
    val setups = (1 to 5).map { i =>
      val catalog = new VectorCatalog(ctx.spark, ctx.dir(s"warm-cat-$i").toString)
      Stats.timed(Ingest.run(ctx.spark, catalog, warm.toString, IndexName, embedder))._2
    }

    ctx.phase("set-up done")
    var attempted = 0L
    val bulkRates = Vector.newBuilder[Double]
    val uploadTimes = Vector.newBuilder[Double]
    var uploadJobs = 0
    var shapeBefore, shapeAfter = IndexShape(0, 0, 0)
    val t0 = System.currentTimeMillis()
    val rounds = math.max(1, ctx.args.seconds / RoundSeconds)
    for (round <- 0 until rounds) {
      // bulk loads into fresh catalogs; the uploads go to the last one
      val (catalog, index) = (1 to sz.bulkReps).map { rep =>
        val catalog = new VectorCatalog(ctx.spark, ctx.dir(s"catalog-$round-$rep").toString)
        attempted += 1
        val (index, bulkS) = Stats.timed(
          Ingest.run(ctx.spark, catalog, corpusDir.toString, IndexName, embedder))
        bulkRates += bulkChunks / bulkS
        val live = index.stats.totalVectorCount
        ctx.check("ingest.bulk_live_count", live == bulkChunks,
          s"round $round: bulk indexed $live chunks, expected $bulkChunks")
        (catalog, index)
      }.last
      if (ctx.args.trace && round == 0) shapeBefore = IndexShape.of(ctx, catalog, index.meta.name)

      val server = new GraftHttpServer(new GraftApi(ctx.spark, catalog, index, embedder),
        ctx.dir(s"landing-$round").toString)
      val http = new Http(server.start())
      try batches.foreach { files =>
        attempted += 1
        val w0 = System.currentTimeMillis()
        val (status, body, dt) = http.call("POST", "/api/v1/upload", http.uploadBody(files))
        if (ctx.args.trace && round == 0) {
          ctx.rec.settle()
          uploadJobs += ctx.rec.window(w0, System.currentTimeMillis()).jobs
        }
        val ok = status == 200 && body.path("success").asBoolean(false)
        ctx.check("ingest.upload_success", ok, s"round $round: upload returned $status $body")
        if (ok) uploadTimes += dt
      } finally server.stop()
      val after = index.stats.totalVectorCount
      ctx.check("ingest.upload_live_count", after == bulkChunks + uploadChunks,
        s"round $round: $after live chunks after uploads, expected ${bulkChunks + uploadChunks}")
      if (ctx.args.trace && round == 0) shapeAfter = IndexShape.of(ctx, catalog, index.meta.name)
    }
    val t1 = System.currentTimeMillis()
    val rates = bulkRates.result()
    val ups = uploadTimes.result()

    val layers =
      if (!ctx.args.trace) Map.empty[String, Double]
      else {
        val traced = tracedBulk(ctx, corpusDir, embedder)
        val untracedS = bulkChunks / Stats.median(rates)
        val newChunks = (shapeAfter.liveRows - shapeBefore.liveRows).toDouble
        val upsertRows = (shapeAfter.logRows - shapeBefore.logRows).toDouble
        traced ++ Map(
          "trace.overhead_frac" -> (traced("bulk_s") - untracedS) / untracedS,
          "api.upload_s" -> Stats.median(ups), "api.uploads" -> ups.size.toDouble,
          "api.upload_jobs" -> uploadJobs.toDouble / sz.uploads,
          "catalog.upsert_rows" -> upsertRows, "catalog.new_chunks" -> newChunks,
          "catalog.upsert_rows_per_new_chunk" -> upsertRows / math.max(1.0, newChunks),
          "catalog.log_rows" -> shapeAfter.logRows.toDouble,
          "catalog.live_rows" -> shapeAfter.liveRows.toDouble,
          "catalog.log_rows_per_live_row" -> shapeAfter.logRows.toDouble / shapeAfter.liveRows,
          "catalog.index_bytes" -> shapeAfter.bytes.toDouble,
          "catalog.index_bytes_per_chunk" -> shapeAfter.bytes.toDouble / shapeAfter.liveRows)
      }
    Outcome(
      attempted = attempted,
      e2e = Map(
        "setup_s" -> Stats.median(setups),
        "throughput_per_s" -> Stats.median(rates),
        "latency_p90_ms" -> Stats.quantile(ups, 0.9) * 1e3,
        "latency_geomean_ms" -> Stats.geomean(ups) * 1e3),
      layers = layers - "bulk_s",
      window = (t0, t1))
  }

  /** The bulk pipeline of `Ingest.ingestDf`, materialized stage by
    * stage (each persisted and counted), so that each layer's span is
    * its own work: read, chunk, embed, upsert.
    */
  private def tracedBulk(ctx: Ctx, corpus: Path, embedder: DeterministicEmbedder): Map[String, Double] = {
    val spark = ctx.spark
    val catalog = new VectorCatalog(spark, ctx.dir("catalog-traced").toString)
    def stage(name: String, layer: String)(df: => org.apache.spark.sql.DataFrame) =
      ctx.spans(name, layer) {
        val d = df.persist()
        (d, d.count())
      }
    var upsertJobs = 0
    var docCount, chunkCount = 0L
    val (_, bulkS) = Stats.timed {
      ctx.spans("Ingest.bulk", "bench") {
        val (docs, nDocs) = stage("Readers.documents", "ingest")(Readers.documents(spark, corpus.toString))
        val (chunks, nChunks) = stage("Chunker.chunk", "ingest")(
          new Chunker(500, 50).chunk(docs, "text").withColumnRenamed("chunk_text", "text"))
        val (embedded, _) = stage("EmbedOps.embedText", "embed")(EmbedOps.embedText(chunks, "text", embedder))
        val u0 = System.currentTimeMillis()
        ctx.spans("VectorIndex.upsert", "catalog") {
          val withIds = embedded
            .withColumn("id", Ingest.chunkId(col("source"), col("chunk_index"), col("text")))
            .dropDuplicates("id")
          VectorIndex.createOrConnect(spark, catalog, IndexMeta(IndexName, embedder.dimension))
            .upsert(withIds.select("id", "embedding", "text", "source", "chunk_index"))
        }
        ctx.rec.settle()
        upsertJobs = ctx.rec.window(u0, System.currentTimeMillis()).jobs
        Seq(docs, chunks, embedded).foreach(_.unpersist())
        docCount = nDocs
        chunkCount = nChunks
      }
    }
    def spanS(n: String) = ctx.spans.byName(n).map(_.durS).sum
    val embedS = spanS("EmbedOps.embedText")
    Map(
      "bulk_s" -> bulkS,
      "ingest.readers_s" -> spanS("Readers.documents"),
      "ingest.chunker_s" -> spanS("Chunker.chunk"),
      "ingest.docs" -> docCount.toDouble,
      "ingest.chunks" -> chunkCount.toDouble,
      "embed.embed_s" -> embedS,
      "embed.texts_per_s" -> chunkCount / embedS,
      "catalog.upsert_s" -> spanS("VectorIndex.upsert"),
      "catalog.upsert_jobs" -> upsertJobs.toDouble)
  }
}
