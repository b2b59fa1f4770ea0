package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{GraftApi, GraftHttpServer}
import graft.catalog.{VectorCatalog, VectorIndex}
import graft.embed.{DeterministicEmbedder, Embedder}
import graft.rag.{ExtractiveStubLlm, Ingest, LlmClient, Rag}
import org.apache.spark.sql.functions.col

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** `serve`: the read path. Set-up builds an index (a bulk `Ingest.run`
  * plus one upload, so the log holds more than one version, as a live
  * server's does) and starts an in-process `GraftHttpServer`. The load
  * is a closed loop of 4 client threads over a seeded request stream:
  * ~70 % `/query`, ~10 % `/query` with a `source` filter, ~15 % `/chat`
  * with 1-3 turns of history, ~5 % `/stats`. Catalog reads, RAG and the
  * API do the work here; nothing is ingested while it is measured.
  */
object ServeWorkload {
  private final case class Size(files: Int, uploadFiles: Int, warmRequests: Int, checkEvery: Int)

  private def size(ctx: Ctx) =
    if (ctx.args.tiny) Size(files = 24, uploadFiles = 4, warmRequests = 20, checkEvery = 1)
    else Size(files = 150, uploadFiles = 20, warmRequests = 20, checkEvery = 5)

  val Clients = 4
  val IndexName = "bench"

  /** One generated request. `filter` is the `source` a filtered query
    * must stay within.
    */
  final case class Req(kind: String, question: String, topK: Int,
      filter: Option[String], history: Seq[(String, String)]) {
    def path: String = kind match {
      case "chat"  => "/api/v1/chat"
      case "stats" => "/api/v1/stats"
      case _       => "/api/v1/query"
    }
    def body: java.util.Map[String, Object] = {
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("question", question)
      m.put("top_k", Int.box(topK))
      filter.foreach(s => m.put("filter", Map[String, Object]("source" -> s).asJava))
      if (history.nonEmpty) m.put("chat_history", history.map { case (q, a) =>
        Map[String, Object]("question" -> q, "answer" -> a).asJava
      }.asJava)
      m
    }
  }

  final case class Reply(req: Int, status: Int, body: JsonNode, latencyS: Double)

  /** Request kinds per block of 20: 70 % plain queries, 10 % filtered,
    * 15 % chat, 5 % stats. Drawing the stream block by block keeps the
    * mix the same in every run and every stretch of a run.
    */
  val Block: Seq[String] = Seq.fill(14)("query") ++ Seq.fill(2)("filtered") ++
    Seq.fill(3)("chat") ++ Seq("stats")

  /** The seeded request stream. Questions are 8-word spans of corpus
    * text; filtered queries ask within the file the span came from; a
    * chat carries the 1-3 previous questions as its history.
    */
  def requests(rng: scala.util.Random, files: Seq[(String, String)], sourceOf: String => String,
      n: Int): IndexedSeq[Req] = {
    val words = files.map { case (name, body) => name -> body.split("\\s+").filter(_.nonEmpty) }
      .filter(_._2.length >= 8).toIndexedSeq
    def span(): (String, String) = {
      val (name, ws) = words(rng.nextInt(words.size))
      val start = rng.nextInt(ws.length - 7)
      name -> ws.slice(start, start + 8).mkString(" ")
    }
    val asked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    Iterator.continually(rng.shuffle(Block)).flatten.take(n).map { kind =>
      val (file, q) = span()
      val topK = 1 + rng.nextInt(20)
      if (asked.isEmpty) asked += (span()._2 -> span()._2)
      val req = kind match {
        case "query"    => Req(kind, q, topK, None, Nil)
        case "filtered" => Req(kind, q, topK, Some(sourceOf(file)), Nil)
        case "chat"     => Req(kind, q, topK, None, asked.takeRight(1 + rng.nextInt(3)).toSeq)
        case _          => Req(kind, "", 0, None, Nil)
      }
      if (kind != "stats") asked += (q -> span()._2)
      req
    }.toIndexedSeq
  }

  /** The live index as this benchmark reads it from the parquet log:
    * newest `_version` per id.
    */
  final case class Row(id: String, vec: Array[Float], source: String)

  def snapshot(ctx: Ctx, catalog: VectorCatalog): IndexedSeq[Row] =
    ctx.spark.read.parquet(catalog.dataPath(IndexName))
      .select(col("id"), col("embedding"), col("source"), col("_version")).collect()
      .groupBy(_.getString(0)).values.map(_.maxBy(_.getLong(3))).map { r =>
        Row(r.getString(0), r.getSeq[Float](1).toArray, r.getString(2))
      }.toIndexedSeq

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) Double.NegativeInfinity else d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(x: Double): Double =
    if (x.isInfinite) x else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute-force cosine top-k over the snapshot: the reply must hold
    * exactly the top `k` by (score desc, id asc), up to score rounding.
    */
  def checkTopK(snap: IndexedSeq[Row], qvec: Array[Float], req: Req,
      docs: Seq[(String, Double)]): Option[String] = {
    val cands = snap.filter(r => req.filter.forall(_ == r.source))
      .map(r => r.id -> round6(cosine(qvec, r.vec))).toMap
    val want = math.min(req.topK, cands.size)
    val tol = 2e-6
    if (docs.size != want) return Some(s"${docs.size} docs, expected $want")
    docs.foreach { case (id, s) =>
      cands.get(id) match {
        case None => return Some(s"$id is not in the live index")
        case Some(t) if math.abs(t - s) > tol => return Some(s"$id scored $s, brute force $t")
        case _ => ()
      }
    }
    val ordered = docs.sliding(2).forall {
      case Seq((i1, s1), (i2, s2)) => s1 > s2 + tol || (math.abs(s1 - s2) <= tol && (s1 > s2 || i1 < i2))
      case _ => true
    }
    if (!ordered) return Some("docs not ordered by score desc, id asc")
    val last = if (docs.isEmpty) Double.PositiveInfinity else docs.last._2
    val returned = docs.map(_._1).toSet
    cands.collectFirst { case (id, s) if !returned.contains(id) && s > last + tol =>
      s"$id (brute force $s) beats the returned k-th score $last"
    }
  }

  /** Closed loop: `Clients` threads each send the next request of the
    * stream as soon as their previous reply arrives.
    */
  private def load(http: Http, reqs: IndexedSeq[Req], from: Int, stopNs: Long,
      limit: Int): Seq[Reply] = {
    val next = new AtomicInteger(from)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < from + limit && System.nanoTime() < stopNs) {
          val r = reqs(i % reqs.size)
          val (status, body, dt) =
            try {
              if (r.kind == "stats") http.call("GET", r.path) else http.call("POST", r.path, r.body)
            } catch { case e: Exception => (-1, http.mapper.createObjectNode().put("detail", e.toString), 0.0) }
          out.add(Reply(i, status, body, dt))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.req)
  }

  def run(ctx: Ctx): Outcome = {
    val sz = size(ctx)
    val spark = ctx.spark
    val embedder = new DeterministicEmbedder(64)
    val texts = Corpus.texts(ctx)
    val files = Corpus.files(ctx.rng, texts, "doc", sz.files)
    val upload = Corpus.files(ctx.rng, texts, "upload", sz.uploadFiles)
    val expectedLive = Corpus.expectedChunks(files ++ upload)
    val corpusDir = ctx.dir("corpus")
    Corpus.write(corpusDir, files)

    // set-up, three times: build the index into a fresh catalog; the
    // last one is served
    var catalog: VectorCatalog = null
    var index: VectorIndex = null
    val setups = (1 to 3).map { i =>
      Stats.timed {
        catalog = new VectorCatalog(spark, ctx.dir(s"catalog-$i").toString)
        index = Ingest.run(spark, catalog, corpusDir.toString, IndexName, embedder)
        new GraftApi(spark, catalog, index, embedder).upload(upload, ctx.dir(s"landing-$i").toString)
      }._2
    }
    ctx.phase("set-up done")
    val landing = ctx.dir("landing-3")
    val snap = snapshot(ctx, catalog)
    val sourceOf: String => String = {
      val bySuffix = snap.map(_.source).distinct.map(s => s.substring(s.lastIndexOf('/') + 1) -> s).toMap
      name => bySuffix(name)
    }
    val reqs = requests(ctx.rng, files ++ upload, sourceOf, 20000)

    ctx.check("serve.index_live_count", snap.size == expectedLive,
      s"index holds ${snap.size} live chunks, expected $expectedLive")

    // warm-up replies, measured replies, and the measured window (epoch ms)
    def measure(api: GraftApi, from: Int): (Seq[Reply], Seq[Reply], (Long, Long)) = {
      val server = new GraftHttpServer(api, landing.toString)
      val http = new Http(server.start())
      try {
        val warm = load(http, reqs, from, Long.MaxValue, sz.warmRequests) // untimed
        val w0 = System.currentTimeMillis()
        val replies = load(http, reqs, from + sz.warmRequests, System.nanoTime() + ctx.measureNs, reqs.size)
        (warm, replies, (w0, System.currentTimeMillis()))
      } finally server.stop()
    }

    val (warm, replies, window) = measure(new GraftApi(spark, catalog, index, embedder), 0)
    val wallS = (window._2 - window._1) / 1e3
    ctx.phase("measured loop done")

    // correctness of every reply; brute-force top-k on a seeded sample
    (warm ++ replies).foreach { rep =>
      val r = reqs(rep.req % reqs.size)
      ctx.check("serve.status_200", rep.status == 200,
        s"request ${rep.req} (${r.kind}): HTTP ${rep.status} ${rep.body}")
      if (rep.status != 200) ()
      else if (r.kind == "stats") {
        val n = rep.body.path("total_vector_count").asLong(-1)
        ctx.check("serve.stats_count", n == expectedLive,
          s"request ${rep.req}: stats count $n, expected $expectedLive")
      } else {
        val docs = rep.body.path("retrieved_docs").elements().asScala.toSeq
          .map(d => (d.path("id").asText, d.path("score").asDouble, d.path("source").asText))
        ctx.check("serve.top_k_bound", docs.nonEmpty && docs.size <= r.topK,
          s"request ${rep.req}: ${docs.size} docs for top_k ${r.topK}")
        r.filter.foreach { s =>
          ctx.check("serve.filter_source", docs.forall(_._3 == s),
            s"request ${rep.req}: doc outside filter source $s")
        }
        if (r.kind != "chat" && rep.req % sz.checkEvery == 0) {
          val err = checkTopK(snap, embedder.embedOne(r.question), r, docs.map(d => d._1 -> d._2))
          ctx.check("serve.brute_force_top_k", err.isEmpty, s"request ${rep.req}: ${err.getOrElse("")}")
        }
      }
    }

    val lat = replies.filter(rep => Set("query", "filtered", "chat")
      .contains(reqs(rep.req % reqs.size).kind)).map(_.latencyS * 1e3)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "throughput_per_s" -> replies.size / wallS,
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "latency_geomean_ms" -> Stats.geomean(lat))

    val layers =
      if (!ctx.args.trace) Map.empty[String, Double]
      else traced(ctx, catalog, index, landing, reqs, measure, Stats.median(lat), expectedLive, sz)
    Outcome((warm.size + replies.size).toLong, e2e, layers, window)
  }

  /** Embedder decorator: times each query embedding made while serving. */
  final class RecordingEmbedder(inner: Embedder, spans: Spans) extends Embedder {
    def dimension: Int = inner.dimension
    override def embedOne(text: String): Array[Float] =
      spans("Embedder.embedOne", "embed")(inner.embedOne(text))
    override def embed(texts: Iterator[String]): Iterator[Array[Float]] = inner.embed(texts)
  }

  /** LLM decorator: times each generation. */
  final class RecordingLlm(inner: LlmClient, spans: Spans) extends LlmClient {
    override def generate(prompt: String): String =
      spans("LlmClient.generate", "rag")(inner.generate(prompt))
  }

  /** Traced run: the same closed loop with recording decorators around
    * the embedder and LLM (its latency against the untraced loop is the
    * tracing overhead), then a single-client pass that splits sampled
    * `/query` requests into their layers by calling each public entry
    * point in turn.
    */
  private def traced(ctx: Ctx, catalog: VectorCatalog, index: VectorIndex,
      landing: java.nio.file.Path, reqs: IndexedSeq[Req],
      measure: (GraftApi, Int) => (Seq[Reply], Seq[Reply], (Long, Long)), untracedP50: Double,
      expectedLive: Long, sz: Size): Map[String, Double] = {
    val spark = ctx.spark
    val spans = ctx.spans
    val embedder = new RecordingEmbedder(new DeterministicEmbedder(64), spans)
    val llm = new RecordingLlm(new ExtractiveStubLlm, spans)
    val api = new GraftApi(spark, catalog, index, embedder, llm)
    val (_, tracedReplies, _) = measure(api, 10000)
    val tracedLat = tracedReplies.filter(r => reqs(r.req % reqs.size).kind != "stats").map(_.latencyS * 1e3)

    val rag = new Rag(spark, index, embedder, llm)
    val server = new GraftHttpServer(api, landing.toString)
    val http = new Http(server.start())
    val sample = reqs.indices.filter(i => reqs(i).kind == "query").take(if (ctx.args.tiny) 4 else 12)
    val t = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = t(k) = t(k) + v
    try sample.zipWithIndex.foreach { case (i, n) =>
      val r = reqs(i)
      spans.request(n) {
        add("http", spans("POST /api/v1/query", "api")(http.call("POST", r.path, r.body))._3)
        add("api", Stats.timed(spans("GraftApi.query", "api")(api.query(r.question, r.topK)))._2)
        val (retrieved, retrieveS) = Stats.timed(spans("Rag.retrieve", "rag")(rag.retrieve(r.question, r.topK)))
        add("retrieve", retrieveS)
        val qvec = embedder.embedOne(r.question).toSeq
        val k0 = System.currentTimeMillis()
        val (docs, knnS) = Stats.timed(spans("VectorIndex.knn", "catalog")(index.knn(qvec, r.topK).collect()))
        ctx.rec.settle()
        val c = ctx.rec.window(k0, System.currentTimeMillis())
        add("knn", knnS); add("knn_jobs", c.jobs); add("knn_shuffle", (c.shuffleWrite + c.shuffleRead).toDouble)
        add("scan_rows", c.inputRows.toDouble); add("results", docs.length.toDouble)
        add("format", Stats.timed(spans("Rag.formatContext", "rag")(
          rag.prompt(rag.formatContext(retrieved), r.question)))._2)
        if (n % 4 == 0) add("stats", Stats.timed(spans("VectorIndex.stats", "catalog")(index.stats))._2)
      }
    } finally server.stop()

    val n = sample.size.toDouble
    def meanMs(name: String) = {
      val xs = spans.byName(name)
      if (xs.isEmpty) 0.0 else xs.map(_.durS).sum / xs.size * 1e3
    }
    val shape = IndexShape.of(ctx, catalog, IndexName)
    Map(
      "trace.overhead_frac" -> (Stats.median(tracedLat) - untracedP50) / untracedP50,
      "api.http_ms" -> t("http") / n * 1e3, "api.query_ms" -> t("api") / n * 1e3,
      "api.http_overhead_ms" -> (t("http") - t("api")) / n * 1e3,
      "rag.retrieve_ms" -> t("retrieve") / n * 1e3, "rag.format_ms" -> t("format") / n * 1e3,
      "rag.llm_ms" -> meanMs("LlmClient.generate"),
      "embed.query_embed_ms" -> meanMs("Embedder.embedOne"),
      "catalog.knn_ms" -> t("knn") / n * 1e3, "catalog.knn_calls" -> n,
      "catalog.knn_jobs" -> t("knn_jobs") / n,
      "catalog.knn_shuffle_bytes" -> t("knn_shuffle") / n,
      "catalog.scan_rows" -> t("scan_rows"), "catalog.results" -> t("results"),
      "catalog.scan_rows_per_result" -> t("scan_rows") / math.max(1.0, t("results")),
      "catalog.stats_ms" -> t("stats") / math.ceil(n / 4) * 1e3,
      "catalog.log_rows" -> shape.logRows.toDouble, "catalog.live_rows" -> shape.liveRows.toDouble,
      "catalog.log_rows_per_live_row" -> shape.logRows.toDouble / shape.liveRows,
      "catalog.index_bytes" -> shape.bytes.toDouble,
      "catalog.index_bytes_per_chunk" -> shape.bytes.toDouble / expectedLive)
  }
}
