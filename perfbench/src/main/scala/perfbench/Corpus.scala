package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.catalog.VectorCatalog
import graft.ingest.Chunker
import org.apache.spark.sql.functions.col

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Seeded text corpora built from the fixture `documents` table: each
  * file joins `TextsPerFile` sampled texts with blank lines between
  * them, so the chunker sees paragraph structure.
  */
object Corpus {
  val TextsPerFile = 10

  /** The fixture texts, in table order. */
  def texts(ctx: Ctx): IndexedSeq[String] = {
    val sf = if (ctx.args.tiny) "sf0.001" else "sf0.1"
    ctx.spark.read.parquet(s"${ctx.args.testdata}/$sf/documents.parquet")
      .where(col("text").isNotNull).select("text").collect()
      .map(_.getString(0)).toIndexedSeq
  }

  /** `n` file bodies drawn with `rng`. */
  def files(rng: scala.util.Random, texts: IndexedSeq[String], prefix: String,
      n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      f"$prefix-$i%05d.txt" ->
        Seq.fill(TextsPerFile)(texts(rng.nextInt(texts.size))).mkString("\n\n")
    }

  def write(dir: Path, files: Seq[(String, String)]): Unit = {
    Files.createDirectories(dir)
    files.foreach { case (name, body) =>
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Chunks the ingest pipeline should index for these files: the
    * 500/50 splitter's output, non-empty, counted per file.
    */
  def expectedChunks(files: Seq[(String, String)]): Long = {
    val chunker = new Chunker(500, 50)
    files.map { case (_, body) => chunker.split(body).count(_.nonEmpty).toLong }.sum
  }
}

/** Sizes of an index's merge-on-read log, read from its files. */
final case class IndexShape(logRows: Long, liveRows: Long, bytes: Long)

object IndexShape {
  def of(ctx: Ctx, catalog: VectorCatalog, name: String): IndexShape = {
    val dir = java.nio.file.Paths.get(catalog.dataPath(name))
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val df = ctx.spark.read.parquet(dir.toString)
    IndexShape(df.count(), df.select("id").distinct().count(),
      parts.map(Files.size).sum)
  }
}

/** A JSON-over-HTTP client on the JDK `HttpClient`. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  val mapper = new ObjectMapper()

  /** Status, parsed body and latency in seconds. */
  def call(method: String, path: String, body: Any = null)
      : (Int, com.fasterxml.jackson.databind.JsonNode, Double) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req =
      if (method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body))).build()
    val t0 = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    val dt = (System.nanoTime() - t0) / 1e9
    (resp.statusCode(), mapper.readTree(resp.body()), dt)
  }

  def uploadBody(files: Seq[(String, String)]): java.util.Map[String, Object] =
    Map[String, Object]("files" -> files.map { case (n, c) =>
      Map[String, Object]("name" -> n, "content" -> c).asJava
    }.asJava).asJava
}
