package graft.api

import graft.catalog.{IndexStats, VectorCatalog, VectorIndex}
import graft.embed.Embedder
import graft.ingest.Readers
import graft.query.FilterDict
import graft.rag.{Ingest, LlmClient, Rag, RagAnswer}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Library mirror of the reference's 5 HTTP endpoints
  * (`app/api/routes.py:178-334`, `app/main.py:76-89`). The HTTP layer
  * itself is deliberately out of scope (any server can wrap these five
  * methods); the engine semantics live here.
  */
final case class HealthResponse(status: String, indexReady: Boolean, vectorCount: Long)
final case class UploadResponse(filesReceived: Int, chunksIndexed: Long)

final class GraftApi(
    spark: SparkSession,
    catalog: VectorCatalog,
    index: VectorIndex,
    embedder: Embedder,
    llm: LlmClient = new graft.rag.ExtractiveStubLlm
) {
  private val rag = new Rag(spark, index, embedder, llm)

  /** GET /api/v1/health (`routes.py:178-186`). */
  def health: HealthResponse = {
    val stats = index.stats
    HealthResponse("healthy", stats.totalVectorCount > 0, stats.totalVectorCount)
  }

  /** POST /api/v1/query (`routes.py:189-221`): question + top_k +
    * optional Pinecone-style filter dict.
    */
  def query(question: String, topK: Int = 5,
      filter: Option[Map[String, Any]] = None): RagAnswer = {
    require(question.trim.nonEmpty, "question must be non-empty") // routes.py:50-52
    rag.invoke(question, topK, filter.map(FilterDict.toColumn))
  }

  /** POST /api/v1/chat (`routes.py:224-263`): history as (q, a) pairs. */
  def chat(question: String, history: Seq[(String, String)],
      topK: Int = 5): RagAnswer = {
    require(question.trim.nonEmpty, "question must be non-empty")
    rag.invokeWithHistory(question, history, topK)
  }

  /** GET /api/v1/stats (`routes.py:266-311`). */
  def stats: IndexStats = index.stats

  /** POST /api/v1/upload (`routes.py:314-334`): save payloads to a
    * landing dir and ingest them into the index. (The reference crashes
    * here on a missing import — behavior reimplemented from intent, bug
    * not replicated; SURVEY §4 "known reference bugs".)
    *
    * Only this request's files are read — with the `*.txt` / `*.pdf`
    * selection of a directory ingest, and the same `source` and chunk
    * ids — so each upload appends just its own chunks to the index's
    * log. A file left in the landing dir by an earlier failed upload is
    * therefore not picked up by the next one; upload it again.
    */
  def upload(files: Seq[(String, String)], landingDir: String): UploadResponse = {
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val written = files.map { case (name, content) =>
      require(!name.contains("/") && !name.contains(".."), s"unsafe filename $name")
      Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8)).toString
    }.distinct
    if (written.isEmpty) UploadResponse(0, 0L)
    else {
      val before = index.stats.totalVectorCount
      Ingest.ingestDf(spark, catalog, Readers.documents(spark, written),
        index.meta.name, embedder)
      UploadResponse(files.size, index.stats.totalVectorCount - before)
    }
  }
}
