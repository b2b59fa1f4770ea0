package graft.api

import graft.catalog.{IndexStats, VectorCatalog, VectorIndex}
import graft.embed.Embedder
import graft.query.FilterDict
import graft.rag.{Ingest, LlmClient, Rag, RagAnswer}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Library mirror of the reference's 5 HTTP endpoints
  * (`app/api/routes.py:178-334`, `app/main.py:76-89`). The HTTP layer
  * itself is deliberately out of scope (any server can wrap these five
  * methods); the engine semantics live here. Every endpoint reads and
  * writes through `index`; `catalog` is the catalog that holds it.
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

  /** [[uploadBytes]] of text files, each encoded as UTF-8. */
  def upload(files: Seq[(String, String)], landingDir: String): UploadResponse =
    uploadBytes(files.map { case (name, text) => name -> text.getBytes(UTF_8) }, landingDir)

  /** POST /api/v1/upload (`routes.py:314-334`): write the files' bytes
    * to a landing dir and ingest those same bytes into the index, so a
    * binary PDF arrives intact. (The reference crashes here on a missing
    * import — behavior reimplemented from intent, bug not replicated;
    * SURVEY §4 "known reference bugs".)
    *
    * Only this request's files are ingested — with the `*.txt` / `*.pdf`
    * selection of a directory ingest, and the same `source` and chunk
    * ids — so each upload appends just its own chunks to the index's
    * log. A file left in the landing dir by an earlier failed upload is
    * therefore not picked up by the next one; upload it again.
    *
    * The request's files are already in this process, so they are
    * ingested on the driver (`Ingest.upsertFiles`) into this API's index
    * handle: parsing, chunking, the embedder and the write of one part
    * file all run here, not on executors. An upload is at most one Spark
    * job with no shuffle — a probe of the log for the request's chunk
    * ids — and never counts the index. `chunksIndexed` is the number of
    * chunks newly live: the request's distinct chunk ids that the log
    * did not hold, so re-uploading the same files reports 0. A name sent
    * twice in one request is ingested once, as its last copy (the one
    * on disk).
    */
  def uploadBytes(files: Seq[(String, Array[Byte])], landingDir: String): UploadResponse = {
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    val written = files.map { case (name, bytes) =>
      require(!name.contains("/") && !name.contains(".."), s"unsafe filename $name")
      Files.write(dir.resolve(name), bytes).toString -> bytes
    }
    val last = written.toMap
    if (written.isEmpty) UploadResponse(0, 0L)
    else UploadResponse(files.size, Ingest.upsertFiles(spark,
      written.map(_._1).distinct.map(p => p -> last(p)), index, embedder))
  }
}
