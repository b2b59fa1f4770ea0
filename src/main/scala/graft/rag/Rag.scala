package graft.rag

import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.{EmbedOps, Embedder}
import graft.ingest.{Chunker, Readers}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** Pluggable generation client (reference `app/rag/chain.py:39-44`:
  * ChatOpenAI, temperature 0.7, max_tokens 500). Offline default is a
  * deterministic extractive stub so correctness tests never need a
  * network.
  */
trait LlmClient extends Serializable {
  def generate(prompt: String): String
}

/** Deterministic extractive "LLM": answers with the highest-relevance
  * retrieved passage. Stands in for the OpenAI call (chain.py:99-104).
  */
final class ExtractiveStubLlm extends LlmClient {
  override def generate(prompt: String): String = {
    // prompt layout is Rag.prompt(context, question); extract the first
    // document body from the context block
    val lines = prompt.linesIterator.toSeq
    val body  = lines.dropWhile(l => !l.startsWith("[Document 1]")).drop(1)
      .takeWhile(l => l.nonEmpty && !l.startsWith("[Document"))
    if (body.isEmpty) "I don't know." else body.mkString(" ")
  }
}

final case class RetrievedDoc(id: String, score: Double, text: String, source: String)

/** The reference's QueryResponse shape (`app/api/routes.py:34-39`):
  * answer + deduped sources + truncated retrieved docs.
  */
final case class RagAnswer(
    question: String,
    answer: String,
    sources: Seq[String],
    retrieved: Seq[RetrievedDoc]
)

/** End-to-end RAG engine (reference `app/rag/chain.py:71-154` +
  * `app/rag/retriever.py:35-95`), Spark-first: retrieval is one job over
  * the index's materialized live snapshot — per partition a fused
  * filter, cosine score and bounded top-k heap, merged on the driver (see
  * [[graft.catalog.VectorIndex]]); only the ≤20 result rows ever reach
  * the driver, and they are read as rows, with no Dataset around them.
  */
final class Rag(
    spark: SparkSession,
    index: VectorIndex,
    embedder: Embedder,
    llm: LlmClient = new ExtractiveStubLlm,
    defaultTopK: Int = 5
) {
  require(embedder.dimension == index.meta.dimension,
    "embedder/index dimension mismatch")

  // metadata columns are optional on the index schema (VectorIndex only
  // contracts id + embedding) — getAs on a missing field throws, so
  // check the schema, not just the value
  private def rowToDoc(r: org.apache.spark.sql.Row, id: String, score: Double): RetrievedDoc = {
    def opt(name: String, default: String): String =
      if (r.schema.fieldNames.contains(name))
        Option(r.getAs[String](name)).getOrElse(default)
      else default
    RetrievedDoc(id, score, opt("text", ""), opt("source", "unknown"))
  }

  /** Retrieve top-k chunks (`retriever.py:35-73`). */
  def retrieve(question: String, topK: Int = defaultTopK,
      filter: Option[Column] = None): Seq[RetrievedDoc] = {
    require(topK >= 1 && topK <= 20, "top_k must be in [1, 20]") // routes.py:31
    val qvec = embedder.embedOne(question).toSeq
    index.knnRows(qvec, topK, filter).map { r =>
      rowToDoc(r,
        r.getAs[String]("id"),
        Option(r.getAs[Any]("score")).fold(0.0)(_.asInstanceOf[Double]))
    }
  }

  /** MMR-diversified retrieve (beyond the reference, which only offers
    * plain similarity): the exact top-`poolSize` by query similarity is
    * [[retrieve]]'s one fused job ([[VectorIndex.knnRows]]) less the
    * rows that score NULL (zero vectors), then the greedy
    * maximal-marginal-relevance pick to `topK` runs on the driver through
    * [[graft.operators.Knn.mmrPick]], the kernel of `Knn.mmrRerank`.
    * Results keep MMR pick order and carry their rows' metadata.
    */
  def retrieveMmr(question: String, topK: Int = defaultTopK,
      poolSize: Int = 50, lambda: Double = 0.5): Seq[RetrievedDoc] = {
    require(topK >= 1 && topK <= 20, "top_k must be in [1, 20]")
    require(poolSize >= topK, s"need top_k <= poolSize, got top_k=$topK pool=$poolSize")
    val qvec = embedder.embedOne(question).toSeq
    val pool = index.knnRows(qvec, poolSize).toIndexedSeq
      .filterNot(r => r.isNullAt(r.fieldIndex("score")))
    val vectors = pool.map(r =>
      (r.getAs[scala.collection.Seq[Float]]("embedding").toArray, r.getAs[Double]("score")))
    graft.operators.Knn.mmrPick(vectors, topK, lambda).map { case (at, _) =>
      rowToDoc(pool(at), pool(at).getAs[String]("id"), vectors(at)._2)
    }
  }

  /** Context block (`retriever.py:75-95`):
    * "[Document i] (Source: s, Relevance: x.xxx)\ntext" joined by newlines.
    */
  def formatContext(docs: Seq[RetrievedDoc]): String =
    docs.zipWithIndex.map { case (d, i) =>
      f"[Document ${i + 1}] (Source: ${d.source}, Relevance: ${d.score}%.3f)%n${d.text}%n"
    }.mkString("\n")

  /** System+human prompt (`chain.py:47-60`). */
  def prompt(context: String, question: String): String =
    s"""You are a helpful financial analyst assistant. Answer based on the context.
       |
       |Context:
       |$context
       |
       |Question: $question
       |Answer:""".stripMargin

  /** Full invoke (`chain.py:71-124`): retrieve → empty guard → format →
    * generate → dedup sources → truncate texts.
    */
  def invoke(question: String, topK: Int = defaultTopK,
      filter: Option[Column] = None): RagAnswer = {
    val docs = retrieve(question, topK, filter)
    if (docs.isEmpty) {
      // chain.py:87-94 short-circuit
      return RagAnswer(question,
        "I couldn't find any relevant documents to answer your question.",
        Seq.empty, Seq.empty)
    }
    val answer  = llm.generate(prompt(formatContext(docs), question))
    val sources = docs.map(_.source).distinct // chain.py:107
    val truncated = docs.map(d =>
      d.copy(text = if (d.text.length > 200) d.text.take(200) + "..." else d.text)) // chain.py:113-121
    RagAnswer(question, answer, sources, truncated)
  }

  /** Conversational invoke (`chain.py:126-154`): last 3 turns flattened
    * to "Q/A" text and prefixed to the question before embedding.
    */
  def invokeWithHistory(question: String,
      history: Seq[(String, String)], topK: Int = defaultTopK): RagAnswer = {
    val recent = history.takeRight(3) // chain.py:147
    if (recent.isEmpty) invoke(question, topK)
    else {
      val ctx = recent.map { case (q, a) => s"Q: $q\nA: $a" }.mkString("\n")
      invoke(s"Previous conversation:\n$ctx\n\nCurrent question: $question", topK)
        .copy(question = question)
    }
  }
}

/** Batch ingestion job (reference `scripts/ingest_documents.py:108-233`):
  * scan → chunk → embed → id/metadata → upsert. Two paths run it:
  *  - [[Ingest.upsertDocs]], one Spark pipeline over a DataFrame of
  *    documents, shared by the batch entry points and every micro-batch
  *    of [[graft.streaming.StreamingIngest]];
  *  - [[Ingest.upsertFiles]], the request path of an upload, which parses,
  *    chunks and embeds a request's files on the driver and writes one
  *    local frame.
  * They share the document selection and `source` strings
  * ([[graft.ingest.Readers]]), the chunker kernel (`Chunker.split`, which
  * `ChunkSplitExpr` evaluates), the embedding batches
  * (`EmbedOps.embedBatches`), the id column and the row layout, so the
  * same files give the same index rows either way.
  */
object Ingest {

  /** Deterministic, collision-free chunk id — shaped like the reference's
    * `doc_{i}_{md5[:8]}` (ingest_documents.py:93-105) but safe at scale:
    *  - the reference's global enumeration is serial (anti-scale);
    *  - hashing the two fields SEPARATELY before the outer hash removes
    *    delimiter ambiguity (source="a|b",text="c" vs source="a",
    *    text="b|c" must not collide — file paths can contain any char);
    *  - 16 hex chars (64 bits) keeps birthday collisions negligible.
    * Minted only in [[withId]], which both ingest paths call, so their id
    * spaces never fork.
    */
  def chunkId(source: org.apache.spark.sql.Column,
      chunkIndex: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("doc_"), chunkIndex, lit("_"),
      substring(md5(concat(md5(source), md5(text))), 1, 16))

  /** Ingest a directory of txt/pdf files into `indexBase`, negotiating
    * the index name by dimension like the reference (suffix on
    * mismatch, `ingest_documents.py:175-195`).
    */
  def run(
      spark: SparkSession,
      catalog: VectorCatalog,
      dataDir: String,
      indexBase: String,
      embedder: Embedder,
      chunkSize: Int = 500,
      chunkOverlap: Int = 50
  ): VectorIndex = {
    val docs = Readers.documents(spark, dataDir)
    ingestDf(spark, catalog, docs, indexBase, embedder, chunkSize, chunkOverlap)
  }

  /** Same pipeline over an arbitrary `(text, source)` DataFrame. */
  def ingestDf(
      spark: SparkSession,
      catalog: VectorCatalog,
      docs: DataFrame,
      indexBase: String,
      embedder: Embedder,
      chunkSize: Int = 500,
      chunkOverlap: Int = 50
  ): VectorIndex = {
    val index = connect(spark, catalog, indexBase, embedder)
    upsertDocs(docs, index, embedder, new Chunker(chunkSize, chunkOverlap))
    index
  }

  private def connect(spark: SparkSession, catalog: VectorCatalog,
      indexBase: String, embedder: Embedder): VectorIndex = {
    val name = catalog.resolveForDimension(indexBase, embedder.dimension)
    VectorIndex.createOrConnect(spark, catalog, IndexMeta(name, embedder.dimension))
  }

  /** The ingest pipeline, `(text, source)` docs → chunk → embed → id →
    * id dedup → upsert into `index`; returns the rows written. */
  private[graft] def upsertDocs(
      docs: DataFrame, index: VectorIndex, embedder: Embedder,
      chunker: Chunker): Long = {
    val chunked = chunker.chunk(docs, "text").withColumnRenamed("chunk_text", "text")
    index.upsert(withId(EmbedOps.embedText(chunked, "text", embedder)).dropDuplicates("id"))
  }

  /** The request path: [[upsertDocs]]' pipeline over a request's files,
    * `(path, bytes)` as the landing dir holds them, at the default chunk
    * size, run on the driver into `index`, the caller's handle (its
    * dimension is the one checked; no name is resolved). The bytes are
    * parsed with `Readers.localDocuments` (the files are not read back),
    * chunked with `Chunker.split` and embedded in batches here; repeated
    * `(source, chunk_index, text)` triples — two identical PDF pages —
    * are dropped before embedding, which is the id dedup without its
    * shuffle. One Spark job at most: the probe of the log for the
    * request's ids. The rows are a local frame, which `upsert` writes on
    * the driver as one part file. Returns the chunks newly live in the
    * index, the request's ids less those the log already held.
    */
  private[graft] def upsertFiles(
      spark: SparkSession,
      files: Seq[(String, Array[Byte])],
      index: VectorIndex,
      embedder: Embedder
  ): Long = {
    val chunker = new Chunker()
    val chunks = Readers.localDocuments(spark, files).flatMap { case (text, source) =>
      chunker.split(text).zipWithIndex.map { case (chunk, i) => (chunk, source, i) }
    }.distinct
    if (chunks.isEmpty) 0L
    else {
      val rows = EmbedOps.embedBatches(chunks.iterator, embedder)(_._1).map {
        case ((text, source, i), vec) => Row(text, source, i, ArraySeq.unsafeWrapArray(vec))
      }.toSeq
      val withIds = withId(spark.createDataFrame(rows.asJava, LocalChunks))
      // over a local relation the optimizer computes the ids: no job
      val ids   = withIds.select("id").collect().map(_.getString(0)).toSet
      val known = index.liveAmong(ids)
      index.upsert(withIds)
      (ids -- known).size.toLong
    }
  }

  /** [[upsertDocs]]' chunk rows before the id, as its plan declares them:
    * a chunk is never null, the scans' `source` may be.
    */
  private val LocalChunks = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("source", StringType),
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** The id, and the columns of an index row. */
  private def withId(chunks: DataFrame): DataFrame =
    chunks.withColumn("id", chunkId(col("source"), col("chunk_index"), col("text")))
      .select("id", "embedding", "text", "source", "chunk_index")
}
