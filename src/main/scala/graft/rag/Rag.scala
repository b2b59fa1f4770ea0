package graft.rag

import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.{EmbedOps, Embedder}
import graft.ingest.{Chunker, Readers}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

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
  * the index's materialized live snapshot — filter, then per partition a
  * fused cosine score and bounded top-k heap, merged on the driver (see
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
    * plain similarity): exact top-`poolSize` candidate pool, greedy
    * maximal-marginal-relevance rerank to `topK` via [[graft.operators
    * .Knn.mmrRerank]]. Results keep MMR pick order.
    */
  def retrieveMmr(question: String, topK: Int = defaultTopK,
      poolSize: Int = 50, lambda: Double = 0.5): Seq[RetrievedDoc] = {
    require(topK >= 1 && topK <= 20, "top_k must be in [1, 20]")
    val qvec = embedder.embedOne(question).toSeq
    val snap = index.read
    val picked = graft.operators.Knn
      .mmrRerank(snap, "id", "embedding", qvec, topK, poolSize, lambda)
      .collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Double]("score"),
        r.getAs[Int]("rank")))
    if (picked.isEmpty) return Seq.empty
    val meta = snap
      .filter(org.apache.spark.sql.functions.col("id")
        .isin(picked.map(_._1).toSeq: _*))
      .collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    picked.sortBy(_._3).toSeq.map { case (id, score, _) =>
      rowToDoc(meta(id), id, score)
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
  * scan → chunk → embed → id/metadata → upsert, as one Spark pipeline.
  */
object Ingest {

  /** Deterministic, collision-free chunk id — shaped like the reference's
    * `doc_{i}_{md5[:8]}` (ingest_documents.py:93-105) but safe at scale:
    *  - the reference's global enumeration is serial (anti-scale);
    *  - hashing the two fields SEPARATELY before the outer hash removes
    *    delimiter ambiguity (source="a|b",text="c" vs source="a",
    *    text="b|c" must not collide — file paths can contain any char);
    *  - 16 hex chars (64 bits) keeps birthday collisions negligible.
    * Shared by the batch and streaming ingest paths so their id spaces
    * never fork.
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
    val chunked = new Chunker(chunkSize, chunkOverlap).chunk(docs, "text")
      .withColumnRenamed("chunk_text", "text")
    val embedded = EmbedOps.embedText(chunked, "text", embedder)
    val withIds = embedded
      .withColumn("id",
        Ingest.chunkId(col("source"), col("chunk_index"), col("text")))
      .dropDuplicates("id")
    val name  = catalog.resolveForDimension(indexBase, embedder.dimension)
    val index = VectorIndex.createOrConnect(spark, catalog,
      IndexMeta(name, embedder.dimension))
    index.upsert(withIds.select("id", "embedding", "text", "source", "chunk_index"))
    index
  }
}
