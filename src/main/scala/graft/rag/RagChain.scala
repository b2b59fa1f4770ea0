package graft.rag

import graft.Tables
import graft.embed.{DeterministicEmbedder, EmbedOps, Embedder}
import graft.functions.VectorFunctions._
import graft.ingest.Chunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RAG orchestration (reference `app/rag/chain.py:71-154`): retrieval →
  * context assembly → generation, with pluggable embedder and LLM client
  * (deterministic offline defaults). The retrieval step is one lazy
  * DataFrame plan: scan → [filter] → cosine score → TakeOrderedAndProject.
  */
object RagChain {

  val DefaultQuestion = "spark filter join window aggregate query"

  /** Flagship end-to-end pipeline on the documents fixture: chunk (the
    * reference's 500/50 recursive splitter) → deterministic embed →
    * reference id scheme → top-5 cosine retrieval for a fixed question.
    * This is POST /api/v1/query (`app/api/routes.py:189-214`) as a single
    * Spark plan.
    */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.util.Scans.fanOut(Tables.documents(spark, sfDir), col("doc_id"))
    val chunked = new Chunker(500, 50).chunk(docs, "text")
    val embedder = new DeterministicEmbedder(64)
    // Batch embed via the canonical mapPartitions path (E1) — the same
    // plumbing an HTTP provider uses, and no per-row ScalaUDF in the plan.
    val indexed = EmbedOps.embedText(chunked, "chunk_text", embedder)
      .withColumn("id",
        concat(lit("doc_"), col("doc_id"), lit("_"),
          substring(md5(col("chunk_text")), 1, 8)))
    val qvec: Seq[Float] = embedder.embedOne(DefaultQuestion).toSeq
    indexed
      .select(col("id"), col("source"), col("chunk_text"),
        round(cosineSimilarity(col("embedding"), typedlit(qvec)), 6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(5)
  }
}
