package graft.embed

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Distributed embedding over a DataFrame — the canonical
  * expensive-external-UDF pattern (SURVEY §2 E1): `mapPartitions` with
  * within-partition batching, so a provider that talks HTTP amortizes
  * calls exactly like the reference's 32-texts-per-request loop
  * (`app/core/embeddings.py:150-155`), and a local provider just streams.
  *
  * The embedder is shipped once per task via closure serialization; no
  * driver-side loops, no collect. [[embedBatches]] is the batching loop
  * itself, which an upload also runs on the driver over its own chunks.
  */
object EmbedOps {

  /** Texts per `embedder.embed` call: the reference's request size. */
  private val BatchSize = 32

  /** Append `outCol ARRAY<FLOAT>` computed from `textCol`. */
  def embedText(
      df: DataFrame,
      textCol: String,
      embedder: Embedder,
      outCol: String = "embedding",
      batchSize: Int = BatchSize
  ): DataFrame = {
    val schema = StructType(
      df.schema.fields :+ StructField(outCol, ArrayType(FloatType, containsNull = false)))
    val textIdx = df.schema.fieldIndex(textCol)
    val enc     = Encoders.row(schema)
    df.mapPartitions { rows =>
      embedBatches(rows, embedder, batchSize)(_.getString(textIdx)).map { case (row, vec) =>
        Row.fromSeq(row.toSeq :+ vec.toSeq)
      }
    }(enc)
  }

  /** Each item with the embedding of its text, one `embedder.embed` call
    * per `batchSize` items.
    */
  private[graft] def embedBatches[T](items: Iterator[T], embedder: Embedder,
      batchSize: Int = BatchSize)(text: T => String): Iterator[(T, Array[Float])] =
    items.grouped(batchSize).flatMap { batch =>
      // null text embeds as the empty string rather than NPE-ing the
      // executor task deep inside the provider
      val vecs = embedder.embed(batch.iterator.map(t => Option(text(t)).getOrElse(""))).toSeq
      batch.iterator.zip(vecs.iterator)
    }
}
