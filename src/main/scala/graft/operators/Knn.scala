package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Exact top-k similarity search — the reference's one real query operator
  * (Pinecone `index.query`, `app/services/pinecone_service.py:148-182`),
  * re-expressed as declarative DataFrame plans.
  *
  * Scale design:
  *  - Single query: score every row (whole-stage codegen'd cosine) then
  *    `orderBy(desc).limit(k)` — Catalyst plans `TakeOrderedAndProject`,
  *    a per-partition heap + driver merge; no global sort, no shuffle of
  *    the corpus. Linear scan parallelizes perfectly across 1000 executors.
  *  - Batched queries: broadcast the (small) query set against the corpus
  *    — the corpus never shuffles; per-(query, row) scores are reduced by
  *    a window top-k partitioned by query id. For very large query sets,
  *    swap broadcast for a bucketed co-partitioned join.
  *  - Metadata filters are plain `Column` predicates applied *before*
  *    scoring, so Catalyst pushes them into the parquet scan
  *    (`PushedFilters`) — the analog of Pinecone's filter pushdown
  *    (`pinecone_service.py:152,174`).
  */
object Knn {

  /** Top-k rows of `corpus` most cosine-similar to the single literal
    * query vector. Ties broken by `idCol` ascending; score rounded to
    * `scale` decimals for deterministic cross-engine comparison (pass -1
    * to skip rounding).
    */
  def topK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Float],
      k: Int,
      filter: Option[Column] = None,
      scale: Int = 6
  ): DataFrame = {
    val base   = filter.map(corpus.filter).getOrElse(corpus)
    val rawSim = cosineSimilarity(col(vecCol), typedlit(queryVec))
    val score  = if (scale >= 0) round(rawSim, scale) else rawSim
    base
      .select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Maximal-marginal-relevance reranking (the standard retriever
    * diversifier): greedily pick k results maximizing
    * `lambda * sim(q, d) - (1 - lambda) * max_{s in picked} sim(d, s)`.
    * The candidate pool is the exact top-`poolSize` by query similarity
    * (distributed scan, [[topK]]-style); the greedy selection over the
    * pool is [[mmrPick]], on the driver. Returns `(idCol, score, mmr,
    * rank)` in pick order.
    */
  def mmrRerank(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Float],
      k: Int,
      poolSize: Int = 50,
      lambda: Double = 0.5
  ): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need 1 <= k <= poolSize, got k=$k pool=$poolSize")
    val spark = corpus.sparkSession
    // id stays whatever type the caller's column is (every other Knn
    // operator is id-type agnostic); null vectors can't be scored
    val pool = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol),
        round(cosineSimilarity(col(vecCol), typedlit(queryVec)), 6).as("score"))
      // zero-norm vectors score NULL (cosine contract) — unscorable,
      // so they can't join the pool
      .filter(col("score").isNotNull)
      .orderBy(col("score").desc, col(idCol))
      .limit(poolSize)
      .collect()
    val picked = mmrPick(
      pool.map(r => (r.getAs[scala.collection.Seq[Float]](1).toArray, r.getDouble(2))),
      k, lambda)
    val outSchema = StructType(Seq(corpus.schema(idCol).copy(name = idCol),
      StructField("score", DoubleType, nullable = false),
      StructField("mmr", DoubleType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    val rows = picked.zipWithIndex.map { case ((at, m), i) =>
      Row(pool(at).get(0), pool(at).getDouble(2),
        BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1)
    }
    spark.createDataFrame(rows.asJava, outSchema)
  }

  /** The greedy MMR selection behind [[mmrRerank]] and
    * `Rag.retrieveMmr`, over a candidate pool of `(vector, score)` in
    * pool order (score desc, id asc), every score non-null. The pool is
    * tiny (poolSize <= ~100, like the reference's k <= 20 driver-side
    * results) and the pick inherently sequential, so it runs on the
    * driver. Deterministic: an MMR tie resolves to the earlier pool
    * entry, so no Ordering on the id type is needed. Returns the picked
    * pool positions with their MMR values, in pick order.
    */
  def mmrPick(pool: scala.collection.IndexedSeq[(Array[Float], Double)], k: Int,
      lambda: Double): Seq[(Int, Double)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val picked    = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.from(pool.indices)
    while (picked.length < k && remaining.nonEmpty) {
      // strict > keeps the first-seen candidate on MMR ties, and
      // `remaining` preserves pool order
      var bestIdx = -1
      var bestMmr = Double.NegativeInfinity
      var i = 0
      while (i < remaining.length) {
        val (v, s) = pool(remaining(i))
        val redundancy =
          if (picked.isEmpty) 0.0 else picked.iterator.map(p => cos(v, pool(p._1)._1)).max
        val m = lambda * s - (1.0 - lambda) * redundancy
        if (m > bestMmr) { bestMmr = m; bestIdx = i }
        i += 1
      }
      picked += ((remaining.remove(bestIdx), bestMmr))
    }
    picked.toSeq
  }

  /** Top-k per query for a query set `(queryIdCol, queryVecCol)`.
    * The query side is broadcast (the corpus never shuffles); the
    * heavy n×queries reduction runs through the custom [[graft.plans
    * .TopK]] operator — per-partition bounded heaps, so the shuffle
    * carries at most partitions × queries × k scored rows, and the rank
    * window only ever sees the ≤ queries × k survivors. Deterministic
    * (score desc, id asc) order. Returns `(queryIdCol, idCol, score, rn)`.
    */
  def topKBatch(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queriesDf: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      excludeSelf: Boolean = true,
      scale: Int = 6
  ): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queriesDf))
    val kept =
      if (excludeSelf) joined.filter(col(idCol) =!= col(queryIdCol)) else joined
    val scored = kept.select(
      col(queryIdCol),
      col(idCol),
      (if (scale >= 0) round(cosineSimilarity(col(vecCol), col(queryVecCol)), scale)
       else cosineSimilarity(col(vecCol), col(queryVecCol))).as("score")
    )
    val reduced = graft.plans.TopK.perKey(scored, Seq(queryIdCol),
      Seq(("score", false), (idCol, true)), k)
    val w = Window.partitionBy(queryIdCol).orderBy(col("score").desc, col(idCol))
    reduced.withColumn("rn", row_number().over(w))
  }

  /** All-pairs top-k near neighbors (a < b) by cosine — the
    * embedding-cosine near-duplicate detector. Quadratic by construction;
    * at 100 TB use [[AnnLsh]] to bucket candidates first and feed the
    * bucket-joined pairs through the same scoring expression.
    */
  def nearestPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      topPairs: Int,
      scale: Int = 6
  ): DataFrame = {
    // fan out the streamed side: a small corpus often scans as one
    // file partition, which would serialize the O(n^2) scoring loop
    // (adaptive — no added shuffle when the scan already parallelizes;
    // hash on the id, not round-robin, so placement is retry-stable)
    val a = graft.util.Scans.fanOut(corpus, col(idCol))
      .select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (if (scale >= 0) round(cosineSimilarity(col("vec_a"), col("vec_b")), scale)
         else cosineSimilarity(col("vec_a"), col("vec_b"))).as("score")
      )
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(topPairs)
  }
}
