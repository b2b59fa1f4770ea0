package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-path coverage (SURVEY.md §2 Q1/Q2/J1/F1 + ANN extensions) on the
  * `embeddings` fixture. All cosine math runs in double with left-to-right
  * accumulation on both engines, rounded to 6 decimals, ties broken by id —
  * so results hash-match exactly.
  */
object VectorQueries {

  private def duckCosine(a: String, b: String): String = DuckSql.cosine(a, b)

  /** Deterministic IVF cell assignment, the SQL mirror of
    * `AnnIvf.centroids` + `AnnIvf.assign`: centroids are the `nCells`
    * smallest-id corpus vectors; each row goes to its max-cosine
    * centroid with ties to the smallest centroid id (the max_by
    * ordering `(cscore, -centroid_id)`). Emits CTE fragments
    * `cents(cid, cvec)` and `assigned(vec_id, cell)` over `embeddings`.
    * Shared by the q17 / q6D / q6E oracles.
    */
  private def duckIvfCells(nCells: Int): String = DuckSql.ivfCells(nCells)

  /** One Lloyd round as CTE fragments, the SQL mirror of
    * `AnnIvf.assign` + one `VectorMeanAgg` update: `<a>` assigns every
    * embedding to its max-cosine centroid in `<cin>(cid, cvec)` (ties
    * to the smallest cid — the max_by ordering), `<cout>(cid, cvec)`
    * is the per-cell component mean cast to REAL — the same float
    * rounding Spark applies each round, which is what keeps the two
    * engines' centroids bit-identical going into the next assignment.
    */
  private def duckLloydRound(cin: String, a: String, cout: String): String =
    s"""$a AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${duckCosine("e.embedding", "c.cvec")} DESC,
       |                      c.cid ASC) AS rn
       |    FROM embeddings e, $cin c) t
       |  WHERE rn = 1),
       |${a}_ex AS (
       |  SELECT a.cell, unnest(range(0, len(e.embedding))) AS pos,
       |         CAST(unnest(e.embedding) AS DOUBLE) AS v
       |  FROM embeddings e JOIN $a a USING (vec_id)),
       |${a}_m AS (
       |  SELECT cell, pos, CAST(avg(v) AS REAL) AS mf
       |  FROM ${a}_ex GROUP BY cell, pos),
       |$cout AS (
       |  SELECT cell AS cid, list(mf ORDER BY pos) AS cvec
       |  FROM ${a}_m GROUP BY cell)""".stripMargin

  /** DuckDB mirror of `AnnLsh.hyperplanes` + `signatureOf` (seed 42):
    * plane entry (p, d) is the sign of scala
    * `MurmurHash3.finalizeHash(mix(mix(42, p), d), 2)`, spelled out as
    * 32-bit murmur arithmetic (u32 wraparound via HUGEINT multiplies,
    * rotl as shift-or), and `sigs.sig` sets bit p when the vector's dot
    * with plane p is >= 0 — the dot accumulating left-to-right in double
    * exactly like the Scala loop. Emits CTE fragments `planes(p, ws)`
    * and `sigs(vec_id, sig)` over the `embeddings` table.
    */
  private def duckLshSigs(nPlanes: Int): String = {
    s"""dim AS (SELECT len(embedding) AS n FROM embeddings LIMIT 1),
       |grid AS (
       |  SELECT p, unnest(range(0, (SELECT n FROM dim))) AS d
       |  FROM range(0, $nPlanes) t1(p)),
       |z1 AS (SELECT p, d, ${DuckSql.murmurMix("42::BIGINT", "p")} AS hp FROM grid),
       |z2 AS (SELECT p, d, ${DuckSql.murmurMix("hp", "d")} AS h FROM z1),
       |${DuckSql.murmurFinalizeCtes("mm", "z2", "h", 2, "p, d", "fin")},
       |planes AS (
       |  SELECT p, list(CASE WHEN (fin & 1) = 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS ws
       |  FROM mm GROUP BY p),
       |sigs AS (
       |  SELECT vec_id,
       |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
       |  FROM (
       |    SELECT e.vec_id, pl.p,
       |           list_sum([CAST(e.embedding[i] AS DOUBLE) * pl.ws[i]
       |                     for i in range(1, len(e.embedding)+1)]) AS dot
       |    FROM embeddings e, planes pl)
       |  GROUP BY vec_id)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1: single-query exact KNN — query vector taken from vec_id=0,
    // broadcast against the corpus, TakeOrderedAndProject top-10.
    "q10_knn_single" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(cosineSimilarity(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Q1 batched: top-5 neighbors for each of the first 10 vectors
    // (broadcast query set + windowed rank).
    "q11_knn_batch" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Knn.topKBatch(e, "vec_id", "embedding", q, "query_id", "qvec", k = 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("score"), col("rn"))
        .orderBy("query_id", "rn")
    },

    // F1 + Q1: metadata filter pushed below the scoring (Pinecone
    // filter_dict analog) — label IN (1,2,3) reaches the parquet scan.
    "q12_knn_filtered" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.filter(col("label").isin(1, 2, 3))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(cosineSimilarity(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Vector norms + dimension check (the index-dimension invariant the
    // reference enforces at write time; SURVEY §1.2).
    "q13_vector_norms" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(l2Norm(col("embedding")), 6).as("l2_norm"),
          round(dotProduct(col("embedding"), col("embedding")), 6).as("self_dot")
        )
        .orderBy("vec_id")
    },

    // Embedding-cosine near-duplicate pairs: top-20 closest pairs.
    "q14_near_dup_pairs" -> { (s, d) =>
      Knn.nearestPairs(Tables.embeddings(s, d), "vec_id", "embedding", topPairs = 20)
    },

    // Embedding near-dup at scale: banded sign-LSH candidates verified
    // with exact cosine — the subquadratic twin of q14. AnnSpec asserts
    // its recall against the brute-force pairs; the oracle replays the
    // murmur-derived hyperplanes in SQL (see duckLshSigs).
    // minScore 0.4: the synthetic embeddings top out near cosine 0.48
    // (no planted duplicates), so 0.4 is the "near-dup" band this
    // fixture actually has.
    "q39_embed_near_dup_lsh" -> { (s, d) =>
      graft.operators.AnnLsh.nearDupPairsLsh(Tables.embeddings(s, d),
          "vec_id", "embedding", nPlanes = 16, bandBits = 4, minScore = 0.4)
        .orderBy(col("score").desc, col("id_a"), col("id_b"))
    },

    // q39 with the hot-bucket cap live (the q33/q3C pairing applied to
    // embedding LSH). Geometry matters for a FIXED cap across scales:
    // q39's 4-bit bands have 16 values per band, so by sf0.1 EVERY
    // bucket holds >100 vectors and any useful cap would empty the
    // candidate set (banding saturated = planner error, the fix is
    // more bits, not a bigger cap). The capped form therefore bands
    // 2×8 bits (256 values/band — recall drops per band but collision
    // prob still 1-(1-p^8)^2): cap 9 then drops 1 bucket at
    // sf0.001/sf0.01 and 153 of 508 at sf0.1 — live everywhere,
    // saturated nowhere. Pairs whose every agreeing band is oversized
    // are forfeited (mirrored in the oracle's keep CTE).
    "q3J_embed_near_dup_capped" -> { (s, d) =>
      graft.operators.AnnLsh.nearDupPairsLsh(Tables.embeddings(s, d),
          "vec_id", "embedding", nPlanes = 16, bandBits = 8, minScore = 0.4,
          maxBucketSize = 9)
        .orderBy(col("score").desc, col("id_a"), col("id_b"))
    },

    // ANN scale path: LSH-bucketed approximate top-10 for query vec 0.
    // Radius-2 multi-probe == signature Hamming distance <= 2, which is
    // how the oracle expresses the probe set.
    "q16_ann_lsh" -> { (s, d) =>
      val e    = Tables.embeddings(s, d)
      val qvec = e.filter(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val bucketed = graft.operators.AnnLsh.withBuckets(e, "embedding", nPlanes = 8)
      graft.operators.AnnLsh.topKApprox(bucketed, "vec_id", "embedding",
        qvec, k = 10, nPlanes = 8, probeRadius = 2)
    },

    // ANN scale path: IVF cell-probed approximate top-10 for query vec 0.
    "q17_ann_ivf" -> { (s, d) =>
      val e    = Tables.embeddings(s, d)
      val qvec = e.filter(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val cents    = graft.operators.AnnIvf.centroids(e, "vec_id", "embedding", nList = 16)
      val assigned = graft.operators.AnnIvf.assign(e, "vec_id", "embedding", cents)
      graft.operators.AnnIvf.topKApprox(assigned, cents, "vec_id", "embedding",
        qvec, k = 10, nProbe = 4)
    },

    // Lloyd k-means over the embedding corpus (k=8, 2 iterations,
    // deterministic lowest-id seeding) — AnnIvf.trainCentroids
    // graduated from spec-only to the oracle gate: per final cluster,
    // its size and the trained centroid's L2 norm. Assignment is the
    // broadcast max_by argmax (the nList× expansion never crosses the
    // shuffle); each update is ONE VectorMeanAgg pass (a single
    // (dim+1)-double array per cell crosses the wire); centroids are
    // float-cast every round, which pins cross-engine parity — a
    // last-ulp double-mean difference dies in the float rounding
    // before the next iteration's cosines compare.
    "q1H_kmeans" -> { (s, d) =>
      val (assigned, cents) = graft.operators.AnnIvf.kMeans(
        Tables.embeddings(s, d), "vec_id", "embedding",
        nList = 8, iterations = 2)
      assigned.groupBy("cell").agg(count(lit(1)).as("n"))
        .join(cents.select(col("centroid_id").as("cell"),
          col("centroid_vec")), "cell")
        .select(col("cell"), col("n"),
          round(sqrt(dotProduct(col("centroid_vec"), col("centroid_vec"))), 6)
            .as("centroid_norm"))
        .orderBy("cell")
    },

    // Davies–Bouldin cluster validity over q1H's k-means result: per
    // cluster, its scatter (mean member→centroid L2) and its DB term
    // (worst (S_i + S_j) / M_ij over the other centroids — high means
    // this cluster blurs into a neighbor). Scatter sums MICRO-fixed-
    // point longs (order-independent, cross-engine exact); centroid
    // separations are a k²-sized frame. The eval a clustering run
    // reads before trusting k.
    "q1I_davies_bouldin" -> { (s, d) =>
      val (assigned, cents) = graft.operators.AnnIvf.kMeans(
        Tables.embeddings(s, d), "vec_id", "embedding",
        nList = 8, iterations = 2)
      val c = cents.select(col("centroid_id").as("cell"),
        col("centroid_vec"))
      val scatter = assigned.join(broadcast(c), "cell")
        .withColumn("dmic",
          round(euclideanDistance(col("embedding"), col("centroid_vec"))
            * 1e6).cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sum("dmic").as("sm"))
        .withColumn("s", col("sm").cast("double") / col("n") / lit(1e6))
      // broadcast the k-row right side: the non-equi k² pairing plans
      // as BroadcastNestedLoopJoin, never a CartesianProduct exchange
      val seps = c.as("ci").join(broadcast(c.as("cj")),
          col("ci.cell") =!= col("cj.cell"))
        .select(col("ci.cell").as("cell"), col("cj.cell").as("other"),
          euclideanDistance(col("ci.centroid_vec"), col("cj.centroid_vec"))
            .as("m"))
      seps
        .join(scatter.select(col("cell"), col("n"), col("s")), "cell")
        .join(scatter.select(col("cell").as("other"), col("s").as("s_j")),
          "other")
        .groupBy("cell", "n", "s")
        .agg(max((col("s") + col("s_j")) / col("m")).as("term"))
        .select(col("cell"), col("n"), round(col("s"), 6).as("scatter"),
          round(col("term"), 6).as("db_term"))
        .orderBy("cell")
    },

    // ANN quality evaluation: per-query recall@10 of the batched
    // multi-probe LSH path (q16's production shape, 20 queries in ONE
    // bucket equi-join) against exact batch KNN ground truth. The
    // number that justifies an index layout before committing to it.
    "q6B_ann_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = graft.operators.Knn.topKBatch(
        e, "vec_id", "embedding", queries, "query_id", "qvec", k = 10)
      val bucketed = graft.operators.AnnLsh.withBuckets(e, "embedding", nPlanes = 8)
      val approx = graft.operators.AnnLsh.topKApproxBatch(
        bucketed, "vec_id", "embedding", queries, "query_id", "qvec",
        k = 10, nPlanes = 8, probeRadius = 2)
      graft.operators.AnnEval.recallAtK(exact, approx, "query_id", "vec_id", k = 10)
        .orderBy("query_id")
    },

    // Matryoshka truncation eval (Kusupati et al. 2022, the MRL
    // practice every embedding pipeline now weighs): recall@10 of
    // exact KNN over the FIRST-16-dim prefix vs full 64-dim exact KNN
    // — the measurement that says whether a 4× cheaper index (ANN
    // memory, PQ codes, broadcast size all scale with dim) keeps the
    // neighbors. Both sides are the same audited topKBatch reduction;
    // the truncation is a row-local slice. At 100 TB the query batch
    // stays a constant set and the corpus streams once per side.
    "q8R_matryoshka_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = graft.operators.Knn.topKBatch(
        e, "vec_id", "embedding", queries, "query_id", "qvec", k = 10)
      val et = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val qt = queries.select(col("query_id"),
        slice(col("qvec"), 1, 16).as("qvec"))
      val trunc = graft.operators.Knn.topKBatch(
        et, "vec_id", "embedding", qt, "query_id", "qvec", k = 10)
      graft.operators.AnnEval.recallAtK(exact, trunc,
          "query_id", "vec_id", k = 10)
        .orderBy("query_id")
    },

    // SemDeDup-style semantic near-dup pairs: deterministic IVF cells
    // bound the pair space (cell equi-join, never n²), exact rounded
    // cosine >= 0.35 verifies within the cell — catches paraphrase
    // duplicates that share no shingles with the text-dedup path.
    // maxCellSize = 40 is LIVE on the fixture (one 42-row cell is
    // excluded from the pair universe — its docs are kept, audited by
    // Dedup.oversizedCells).
    "q6D_semantic_pairs" -> { (s, d) =>
      graft.operators.Dedup.semanticPairs(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nCells = 16, minScore = 0.35, maxCellSize = 40)
        .orderBy("cell", "id_a", "id_b")
    },

    // Semantic-dedup survivors: drop any vector with a same-cell,
    // smaller-id neighbor at >= 0.35 cosine (lowest-id exemplar rule),
    // under the same live cell cap as q6D.
    "q6E_semantic_survivors" -> { (s, d) =>
      graft.operators.Dedup.semanticSurvivors(
          Tables.embeddings(s, d), "vec_id", "embedding",
          nCells = 16, minScore = 0.35, maxCellSize = 40)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    // Cross-set semantic contamination: q65's decontamination pass in
    // EMBEDDING space (catches paraphrased benchmark leakage that
    // shares no n-grams). Bench = every 25th vector; train×bench pairs
    // bounded to shared IVF cells; bench side broadcast. One row per
    // contaminated train vector with its hit count and worst score.
    "q6J_semantic_contamination" -> { (s, d) =>
      graft.operators.Dedup.semanticContamination(
          Tables.embeddings(s, d), "vec_id", "embedding",
          isBench = col("vec_id") % 25 === 0,
          nCells = 16, minScore = 0.35)
        .orderBy("train_id")
    },

    // Q1 metric variants: the reference accepts metric = dotproduct /
    // euclidean at index creation (`pinecone_service.py:33`); same scan +
    // TakeOrderedAndProject shape, only the scoring expression changes.
    "q1D_knn_dot" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(dotProduct(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },

    // Euclidean is a DISTANCE: rank ascending (nearest first).
    "q1E_knn_l2" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(euclideanDistance(col("embedding"), col("qvec")), 6).as("dist"))
        // nulls-last pinned: Spark ASC defaults nulls FIRST but DuckDB
        // defaults them LAST — a null distance must not take a top slot
        .orderBy(col("dist").asc_nulls_last, col("vec_id"))
        .limit(10)
    },

    // Retrieval-quality evaluation: nDCG@10 of exact KNN against
    // label-match relevance (the graded-ranking metric ANN recall
    // q6B doesn't cover). Gains fold as micro fixed-point longs in
    // rank order; the ideal DCG derives from each query's true
    // relevant-set size via the same 1/log2(i+1) arithmetic — all
    // cross-engine-exact until one final rounded ratio.
    "q1F_ndcg" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val top = Knn.topKBatch(e, "vec_id", "embedding",
        queries.select("qid", "qvec"), "qid", "qvec", k = 10)
      val gains = top
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .join(broadcast(queries.select("qid", "qlabel")), "qid")
        .select(col("qid"),
          when(col("label") === col("qlabel"),
            round(lit(1e6) / log2(col("rn").cast("double") + 1.0))
              .cast("long"))
            .otherwise(lit(0L)).as("gain_micro"))
        .groupBy("qid").agg(sum("gain_micro").as("dcg_micro"))
      // true relevant-set size per query (same label, self excluded)
      val labelSizes = e.groupBy("label").agg(count(lit(1)).as("n_label"))
      val ideal = queries
        .join(broadcast(labelSizes), col("qlabel") === col("label"))
        .select(col("qid"), (col("n_label") - 1).as("n_rel"))
        // a query with NO relevant documents has no defined nDCG: drop it
        // on BOTH sides (the DuckDB mirror filters identically). Without
        // this, n_rel = 0 makes sequence(1, 0) the DESCENDING [1, 0] —
        // injecting a 1e6/log2(1) = Infinity term — while DuckDB's
        // range(1, 1) is empty -> NULL idcg: divergent garbage.
        .filter(col("n_rel") >= 1)
        .withColumn("idcg_micro",
          aggregate(sequence(lit(1L), least(lit(10L), col("n_rel"))),
            lit(0L),
            (acc, i) => acc +
              round(lit(1e6) / log2(i.cast("double") + 1.0)).cast("long")))
      gains.join(ideal, "qid")
        .select(col("qid"), col("n_rel"),
          round(col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double"), 6).as("ndcg"))
        .orderBy("qid")
    },

    // MRR + recall@10: the other two standard retrieval-eval metrics
    // next to q1F's nDCG — reciprocal rank of the FIRST relevant hit
    // (0 when none lands in the top-10) and the fraction of each
    // query's true relevant set retrieved. Zero-relevant queries are
    // dropped on both sides (the q1F guard); all ratios are two small
    // exact integers divided once, rounded 6 dp.
    "q1G_mrr_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val top = Knn.topKBatch(e, "vec_id", "embedding",
        queries.select("qid", "qvec"), "qid", "qvec", k = 10)
      val hits = top
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .join(broadcast(queries.select("qid", "qlabel")), "qid")
        .groupBy("qid")
        .agg(
          min(when(col("label") === col("qlabel"), col("rn"))).as("first_rank"),
          count(when(col("label") === col("qlabel"), lit(1))).as("n_ret_rel"))
      val labelSizes = e.groupBy("label").agg(count(lit(1)).as("n_label"))
      val rel = queries
        .join(broadcast(labelSizes), col("qlabel") === col("label"))
        .select(col("qid"), (col("n_label") - 1).as("n_rel"))
        .filter(col("n_rel") >= 1)
      hits.join(rel, "qid")
        .select(col("qid"), col("n_rel"),
          coalesce(col("first_rank"), lit(0)).cast("int").as("first_rank"),
          when(col("first_rank").isNull, lit(0.0))
            .otherwise(round(lit(1.0) / col("first_rank").cast("double"), 6))
            .as("rr"),
          col("n_ret_rel"),
          round(col("n_ret_rel").cast("double") / col("n_rel").cast("double"), 6)
            .as("recall_at_10"))
        .orderBy("qid")
    },

    // A5 (demo notebook cell 22): per-query retrieval metrics over a
    // batched KNN run.
    "q18_batch_query_metrics" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Knn.topKBatch(e, "vec_id", "embedding", q, "query_id", "qvec", k = 5)
        .groupBy("query_id")
        .agg(
          round(max("score"), 6).as("top_score"),
          round(avg("score"), 6).as("avg_score"),
          count(lit(1)).as("n_results")
        )
        .orderBy("query_id")
    },

    // SQ8 scalar quantization (4x smaller vectors): top-10 by cosine on
    // dequantized uint8 codes — approximate scores, exact cross-engine
    // arithmetic, so even this ANN path is oracle-checkable.
    "q1A_sq8_knn" -> { (s, d) =>
      import graft.operators.Quantize
      val e = Tables.embeddings(s, d)
      val (mins, maxs) = Quantize.sq8Params(e, "embedding")
      val q = e.filter(col("vec_id") === 0)
        .select(Quantize.sq8Quantize(col("embedding"), mins, maxs).as("qq"))
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Quantize.sq8Quantize(col("embedding"), mins, maxs).as("qv"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Quantize.sq8Cosine(col("qv"), col("qq"), mins, maxs), 6).as("score_q"))
        .orderBy(col("score_q").desc, col("vec_id"))
        .limit(10)
    },

    // PQ (product quantization) ANN: m=8 byte codes per vector (32x
    // compression) scored by asymmetric distance — per-row cost is m
    // table lookups, independent of dimension. Rows-only oracle
    // (k-means codebooks aren't SQL-expressible); recall bounds in
    // QuantizeSpec.
    "q1B_pq_knn" -> { (s, d) =>
      import graft.operators.Quantize
      val e = Tables.embeddings(s, d)
      val model = Quantize.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
      val qvec = e.filter(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val encoded = Quantize.pqEncode(
        graft.util.Scans.fanOut(e.filter(col("vec_id") =!= 0), col("vec_id")),
        "embedding", model)
      Quantize.pqTopK(encoded, "vec_id", model, qvec, 10)
    },

    // IVF-PQ composite index (rows-only): cell-probed candidate pruning
    // + PQ table-lookup scoring — no full vectors and no full scan in
    // the query path.
    "q1C_ivfpq_knn" -> { (s, d) =>
      import graft.operators.{AnnIvf, Quantize}
      val e = Tables.embeddings(s, d)
      val qvec = e.filter(col("vec_id") === 0).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val cents    = AnnIvf.centroids(e, "vec_id", "embedding", nList = 16)
      val assigned = AnnIvf.assign(e.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", cents)
      val model    = Quantize.pqTrain(e, "vec_id", "embedding", m = 8, k = 16)
      val encoded  = Quantize.pqEncode(assigned, "embedding", model)
      AnnIvf.topKApproxPq(encoded, cents, "vec_id", model, qvec, k = 10, nProbe = 8)
    },

    // A4 (demo notebook cell 26): retrieval-frequency histogram — how
    // often each label ("source") is retrieved across the query batch.
    "q27_retrieval_histogram" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val hits = Knn.topKBatch(e, "vec_id", "embedding", q, "query_id", "qvec", k = 5)
      // hits is <= |queries| * k rows — broadcast it against the corpus
      e.select(col("vec_id"), col("label"))
        .join(broadcast(hits.select("vec_id")), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_retrieved"))
        .orderBy("label")
    },

    // Scaled exact KNN: corpus replicated 100x (distinct ids, same
    // vectors — 200K rows at sf0.1) to exercise scan-scoring throughput;
    // fully oracle-checkable since the expansion is pure SQL.
    "q19_knn_scaled" -> { (s, d) =>
      val e = graft.util.Scans.fanOut(Tables.embeddings(s, d), col("vec_id"))
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val big = e
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(99))).as("r"))
        .select((col("vec_id") * 100 + col("r")).as("rep_id"), col("embedding"))
      big.crossJoin(broadcast(q))
        .select(col("rep_id"),
          round(cosineSimilarity(col("embedding"), col("qvec")), 6).as("score"))
        .orderBy(col("score").desc, col("rep_id"))
        .limit(20)
    },

    // Per-label centroid norms: element-wise mean across grouped vectors
    // (SURVEY A1 generalized to a relational group) via posexplode +
    // groupBy(label, pos) + avg — the shuffle-friendly formulation.
    "q15_label_centroids" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("dim"),
          round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm")
        )
        .orderBy("label")
    }
  )

  /** DuckDB mirror of `Quantize.pqTrain` (m=8, k=16, 10 Lloyd
    * iterations over the whole id-ordered corpus — sampleLimit 2048
    * covers every fixture) + the query-side ADC table. The driver-side
    * training loop is fully deterministic, and every float accumulation
    * it performs is order-pinned here: init = first 16 distinct
    * subvectors in sample order (min-id firsts, ranked), assignment
    * ties go to the lowest centroid via the lexicographic
    * min(ROW(dist, c)), and centroid means sum member values with
    * `list_sum(list(val ORDER BY id))` — the same id-ascending order the
    * Scala loop adds them in, so the doubles are bit-identical. Emits
    * `subs`, `subd`, `codebook(s, c, vec)`, `qtab(s, c, d)`; wrap in
    * WITH RECURSIVE.
    */
  private val duckPqCodebook: String = {
    def l2(a: String, b: String) =
      s"list_sum([($a[j] - $b[j]) * ($a[j] - $b[j]) for j in range(1, len($a)+1)])"
    s"""subs AS (
       |  SELECT vec_id AS id, s.s AS s,
       |         [CAST(embedding[s.s * 8 + j] AS DOUBLE) for j in range(1, 9)] AS sub
       |  FROM embeddings, range(0, 8) s(s)),
       |subd AS (
       |  SELECT id, s, j.j AS j, sub[j.j] AS val
       |  FROM subs, range(1, 9) j(j)),
       |firsts AS (
       |  SELECT s, sub, min(id) AS fid FROM subs GROUP BY s, sub),
       |init AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY fid) - 1 AS INT) AS c,
       |         sub AS vec, fid
       |  FROM firsts
       |  QUALIFY row_number() OVER (PARTITION BY s ORDER BY fid) <= 16),
       |walk(iter, s, c, vec) AS (
       |  SELECT 0, s, c, vec FROM init
       |  UNION ALL
       |  SELECT w.iter + 1, w.s, w.c, coalesce(nv.newvec, w.vec)
       |  FROM walk w
       |  LEFT JOIN (
       |    SELECT g.s, g.c, list(g.mean ORDER BY g.j) AS newvec
       |    FROM (
       |      SELECT asg.s, asg.c, d.j,
       |             list_sum(list(d.val ORDER BY d.id)) / count(*) AS mean
       |      FROM (
       |        SELECT t.id, t.s, struct_extract(t.ms, 2) AS c
       |        FROM (
       |          SELECT sub2.id, sub2.s, min(ROW(${l2("sub2.sub", "w2.vec")}, w2.c)) AS ms
       |          FROM subs sub2 JOIN walk w2 ON w2.s = sub2.s
       |          GROUP BY sub2.id, sub2.s) t) asg
       |      JOIN subd d ON d.id = asg.id AND d.s = asg.s
       |      GROUP BY asg.s, asg.c, d.j) g
       |    GROUP BY g.s, g.c) nv
       |    ON nv.s = w.s AND nv.c = w.c
       |  WHERE w.iter < 10),
       |codebook AS (SELECT s, c, vec FROM walk WHERE iter = 10),
       |qtab AS (
       |  SELECT cb.s, cb.c, ${l2("q.sub", "cb.vec")} AS d
       |  FROM codebook cb JOIN (SELECT s, sub FROM subs WHERE id = 0) q ON q.s = cb.s)""".stripMargin
  }

  /** PQ encode + ADC scoring over `codebook`/`qtab` for the ids in CTE
    * `cand(vec_id)`: nearest-centroid codes (same tie rule as training),
    * distance = the m table lookups summed in subspace order.
    */
  private val duckPqAdcSelect: String = {
    def l2(a: String, b: String) =
      s"list_sum([($a[j] - $b[j]) * ($a[j] - $b[j]) for j in range(1, len($a)+1)])"
    s"""codes AS (
       |  SELECT t.id, t.s, struct_extract(t.ms, 2) AS code
       |  FROM (
       |    SELECT sub.id, sub.s, min(ROW(${l2("sub.sub", "cb.vec")}, cb.c)) AS ms
       |    FROM subs sub JOIN codebook cb ON cb.s = sub.s
       |    JOIN cand ON cand.vec_id = sub.id
       |    GROUP BY sub.id, sub.s) t),
       |adc AS (
       |  SELECT c.id, list_sum(list(qt.d ORDER BY c.s)) AS dist
       |  FROM codes c JOIN qtab qt ON qt.s = c.s AND qt.c = c.code
       |  GROUP BY c.id)
       |SELECT id AS vec_id, round(dist, 6) AS adc_dist
       |FROM adc ORDER BY adc_dist ASC, vec_id LIMIT 10""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // PQ ANN: train the codebooks in SQL (see duckPqCodebook), encode
    // every non-query vector, rank by ADC distance.
    "q1B_pq_knn" ->
      s"""WITH RECURSIVE $duckPqCodebook,
         |cand AS (SELECT vec_id FROM embeddings WHERE vec_id <> 0),
         |$duckPqAdcSelect""".stripMargin,

    // IVF-PQ composite: IVF cell assignment (argmax cosine, lower-id
    // ties) restricts the candidate set to the 8 probed cells before the
    // same PQ encode + ADC ranking.
    "q1C_ivfpq_knn" ->
      s"""WITH RECURSIVE $duckPqCodebook,
         |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cents AS (
         |  SELECT vec_id AS cid, embedding AS cvec
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cid AS cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${duckCosine("e.embedding", "c.cvec")} DESC,
         |                      c.cid ASC) AS rn
         |    FROM embeddings e, cents c WHERE e.vec_id <> 0) t
         |  WHERE rn = 1),
         |probe AS (
         |  SELECT cid FROM cents, qv
         |  ORDER BY ${duckCosine("cvec", "qv.qv")} DESC, cid
         |  LIMIT 8),
         |cand AS (
         |  SELECT vec_id FROM assigned
         |  WHERE cell IN (SELECT cid FROM probe)),
         |$duckPqAdcSelect""".stripMargin,
    // Sign-LSH ANN: signature via the murmur-plane mirror, radius-2
    // multi-probe expressed as Hamming(sig, qsig) <= 2, exact cosine
    // rank within the probed candidates.
    "q16_ann_lsh" ->
      s"""WITH ${duckLshSigs(8)},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)
         |SELECT e.vec_id, round(${duckCosine("e.embedding", "qv")}, 6) AS score
         |FROM embeddings e JOIN sigs s ON s.vec_id = e.vec_id, q, qs
         |WHERE bit_count(xor(s.sig, qs.qsig)) <= 2
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // Banded sign-LSH near-dup: 16-bit signatures in 4 bands of 4 bits,
    // band equi-join candidates, exact rounded cosine >= 0.4 verify.
    "q39_embed_near_dup_lsh" ->
      s"""WITH ${duckLshSigs(16)},
         |bands AS (
         |  SELECT vec_id AS id, b.b AS band, (sig >> (b.b * 4)) & 15 AS bkt
         |  FROM sigs, range(0, 4) b(b)),
         |cand AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b, c.n_bands,
         |       round(${duckCosine("ea.embedding", "eb.embedding")}, 6) AS score
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE round(${duckCosine("ea.embedding", "eb.embedding")}, 6) >= 0.4
         |ORDER BY score DESC, id_a, id_b""".stripMargin,

    // q39 over the size-capped bucket universe (2×8-bit bands — see the
    // query comment for why the geometry differs from q39's 4×4;
    // buckets kept only at or under the cap, exactly as the Spark
    // side's left_anti guard).
    "q3J_embed_near_dup_capped" ->
      s"""WITH ${duckLshSigs(16)},
         |bands AS (
         |  SELECT vec_id AS id, b.b AS band, (sig >> (b.b * 8)) & 255 AS bkt
         |  FROM sigs, range(0, 2) b(b)),
         |keep AS (
         |  SELECT band, bkt FROM bands
         |  GROUP BY band, bkt HAVING count(*) <= 9),
         |kb AS (
         |  SELECT b.id, b.band, b.bkt
         |  FROM bands b JOIN keep USING (band, bkt)),
         |cand AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
         |  FROM kb a JOIN kb b
         |    ON a.band = b.band AND a.bkt = b.bkt AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT c.id_a, c.id_b, c.n_bands,
         |       round(${duckCosine("ea.embedding", "eb.embedding")}, 6) AS score
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE round(${duckCosine("ea.embedding", "eb.embedding")}, 6) >= 0.4
         |ORDER BY score DESC, id_a, id_b""".stripMargin,

    // IVF ANN: the 16 lowest-id vectors ARE the (untrained) centroids,
    // assignment = argmax cosine with ties to the lower centroid id
    // (Spark max_by on struct(cscore, -cid)), probe = 4 closest cells to
    // the query, exact rounded cosine within the probed cells.
    "q17_ann_ivf" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |${duckIvfCells(16)},
         |probe AS (
         |  SELECT cid FROM cents, q
         |  ORDER BY ${duckCosine("cvec", "qv")} DESC, cid
         |  LIMIT 4)
         |SELECT e.vec_id, round(${duckCosine("e.embedding", "qv")}, 6) AS score
         |FROM embeddings e JOIN assigned a USING (vec_id), q
         |WHERE a.cell IN (SELECT cid FROM probe)
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // k-means mirror: seed centroids are the 8 lowest-id vectors, two
    // unrolled Lloyd rounds (assignment argmax + REAL-cast component
    // means), then sizes from the final assignment and the left-to-
    // right double dot for the trained centroid norms.
    "q1H_kmeans" ->
      s"""WITH c0 AS (
         |  SELECT vec_id AS cid, embedding AS cvec
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |${duckLloydRound("c0", "a1", "c1")},
         |${duckLloydRound("c1", "a2", "c2")}
         |SELECT s.cell, s.n,
         |       round(sqrt(${DuckSql.dot("c.cvec", "c.cvec")}), 6) AS centroid_norm
         |FROM (SELECT cell, count(*) AS n FROM a2 GROUP BY cell) s
         |JOIN c2 c ON c.cid = s.cell
         |ORDER BY s.cell""".stripMargin,

    // Davies–Bouldin mirror: the q1H Lloyd rounds, then micro-long
    // scatter sums and the k² separation frame with the same double
    // arithmetic.
    "q1I_davies_bouldin" ->
      s"""WITH c0 AS (
         |  SELECT vec_id AS cid, embedding AS cvec
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |${duckLloydRound("c0", "a1", "c1")},
         |${duckLloydRound("c1", "a2", "c2")},
         |sc AS (
         |  SELECT a.cell, count(*) AS n,
         |         CAST(sum(CAST(round(${DuckSql.l2dist("e.embedding", "c.cvec")}
         |           * 1000000) AS BIGINT)) AS BIGINT) AS sm
         |  FROM embeddings e
         |  JOIN a2 a USING (vec_id)
         |  JOIN c2 c ON c.cid = a.cell
         |  GROUP BY a.cell),
         |s AS (SELECT cell, n, CAST(sm AS DOUBLE) / n / 1000000.0 AS s FROM sc),
         |seps AS (
         |  SELECT i.cid AS cell, j.cid AS other,
         |         ${DuckSql.l2dist("i.cvec", "j.cvec")} AS m
         |  FROM c2 i JOIN c2 j ON i.cid <> j.cid)
         |SELECT si.cell, si.n, round(si.s, 6) AS scatter,
         |       round(max((si.s + sj.s) / seps.m), 6) AS db_term
         |FROM seps
         |JOIN s si ON si.cell = seps.cell
         |JOIN s sj ON sj.cell = seps.other
         |GROUP BY si.cell, si.n, si.s
         |ORDER BY si.cell""".stripMargin,

    // SemDeDup pairs: the same deterministic IVF assignment as q17's
    // oracle (first-16-ids centroids, cosine argmax with min-cid ties),
    // cells over the 40-row cap excluded (count window, mirroring the
    // Spark side), then within-cell pairs at rounded cosine >= 0.35.
    "q6D_semantic_pairs" ->
      s"""WITH ${duckIvfCells(16)},
         |capped AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, count(*) OVER (PARTITION BY cell) AS csz
         |    FROM assigned) t
         |  WHERE csz <= 40)
         |SELECT a1.cell, a1.vec_id AS id_a, a2.vec_id AS id_b,
         |       round(${duckCosine("e1.embedding", "e2.embedding")}, 6) AS score
         |FROM capped a1
         |JOIN capped a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
         |JOIN embeddings e1 ON e1.vec_id = a1.vec_id
         |JOIN embeddings e2 ON e2.vec_id = a2.vec_id
         |WHERE round(${duckCosine("e1.embedding", "e2.embedding")}, 6) >= 0.35
         |ORDER BY a1.cell, id_a, id_b""".stripMargin,

    // Semantic survivors: everything not named as the larger id of a
    // capped within-cell pair at >= 0.35 (lowest-id exemplar survives).
    "q6E_semantic_survivors" ->
      s"""WITH ${duckIvfCells(16)},
         |capped AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, count(*) OVER (PARTITION BY cell) AS csz
         |    FROM assigned) t
         |  WHERE csz <= 40),
         |drops AS (
         |  SELECT DISTINCT a2.vec_id AS d
         |  FROM capped a1
         |  JOIN capped a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
         |  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
         |  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
         |  WHERE round(${duckCosine("e1.embedding", "e2.embedding")}, 6) >= 0.35)
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT d FROM drops)
         |ORDER BY e.vec_id""".stripMargin,

    // Cross-set mirror: the shared IVF-assignment CTE labeled bench /
    // train, same-cell cross joins only, rounded-cosine threshold.
    "q6J_semantic_contamination" ->
      s"""WITH ${duckIvfCells(16)},
         |lab AS (
         |  SELECT vec_id, cell, (vec_id % 25 = 0) AS bench FROM assigned)
         |SELECT t.vec_id AS train_id,
         |  CAST(count(*) AS BIGINT) AS n_bench_hits,
         |  max(round(${duckCosine("e1.embedding", "e2.embedding")}, 6)) AS max_score
         |FROM lab t
         |JOIN lab b ON t.cell = b.cell AND NOT t.bench AND b.bench
         |JOIN embeddings e1 ON e1.vec_id = t.vec_id
         |JOIN embeddings e2 ON e2.vec_id = b.vec_id
         |WHERE round(${duckCosine("e1.embedding", "e2.embedding")}, 6) >= 0.35
         |GROUP BY train_id
         |ORDER BY train_id""".stripMargin,

    // Recall@10 of batched LSH ANN vs exact: the approximate side's
    // probe set (radius-2 multi-probe over 8 planes, the bucket
    // equi-join on signature XOR masks) is exactly Hamming(sig, qsig)
    // <= 2 — the same equivalence the q16 oracle uses; both sides rank
    // by (rounded score DESC, vec_id) with self excluded.
    "q6B_ann_recall" ->
      s"""WITH ${duckLshSigs(8)},
         |q AS (SELECT vec_id AS query_id, embedding AS qvec
         |      FROM embeddings WHERE vec_id < 20),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${duckCosine("e.embedding", "q.qvec")}, 6) DESC,
         |                      e.vec_id) AS rn
         |    FROM embeddings e, q WHERE e.vec_id <> q.query_id) t
         |  WHERE rn <= 10),
         |approx AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${duckCosine("e.embedding", "q.qvec")}, 6) DESC,
         |                      e.vec_id) AS rn
         |    FROM q
         |    JOIN sigs qs ON qs.vec_id = q.query_id
         |    JOIN sigs s ON bit_count(xor(s.sig, qs.sig)) <= 2
         |    JOIN embeddings e ON e.vec_id = s.vec_id
         |    WHERE e.vec_id <> q.query_id) t
         |  WHERE rn <= 10),
         |hits AS (
         |  SELECT a.query_id, count(*) AS n
         |  FROM approx a JOIN exact x
         |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(coalesce(h.n, 0) / 10.0, 6) AS recall
         |FROM (SELECT DISTINCT query_id FROM exact) qq
         |LEFT JOIN hits h ON h.query_id = qq.query_id
         |ORDER BY qq.query_id""".stripMargin,

    // Matryoshka mirror: the q6B recall shape with the approx side =
    // exact KNN over the 16-dim array prefix (materialized in CTEs so
    // the cosine fragment's len() sees the sliced arrays).
    "q8R_matryoshka_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
         |           FROM embeddings WHERE vec_id < 32),
         |et AS (SELECT vec_id, embedding[1:16] AS emb FROM embeddings),
         |qt AS (SELECT query_id, qvec[1:16] AS qv FROM q),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${duckCosine("e.embedding", "q.qvec")}, 6) DESC,
         |                      e.vec_id) AS rn
         |    FROM embeddings e, q WHERE e.vec_id <> q.query_id) t
         |  WHERE rn <= 10),
         |approx AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT qt.query_id, e.vec_id,
         |           row_number() OVER (PARTITION BY qt.query_id
         |             ORDER BY round(${duckCosine("e.emb", "qt.qv")}, 6) DESC,
         |                      e.vec_id) AS rn
         |    FROM et e, qt WHERE e.vec_id <> qt.query_id) t
         |  WHERE rn <= 10),
         |hits AS (
         |  SELECT a.query_id, count(*) AS n
         |  FROM approx a JOIN exact x
         |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         |       round(coalesce(h.n, 0) / 10.0, 6) AS recall
         |FROM (SELECT DISTINCT query_id FROM exact) qq
         |LEFT JOIN hits h ON h.query_id = qq.query_id
         |ORDER BY qq.query_id""".stripMargin,

    "q10_knn_single" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${duckCosine("embedding", "qvec")}, 6) AS score
         |FROM embeddings, q
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q11_knn_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${duckCosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY score DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, score, rn FROM ranked
         |WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,

    // nDCG mirror: identical rounded-score ranking, identical
    // micro-fixed-point 1/log2 gains and ideal-DCG arithmetic.
    "q1F_ndcg" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         |         round(${duckCosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |                               ORDER BY score DESC, vec_id) AS rn
         |  FROM scored),
         |dcg AS (
         |  SELECT qid,
         |    CAST(sum(CASE WHEN label = qlabel
         |      THEN CAST(round(1000000.0 / log2(CAST(rn AS DOUBLE) + 1.0)) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS dcg_micro
         |  FROM ranked WHERE rn <= 10 GROUP BY qid),
         |ls AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
         |ideal AS (
         |  SELECT q.qid, CAST(ls.n_label - 1 AS BIGINT) AS n_rel,
         |    CAST(list_sum([CAST(round(1000000.0 / log2(CAST(i AS DOUBLE) + 1.0)) AS BIGINT)
         |      for i in range(1, least(10, ls.n_label - 1) + 1)]) AS BIGINT)
         |      AS idcg_micro
         |  FROM q JOIN ls ON ls.label = q.qlabel
         |  WHERE ls.n_label - 1 >= 1)
         |SELECT d.qid, i.n_rel,
         |  round(CAST(d.dcg_micro AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE), 6)
         |    AS ndcg
         |FROM dcg d JOIN ideal i ON i.qid = d.qid
         |ORDER BY d.qid""".stripMargin,

    // MRR/recall mirror: identical rounded-score ranking (q1F's CTEs),
    // min-rank + count over label matches, same integer ratios.
    "q1G_mrr_recall" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         |         round(${duckCosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |                               ORDER BY score DESC, vec_id) AS rn
         |  FROM scored),
         |hits AS (
         |  SELECT qid,
         |    min(CASE WHEN label = qlabel THEN rn END) AS first_rank,
         |    count(CASE WHEN label = qlabel THEN 1 END) AS n_ret_rel
         |  FROM ranked WHERE rn <= 10 GROUP BY qid),
         |ls AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
         |rel AS (
         |  SELECT q.qid, CAST(ls.n_label - 1 AS BIGINT) AS n_rel
         |  FROM q JOIN ls ON ls.label = q.qlabel
         |  WHERE ls.n_label - 1 >= 1)
         |SELECT h.qid, r.n_rel,
         |  CAST(coalesce(h.first_rank, 0) AS INT) AS first_rank,
         |  CASE WHEN h.first_rank IS NULL THEN 0.0
         |       ELSE round(1.0 / CAST(h.first_rank AS DOUBLE), 6) END AS rr,
         |  CAST(h.n_ret_rel AS BIGINT) AS n_ret_rel,
         |  round(CAST(h.n_ret_rel AS DOUBLE) / CAST(r.n_rel AS DOUBLE), 6)
         |    AS recall_at_10
         |FROM hits h JOIN rel r ON r.qid = h.qid
         |ORDER BY h.qid""".stripMargin,

    "q12_knn_filtered" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(${duckCosine("embedding", "qvec")}, 6) AS score
         |FROM embeddings, q
         |WHERE label IN (1, 2, 3)
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q13_vector_norms" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])), 6) AS l2_norm,
        |  round(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]), 6) AS self_dot
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    "q14_near_dup_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${duckCosine("a.embedding", "b.embedding")}, 6) AS score
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |ORDER BY score DESC, id_a, id_b
         |LIMIT 20""".stripMargin,

    "q18_batch_query_metrics" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${duckCosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY score DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, round(max(score), 6) AS top_score,
         |       round(avg(score), 6) AS avg_score, count(*) AS n_results
         |FROM ranked WHERE rn <= 5
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin,

    "q1A_sq8_knn" ->
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         |         CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |params AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos),
         |pl AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
         |       FROM params),
         |qz AS (
         |  SELECT vec_id,
         |    [CASE WHEN mxs[i] = mns[i] THEN 0
         |          ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255.0
         |                          / (mxs[i] - mns[i])) AS INT) END
         |     for i in range(1, len(embedding) + 1)] AS qv
         |  FROM embeddings CROSS JOIN pl),
         |deq AS (
         |  SELECT vec_id,
         |    [mns[i] + CAST(qv[i] AS DOUBLE) * (mxs[i] - mns[i]) / 255.0
         |     for i in range(1, len(qv) + 1)] AS dv
         |  FROM qz CROSS JOIN pl),
         |q AS (SELECT dv AS qdv FROM deq WHERE vec_id = 0)
         |SELECT vec_id,
         |  round(${duckCosine("dv", "qdv")}, 6) AS score_q
         |FROM deq, q
         |WHERE vec_id <> 0
         |ORDER BY score_q DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q1D_knn_dot" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${DuckSql.dot("embedding", "qvec")}, 6) AS score
         |FROM embeddings, q
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,

    "q1E_knn_l2" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(${DuckSql.l2dist("embedding", "qvec")}, 6) AS dist
         |FROM embeddings, q
         |WHERE vec_id <> 0
         |ORDER BY dist ASC NULLS LAST, vec_id
         |LIMIT 10""".stripMargin,

    "q27_retrieval_histogram" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(${duckCosine("e.embedding", "q.qvec")}, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY score DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT e.label, count(*) AS n_retrieved
         |FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
         |WHERE r.rn <= 5
         |GROUP BY e.label
         |ORDER BY e.label""".stripMargin,

    "q19_knn_scaled" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
         |big AS (
         |  SELECT vec_id * 100 + r AS rep_id, embedding
         |  FROM embeddings, (SELECT unnest(range(0, 100)) AS r) reps)
         |SELECT rep_id, round(${duckCosine("embedding", "qvec")}, 6) AS score
         |FROM big, q
         |ORDER BY score DESC, rep_id
         |LIMIT 20""".stripMargin,

    "q15_label_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |         unnest(range(0, len(embedding))) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |m AS (SELECT label, pos, avg(v) AS m FROM ex GROUP BY label, pos)
        |SELECT label, count(*) AS dim, round(sqrt(sum(m * m)), 6) AS centroid_norm
        |FROM m GROUP BY label ORDER BY label""".stripMargin
  )
}
