package graft

import graft.operators.{AnnIvf, AnnLsh, Knn}
import graft.util.TempDirs
import org.apache.spark.sql.functions._

class AnnSpec extends GraftSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val qvec: Seq[Float] = emb.filter(col("vec_id") === 0)
    .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
  private lazy val exactTop10: Seq[Long] =
    Knn.topK(emb, "vec_id", "embedding", qvec, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSeq

  test("LSH signatures are deterministic and bucket the corpus") {
    val b1 = AnnLsh.withBuckets(emb, "embedding", 8)
    val b2 = AnnLsh.withBuckets(emb, "embedding", 8)
    val m1 = b1.select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = b2.select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
    val nBuckets = b1.select("bucket").distinct().count()
    assert(nBuckets > 1 && nBuckets <= 256)
  }

  test("LSH signature expression: codegen'd (no ScalaUDF) and bit-identical " +
      "to the driver-side reference math") {
    val bucketed = AnnLsh.withBuckets(emb, "embedding", 8)
    // the ingest path must stay inside whole-stage codegen: no UDF node
    // (descend through AdaptiveSparkPlanExec — it is a leaf, so a bare
    // walk would go blind the day this path gains a shuffle)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def udfCount(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collectWithSubqueries {
        case a: AdaptiveSparkPlanExec => udfCount(a.executedPlan)
        case node => node.expressions.count(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
      }.sum
    val executed = bucketed.queryExecution.executedPlan
    assert(udfCount(executed) == 0,
      s"LSH ingest path fell out of codegen:\n$executed")
    // signatures match AnnLsh.signatureOf (the math the replaced UDF
    // evaluated) exactly, for every row
    val rows = bucketed.select("vec_id", "embedding", "bucket").collect()
    val planes = AnnLsh.hyperplanes(
      rows.head.getAs[scala.collection.Seq[Float]]("embedding").length, 8)
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toSeq
      assert(r.getAs[Long]("bucket") == AnnLsh.signatureOf(v, planes),
        s"signature mismatch for vec_id=${r.getAs[Long]("vec_id")}")
    }
  }

  test("LSH approximate top-k: candidates shrink, recall stays useful") {
    val bucketed = AnnLsh.withBuckets(emb, "embedding", 8).cache()
    try {
      val planes  = AnnLsh.hyperplanes(qvec.length, 8)
      val qsig    = AnnLsh.signatureOf(qvec, planes)
      val buckets = AnnLsh.probeBuckets(qsig, 8, 2)
      val candidates = bucketed.filter(col("bucket").isin(buckets: _*)).count()
      val total      = bucketed.count()
      assert(candidates < total / 2,
        s"LSH probed $candidates of $total — no pruning")

      val approx = AnnLsh.topKApprox(bucketed, "vec_id", "embedding",
        qvec, 10, 8, 2).collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(approx.head == 0L, "self-match must survive LSH probing")
      // the fixture's neighbors are weak (cosine ~0.4, barely above the
      // random floor), so sign-LSH collision probability caps recall;
      // radius-2 probing of 37/256 buckets predicts ~0.3-0.4 here.
      val recall = approx.toSet.intersect(exactTop10.toSet).size / 10.0
      assert(recall >= 0.2, s"recall@10 = $recall; approx=$approx exact=$exactTop10")
    } finally { bucketed.unpersist(); () }
  }

  test("IVF: assignment covers the corpus; probing prunes cells") {
    val cents    = AnnIvf.centroids(emb, "vec_id", "embedding", 16)
    val assigned = AnnIvf.assign(emb, "vec_id", "embedding", cents).cache()
    try {
      assert(assigned.count() == emb.count())
      assert(assigned.select("cell").distinct().count() <= 16)

      val approx = AnnIvf.topKApprox(assigned, cents, "vec_id", "embedding",
        qvec, 10, nProbe = 4).collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(approx.nonEmpty && approx.head == 0L)
      val recall = approx.toSet.intersect(exactTop10.toSet).size / 10.0
      assert(recall >= 0.3, s"recall@10 = $recall")
    } finally { assigned.unpersist(); () }
  }

  test("k-means-trained IVF centroids are deterministic and don't hurt recall") {
    val cents1 = AnnIvf.trainCentroids(emb, "vec_id", "embedding", 16, 2)
    val cents2 = AnnIvf.trainCentroids(emb, "vec_id", "embedding", 16, 2)
    val c1 = cents1.orderBy("centroid_id").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Float]]("centroid_vec").toSeq).toSeq
    val c2 = cents2.orderBy("centroid_id").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Float]]("centroid_vec").toSeq).toSeq
    assert(c1 == c2, "training must be deterministic")

    val assigned = AnnIvf.assign(emb, "vec_id", "embedding", cents1).cache()
    try {
      assert(assigned.count() == emb.count())
      val approx = AnnIvf.topKApprox(assigned, cents1, "vec_id", "embedding",
        qvec, 10, nProbe = 4).collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(approx.nonEmpty && approx.head == 0L)
      val recall = approx.toSet.intersect(exactTop10.toSet).size / 10.0
      assert(recall >= 0.3, s"trained-IVF recall@10 = $recall")
    } finally { assigned.unpersist(); () }
  }

  test("kMeans exposes the assignment that produced the trained centroids") {
    val (assigned, cents) = AnnIvf.kMeans(emb, "vec_id", "embedding", 8, 2)
    // the pair is consistent: trainCentroids is exactly the cents half
    val viaTrain = AnnIvf.trainCentroids(emb, "vec_id", "embedding", 8, 2)
      .orderBy("centroid_id").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Float]]("centroid_vec").toSeq).toSeq
    val viaPair = cents.orderBy("centroid_id").collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        r.getAs[scala.collection.Seq[Float]]("centroid_vec").toSeq).toSeq
    assert(viaPair == viaTrain)
    // every corpus row is assigned, and cents reduce over exactly the
    // cells the final assignment names
    assert(assigned.count() == emb.count())
    val assignedCells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(viaPair.map(_._1).toSet == assignedCells)
    // recomputing the update from the exposed assignment reproduces cents
    val recomputed = assigned.groupBy(col("cell"))
      .agg(graft.functions.VectorMeanAgg.vectorMean(col("embedding")).as("m"))
      .select(col("cell"),
        org.apache.spark.sql.functions.transform(col("m"),
          x => x.cast("float")).as("cv"))
      .orderBy("cell").collect()
      .map(r => r.getAs[Long]("cell") ->
        r.getAs[scala.collection.Seq[Float]]("cv").toSeq).toSeq
    assert(recomputed == viaPair)
  }

  test("bucket-partitioned store prunes partitions at the scan") {
    val path = TempDirs.scratch("graft-ann-store")
    AnnLsh.writeBucketPartitioned(emb, "embedding", path, nPlanes = 6)
    val approx = AnnLsh.topKApproxFromStore(spark, path, "vec_id", "embedding",
      qvec, 10, nPlanes = 6, probeRadius = 1)
    val plan = approx.queryExecution.executedPlan.toString
    val partLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(partLine.contains("bucket"), s"no partition pruning:\n$plan")
    val rows = approx.collect()
    assert(rows.nonEmpty && rows.head.getAs[Long]("vec_id") == 0L)
    // pruned scan result == unpartitioned probe result
    val direct = AnnLsh.topKApprox(AnnLsh.withBuckets(emb, "embedding", 6),
      "vec_id", "embedding", qvec, 10, 6, 1).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSeq ==
      direct.map(_.getAs[Long]("vec_id")).toSeq)
  }

  test("IVF cell-partitioned store prunes partitions and matches direct probe") {
    val cents    = AnnIvf.centroids(emb, "vec_id", "embedding", 16)
    val assigned = AnnIvf.assign(emb, "vec_id", "embedding", cents)
    val path = TempDirs.scratch("graft-ivf-store")
    AnnIvf.writeCellPartitioned(assigned, path)
    val fromStore = AnnIvf.topKApproxFromStore(spark, path, cents,
      "vec_id", "embedding", qvec, 10, nProbe = 4)
    val plan = fromStore.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")), s"no pruning:\n$plan")
    val direct = AnnIvf.topKApprox(assigned, cents, "vec_id", "embedding",
      qvec, 10, nProbe = 4).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(fromStore.collect().map(_.getAs[Long]("vec_id")).toSeq == direct)
  }

  test("banded LSH near-dup pairs: subset of brute force, decent recall") {
    val thresh = 0.4
    // uncapped ground truth: every pair at or above the threshold (a
    // top-N cap would miscount LSH's verified-correct pairs as false
    // positives if the fixture ever had more than N such pairs)
    import graft.functions.VectorFunctions.cosineSimilarity
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineSimilarity(col("va"), col("vb")), 6).as("score"))
      .filter(col("score") >= thresh).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = AnnLsh.nearDupPairsLsh(emb, "vec_id", "embedding",
        nPlanes = 16, bandBits = 4, minScore = thresh).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // verification makes every reported pair exact-correct (no false
    // positives); banding should surface a reasonable share of the true
    // pairs at this similarity band (deterministic hashes, fixed fixture)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    assert(exact.nonEmpty && lsh.size.toDouble / exact.size >= 0.3,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("probe mask set is duplicate-free and exactly the Hamming ball") {
    // a duplicated mask would double-count candidates in the exploded
    // batch probe (each mask is a join row there, not an isin member)
    for (r <- 0 to 3) {
      val masks = AnnLsh.probeBuckets(0L, 8, r)
      assert(masks.size == masks.distinct.size, s"dup masks at radius $r")
      val expect = (0 until 256).count(m => java.lang.Long.bitCount(m.toLong) <= r)
      assert(masks.size == expect, s"radius $r: ${masks.size} != $expect")
      assert(masks.forall(m => java.lang.Long.bitCount(m) <= r))
    }
  }

  test("batched multi-probe ANN matches the single-query probe per query") {
    val bucketed = AnnLsh.withBuckets(emb, "embedding", 8).cache()
    try {
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val batch = AnnLsh.topKApproxBatch(bucketed, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10, nPlanes = 8, probeRadius = 2)
        .collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("vec_id")).toSeq
        }
      queries.collect().foreach { qr =>
        val qid  = qr.getAs[Long]("query_id")
        val qv   = qr.getAs[scala.collection.Seq[Float]]("qvec").toSeq
        // the solo probe keeps the self-match (q16 semantics); the batch
        // path excludes it, so solo-minus-self must be a prefix of batch
        val solo = AnnLsh.topKApprox(bucketed, "vec_id", "embedding",
            qv, 10, 8, 2).collect().map(_.getAs[Long]("vec_id")).toSeq
          .filter(_ != qid)
        assert(batch(qid).take(solo.size) == solo,
          s"query $qid: batch=${batch(qid)} solo=$solo")
      }
    } finally { bucketed.unpersist(); () }
  }

  test("recallAtK: hand-traced counts, and misses report 0 not absent") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L))
      .toDF("query_id", "vec_id")
    // query 1: both hit; query 2: one hit one stray; query 3: absent
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "vec_id")
    val r = graft.operators.AnnEval
      .recallAtK(exact, approx, "query_id", "vec_id", k = 2)
      .orderBy("query_id").collect()
      .map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("n_hits"),
        x.getAs[Double]("recall")))
    assert(r.toSeq == Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (3L, 0L, 0.0)))
  }

  test("assignCellCol (streaming form) matches the batch max_by assignment cell-for-cell") {
    import spark.implicits._
    val centsDf = AnnIvf.centroids(emb, "vec_id", "embedding", 16)
    val cents = centsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val batch = AnnIvf.assign(emb, "vec_id", "embedding", centsDf)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val colForm = emb
      .select($"vec_id", AnnIvf.assignCellCol($"embedding", cents).as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(colForm == batch)
    // zero-norm vector: the coalesced −2 score still yields a cell
    // (the smallest centroid id wins every tie) instead of a NULL
    val z = Seq((99999L, Seq.fill(cents.head._2.size)(0f)))
      .toDF("vec_id", "embedding")
      .select(AnnIvf.assignCellCol($"embedding", cents).as("cell"))
      .as[Long].head()
    assert(z == cents.map(_._1).min)
  }

  test("higher probe budget improves or preserves LSH recall") {
    val bucketed = AnnLsh.withBuckets(emb, "embedding", 8).cache()
    try {
      def recallAt(radius: Int): Double = {
        val ids = AnnLsh.topKApprox(bucketed, "vec_id", "embedding",
          qvec, 10, 8, radius).collect().map(_.getAs[Long]("vec_id")).toSet
        ids.intersect(exactTop10.toSet).size / 10.0
      }
      assert(recallAt(2) >= recallAt(0))
    } finally { bucketed.unpersist(); () }
  }
}
