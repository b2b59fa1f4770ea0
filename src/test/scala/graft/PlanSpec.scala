package graft

import graft.operators.Knn
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations SURVEY §4 claims are
  * "free from Catalyst" must actually appear in the executed plans.
  */
class PlanSpec extends GraftSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown reaches the parquet scan (F1)") {
    val plan = planOf(
      Tables.lineitem(spark, sfDir)
        .filter(col("l_quantity") > 45).select("l_orderkey"))
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan)
  }

  test("column pruning: scan reads only projected columns") {
    val df   = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), s"scan not pruned: $read")
  }

  test("a keyed fan-out is reused by the aggregates on its key (q63)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = SparkEntry.queries("q63_repetition_2gram")(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }
    // the doc_id fan-out serves both per-doc aggregates; the other
    // exchange is the output sort
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, plan.toString)
  }

  test("top-k plans TakeOrderedAndProject, not a global sort (O1)") {
    val plan = planOf(
      Tables.orders(spark, sfDir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("small dims broadcast in the star join (J-pattern)") {
    val q    = queries.RelationalQueries.queries("q05_region_supplier_stats")
    val plan = planOf(q(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join should broadcast:\n$plan")
  }

  test("KNN scoring stays inside whole-stage codegen (Q1)") {
    val emb  = Tables.embeddings(spark, sfDir)
    val qvec = emb.filter(col("vec_id") === 0).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val df   = Knn.topK(emb, "vec_id", "embedding", qvec, 10)
    val plan = planOf(df)
    // the scoring Project must sit inside a WholeStageCodegen stage —
    // rendered as a "*(n)" prefix in the plan string
    val scoringLine = plan.linesIterator
      .find(_.contains("cosine_similarity")).getOrElse("")
    assert(scoringLine.trim.matches("""^\+?-?\s*\*\(\d+\).*"""),
      s"cosine projection not codegen'd:\n$plan")
    // and the whole stage exists as an exec node
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, plan)
  }

  test("metadata filter composes with KNN and pushes down (F1+Q1)") {
    val emb  = Tables.embeddings(spark, sfDir)
    val qvec = emb.filter(col("vec_id") === 0).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val plan = planOf(Knn.topK(emb, "vec_id", "embedding", qvec, 5,
      filter = Some(col("label").isin(1, 2, 3))))
    assert(plan.contains("PushedFilters") && plan.contains("label"), plan)
  }

  test("partial aggregation (map-side combine) in groupBy sums (A-pattern)") {
    val plan = planOf(
      Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag").agg(sum("l_quantity")))
    // two HashAggregate nodes: partial + final
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("batched KNN broadcasts the query side, not the corpus (J1)") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = planOf(Knn.topKBatch(emb, "vec_id", "embedding", q, "query_id", "qvec", 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("rankedPool reduces via TakeOrderedAndProject, no global sort or window") {
    val emb  = Tables.embeddings(spark, sfDir)
    val qvec = emb.filter(col("vec_id") === 0).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val scored = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.functions.VectorFunctions.cosineSimilarity(
          col("embedding"), typedlit(qvec)), 6).as("score"))
    val plan = planOf(graft.operators.Fusion.rankedPool(scored, "vec_id", "score", 50))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // no global Sort exec over the corpus either ("Sort [" is the exec
    // node rendering; expression-level array_sort prints lowercase)
    assert(!plan.contains("Sort ["), plan)
  }

  test("banded LSH near-dup join is an equi-join, never a cartesian product") {
    val plan = planOf(graft.operators.AnnLsh.nearDupPairsLsh(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      nPlanes = 16, bandBits = 4, minScore = 0.4))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // and positively: the candidate stage IS a hash/sort-merge equi-join
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("incremental dedup plans a left_anti and no cartesian product") {
    val docs = Tables.documents(spark, sfDir)
    val plan = planOf(graft.operators.Dedup.newDocSurvivors(
      docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
      "doc_id", "text", 8, 3, 2, 0.5))
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
