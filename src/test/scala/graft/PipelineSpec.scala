package graft

import graft.catalog.VectorCatalog
import graft.embed.DeterministicEmbedder
import graft.pipeline.TrainingDataPipeline
import graft.util.TempDirs
import org.apache.spark.sql.functions._

class PipelineSpec extends GraftSpec {
  import spark.implicits._

  test("end-to-end training-data pipeline: filter, dedup, chunk, embed, index") {
    val corpus = Seq(
      ("the quick brown fox jumps over the lazy dog and runs for it", "s1"),
      ("the quick brown fox jumps over the lazy dog and runs for it", "s2"), // exact dup
      ("der hund und die katze ist nicht in dem haus von dem mann", "s3"),   // german
      ("zz", "s4"),                                                           // too short
      ("a completely different document about the spark engine for the test", "s5")
    ).toDF("text", "source")

    val catalog  = new VectorCatalog(spark,
      TempDirs.scratch("graft-pipe-cat"))
    val embedder = new DeterministicEmbedder(32)
    val (index, counts) = TrainingDataPipeline.run(
      spark, catalog, corpus, "pipe-idx", embedder,
      TrainingDataPipeline.Config(languages = Set("en"), minTokens = 5))

    assert(counts.input == 5)
    assert(counts.afterFilters == 3)   // german + short dropped
    assert(counts.afterExactDedup == 2) // exact dup collapsed (min source wins)
    assert(counts.afterNearDedup == 2)
    assert(counts.indexed >= 2)
    val rows = index.read.collect()
    assert(rows.map(_.getAs[String]("source")).toSet == Set("s1", "s5"))
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("embedding").length == 32))

    // idempotent re-run: same corpus upserts the same ids, so THIS run's
    // indexed contribution is 0 (catalog total would have hidden this)
    val (_, counts2) = TrainingDataPipeline.run(
      spark, catalog, corpus, "pipe-idx", embedder,
      TrainingDataPipeline.Config(languages = Set("en"), minTokens = 5))
    assert(counts2.indexed == 0, s"re-run counts: $counts2")
  }

  test("near-dup pruning stage drops LSH-colliding docs") {
    val base = "the quick brown fox jumps over the lazy dog every single day again"
    val corpus = Seq(
      (base, "a1"),
      (base + " extra", "a2"), // near dup of a1 (shares almost all shingles)
      ("completely unrelated content with many distinct words in this row here", "a3")
    ).toDF("text", "source")
    val catalog  = new VectorCatalog(spark,
      TempDirs.scratch("graft-pipe-cat2"))
    val (_, counts) = TrainingDataPipeline.run(
      spark, catalog, corpus, "pipe-idx2", new DeterministicEmbedder(16),
      TrainingDataPipeline.Config(languages = Set("en"), nearDupBands = 4))
    assert(counts.afterExactDedup == 3)
    assert(counts.afterNearDedup == 2, s"counts=$counts")
  }

  test("curation stage: PII scrubbed before indexing, repetitive docs dropped") {
    val corpus = Seq(
      ("contact me at it.is.bob@example.com for the data we need today", "c1"),
      // top 2-gram "the spark" dominates: 5 of 9 2-grams > 0.5 threshold
      ("the spark the spark the spark the spark the spark", "c2"),
      ("a normal document about the engine with varied useful words in it", "c3"),
      // trivially scores 1.0 but is below repetitionMinGrams — must survive
      ("the end", "c4")
    ).toDF("text", "source")
    val catalog = new VectorCatalog(spark,
      TempDirs.scratch("graft-pipe-cat3"))
    val (index, counts) = TrainingDataPipeline.run(
      spark, catalog, corpus, "pipe-idx3", new DeterministicEmbedder(16),
      TrainingDataPipeline.Config(languages = Set("en"),
        redactPii = true, maxTopBigramFraction = 0.5, repetitionMinGrams = 5))
    assert(counts.afterFilters == 3, s"counts=$counts") // only c2 dropped
    val texts = index.read.select("text").as[String].collect()
    assert(texts.exists(_.contains("<EMAIL>")))
    assert(!texts.exists(_.contains("bob@example.com")))
  }
}
