package graft

import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.{DeterministicEmbedder, HttpShapedEmbedder}
import graft.rag.{Ingest, Rag}
import graft.util.TempDirs

import java.nio.file.{Files, Paths}

/** End-to-end RAG parity tests (FIXTURES.md §C): ingest a small financial
  * corpus with known facts, retrieve through the deterministic embedder,
  * answer with the extractive stub; the retrieved chunk must contain the
  * known fact. Mirrors the reference's sample-question goldens
  * (README.md:290-299 over data/sample_docs).
  */
class RagSpec extends GraftSpec {

  private lazy val dataDir = {
    val dir = Paths.get(TempDirs.scratch("graft-docs"))
    Files.writeString(dir.resolve("quarterly_report.txt"),
      """Quarterly Report Q1 2024
        |
        |Financial Highlights:
        |Total revenue for Q1 2024 was $450 million, an increase of 20% year over year.
        |Net income reached $85 million with a gross margin of 68 percent.
        |
        |Operating Expenses:
        |Research and development spending was $95 million in the quarter.
        |Sales and marketing expenses totaled $120 million.
        |""".stripMargin)
    Files.writeString(dir.resolve("annual_report.txt"),
      """Annual Report 2023
        |
        |Full year revenue was $1.65 billion across all segments.
        |The cloud segment grew 45% and now represents half of total revenue.
        |Headcount ended the year at 8,500 employees worldwide.
        |""".stripMargin)
    Files.writeString(dir.resolve("metrics_guide.txt"),
      """Financial Metrics Guide
        |
        |Annual Recurring Revenue (ARR) measures the yearly value of subscriptions.
        |Net Revenue Retention (NRR) tracks expansion within existing customers.
        |Customer Acquisition Cost (CAC) is total sales spend per new customer.
        |""".stripMargin)
    dir.toString
  }

  private lazy val catalogRoot = TempDirs.scratch("graft-rag-cat")
  private lazy val catalog     = new VectorCatalog(spark, catalogRoot)
  private lazy val embedder    = new DeterministicEmbedder(64)
  private lazy val index       = Ingest.run(spark, catalog, dataDir, "docs", embedder)
  private lazy val rag         = new Rag(spark, index, embedder)

  test("jsonl reader: explicit schema, corrupt lines captured not fatal") {
    import org.apache.spark.sql.types._
    val dir = Paths.get(TempDirs.scratch("graft-jsonl"))
    Files.writeString(dir.resolve("a.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2, "text": "beta"}
        |{not valid json at all
        |{"doc_id": 3, "text": "gamma"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val got = graft.ingest.Readers.jsonlDirectory(spark, dir.toString, schema)
      .collect()
    assert(got.length == 4)
    val good = got.filter(_.isNullAt(2))
    assert(good.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    val bad = got.filterNot(_.isNullAt(2))
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt").startsWith("{not"))
    assert(got.forall(_.getAs[String]("source").endsWith("a.jsonl")))
  }

  test("csv reader: RFC quoting round-trips, bad cells null locally, corrupt line captured") {
    import org.apache.spark.sql.types._
    val dir = Paths.get(TempDirs.scratch("graft-csv"))
    Files.writeString(dir.resolve("a.csv"),
      "1,\"hello, \"\"world\"\"\"\n" + // RFC 4180 quoted comma + doubled quote
        "x2,bad id cell\n" +          // non-numeric id -> corrupt, text survives
        "3,plain\n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val got = graft.ingest.Readers.csvDirectory(spark, dir.toString, schema)
      .collect()
    assert(got.length == 3)
    val good = got.filter(_.isNullAt(2)).sortBy(_.getAs[Long]("doc_id"))
    assert(good.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
    assert(good.head.getAs[String]("text") == "hello, \"world\"")
    val bad = got.filterNot(_.isNullAt(2))
    assert(bad.length == 1)
    assert(bad.head.isNullAt(0), "bad id cell must null only doc_id")
    assert(bad.head.getAs[String]("text") == "bad id cell",
      "the text cell must survive a bad sibling cell")
    assert(bad.head.getAs[String]("_corrupt") == "x2,bad id cell")
    assert(got.forall(_.getAs[String]("source").endsWith("a.csv")))
  }

  test("ingest builds a populated index with chunk metadata") {
    val rows = index.read.collect()
    assert(rows.length >= 3)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("embedding").length == 64))
    assert(rows.forall(_.getAs[String]("id").startsWith("doc_")))
    assert(rows.map(_.getAs[String]("source")).distinct.length == 3)
  }

  test("retrieval surfaces the document containing the asked-about fact") {
    val r = rag.invoke("What was the total revenue in Q1 2024?")
    assert(r.retrieved.nonEmpty)
    assert(r.retrieved.map(_.text).exists(_.contains("$450 million")),
      s"retrieved: ${r.retrieved.map(_.text.take(60))}")
    assert(r.sources.distinct == r.sources, "sources must be deduped")
    assert(r.answer.nonEmpty)
  }

  test("scores are sorted desc and bounded; top_k respected") {
    val r = rag.invoke("What does ARR stand for?", topK = 3)
    assert(r.retrieved.length <= 3)
    val scores = r.retrieved.map(_.score)
    assert(scores == scores.sorted.reverse)
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
    intercept[IllegalArgumentException](rag.invoke("q", topK = 0))
    intercept[IllegalArgumentException](rag.invoke("q", topK = 21))
  }

  test("mmr retrieve: same best hit, k results, deterministic, diversified") {
    val q = "What was the total revenue in Q1 2024?"
    val plain = rag.retrieve(q, topK = 3)
    val mmr   = rag.retrieveMmr(q, topK = 3, poolSize = 8)
    assert(mmr.length == 3)
    // relevance first: the top pick is the plain top-1
    assert(mmr.head.id == plain.head.id)
    assert(mmr.map(_.id).distinct.length == 3)
    // metadata survives the rerank round-trip
    assert(mmr.forall(d => d.text.nonEmpty && d.source != "unknown"))
    assert(rag.retrieveMmr(q, topK = 3, poolSize = 8) == mmr)
  }

  test("mmr retrieve equals Knn.mmrRerank over the live view, in one job") {
    import spark.implicits._
    // the ingested chunks plus two zero vectors, which score NULL and
    // can never join the pool
    val idx = VectorIndex.createOrConnect(spark, catalog, IndexMeta("mmr-pool", 64))
    idx.upsert(index.read.unionByName(Seq(
      ("zero-a", Seq.fill(64)(0f), "zero a", "zero.txt", 0),
      ("zero-b", Seq.fill(64)(0f), "zero b", "zero.txt", 1)
    ).toDF("id", "embedding", "text", "source", "chunk_index")))
    val mmrRag = new Rag(spark, idx, embedder)
    val scorable = index.read.count().toInt
    val texts = idx.read.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("text")).toMap
    val q = "What was the total revenue in Q1 2024?"
    val qvec = embedder.embedOne(q).toSeq
    for ((topK, poolSize, lambda) <- Seq((3, 8, 0.5), (1, 1, 0.5), (4, 4, 0.0), (5, 12, 1.0),
        (3, scorable + 5, 0.3), (math.min(scorable, 20), 50, 0.7))) {
      val got  = mmrRag.retrieveMmr(q, topK, poolSize, lambda)
      val want = graft.operators.Knn
        .mmrRerank(idx.read, "id", "embedding", qvec, topK, poolSize, lambda)
        .collect().sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("id"), r.getAs[Double]("score"))).toSeq
      val what = s"topK=$topK poolSize=$poolSize lambda=$lambda"
      assert(got.map(d => (d.id, d.score)) == want, what)
      assert(got.forall(d => d.text == texts(d.id) && d.source != "zero.txt"), what)
    }
    assert(scorable < 50 && mmrRag.retrieveMmr(q, 20, 50).length == math.min(scorable, 20))
    val (jobs, _) = jobsOf("mmr retrieve") { mmrRag.retrieveMmr(q, 3, 50) }
    assert(jobs == 1, s"retrieveMmr ran $jobs jobs, expected 1")
  }

  test("empty index returns the no-documents answer") {
    val emptyIdx = VectorIndex.createOrConnect(spark, catalog, IndexMeta("empty", 64))
    val r = new Rag(spark, emptyIdx, embedder).invoke("anything?")
    assert(r.answer.contains("couldn't find any relevant documents"))
    assert(r.sources.isEmpty && r.retrieved.isEmpty)
  }

  test("chat history: only last 3 turns contextualize the question") {
    val history = Seq(
      ("ignored oldest turn", "a0"),
      ("what is ARR?", "ARR is annual recurring revenue"),
      ("and NRR?", "net revenue retention"),
      ("what about CAC?", "customer acquisition cost")
    )
    val r = rag.invokeWithHistory("what was Q1 revenue?", history)
    assert(r.question == "what was Q1 revenue?")
    assert(r.retrieved.nonEmpty)
    // empty history delegates to plain invoke
    val r2 = rag.invokeWithHistory("what was Q1 revenue?", Seq.empty)
    assert(r2.retrieved.map(_.id) == rag.invoke("what was Q1 revenue?").retrieved.map(_.id))
  }

  test("http-shaped embedder: batching, 503 retry, auth fallback") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val base  = new DeterministicEmbedder(8)
    // transport fails with 503 once, then succeeds
    var failed = false
    val flaky = new HttpShapedEmbedder(8, { texts =>
      calls.incrementAndGet()
      if (!failed) { failed = true; Left(503) }
      else Right(texts.map(base.embedOne))
    })
    val out = flaky.embed(Iterator.tabulate(40)(i => s"text $i")).toSeq
    assert(out.length == 40)
    // 40 texts at batch 32 → 2 batches + 1 retry = 3 transport calls
    assert(calls.get() == 3)

    // 401 → falls back to the secondary provider (embeddings.py:160-172)
    val auth = new HttpShapedEmbedder(8, _ => Left(401), fallback = Some(base))
    assert(auth.embedOne("hello").toSeq == base.embedOne("hello").toSeq)

    // unhandled code → error
    val broken = new HttpShapedEmbedder(8, _ => Left(500))
    intercept[RuntimeException](broken.embedOne("x"))
  }

  test("SURVEY §7 minimum slice: reference corpus + sample question") {
    val refDocs = "/root/reference/data/sample_docs"
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(refDocs)))
    val idx = Ingest.run(spark, catalog, refDocs, "ref-docs", embedder)
    val r   = new Rag(spark, idx, embedder)
      .invoke("What was TechCorp's total revenue in Q1 2024?", topK = 5)
    // exact QueryResponse shape (routes.py:34-39): k rows sorted desc,
    // sources deduped, texts truncated
    assert(r.retrieved.length == 5)
    val scores = r.retrieved.map(_.score)
    assert(scores == scores.sorted.reverse)
    assert(r.sources.distinct == r.sources && r.sources.nonEmpty)
    assert(r.retrieved.forall(_.text.length <= 203))
    // retrieval quality: the quarterly report should surface for the
    // revenue question (golden fact at quarterly_report_q1_2024.txt:7)
    assert(r.sources.exists(_.contains("quarterly_report")),
      s"sources: ${r.sources}")
  }

  test("paraphrase robustness: rephrasings retrieve overlapping sources") {
    // demo.ipynb cell 30's check, deterministic form: paraphrases of the
    // same question should agree on at least one retrieved source
    val paraphrases = Seq(
      "What was the total revenue in Q1 2024?",
      "How much revenue did the company make in the first quarter of 2024?",
      "Q1 2024 total revenue figure?"
    )
    val sourceSets = paraphrases.map(q => rag.invoke(q, topK = 3).sources.toSet)
    sourceSets.sliding(2).foreach { case Seq(a, b) =>
      assert(a.intersect(b).nonEmpty, s"no overlap between $a and $b")
    case _ => ()
    }
  }

  test("truncation caps retrieved text at 200 chars + ellipsis") {
    val longDir = Paths.get(TempDirs.scratch("graft-long"))
    Files.writeString(longDir.resolve("long.txt"),
      "spark " * 200 + "needle fact here")
    val idx = Ingest.run(spark, catalog, longDir.toString, "long-docs", embedder)
    val r   = new Rag(spark, idx, embedder).invoke("needle fact")
    assert(r.retrieved.forall(_.text.length <= 203))
  }
}
