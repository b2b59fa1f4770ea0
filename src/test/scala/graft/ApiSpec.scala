package graft

import graft.api.GraftApi
import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.DeterministicEmbedder
import graft.ingest.{Chunker, PdfWriter}
import graft.query.FilterDict
import graft.rag.Ingest
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ApiSpec extends GraftSpec {

  test("filter dict translates Pinecone operators to equivalent predicates") {
    val emb = Tables.embeddings(spark, sfDir)
    def ids(f: Map[String, Any]): Set[Long] =
      emb.filter(FilterDict.toColumn(f)).select("vec_id")
        .collect().map(_.getLong(0)).toSet

    assert(ids(Map("label" -> 3)) ==
      emb.filter(col("label") === 3).select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(ids(Map("label" -> Map("$in" -> Seq(1, 2)))) ==
      ids(Map("$or" -> Seq(Map("label" -> 1), Map("label" -> 2)))))
    assert(ids(Map("label" -> Map("$gte" -> 8))) ==
      ids(Map("$and" -> Seq(Map("label" -> Map("$gt" -> 7))))))
    assert(ids(Map("label" -> Map("$nin" -> Seq(0, 1, 2, 3, 4)))) ==
      ids(Map("label" -> Map("$gte" -> 5))))
    assert(ids(Map("vec_id" -> Map("$lt" -> 10), "label" -> Map("$ne" -> 0))).forall(_ < 10))
    intercept[IllegalArgumentException](FilterDict.toColumn(Map.empty))
    intercept[IllegalArgumentException](
      FilterDict.toColumn(Map("x" -> Map("$regex" -> "a"))))
    intercept[IllegalArgumentException](
      FilterDict.toColumn(Map("source" -> Map.empty[String, Any])))
  }

  test("api mirrors the five endpoints end-to-end") {
    val docsDir = Files.createTempDirectory("graft-api-docs")
    Files.writeString(docsDir.resolve("doc1.txt"),
      "The quarterly revenue was $450 million in Q1 2024.")
    val catRoot  = Files.createTempDirectory("graft-api-cat").toString
    val catalog  = new VectorCatalog(spark, catRoot)
    val embedder = new DeterministicEmbedder(32)
    val index    = Ingest.run(spark, catalog, docsDir.toString, "api-idx", embedder)
    val api      = new GraftApi(spark, catalog, index, embedder)

    // health
    val h = api.health
    assert(h.status == "healthy" && h.indexReady && h.vectorCount > 0)

    // stats
    assert(api.stats.dimension == 32)
    assert(api.stats.totalVectorCount == h.vectorCount)

    // query (+ validation)
    val q = api.query("what was the revenue?")
    assert(q.retrieved.nonEmpty)
    assert(q.retrieved.exists(_.text.contains("$450 million")))
    intercept[IllegalArgumentException](api.query("  "))
    // filter errors are the caller's: an unknown field, a wrongly typed
    // operand, a list where a scalar belongs
    for (f <- Seq[Map[String, Any]](
        Map("nosuch" -> "x"),
        Map("source" -> Map("$gt" -> 1)),
        Map("chunk_index" -> Map("$lt" -> "abc")),
        Map("source" -> Map("$gt" -> Seq(1))),
        Map("source" -> Map("$in" -> Seq(Seq(1))))))
      intercept[IllegalArgumentException](api.query("what was the revenue?", 3, Some(f)))

    // chat
    val c = api.chat("and the quarter?", Seq(("what was revenue?", "$450M")))
    assert(c.question == "and the quarter?")
    assert(c.retrieved.nonEmpty)

    // upload: new content becomes retrievable
    val landing = Files.createTempDirectory("graft-api-landing").toString
    val up = api.upload(Seq(("doc2.txt",
      "Headcount grew to 9,000 employees by December.")), landing)
    assert(up.filesReceived == 1 && up.chunksIndexed > 0)
    val q2 = api.query("how many employees?", topK = 3)
    assert(q2.retrieved.exists(_.text.contains("9,000")))
    intercept[IllegalArgumentException](
      api.upload(Seq(("../evil.txt", "x")), landing))
  }

  test("http server serves the five endpoints over a real socket") {
    import graft.api.GraftHttpServer
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}

    val docsDir = Files.createTempDirectory("graft-http-docs")
    Files.writeString(docsDir.resolve("doc1.txt"),
      "The quarterly revenue was $450 million in Q1 2024.")
    val catalog  = new VectorCatalog(spark,
      Files.createTempDirectory("graft-http-cat").toString)
    val embedder = new DeterministicEmbedder(32)
    val index    = Ingest.run(spark, catalog, docsDir.toString, "http-idx", embedder)
    val landing  = Files.createTempDirectory("graft-http-landing").toString
    val srv      = new GraftHttpServer(
      new GraftApi(spark, catalog, index, embedder), landing)
    val port     = srv.start()
    val client   = HttpClient.newHttpClient()

    def get(path: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, json: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(json)).build(),
        HttpResponse.BodyHandlers.ofString())

    try {
      // health (reference shape: status/service/version)
      val h = get("/api/v1/health")
      assert(h.statusCode() == 200 && h.body().contains("\"healthy\""))

      // stats
      val st = get("/api/v1/stats")
      assert(st.statusCode() == 200)
      assert(st.body().contains("\"dimension\":32"))
      def vectorCount(body: String): Long =
        """"total_vector_count":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
      val countBefore = vectorCount(st.body())
      assert(countBefore == 1L)

      // query happy path: answer + retrieved_docs with the known fact
      val q = post("/api/v1/query", """{"question":"what was the revenue?","top_k":3}""")
      assert(q.statusCode() == 200)
      assert(q.body().contains("\"retrieved_docs\""))
      assert(q.body().contains("$450 million"))

      // query with a Pinecone-style metadata filter still answers
      // (source values are full file:// URIs, so filter on an operator)
      val qf = post("/api/v1/query",
        """{"question":"what was the revenue?","filter":{"source":{"$ne":"bogus"}}}""")
      assert(qf.statusCode() == 200 && qf.body().contains("$450 million"))
      val qf2 = post("/api/v1/query",
        """{"question":"what was the revenue?","filter":{"source":{"$in":["bogus"]}}}""")
      assert(qf2.statusCode() == 200 && qf2.body().contains("\"retrieved_docs\":[]"))

      // validation mirrors Pydantic: malformed bodies are 422s
      // (FastAPI's RequestValidationError), including fractional top_k
      assert(post("/api/v1/query", """{"question":"  "}""").statusCode() == 422)
      assert(post("/api/v1/query", """{"question":"x","top_k":0}""").statusCode() == 422)
      assert(post("/api/v1/query", """{"question":"x","top_k":21}""").statusCode() == 422)
      assert(post("/api/v1/query", """{"question":"x","top_k":3.7}""").statusCode() == 422)
      assert(post("/api/v1/query", """{"question":"x","top_k":4294967297}""").statusCode() == 422)
      assert(post("/api/v1/query", """not json""").statusCode() == 422)
      // a filter the index cannot evaluate is a client error, not a 500
      for (f <- Seq("""{"nosuch":"x"}""", """{"source":{"$gt":[1]}}""",
          """{"chunk_index":{"$lt":"abc"}}""", "5", "\"x\"", "[1]",
          """{"source":{}}"""))
        assert(post("/api/v1/query",
          s"""{"question":"what was the revenue?","filter":$f}""").statusCode() == 422, f)
      // integral double coerces like Pydantic's lenient int
      assert(post("/api/v1/query",
        """{"question":"what was the revenue?","top_k":3.0}""").statusCode() == 200)

      // chat with history
      val c = post("/api/v1/chat",
        """{"question":"and the quarter?",
          |"chat_history":[{"question":"what was revenue?","answer":"$450M"}]}""".stripMargin)
      assert(c.statusCode() == 200 && c.body().contains("\"and the quarter?\""))

      // upload → success + the new fact becomes retrievable
      val up = post("/api/v1/upload",
        """{"files":[{"name":"doc2.txt","content":"Headcount grew to 9,000 employees by December."}]}""")
      assert(up.statusCode() == 200 && up.body().contains("\"success\":true"))
      val q2 = post("/api/v1/query", """{"question":"how many employees?"}""")
      assert(q2.body().contains("9,000"))
      // the upload wrote through an index handle of its own: the served
      // handle's count and top-k both reflect it
      assert(vectorCount(get("/api/v1/stats").body()) == countBefore + 1L)
      // reference contract: upload errors are HTTP 200 with success=false
      val bad = post("/api/v1/upload",
        """{"files":[{"name":"../evil.txt","content":"x"}]}""")
      assert(bad.statusCode() == 200 && bad.body().contains("\"success\":false"))

      // unknown route and wrong method
      assert(get("/api/v1/nope").statusCode() == 404)
      assert(get("/api/v1/query").statusCode() == 405)

      // root welcome JSON (reference app/main.py:76-83) and the UI
      val root = get("/")
      assert(root.statusCode() == 200 && root.body().contains("\"version\""))
      val ui = get("/ui")
      assert(ui.statusCode() == 200)
      assert(ui.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      // the served page drives the five endpoints via its script
      assert(ui.body().contains("/static/app.js"))
      val js = get("/static/app.js")
      assert(js.statusCode() == 200)
      for (ep <- Seq("/api/v1/health", "/api/v1/stats", "/api/v1/query",
          "/api/v1/chat", "/api/v1/upload"))
        assert(js.body().contains(ep), s"UI script does not call $ep")
      assert(get("/static/styles.css").statusCode() == 200)
      assert(get("/static/nope.css").statusCode() == 404)
      assert(get("/static/../app.js").statusCode() == 404)

      // multipart/form-data upload (the reference's UploadFile contract):
      // a real browser-shaped body round-trips through ingest
      val boundary = "graftTestBoundary42"
      val multipart =
        s"""--$boundary\r
           |Content-Disposition: form-data; name="files"; filename="doc3.txt"\r
           |Content-Type: text/plain\r
           |\r
           |Gross margin improved to 61 percent in Q2.\r
           |--$boundary\r
           |Content-Disposition: form-data; name="files"; filename="doc4.txt"\r
           |Content-Type: text/plain\r
           |\r
           |The dividend was suspended in March.\r
           |--$boundary--\r
           |""".stripMargin
      val mp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/upload"))
          .header("Content-Type", s"multipart/form-data; boundary=$boundary")
          .POST(HttpRequest.BodyPublishers.ofString(multipart)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(mp.statusCode() == 200 && mp.body().contains("\"success\":true"),
        mp.body())
      assert(mp.body().contains("doc3.txt") && mp.body().contains("doc4.txt"))
      val q3 = post("/api/v1/query", """{"question":"what happened to the gross margin?"}""")
      assert(q3.body().contains("61 percent"))
      val q4 = post("/api/v1/query", """{"question":"what about the dividend?"}""")
      assert(q4.body().contains("suspended"))
    } finally srv.stop()
  }

  test("upload ingests only the request's files: the log grows by exactly their chunks") {
    val docsDir = Files.createTempDirectory("graft-upload-docs")
    Files.writeString(docsDir.resolve("doc1.txt"),
      "The quarterly revenue was $450 million in Q1 2024.")
    val catalog  = new VectorCatalog(spark,
      Files.createTempDirectory("graft-upload-cat").toString)
    val embedder = new DeterministicEmbedder(32)
    val index    = Ingest.run(spark, catalog, docsDir.toString, "upload-idx", embedder)
    val api      = new GraftApi(spark, catalog, index, embedder)
    val landing  = Files.createTempDirectory("graft-upload-landing").toString
    def logRows: Long = spark.read.parquet(catalog.dataPath(index.meta.name)).count()
    val long = (1 to 40).map(i =>
      s"Paragraph $i reports segment revenue of ${i * 7} million dollars.").mkString("\n\n")

    api.upload(Seq("a.txt" -> "Headcount grew to 9,000 employees by December.",
      "b.txt" -> long), landing)
    val before = logRows
    // a file outside the *.txt / *.pdf selection is stored, not ingested
    val second = Seq("c.txt" -> "The dividend was suspended in March.",
      "d.txt" -> long.replace("revenue", "income"), "notes.md" -> "not a document")
    val chunks = second.collect {
      case (name, text) if name.endsWith(".txt") => new Chunker(500, 50).split(text).size
    }.sum
    assert(chunks > 2)
    val up = api.upload(second, landing)
    assert(up.filesReceived == 3 && up.chunksIndexed == chunks)
    assert(logRows - before == chunks)
    // the uploads assigned the source strings and chunk ids a directory
    // ingest of the landing dir does: re-ingesting it adds no live row
    val live = index.stats.totalVectorCount
    Ingest.run(spark, catalog, landing, index.meta.name, embedder)
    assert(index.stats.totalVectorCount == live)
  }

  test("upload writes the rows and schema a directory ingest of the same files writes") {
    val embedder   = new DeterministicEmbedder(32)
    val chunker    = new Chunker(500, 50)
    val paragraphs = (1 to 40).map(i =>
      s"Paragraph $i reports segment revenue of ${i * 7 + 100} million dollars.")
    val report = paragraphs.mkString("\n\n")
    val texts = Seq(
      "report.txt"  -> report,
      "unicode.txt" -> "Der Umsatz stieg um 12 % \u2014 Caf\u00e9 in Z\u00fcrich, \u6771\u4eac, \ud83d\ude80.",
      "empty.txt"   -> "",
      "_hidden.txt" -> "A hidden file is stored, not ingested.",
      "notes.md"    -> "Not a document either.")
    val landing   = Files.createTempDirectory("graft-equiv-landing")
    val upCatalog = new VectorCatalog(spark, Files.createTempDirectory("graft-equiv-up").toString)
    val api = new GraftApi(spark, upCatalog,
      VectorIndex.createOrConnect(spark, upCatalog, IndexMeta("equiv", 32)), embedder)
    val expected = Seq(report, texts(1)._2).map(chunker.split(_).size).sum
    assert(expected > 2)
    assert(api.upload(texts, landing.toString).chunksIndexed == expected)
    // the upload API carries text, and a PDF is binary: it goes through
    // the request path the upload calls. Its two identical pages chunk
    // to one repeated (source, chunk_index, text) triple, one row.
    val page = "The board approved the merger on both identical pages."
    val pdf  = landing.resolve("two pages.pdf")
    Files.write(pdf, PdfWriter.typ0Pdf(Seq(page, page)))
    assert(Ingest.upsertFiles(spark, upCatalog, Seq(pdf.toString), "equiv", embedder) == 1L)

    val dirCatalog = new VectorCatalog(spark, Files.createTempDirectory("graft-equiv-dir").toString)
    Ingest.run(spark, dirCatalog, landing.toString, "equiv", embedder)
    def rows(c: VectorCatalog) = spark.read.parquet(c.dataPath("equiv")).drop("_version")
    val (up, dir) = (rows(upCatalog), rows(dirCatalog))
    assert(up.count() == expected + 1)
    assert(up.exceptAll(dir).isEmpty && dir.exceptAll(up).isEmpty)
    // Spark reads parquet as all-nullable, so the footers are compared:
    // the parquet schema and the Spark schema written next to it
    def schemas(c: VectorCatalog): Set[(String, String)] =
      Files.list(Paths.get(c.dataPath("equiv"))).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map { f =>
          val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
          try {
            val meta = footer.getFooter.getFileMetaData
            meta.getSchema.toString ->
              meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
          } finally footer.close()
        }.toSet
    assert(schemas(upCatalog).size == 1)
    assert(schemas(upCatalog) == schemas(dirCatalog))

    // chunksIndexed counts chunks newly live: none on a repeat, and only
    // the chunks of a changed paragraph
    assert(api.upload(texts, landing.toString).chunksIndexed == 0L)
    val changed = paragraphs.updated(20, paragraphs(20).replace("247", "742")).mkString("\n\n")
    val fresh = (chunker.split(changed).zipWithIndex.toSet --
      chunker.split(report).zipWithIndex).size
    assert(fresh >= 1 && fresh < chunker.split(report).size)
    assert(api.upload(Seq("report.txt" -> changed), landing.toString).chunksIndexed == fresh)
  }

  test("upload runs at most two jobs, shuffles nothing and adds one part file, at 200 shuffle partitions") {
    val docsDir = Files.createTempDirectory("graft-upjobs-docs")
    Files.writeString(docsDir.resolve("doc1.txt"),
      "The quarterly revenue was $450 million in Q1 2024.")
    val catalog  = new VectorCatalog(spark,
      Files.createTempDirectory("graft-upjobs-cat").toString)
    val embedder = new DeterministicEmbedder(32)
    val index    = Ingest.run(spark, catalog, docsDir.toString, "upjobs-idx", embedder)
    val api      = new GraftApi(spark, catalog, index, embedder)
    val landing  = Files.createTempDirectory("graft-upjobs-landing").toString
    val files = (0 until 10).map(i => f"f$i%02d.txt" -> (1 to 12).map(j =>
      s"File $i, paragraph $j: the segment booked ${i * 100 + j} million in orders.")
      .mkString("\n\n"))
    def parts: Long = Files.list(Paths.get(catalog.dataPath(index.meta.name)))
      .filter(_.toString.endsWith(".parquet")).count()
    val before = parts
    val key    = "spark.sql.shuffle.partitions"
    val prior  = spark.conf.get(key)
    spark.conf.set(key, "200")
    var indexed = 0L
    val (jobs, shuffle) =
      try jobsOf("upload") { indexed = api.upload(files, landing).chunksIndexed }
      finally spark.conf.set(key, prior)
    assert(indexed == files.map(f => new Chunker(500, 50).split(f._2).size).sum)
    assert(jobs <= 2, s"upload ran $jobs jobs, expected at most 2")
    assert(shuffle == 0L, s"upload shuffled $shuffle bytes")
    assert(parts == before + 1)
  }

  test("http server: a health round trip does not stall on Nagle's algorithm") {
    import graft.api.GraftHttpServer
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}

    val catalog  = new VectorCatalog(spark,
      Files.createTempDirectory("graft-nodelay-cat").toString)
    val index    = VectorIndex.createOrConnect(spark, catalog, IndexMeta("nodelay-idx", 8))
    val srv      = new GraftHttpServer(
      new GraftApi(spark, catalog, index, new DeterministicEmbedder(8)),
      Files.createTempDirectory("graft-nodelay-landing").toString)
    val port     = srv.start()
    val client   = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val health   = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/api/v1/health")).GET().build()
    try {
      // warm the connection, the handler and the JIT first: a cold
      // round trip is slow whether or not Nagle is on
      (0 until 10).foreach { _ =>
        assert(client.send(health, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      }
      // with TCP_NODELAY off each round trip waits ~10 ms or more for
      // the delayed ACK of the header segment
      val ms = (0 until 25).map { _ =>
        val t0 = System.nanoTime()
        assert(client.send(health, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 5.0, s"median health round trip ${ms(ms.size / 2)} ms of $ms")
    } finally srv.stop()
  }
}
