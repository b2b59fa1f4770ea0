package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Thin HTTP layer over [[GraftApi]] — the reference's FastAPI surface
  * (`app/main.py:76-89`, `app/api/routes.py:178-334`) re-expressed on the
  * JDK's built-in `com.sun.net.httpserver` (zero extra dependencies; JSON
  * via the Jackson that ships with Spark).
  *
  * Routes and response shapes mirror the reference:
  *  - `GET  /` → `{message, version, docs}` welcome (`app/main.py:76-83`)
  *  - `GET  /ui` + `GET /static/<asset>` → the minimal chat console
  *    (`app/main.py:46-50,86-89`; assets are this repo's own
  *    `resources/graft/static`, driving the same five endpoints)
  *  - `GET  /api/v1/health` → `{status, service, version}`
  *    (`routes.py:178-186`)
  *  - `POST /api/v1/query`  → `{question, answer, sources,
  *    retrieved_docs}` (`routes.py:189-221`)
  *  - `POST /api/v1/chat`   → same shape, takes `chat_history` as
  *    `[{question, answer}]` (`routes.py:224-263`)
  *  - `GET  /api/v1/stats`  → `{total_vector_count, dimension,
  *    index_fullness}` (`routes.py:266-311`)
  *  - `POST /api/v1/upload` → `{success, files}` / `{success, error}`
  *    with HTTP 200 either way, as the reference does
  *    (`routes.py:314-334`). Accepts real `multipart/form-data` (what
  *    the reference's `UploadFile` takes and a browser form sends) and,
  *    as a convenience extension, JSON `{files: [{name, content}]}`.
  *
  * Validation mirrors the Pydantic contract (`routes.py:27-51`): a
  * malformed body — invalid JSON, empty/missing question, top_k outside
  * [1, 20] or non-integral, malformed chat_history, a filter naming an
  * unknown field or comparing it with a wrongly typed operand — is 422
  * `{detail}` (FastAPI's RequestValidationError status), not 400.
  * Unknown paths → 404; wrong method on a known path → 405; handler
  * exceptions → 500 `{detail}` (the reference's error contract).
  * Request bodies are capped at [[GraftHttpServer.MaxBodyBytes]] → 413.
  *
  * Serving is driver-side by design, like every query engine's
  * coordinator endpoint: a request fans out to the cluster as one Spark
  * job over the index's materialized live snapshot — a fused cosine
  * top-k per partition, no query planning unless the request has a
  * filter — and only the ≤ top_k result rows pass through this process.
  * The snapshot is rebuilt on the first request after the log changes —
  * an upload here, which ingests its own files through its own index
  * handle, or any other writer — so the requests between writes skip
  * the log's listing, footers and dedup shuffle. Handlers run on a
  * small fixed thread pool, so a long-running query cannot block
  * `/health`; concurrent requests submit their jobs side by side and
  * share the cluster's cores under Spark's scheduler.
  *
  * Nagle's algorithm is off: the JDK server sends a response's headers
  * and body as two small segments, and with `TCP_NODELAY` off (its
  * default) each loopback round trip stalls on the delayed ACK —
  * `/api/v1/health` measured 12.1 ms per round trip with it and 0.9 ms
  * without, on a 4-core host. The JDK reads `sun.net.httpserver.nodelay`
  * once per JVM, when it creates its first server, so [[start]] sets it
  * to `true` beforehand unless it is already set; an explicit
  * `-Dsun.net.httpserver.nodelay=false` still wins.
  */
final class GraftHttpServer(api: GraftApi, uploadDir: String, port: Int = 0) {
  import GraftHttpServer.{MaxBodyBytes, NoDelay}

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start listening; returns the bound port (ephemeral when `port`=0). */
  def start(): Int = synchronized {
    require(server == null, "server already started")
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    route("/api/v1/health", "GET") { _ =>
      ok(jmap("status" -> "healthy", "service" -> "graft", "version" -> "0.4"))
    }
    route("/api/v1/stats", "GET") { _ =>
      val s = api.stats
      ok(jmap(
        "total_vector_count" -> Long.box(s.totalVectorCount),
        "dimension" -> Int.box(s.dimension),
        "index_fullness" -> Double.box(s.indexFullness)))
    }
    route("/api/v1/query", "POST") { body =>
      val (question, topK) = questionAndTopK(body)
      val filter = Option(body.get("filter")).map(f =>
        toScala(f).asInstanceOf[Map[String, Any]])
      answerJson(api.query(question, topK, filter))
    }
    route("/api/v1/chat", "POST") { body =>
      val (question, topK) = questionAndTopK(body)
      val history = Option(body.get("chat_history")).toSeq.flatMap {
        case l: java.util.List[_] => l.asScala.toSeq.map {
          case m: java.util.Map[_, _] =>
            (String.valueOf(m.get("question")), String.valueOf(m.get("answer")))
          case other => invalid(s"malformed chat_history entry: $other")
        }
        case other => invalid(s"chat_history must be a list, got: $other")
      }
      answerJson(api.chat(question, history, topK))
    }
    uploadRoute()
    staticRoutes()
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    if (pool != null) { pool.shutdown(); pool = null }
  }

  // ---- request plumbing ----------------------------------------------

  private final case class HttpError(code: Int, detail: String)
      extends RuntimeException(detail)
  /** Request-shape/validation failure — Pydantic's 422, not 400. */
  private def invalid(detail: String): Nothing = throw HttpError(422, detail)

  private type Response = (Int, String)
  private def ok(payload: Object): Response =
    (200, mapper.writeValueAsString(payload))

  /** Read the request body, enforcing the size cap (→ 413). */
  private def readBody(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    val buf = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](64 * 1024)
    var n = in.read(chunk)
    while (n >= 0) {
      buf.write(chunk, 0, n)
      if (buf.size() > MaxBodyBytes)
        throw HttpError(413, s"request body exceeds $MaxBodyBytes bytes")
      n = in.read(chunk)
    }
    buf.toByteArray
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def guarded(ex: HttpExchange)(f: => Response): Unit = {
    val (code, json) =
      try f
      catch {
        case HttpError(code, detail) => (code, errJson(detail))
        case e: IllegalArgumentException =>
          (422, errJson(String.valueOf(e.getMessage)))
        case e: Exception => (500, errJson(String.valueOf(e.getMessage)))
      }
    respond(ex, code, json.getBytes(StandardCharsets.UTF_8), "application/json")
  }

  private def route(path: String, method: String)(
      handler: java.util.Map[String, Object] => Response): Unit =
    server.createContext(path, (ex: HttpExchange) => guarded(ex) {
      if (ex.getRequestMethod != method)
        (405, errJson(s"method not allowed, use $method"))
      else if (ex.getRequestURI.getPath != path)
        (404, errJson("not found"))
      else {
        val raw = new String(readBody(ex), StandardCharsets.UTF_8)
        val body: java.util.Map[String, Object] =
          if (method == "GET" || raw.isEmpty)
            new java.util.HashMap[String, Object]()
          else
            try mapper.readValue(raw, classOf[java.util.Map[String, Object]])
            catch { case _: Exception => invalid("invalid JSON body") }
        handler(body)
      }
    })

  // ---- upload: multipart/form-data or the JSON convenience shape -----

  private def uploadRoute(): Unit =
    server.createContext("/api/v1/upload", (ex: HttpExchange) => guarded(ex) {
      if (ex.getRequestMethod != "POST")
        (405, errJson("method not allowed, use POST"))
      else if (ex.getRequestURI.getPath != "/api/v1/upload")
        (404, errJson("not found"))
      else {
        val contentType =
          Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
        val raw = readBody(ex)
        val files =
          if (contentType.toLowerCase.startsWith("multipart/form-data"))
            parseMultipart(raw, contentType)
          else jsonFiles(raw)
        // the reference returns HTTP 200 with success=false on failure
        try {
          api.upload(files, uploadDir)
          ok(jmap("success" -> Boolean.box(true),
            "files" -> files.map(_._1).asJava))
        } catch {
          case e: HttpError => throw e // validation stays a 4xx
          case e: Exception =>
            ok(jmap("success" -> Boolean.box(false),
              "error" -> String.valueOf(e.getMessage)))
        }
      }
    })

  private def jsonFiles(raw: Array[Byte]): Seq[(String, String)] = {
    val body =
      try mapper.readValue(new String(raw, StandardCharsets.UTF_8),
        classOf[java.util.Map[String, Object]])
      catch { case _: Exception => invalid("invalid JSON body") }
    body.get("files") match {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case m: java.util.Map[_, _] =>
          (String.valueOf(m.get("name")), String.valueOf(m.get("content")))
        case other => invalid(s"malformed files entry: $other")
      }
      case _ => invalid("files must be a list of {name, content}")
    }
  }

  /** Minimal RFC 7578 multipart/form-data parser: split the body on the
    * boundary delimiter, keep parts carrying a `filename`. ISO-8859-1 is
    * the decode charset because it maps bytes 1:1 to chars — offsets
    * survive the round-trip, and each part's content re-encodes to its
    * exact original bytes before the real UTF-8 decode.
    */
  private def parseMultipart(
      body: Array[Byte], contentType: String): Seq[(String, String)] = {
    val boundary = contentType.split("boundary=", 2) match {
      case Array(_, b) =>
        val raw = b.split(";")(0).trim
        if (raw.startsWith("\"") && raw.endsWith("\"") && raw.length >= 2)
          raw.substring(1, raw.length - 1)
        else raw
      case _ => invalid("multipart/form-data without a boundary")
    }
    if (boundary.isEmpty) invalid("multipart/form-data without a boundary")
    val text  = new String(body, StandardCharsets.ISO_8859_1)
    val delim = "--" + boundary
    val fnRe  = """filename="([^"]*)"""".r
    text.split(java.util.regex.Pattern.quote(delim), -1).toSeq
      .drop(1)                                   // preamble before part 1
      .filterNot(_.startsWith("--"))             // closing delimiter tail
      .flatMap { seg =>
        val part = seg.stripPrefix("\r\n")
        val sep  = part.indexOf("\r\n\r\n")
        if (sep < 0) None
        else {
          val headers = part.substring(0, sep)
          // each part's content ends with the CRLF that precedes the
          // next delimiter line
          val content = part.substring(sep + 4).stripSuffix("\r\n")
          fnRe.findFirstMatchIn(headers).map(_.group(1)).filter(_.nonEmpty)
            .map(name => name -> new String(
              content.getBytes(StandardCharsets.ISO_8859_1),
              StandardCharsets.UTF_8))
        }
      }
  }

  // ---- root + static UI ----------------------------------------------

  private def staticRoutes(): Unit = {
    server.createContext("/ui", (ex: HttpExchange) =>
      serveAsset(ex, exactPath = Some("/ui"), name = "index.html"))
    server.createContext("/static/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/static/")
      if (name.isEmpty || name.contains("/") || name.contains(".."))
        respond(ex, 404, errJson("not found").getBytes(StandardCharsets.UTF_8),
          "application/json")
      else serveAsset(ex, exactPath = None, name = name)
    })
    // "/" is the JDK server's catch-all context: exact root serves the
    // reference's welcome JSON (`app/main.py:76-83`); anything unmatched
    // by a more specific context is a 404
    server.createContext("/", (ex: HttpExchange) => guarded(ex) {
      if (ex.getRequestURI.getPath != "/") (404, errJson("not found"))
      else if (ex.getRequestMethod != "GET")
        (405, errJson("method not allowed, use GET"))
      else ok(jmap(
        "message" -> "Welcome to graft — Spark-native RAG engine",
        "version" -> "0.4",
        "docs" -> "/ui"))
    })
  }

  private def serveAsset(ex: HttpExchange, exactPath: Option[String],
      name: String): Unit = {
    val notFound = exactPath.exists(_ != ex.getRequestURI.getPath)
    val stream = Option(
      getClass.getClassLoader.getResourceAsStream(s"graft/static/$name"))
    (if (notFound) None else stream) match {
      case Some(in) =>
        val bytes =
          try in.readAllBytes()
          finally in.close()
        respond(ex, 200, bytes, contentTypeOf(name))
      case None =>
        stream.foreach(_.close())
        respond(ex, 404, errJson("not found").getBytes(StandardCharsets.UTF_8),
          "application/json")
    }
  }

  private def contentTypeOf(name: String): String =
    if (name.endsWith(".html")) "text/html; charset=utf-8"
    else if (name.endsWith(".js")) "text/javascript; charset=utf-8"
    else if (name.endsWith(".css")) "text/css; charset=utf-8"
    else "application/octet-stream"

  // ---- response helpers ----------------------------------------------

  private def errJson(detail: String): String =
    mapper.writeValueAsString(jmap("detail" -> detail))

  private def questionAndTopK(body: java.util.Map[String, Object]): (String, Int) = {
    val question = body.get("question") match {
      case s: String if s.trim.nonEmpty => s
      case _ => invalid("question must be a non-empty string")
    }
    val topK = body.get("top_k") match {
      case null      => 5
      case n: Number =>
        // Pydantic rejects fractional floats for int fields; integral
        // doubles (3.0) coerce
        if (n.doubleValue() != math.rint(n.doubleValue()))
          invalid(s"top_k must be an integer, got: $n")
        n.intValue()
      case other     => invalid(s"top_k must be an integer, got: $other")
    }
    if (topK < 1 || topK > 20)
      invalid("top_k must be between 1 and 20")
    (question, topK)
  }

  private def answerJson(a: graft.rag.RagAnswer): Response =
    ok(jmap(
      "question" -> a.question,
      "answer" -> a.answer,
      "sources" -> a.sources.asJava,
      "retrieved_docs" -> a.retrieved.map(d => jmap(
        "id" -> d.id,
        "score" -> Double.box(d.score),
        "text" -> d.text,
        "source" -> d.source)).asJava))

  private def jmap(kvs: (String, Object)*): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Jackson's java containers → the scala shapes FilterDict expects. */
  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => String.valueOf(k) -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.toSeq.map(toScala)
    case n: java.lang.Integer => n.intValue()
    case n: java.lang.Long    => n.longValue()
    case n: java.lang.Double  => n.doubleValue()
    case other                => other
  }
}

object GraftHttpServer {
  /** Request-body cap (bytes); larger bodies → 413. */
  val MaxBodyBytes: Int = 16 * 1024 * 1024

  /** The JDK server's `TCP_NODELAY` switch, read once per JVM. */
  private val NoDelay = "sun.net.httpserver.nodelay"
}
