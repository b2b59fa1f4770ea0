package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
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
  *    Uploads are byte-exact: a multipart part's bytes (a binary PDF
  *    included) and a JSON `content`'s UTF-8 bytes are what the landing
  *    dir holds and what the index ingests.
  *
  * One dispatcher serves every route, the UI and static ones included,
  * with one contract: a path that is not a route is 404; a route called
  * with another method is 405; a body over
  * [[GraftHttpServer.MaxBodyBytes]] is 413; a malformed request is 422
  * `{detail}` (FastAPI's RequestValidationError status, not 400,
  * mirroring the Pydantic contract of `routes.py:27-51`) — a JSON route's
  * body that is not a JSON object, an empty/missing question, top_k
  * outside [1, 20] or non-integral, malformed chat_history or files, a
  * filter naming an unknown field or comparing it with a wrongly typed
  * operand; any other failure is 500 `{detail}`. No client input is
  * answered with a 500.
  *
  * Serving is driver-side by design, like every query engine's
  * coordinator endpoint: a request fans out to the cluster as one Spark
  * job over the index's materialized live snapshot — a fused cosine
  * top-k per partition, no query planning unless the request has a
  * filter — and only the ≤ top_k result rows pass through this process.
  * The snapshot is rebuilt on the first request after the log changes —
  * an upload here, which writes its own files through the served index
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
  import GraftHttpServer._

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start listening; returns the bound port (ephemeral when `port`=0). */
  def start(): Int = synchronized {
    require(server == null, "server already started")
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // "/" is the JDK server's catch-all context: every request lands here
    server.createContext("/", (ex: HttpExchange) => dispatch(ex))
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    if (pool != null) { pool.shutdown(); pool = null }
  }

  // ---- routes ----------------------------------------------------------

  /** Every route by its exact path. */
  private val routes: Map[String, Route] = Map(
    "/" -> Route("GET", _ => ok(jmap(
      "message" -> "Welcome to graft — Spark-native RAG engine",
      "version" -> "0.4",
      "docs" -> "/ui"))),
    "/ui" -> Route("GET", _ => asset("index.html", "text/html")),
    "/static/app.js" -> Route("GET", _ => asset("app.js", "text/javascript")),
    "/static/styles.css" -> Route("GET", _ => asset("styles.css", "text/css")),
    "/api/v1/health" -> Route("GET", _ =>
      ok(jmap("status" -> "healthy", "service" -> "graft", "version" -> "0.4"))),
    "/api/v1/stats" -> Route("GET", { _ =>
      val s = api.stats
      ok(jmap(
        "total_vector_count" -> Long.box(s.totalVectorCount),
        "dimension" -> Int.box(s.dimension),
        "index_fullness" -> Double.box(s.indexFullness)))
    }),
    "/api/v1/query" -> Route("POST", { r =>
      val body = r.json
      val (question, topK) = questionAndTopK(body)
      val filter = Option(body.get("filter")).map {
        case f: java.util.Map[_, _] => toScala(f).asInstanceOf[Map[String, Any]]
        case other => invalid(s"filter must be an object, got: $other")
      }
      answerJson(api.query(question, topK, filter))
    }),
    "/api/v1/chat" -> Route("POST", { r =>
      val body = r.json
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
    }),
    "/api/v1/upload" -> Route("POST", upload))

  // ---- the dispatcher --------------------------------------------------

  private def dispatch(ex: HttpExchange): Unit = {
    val reply =
      try routes.get(ex.getRequestURI.getPath) match {
        case None => error(404, "not found")
        case Some(Route(method, _)) if method != ex.getRequestMethod =>
          error(405, s"method not allowed, use $method")
        case Some(Route(_, handle)) =>
          val body = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
          if (body.length > MaxBodyBytes)
            error(413, s"request body exceeds $MaxBodyBytes bytes")
          else handle(Request(
            Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse(""), body))
      } catch {
        case e: IllegalArgumentException => error(422, String.valueOf(e.getMessage))
        case e: Exception => error(500, String.valueOf(e.getMessage))
      }
    ex.getResponseHeaders.set("Content-Type", reply.contentType)
    ex.sendResponseHeaders(reply.code, reply.body.length.toLong)
    ex.getResponseBody.write(reply.body)
    ex.close()
  }

  private def ok(payload: Object): Reply = Reply(200, mapper.writeValueAsBytes(payload))

  private def error(code: Int, detail: String): Reply =
    Reply(code, mapper.writeValueAsBytes(jmap("detail" -> detail)))

  private def asset(name: String, mime: String): Reply = {
    val in = getClass.getClassLoader.getResourceAsStream(s"graft/static/$name")
    try Reply(200, in.readAllBytes(), s"$mime; charset=utf-8") finally in.close()
  }

  // ---- upload: multipart/form-data or the JSON convenience shape -------

  private def upload(r: Request): Reply = {
    val files =
      if (r.contentType.toLowerCase.startsWith("multipart/form-data")) multipartFiles(r)
      else r.json.get("files") match {
        case l: java.util.List[_] => l.asScala.toSeq.map {
          case m: java.util.Map[_, _] => (m.get("name"), m.get("content")) match {
            case (name: String, content: String) => name -> content.getBytes(UTF_8)
            case _ => invalid(s"files entry needs a string name and content: $m")
          }
          case other => invalid(s"malformed files entry: $other")
        }
        case _ => invalid("files must be a list of {name, content}")
      }
    // the reference returns HTTP 200 with success=false on failure
    try {
      api.uploadBytes(files, uploadDir)
      ok(jmap("success" -> Boolean.box(true), "files" -> files.map(_._1).asJava))
    } catch {
      case e: Exception =>
        ok(jmap("success" -> Boolean.box(false), "error" -> String.valueOf(e.getMessage)))
    }
  }

  /** Minimal RFC 7578 multipart/form-data parser: the body is cut at each
    * boundary delimiter, and every part with a `filename` yields its
    * content bytes exactly as sent (up to the CRLF that precedes the next
    * delimiter). Part headers are read as UTF-8, as browsers send names.
    */
  private def multipartFiles(r: Request): Seq[(String, Array[Byte])] = {
    val boundary = r.contentType.split("boundary=", 2) match {
      case Array(_, b) => b.split(";")(0).trim.stripPrefix("\"").stripSuffix("\"")
      case _ => ""
    }
    if (boundary.isEmpty) invalid("multipart/form-data without a boundary")
    val body  = r.body
    val delim = s"--$boundary".getBytes(UTF_8)
    val at = Iterator.iterate(indexOf(body, delim, 0))(i => indexOf(body, delim, i + delim.length))
      .takeWhile(_ >= 0).toVector
    at.zip(at.drop(1) :+ body.length).flatMap { case (from, until) =>
      val seg = body.slice(from + delim.length, until)
      val sep = indexOf(seg, CrLf ++ CrLf, 0)
      // "--" after the delimiter closes the body
      if (seg.startsWith("--".getBytes(UTF_8)) || sep < 0) None
      else FileName.findFirstMatchIn(new String(seg, 0, sep, UTF_8))
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_ -> seg.slice(sep + 4, seg.length - (if (seg.endsWith(CrLf)) 2 else 0)))
    }
  }

  /** The first index at or after `from` where `needle` starts in `hay`, or -1. */
  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    while (i <= hay.length - needle.length &&
        !java.util.Arrays.equals(hay, i, i + needle.length, needle, 0, needle.length))
      i += 1
    if (i <= hay.length - needle.length) i else -1
  }

  // ---- request and response shapes -------------------------------------

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
        val d = n.doubleValue()
        if (d != math.rint(d)) invalid(s"top_k must be an integer, got: $n")
        // range-check before narrowing: intValue() wraps 2^32 + 1 to 1
        if (d < 1 || d > 20) invalid("top_k must be between 1 and 20")
        d.toInt
      case other     => invalid(s"top_k must be an integer, got: $other")
    }
    (question, topK)
  }

  private def answerJson(a: graft.rag.RagAnswer): Reply =
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

  private val CrLf     = "\r\n".getBytes(UTF_8)
  private val FileName = """filename="([^"]*)"""".r

  private val mapper = new ObjectMapper()

  private final case class Route(method: String, handle: Request => Reply)

  /** A routed request: its `Content-Type` and its body, within the cap. */
  private final case class Request(contentType: String, body: Array[Byte]) {
    /** The body as a JSON object; any other body is a 422. */
    def json: java.util.Map[String, Object] =
      (try mapper.readValue(body, classOf[java.util.Map[String, Object]])
       catch { case _: Exception => null }) match {
        case null => invalid("body must be a JSON object")
        case m => m
      }
  }

  private final case class Reply(code: Int, body: Array[Byte],
      contentType: String = "application/json")

  /** Request-shape/validation failure — Pydantic's 422, not 400. */
  private def invalid(detail: String): Nothing = throw new IllegalArgumentException(detail)
}
