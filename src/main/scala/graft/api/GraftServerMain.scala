package graft.api

import graft.Session
import graft.catalog.VectorCatalog
import graft.embed.DeterministicEmbedder
import graft.rag.Ingest

/** Runnable server — the reference's `uvicorn app.main:app` equivalent
  * (`app/main.py:76-89`): ingest a document directory into a vector
  * index, then serve the five HTTP endpoints until killed.
  *
  * Usage: `runMain graft.api.GraftServerMain <docsDir> [port] [catalogDir]`
  * (port 0 = ephemeral, printed on startup). The embedder is the
  * deterministic offline default; swap in an HTTP-shaped provider for a
  * real model service.
  */
object GraftServerMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: GraftServerMain <docsDir> [port] [catalogDir]")
    val docsDir = args(0)
    val port    = if (args.length > 1) args(1).toInt else 8080
    val catDir  = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft-catalog").toString

    val spark = Session.local(Session.cpus, "graft-server")

    val catalog  = new VectorCatalog(spark, catDir)
    val embedder = new DeterministicEmbedder(64)
    val index    = Ingest.run(spark, catalog, docsDir, "graft-index", embedder)
    val landing  = java.nio.file.Files.createTempDirectory("graft-upload").toString
    val api      = new GraftApi(spark, catalog, index, embedder)
    val server   = new GraftHttpServer(api, landing, port)
    val bound    = server.start()
    // println, not a logger: the bound port is the startup contract
    println(s"graft server listening on http://127.0.0.1:$bound/api/v1/health " +
      s"(index: ${index.stats.totalVectorCount} vectors)")
    sys.addShutdownHook { server.stop(); spark.stop() }
    Thread.currentThread.join() // serve until killed
  }
}
