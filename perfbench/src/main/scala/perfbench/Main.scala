package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Command-line settings of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    tiny: Boolean,
    testdata: String,
    benchDir: Path,
    recordExpected: Option[String])

/** What the run shares with a workload: the session, the recorders and
  * the span store.
  */
final class Ctx(val spark: SparkSession, val args: Args, val host: HostMonitor,
    val rec: SparkRecorder, val streams: StreamRecorder, val spans: Spans) {
  val rng = new scala.util.Random(args.seed)
  val cpus: Int = spark.sparkContext.defaultParallelism

  /** A fresh directory under the run's work dir. */
  def dir(name: String): Path = {
    val d = args.work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Seconds a measured phase should run for. */
  def measureNs: Long = args.seconds * 1000000000L

  private val checks = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Note on standard error how far into the run a phase ended. */
  def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] +$up%.1fs $name")
  }

  /** One check of the correctness gate `gate`; `what` describes a failure. */
  def check(gate: String, ok: Boolean, what: => String): Unit = {
    checks.merge(gate, 1, _ + _)
    if (!ok) failed.add(s"$gate: $what")
    ()
  }

  def failures: Seq[String] = failed.asScala.toSeq
  def gates: Map[String, Int] = checks.asScala.toMap
}

/** Outcome of one workload run. `layers` holds only the per-layer
  * metrics the workload itself measured; [[Main]] adds the Spark, host
  * and streaming figures of the `window` and zero-fills the rest.
  */
final case class Outcome(
    attempted: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    window: (Long, Long))

object Main {

  /** End-to-end metrics, printed by every workload with `--trace 0`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_geomean_ms" -> "ms",
    "latency_p90_ms" -> "ms")

  /** Per-layer metrics, printed by every workload with `--trace 1`; a
    * layer the workload never calls reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    // spark: the engine under every layer, over the traced window
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_per_stage" -> "ratio", "spark.cpu_util" -> "ratio",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.input_rows" -> "count",
    "spark.window_s" -> "s",
    // queries: registry construction, planning and execution
    "queries.count" -> "count", "queries.build_s" -> "s",
    "queries.build_jobs" -> "count", "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    // streaming
    "streaming.micro_batches" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    // ingest / embed / catalog write path
    "ingest.readers_s" -> "s", "ingest.chunker_s" -> "s", "ingest.docs" -> "count",
    "ingest.chunks" -> "count", "embed.embed_s" -> "s", "embed.texts_per_s" -> "1/s",
    "catalog.upsert_s" -> "s", "catalog.upsert_jobs" -> "count",
    "catalog.upsert_rows" -> "count", "catalog.new_chunks" -> "count",
    "catalog.upsert_rows_per_new_chunk" -> "ratio", "api.upload_s" -> "s",
    "api.uploads" -> "count", "api.upload_jobs" -> "count",
    "catalog.log_rows" -> "count", "catalog.live_rows" -> "count",
    "catalog.log_rows_per_live_row" -> "ratio",
    "catalog.index_bytes" -> "bytes", "catalog.index_bytes_per_chunk" -> "bytes",
    // catalog / rag / api read path (single-client traced pass)
    "catalog.knn_ms" -> "ms", "catalog.knn_calls" -> "count",
    "catalog.knn_jobs" -> "count", "catalog.knn_shuffle_bytes" -> "bytes",
    "catalog.scan_rows" -> "count", "catalog.results" -> "count",
    "catalog.scan_rows_per_result" -> "ratio", "catalog.stats_ms" -> "ms",
    "embed.query_embed_ms" -> "ms", "rag.retrieve_ms" -> "ms",
    "rag.format_ms" -> "ms", "rag.llm_ms" -> "ms", "api.query_ms" -> "ms",
    "api.http_ms" -> "ms", "api.http_overhead_ms" -> "ms",
    // self time per layer, rolled up from the span store
    "layer.ingest.self_s" -> "s", "layer.embed.self_s" -> "s",
    "layer.catalog.self_s" -> "s", "layer.rag.self_s" -> "s",
    "layer.api.self_s" -> "s", "layer.queries.self_s" -> "s",
    "layer.streaming.self_s" -> "s",
    // tracing overhead: traced minus untraced, as a share of untraced
    "trace.overhead_frac" -> "ratio",
    // host contention
    "host.steal_frac" -> "ratio", "host.load_avg_start" -> "load",
    "host.load_avg_end" -> "load", "host.max_jvm_gap_s" -> "s",
    "host.stolen" -> "flag")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val host = new HostMonitor
    val spark = session(args)
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new SparkRecorder
    spark.sparkContext.addSparkListener(rec)
    val streams = new StreamRecorder
    spark.streams.addListener(streams)
    val ctx = new Ctx(spark, args, host, rec, streams, new Spans)
    ctx.phase("session ready")
    val code =
      try {
        val out = args.workload match {
          case "ingest" => IngestWorkload.run(ctx)
          case "serve"  => ServeWorkload.run(ctx)
          case "batch"  => BatchWorkload.run(ctx)
          case other    => throw new IllegalArgumentException(s"unknown workload $other")
        }
        rec.settle()
        ctx.phase("workload done")
        System.err.println(f"[perfbench] host steal ${host.stealFrac}%.4f, load ${host.loadStart}%.2f -> ${host.loadEnd}%.2f, max JVM gap ${host.maxGapS}%.3f s")
        ctx.gates.toSeq.sorted.foreach { case (g, n) =>
          System.err.println(s"[perfbench] gate $g: $n checks, ${ctx.failures.count(_.startsWith(g + ":"))} failed")
        }
        ctx.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
        println(resultJson(ctx, out))
        if (ctx.failures.isEmpty) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      } finally {
        host.stop()
        spark.stop()
      }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = kv("workload"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      work = Paths.get(kv("work")).toAbsolutePath,
      tiny = kv.getOrElse("size", "full") == "tiny",
      testdata = kv("testdata"),
      benchDir = Paths.get(kv("bench-dir")).toAbsolutePath,
      recordExpected = kv.get("record-expected"))
  }

  private def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val local = args.work.resolve("spark-local")
    Files.createDirectories(local)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.codingErrorAction", "true")
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "300s")
      .getOrCreate()
  }

  private def resultJson(ctx: Ctx, out: Outcome): String = {
    val metrics: Seq[(String, Metric)] =
      if (!ctx.args.trace) EndToEnd.map { case (n, u) =>
        n -> Metric(out.e2e.getOrElse(n, sys.error(s"workload did not measure $n")), u)
      }
      else {
        val measured = out.layers ++ common(ctx, out)
        PerLayer.map { case (n, u) => n -> Metric(measured.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, m) =>
      s""""$n":{"value":${num(m.value)},"unit":"${m.unit}"}"""
    }.mkString(",")
    s"""{"correct":${ctx.failures.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${math.min(ctx.failures.size.toLong, out.attempted)},"metrics":{$body}}"""
  }

  /** A metric value as JSON; a non-finite one (a broken ratio) prints as
    * `null`, so that it cannot pass for a measurement.
    */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Spark, streaming, span roll-up and host figures of the window. */
  private def common(ctx: Ctx, out: Outcome): Map[String, Double] = {
    val (from, to) = out.window
    val c = ctx.rec.window(from, to)
    val wallS = math.max(1e-9, (to - from) / 1e3)
    val spans = ctx.spans.selfByLayer.map { case (l, s) => s"layer.$l.self_s" -> s }
    ctx.spans.write(ctx.args.work.getParent.resolve("traces")
      .resolve(s"${ctx.args.workload}-seed${ctx.args.seed}.spans.jsonl"))
    // stolen: for registry queries, the window took far longer than its
    // task CPU spread over the cores plus the DataFrame construction
    // time explains; request workloads wait on I/O and locks by design,
    // so for them only the host's own steal accounting counts
    val buildS = out.layers.getOrElse("queries.build_s", 0.0)
    val stolen = ctx.host.stealFrac > 0.02 ||
      (buildS > 0 && wallS > 2.0 * (c.taskCpuS / ctx.cpus + buildS) + 1.0)
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.tasks_per_stage" -> (if (c.stages > 0) c.tasks.toDouble / c.stages else 0.0),
      "spark.cpu_util" -> c.taskCpuS / (wallS * ctx.cpus),
      "spark.task_run_s" -> c.taskRunS, "spark.task_cpu_s" -> c.taskCpuS,
      "spark.gc_s" -> c.gcS, "spark.spill_bytes" -> c.spill.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.input_rows" -> c.inputRows.toDouble, "spark.window_s" -> wallS,
      "streaming.micro_batches" -> ctx.streams.microBatches.get().toDouble,
      "streaming.add_batch_s" -> ctx.streams.addBatchMs.get() / 1e3,
      "streaming.wal_commit_s" -> ctx.streams.walCommitMs.get() / 1e3,
      "host.steal_frac" -> ctx.host.stealFrac,
      "host.load_avg_start" -> ctx.host.loadStart,
      "host.load_avg_end" -> ctx.host.loadEnd,
      "host.max_jvm_gap_s" -> ctx.host.maxGapS,
      "host.stolen" -> (if (stolen) 1.0 else 0.0)
    ) ++ spans
  }
}

/** Order statistics over a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Time `f` in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
