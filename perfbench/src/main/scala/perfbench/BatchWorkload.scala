package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `batch`: registry queries from `SparkEntry.queries` over the
  * fixture tables — the operators, plans, functions and streaming
  * layers, with no serving or ingest code on the path. Each query runs
  * once untimed (that run also checks its row count and an
  * order-independent result hash), then whole passes over the mix are
  * timed with `queryExecution.toRdd.count()`, as `graft.Bench` does,
  * each pass in a seeded order: as many as fill the measured time at
  * the pace of the untimed pass, and two at least.
  */
object BatchWorkload {

  /** The mix, by what bounds each query's time: compute-bound,
    * orchestration-bound, retrieval and streaming. One pass takes about
    * 5 s at sf0.01 on 4 cores once warm, which sizes the run.
    */
  val ComputeBound = Seq("q31_jaccard_pairs")
  val OrchestrationBound = Seq("q8K_lsh_plan", "q3F_entity_clusters")
  val Retrieval = Seq("q11_knn_batch")
  val Streaming = Seq("q7C_stream_knn")
  val Mix: Seq[String] = ComputeBound ++ OrchestrationBound ++ Retrieval ++ Streaming

  /** The fixture tables the mix reads. */
  val Tables = Seq("documents", "embeddings", "part")

  def scale(ctx: Ctx): String = if (ctx.args.tiny) "sf0.001" else "sf0.01"

  /** Row count and an order-independent hash of a query's result:
    * the sum of per-row xxhash64 values (mod a prime, so the sum cannot
    * overflow). Doubles are rounded to 6 places first, so a different
    * summation order across partitions cannot change the hash.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType             => to_json(c)
        case _                      => c
      }
    }
    val r = df.select(pmod(xxhash64(cols: _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def hygiene(ctx: Ctx, name: String): Unit =
    if (name.contains("_stream")) {
      graft.streaming.StreamRunner.dropRetainedSinks(ctx.spark)
      org.apache.spark.sql.GraftBridge.stopStateStores()
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sfDir = s"${ctx.args.testdata}/${scale(ctx)}"
    val order = ctx.rng.shuffle(Mix)

    // set-up, five times: build the query registry, then load the tables
    // the mix reads through the engine's own readers and read every column
    val (registries, setups) = (1 to 5).map { _ =>
      Stats.timed {
        val registry = SparkEntry.queries
        Tables.foreach { t =>
          val df = graft.Tables(spark, sfDir, t)
          df.selectExpr(df.columns.map(c => s"count(`$c`)").toIndexedSeq: _*).collect()
        }
        registry
      }
    }.unzip
    val registry = registries.last
    val missing = Mix.filterNot(registry.contains)
    require(missing.isEmpty, s"registry lacks ${missing.mkString(", ")}")

    ctx.phase("set-up done")
    // warm-up and correctness: one untimed execution per query. Its
    // length sets how many whole passes fill the measured time, so every
    // run on a box times the same number of passes (a pass that fit in
    // some runs and not in others would split the results in two).
    val expected = Expected.load(ctx, scale(ctx))
    val (observed, warmPassS) = Stats.timed(order.map { name =>
      val fp =
        try Some(fingerprint(registry(name)(spark, sfDir)))
        catch { case e: Exception => ctx.check("batch.runs", ok = false, s"$name: $e"); None }
      hygiene(ctx, name)
      name -> fp
    }.toMap)
    if (ctx.args.recordExpected.isEmpty) for ((name, fp) <- observed; got <- fp)
      ctx.check("batch.result_hash", expected.get(name).contains(got),
        s"$name: (rows, hash) $got, expected ${expected.get(name)}")
    ctx.args.recordExpected.foreach(p =>
      Expected.record(p, scale(ctx), observed.collect { case (n, Some(fp)) => n -> fp }))
    val passes = math.max(2, math.round(ctx.args.seconds / warmPassS).toInt)
    ctx.phase("warm-up done")
    // measured: `passes` whole passes, about the measured time
    val reps = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    var build, plan, exec = 0.0
    var buildJobs = 0
    var attempted = 0L
    val t0 = System.currentTimeMillis()
    // each pass in its own seeded order, so no one order's effects
    // (caches, JIT state) weigh on every pass
    val queue = Iterator(order) ++ Iterator.continually(ctx.rng.shuffle(Mix))
    queue.take(passes).flatten.foreach { name =>
      attempted += 1
      try {
        val bStart = System.currentTimeMillis()
        val layer = if (name.contains("_stream")) "streaming" else "queries"
        val (df, b) = ctx.spans(name + ".build", layer)(Stats.timed(registry(name)(spark, sfDir)))
        val bEnd = System.currentTimeMillis()
        val (rows, e) = ctx.spans(name + ".exec", "spark")(Stats.timed(df.queryExecution.toRdd.count()))
        val phases = df.queryExecution.tracker.phases
        val p = phases.values.map(s => (s.endTimeMs - s.startTimeMs) / 1e3).sum
        ctx.check("batch.row_count", expected.get(name).forall(_._1 == rows),
          s"$name: $rows rows in a timed run, expected ${expected(name)._1}")
        reps(name) = reps(name) :+ (b + e)
        build += b; plan += p; exec += math.max(0.0, e - p)
        if (ctx.args.trace) {
          ctx.rec.settle()
          buildJobs += ctx.rec.window(bStart, bEnd).jobs
        }
      } catch {
        case ex: Exception => ctx.check("batch.runs", ok = false, s"$name: $ex")
      }
      hygiene(ctx, name)
    }
    val t1 = System.currentTimeMillis()
    Mix.foreach(n => System.err.println(f"[perfbench] $n%-24s ${reps.get(n).map(_.mkString(" ")).getOrElse("-")}"))
    val perQuery = Mix.flatMap(n => reps.get(n).map(Stats.median))
    val runs = reps.values.map(_.size).sum.toDouble
    Outcome(
      attempted = attempted + Mix.size,
      e2e = Map(
        "setup_s" -> Stats.median(setups),
        "throughput_per_s" -> perQuery.size / perQuery.sum,
        "latency_p90_ms" -> Stats.quantile(perQuery, 0.9) * 1e3,
        "latency_geomean_ms" -> Stats.geomean(perQuery) * 1e3),
      layers = Map(
        "queries.count" -> runs,
        "queries.build_s" -> build, "queries.build_jobs" -> buildJobs.toDouble,
        "queries.plan_s" -> plan, "queries.exec_s" -> exec),
      window = (t0, t1))
  }
}

/** Expected row counts and hashes, committed with the benchmark. */
object Expected {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def load(ctx: Ctx, scale: String): Map[String, (Long, Long)] = {
    val f = ctx.args.benchDir.resolve("expected_batch.json")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val node = mapper.readTree(f.toFile).get(scale)
      if (node == null) Map.empty
      else {
        val it = node.fields()
        val b = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (e.getValue.get("rows").asLong -> e.getValue.get("hash").asLong)
        }
        b.result()
      }
    }
  }

  /** Merge `values` for `scale` into the JSON file at `path`. */
  def record(path: String, scale: String, values: Map[String, (Long, Long)]): Unit = {
    val f = new java.io.File(path)
    val root =
      if (f.exists) mapper.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    val node = root.putObject(scale)
    values.toSeq.sortBy(_._1).foreach { case (n, (rows, hash)) =>
      val q = node.putObject(n)
      q.put("rows", rows)
      q.put("hash", hash)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}
