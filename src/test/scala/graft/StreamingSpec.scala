package graft

import graft.catalog.{IndexMeta, VectorCatalog, VectorIndex}
import graft.embed.DeterministicEmbedder
import graft.streaming.{StreamRunner, StreamingIngest}
import graft.util.TempDirs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, StreamingQueryListener, StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Paths}

class StreamingSpec extends GraftSpec {

  /** `body`'s result and the progress events of the one stream it runs,
    * collected once that stream has terminated: the listener bus delivers
    * asynchronously, and a query's terminated event follows its last
    * progress event.
    */
  private def progressOf[T](body: => T): (T, Seq[StreamingQueryProgress]) = {
    val events     = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    val result =
      try {
        val r = body
        assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "no terminated event")
        r
      } finally spark.streams.removeListener(listener)
    (result, events.toArray(Array.empty[StreamingQueryProgress]).toSeq)
  }

  /** Called inside a foreachBatch body: the checkpoint dir of the one
    * stream running in the session, found by the query id its
    * `metadata` file records.
    */
  private def runningCheckpoint(): java.io.File = {
    val id    = spark.streams.active.head.id.toString
    val roots = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
    val dirs  = roots.flatMap(r => Option(new java.io.File(r).listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("graft-stream-ckpt-"))
    val mine = dirs.filter { d =>
      val meta = new java.io.File(d, "metadata")
      meta.isFile && Files.readString(meta.toPath).contains(id)
    }
    assert(mine.size == 1, s"checkpoints of query $id: $mine")
    mine.head
  }

  test("bounded drains run at 8 shuffle partitions, restore the session and leave no checkpoint") {
    import spark.implicits._
    val key  = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val dir = TempDirs.scratch("graft-drain")
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k").write.parquet(s"$dir/in")
      val stream = spark.readStream.schema("id LONG, k STRING").parquet(s"$dir/in")

      // a Complete-mode aggregate: its state store is sized by the drain
      val (counts, progress) = progressOf {
        StreamRunner.runToBatch(stream.groupBy("k").count(), OutputMode.Complete)
          .as[(String, Long)].collect().toMap
      }
      assert(counts == Map("a" -> 2L, "b" -> 1L))
      val stateParts = progress.flatMap(_.stateOperators.map(_.numShufflePartitions))
      assert(stateParts.nonEmpty && stateParts.forall(_ == 8), s"state partitions $stateParts")
      assert(spark.conf.get(key) == "3")

      // a foreachBatch body plans its jobs at the drain's value
      var seen = Seq.empty[String]
      var ckpts = Seq.empty[java.io.File]
      StreamRunner.drain(stream)(_.foreachBatch { (batch: DataFrame, _: Long) =>
        seen = Seq(spark.conf.get(key), batch.sparkSession.conf.get(key))
        ckpts :+= runningCheckpoint()
      })
      assert(seen == Seq("8", "8"))
      assert(spark.conf.get(key) == "3")

      // a body that throws: the failure reaches the caller, and the
      // session's value and the checkpoint are still restored / reclaimed
      val err = intercept[StreamingQueryException] {
        StreamRunner.drain(stream)(_.foreachBatch { (_: DataFrame, _: Long) =>
          ckpts :+= runningCheckpoint()
          throw new IllegalStateException("drain body failed")
        })
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("drain body failed")))
      assert(spark.conf.get(key) == "3")
      assert(ckpts.size == 2 && ckpts.forall(!_.exists()), s"left behind: $ckpts")
    } finally spark.conf.set(key, prev)
  }

  test("file-source streaming ingest: landing files flow into the index") {
    val landing    = Paths.get(TempDirs.scratch("graft-landing"))
    val checkpoint = TempDirs.scratch("graft-ckpt")
    val catRoot    = TempDirs.scratch("graft-stream-cat")
    val catalog    = new VectorCatalog(spark, catRoot)
    val embedder   = new DeterministicEmbedder(16)
    val index = VectorIndex.createOrConnect(spark, catalog,
      IndexMeta("stream-idx", 16))

    Files.writeString(landing.resolve("a.txt"), "alpha document about spark streaming")
    val q = StreamingIngest.start(spark, landing.toString, index, embedder, checkpoint)
    try {
      q.processAllAvailable()
      val n1 = index.read.count()
      assert(n1 >= 1)

      // second file arrives → incremental batch, index grows
      Files.writeString(landing.resolve("b.txt"), "beta document about vector search")
      q.processAllAvailable()
      val n2 = index.read.count()
      assert(n2 > n1)

      // identical content from a DIFFERENT file keeps both (distinct
      // sources → distinct ids, matching the reference's per-file docs);
      // per-id last-wins dedup itself is covered in CatalogSpec
      Files.writeString(landing.resolve("c.txt"), "beta document about vector search")
      q.processAllAvailable()
      val n3 = index.read.count()
      assert(n3 == n2 + (n2 - n1))
      // and sources are per-file, not the landing dir
      val sources = index.read.select("source").distinct().count()
      assert(sources == 3)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the window") {
    import spark.implicits._
    val dir = TempDirs.scratch("graft-ssj")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)

    // impressions at t=0 (u1), t=100 (u2); clicks: u1@30s (in window),
    // u1@90s (outside 60s window), u2@130s (in window), u3@10s (no imp)
    Seq((1L, "imp_a", ts(0)), (2L, "imp_b", ts(100)))
      .toDF("user_id", "imp_id", "imp_ts").coalesce(1)
      .write.parquet(s"$dir/imps")
    Seq((1L, "clk_1", ts(30)), (1L, "clk_2", ts(90)),
        (2L, "clk_3", ts(130)), (3L, "clk_4", ts(10)))
      .toDF("user_id", "click_id", "click_ts").coalesce(1)
      .write.parquet(s"$dir/clicks")

    val impSchema = spark.read.parquet(s"$dir/imps").schema
    val clkSchema = spark.read.parquet(s"$dir/clicks").schema
    val imps = spark.readStream.schema(impSchema).parquet(s"$dir/imps")
    val clks = spark.readStream.schema(clkSchema).parquet(s"$dir/clicks")

    val joined = StreamingIngest.joinWithinInterval(
      imps, clks, "user_id", "imp_ts", "click_ts",
      delay = "10 seconds", intervalSeconds = 60)
    val q = joined.select("user_id", "imp_id", "click_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("attributed").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attributed").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("imp_id"),
          r.getAs[String]("click_id"))).toSet
      assert(got == Set((1L, "imp_a", "clk_1"), (2L, "imp_b", "clk_3")))
    } finally q.stop()
  }

  test("left-outer interval join emits negatives only for watermark-closed windows") {
    import spark.implicits._
    val dir = TempDirs.scratch("graft-ssj-outer")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)

    // Global watermark = min(max imp_ts, max click_ts) − 10 s
    //                  = min(100, 130) − 10 = 90 s.
    // An unmatched imp emits a NULL-click row iff its 60 s window end
    // precedes that: imp_d@5 (65 < 90 → negative); imp_e@80 (140 > 90 →
    // window still open, emits NOTHING — the only sound call on an
    // unbounded stream). Matched imps emit their inner rows as usual.
    Seq((1L, "imp_a", ts(0)), (2L, "imp_b", ts(100)),
        (4L, "imp_d", ts(5)), (5L, "imp_e", ts(80)))
      .toDF("user_id", "imp_id", "imp_ts").coalesce(1)
      .write.parquet(s"$dir/imps")
    Seq((1L, "clk_1", ts(30)), (2L, "clk_3", ts(130)))
      .toDF("user_id", "click_id", "click_ts").coalesce(1)
      .write.parquet(s"$dir/clicks")

    val imps = spark.readStream
      .schema(spark.read.parquet(s"$dir/imps").schema).parquet(s"$dir/imps")
    val clks = spark.readStream
      .schema(spark.read.parquet(s"$dir/clicks").schema).parquet(s"$dir/clicks")

    val joined = StreamingIngest.joinWithinInterval(
      imps, clks, "user_id", "imp_ts", "click_ts",
      delay = "10 seconds", intervalSeconds = 60, joinType = "left_outer")
    val q = joined.select("user_id", "imp_id", "click_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("attributed_outer").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attributed_outer").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("imp_id"),
          Option(r.getAs[String]("click_id")))).toSet
      assert(got == Set(
        (1L, "imp_a", Some("clk_1")),
        (2L, "imp_b", Some("clk_3")),
        (4L, "imp_d", None)))
    } finally q.stop()
  }

  test("stateful sessions close across micro-batches with per-user state") {
    import spark.implicits._
    import graft.streaming.StreamingIngest.{ClosedSession, UserEvent}

    val dir = TempDirs.scratch("graft-sess")
    // two users; user 1 has two sessions split by a >10min gap that
    // spans the two input files (forces cross-batch state)
    val m = 60L * 1000000L
    def ev(uid: Long, us: Long, v: Double) =
      UserEvent(uid, new java.sql.Timestamp(us / 1000L), us, v)
    Seq(
      ev(1L, 0 * m, 1.0), ev(1L, 2 * m, 2.0),
      ev(2L, 1 * m, 5.0)
    ).toDS().coalesce(1).write.parquet(s"$dir/batch1")
    Seq(
      ev(1L, 30 * m, 3.0), ev(1L, 32 * m, 4.0),
      ev(2L, 3 * m, 6.0)
    ).toDS().coalesce(1).write.parquet(s"$dir/batch2")

    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .as[UserEvent]
    // long idle timeout: only the in-data gap closes a session here;
    // the idle flush is exercised separately below
    val sessions = graft.streaming.StreamingIngest
      .statefulSessions(stream, gapUs = 10 * m,
        StreamingIngest.SessionFlush.IdleWallClock(3600000L))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("closed_sessions").start()
    try {
      // with ProcessingTimeTimeout the engine keeps scheduling batches to
      // evaluate timeouts, so processAllAvailable() never settles — poll
      // the sink for the expected row instead
      def closedRows() = spark.table("closed_sessions").as[ClosedSession].collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (closedRows().length < 1 && System.nanoTime() < deadline)
        Thread.sleep(200)
      val closed = closedRows()
      // only user 1's first session has closed (gap exceeded);
      // open sessions remain in state, not emitted
      assert(closed.length == 1, s"closed=${closed.toSeq}")
      val s = closed.head
      assert(s.user_id == 1L && s.n_events == 2 && s.total_value == 3.0)
      assert(s.start_us == 0L && s.end_us == 2 * m)
    } finally q.stop()
  }

  test("streaming SCD2 closes versions across micro-batches; open stays in state") {
    import spark.implicits._
    import graft.streaming.StreamingIngest.{ClosedVersion, ScdChange}
    val dir = TempDirs.scratch("graft-scd")
    // batch 1: key 1 opens A at 10 (with a same-ts tie loser B@tie1);
    // batch 2: A->B at 20 closes [10,20), B->B at 25 collapses,
    //          B->C at 30 closes [20,30); C stays OPEN (state only)
    Seq(ScdChange(1L, 10L, "B", 1L), ScdChange(1L, 10L, "A", 2L))
      .toDS().coalesce(1).write.parquet(s"$dir/batch1")
    Seq(ScdChange(1L, 20L, "B", 3L), ScdChange(1L, 25L, "B", 4L),
        ScdChange(1L, 30L, "C", 5L))
      .toDS().coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .as[ScdChange]
    val closed = graft.streaming.StreamingIngest.scdMaintain(stream)
    val q = closed.writeStream.outputMode("append")
      .format("memory").queryName("scd_closed").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("scd_closed").as[ClosedVersion].collect()
        .sortBy(_.valid_from)
      assert(rows.toSeq == Seq(
        ClosedVersion(1L, "A", 10L, 20L),   // tie=2 won the same-ts pair
        ClosedVersion(1L, "B", 20L, 30L)),  // the 25 re-observation collapsed
        s"got ${rows.toSeq}")
      // exactly one state row (key 1's open C version)
      val prog = q.lastProgress
      assert(prog.stateOperators.head.numRowsTotal == 1,
        s"state rows: ${prog.stateOperators.head.numRowsTotal}")
    } finally q.stop()
  }

  test("streaming SCD2 drops cross-batch same-ts duplicates (no zero-length interval)") {
    import spark.implicits._
    import graft.streaming.StreamingIngest.{ClosedVersion, ScdChange}
    val dir = TempDirs.scratch("graft-scd-dup")
    // batch 1 installs A@10 as current. batch 2 redelivers ts=10 with a
    // DIFFERENT attr (an at-least-once source's late duplicate — its
    // tie-break already ran when A won in batch 1): it must be dropped,
    // not emit a degenerate [10,10) interval or usurp the current row.
    // The real change C@20 then closes A's interval, proving state held.
    Seq(ScdChange(1L, 10L, "A", 2L))
      .toDS().coalesce(1).write.parquet(s"$dir/batch1")
    Seq(ScdChange(1L, 10L, "B", 9L), ScdChange(1L, 20L, "C", 1L))
      .toDS().coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .as[ScdChange]
    val closed = graft.streaming.StreamingIngest.scdMaintain(stream)
    val q = closed.writeStream.outputMode("append")
      .format("memory").queryName("scd_dup_closed").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("scd_dup_closed").as[ClosedVersion].collect().toSeq
      // exactly ONE closed version: A's, closed by C@20 — the duplicate
      // emitted nothing and did not replace A as the open version
      assert(rows == Seq(ClosedVersion(1L, "A", 10L, 20L)), s"got $rows")
      assert(rows.forall(r => r.valid_to > r.valid_from))
    } finally q.stop()
  }

  test("idle users' final sessions flush via the processing-time timeout") {
    import spark.implicits._
    import graft.streaming.StreamingIngest.{ClosedSession, UserEvent}
    val dir = TempDirs.scratch("graft-sess-idle")
    val m = 60L * 1000000L
    def ev(uid: Long, us: Long, v: Double) =
      UserEvent(uid, new java.sql.Timestamp(us / 1000L), us, v)
    Seq(ev(7L, 0 * m, 1.0), ev(7L, 1 * m, 2.0))
      .toDS().coalesce(1).write.parquet(s"$dir/batch1")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/batch*")
      .as[UserEvent]
    val sessions = graft.streaming.StreamingIngest
      .statefulSessions(stream, gapUs = 10 * m,
        StreamingIngest.SessionFlush.IdleWallClock(2000L))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("idle_sessions").start()
    try {
      def rows() = spark.table("idle_sessions").as[ClosedSession].collect()
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (rows().isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
      val closed = rows()
      assert(closed.length == 1, "idle session should flush on timeout")
      assert(closed.head.user_id == 7L && closed.head.n_events == 2)
    } finally q.stop()
  }

  test("event-time flush closes an idle session when the watermark passes the horizon") {
    import spark.implicits._
    import graft.streaming.StreamingIngest.{ClosedSession, SessionFlush, UserEvent}
    val dir = TempDirs.scratch("graft-sess-evt")
    val m    = 60L * 1000000L
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def row(uid: Long, minute: Long, v: Double) =
      (uid, new java.sql.Timestamp(base.getTime + minute * 60000L), v)
    // user 7's session ends at t=1m; a later user-8 event at t=120m
    // advances the watermark past 1m + 30m horizon, so user 7's FINAL
    // session flushes — deterministically, with no wall-clock sleeps
    Seq(row(7L, 0, 1.0), row(7L, 1, 2.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/batch1")
    Seq(row(8L, 120, 9.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[UserEvent]
    val sessions = graft.streaming.StreamingIngest
      .statefulSessions(stream, gapUs = 10 * m, SessionFlush.WatermarkHorizon(30 * m))
    val closed = graft.streaming.StreamRunner
      .runToBatch(sessions.toDF(), org.apache.spark.sql.streaming.OutputMode.Append)
      .as[ClosedSession].collect()
    // user 7 flushed by the event-time timer; user 8's session is still
    // open (nothing ever passes ITS horizon) and stays in state
    val baseUs = base.getTime * 1000L
    assert(closed.toSeq == Seq(ClosedSession(7L, baseUs, baseUs + 1 * m, 2, 3.0)),
      s"got ${closed.toSeq}")
  }

  test("watermarked streaming dedup drops re-delivered events") {
    import spark.implicits._
    val dir = TempDirs.scratch("graft-dedup-stream")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, offsetS: Int) =
      (id, new java.sql.Timestamp(base.getTime + offsetS * 1000L), s"e$id")
    // batch2 re-delivers event 1 with a JITTERED timestamp (the
    // at-least-once retry case) and adds event 3
    Seq(ev(1, 0), ev(2, 10)).toDF("event_id", "ts", "payload")
      .coalesce(1).write.parquet(s"$dir/batch1")
    Seq(ev(1, 3), ev(3, 20)).toDF("event_id", "ts", "payload")
      .coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
    val deduped = graft.streaming.StreamingIngest
      .dedupStream(stream, "ts", "10 minutes", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("deduped_events").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("deduped_events")
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stream-static join enriches a stream with a dimension table") {
    val dir = TempDirs.scratch("graft-enrich")
    Tables.events(spark, sfDir).limit(200)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema   = spark.read.parquet(dir).schema
    val stream   = spark.readStream.schema(schema).parquet(dir)
    val customer = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = stream.join(customer, Seq("user_id"), "left")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.outputMode("complete")
      .format("memory").queryName("enriched_events").start()
    try {
      q.processAllAvailable()
      val out = spark.table("enriched_events")
      assert(out.agg(sum("n")).head().getLong(0) == 200)
      // joined rows carry real segments (user ids overlap custkeys)
      assert(out.filter(col("c_mktsegment").isNotNull).count() > 0)
    } finally q.stop()
  }

  test("watermarked windowed aggregation over an events stream") {
    val dir = TempDirs.scratch("graft-events")
    Tables.events(spark, sfDir).limit(500)
      .select("ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg    = StreamingIngest.eventCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("event_counts")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("event_counts")
      assert(out.count() > 0)
      val total = out.agg(sum("n")).head().getLong(0)
      assert(total == 500)
      assert(out.columns.toSet == Set("window", "event_type", "n", "total_value"))
    } finally q.stop()
  }

  test("streaming LSH dedup drops corpus near-dups, passes fresh and short docs") {
    import graft.operators.Dedup
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpusBuckets = Dedup.lshBucketsWide(
      Dedup.minhashWide(corpus, "doc_id", "text", 8, 3), 8, 2)
    val incoming = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup -> drop
      (3L, "the quick brown fox jumps over the sleepy dog"), // near
      (4L, "completely different content about spark engines"), // fresh
      (5L, "too short")                                     // no shingles -> pass
    ).toDF("doc_id", "text")
    val dir = TempDirs.scratch("graft-lsh-dedup")
    incoming.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    val survivors = StreamingIngest.lshDedupStream(stream, corpusBuckets,
      "text", numHashes = 8, shingleN = 3, rowsPerBand = 2)
    val q = survivors.writeStream.outputMode("append")
      .format("memory").queryName("lsh_survivors").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lsh_survivors")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      // expected = exactly the docs whose BATCH pipeline buckets don't
      // collide with doc 1 (streaming is the batch gate, row by row),
      // plus the unshingleable doc
      val all = corpus.unionByName(incoming)
      val collide1 = Dedup.lshCandidatePairs(Dedup.lshBucketsWide(
          Dedup.minhashWide(all, "doc_id", "text", 8, 3), 8, 2))
        .collect()
        .filter(r => r.getAs[Long]("doc_a") == 1L)
        .map(_.getAs[Long]("doc_b")).toSet
      val expected = Set(2L, 3L, 4L) -- collide1 + 5L
      assert(got == expected, s"collide1=$collide1")
      assert(collide1.contains(2L)) // the exact dup definitely drops
      assert(spark.table("lsh_survivors").columns.toSet == Set("doc_id", "text"))
    } finally q.stop()
  }

  test("curation column ops compose on a stream: scrub + dedup in one plan") {
    import spark.implicits._
    import graft.functions.TextFunctions.{normalizeText, redactPii}
    val dir = TempDirs.scratch("graft-curate-stream")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def doc(id: Long, offsetS: Int, text: String) =
      (id, new java.sql.Timestamp(base.getTime + offsetS * 1000L), text)
    Seq(
      doc(1, 0, "Mail  a@b.co  now"),
      doc(1, 5, "Mail  a@b.co  now"), // re-delivery, dropped by dedup
      doc(2, 10, "clean   TEXT here")
    ).toDF("doc_id", "ts", "text").coalesce(1).write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
    // narrow per-row curation maps are stream-transparent: the same
    // columns run under a watermarked dedup with no extra state
    val curated = graft.streaming.StreamingIngest
      .dedupStream(stream, "ts", "10 minutes", Seq("doc_id"))
      .withColumn("text", redactPii(normalizeText(col("text"))))
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curated_docs").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("curated_docs")
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      assert(rows.length == 2, s"got ${rows.toSeq}")
      assert(rows(0)._2 == "mail <EMAIL> now")
      assert(rows(1)._2 == "clean text here")
    } finally q.stop()
  }

  test("streaming span flagger equals batch spans per arrival, across micro-batches") {
    import graft.operators.Dedup
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"intro words then $shared and a tail"),
      (2L, s"other leading text $shared closing words here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, s"stream doc one containing $shared inside it"),
      (11L, "a completely fresh document with no shared windows at all"),
      // shares a span with doc 10 ONLY — proves the dictionary covers
      // stream-stream sharing (it is the full-corpus batch artifact)
      (12L, "stream doc pair unique run one two three four five six seven"),
      (13L, "another pair text unique run one two three four five six seven end")
    ).toDF("doc_id", "text")
    val k = 4
    val all = corpus.unionByName(incoming)
    val dict = Dedup.duplicatedWindows(
      Dedup.tokenWindows(all, "doc_id", "text", k), minDocs = 2)

    // two landing files + maxFilesPerTrigger=1 → two real micro-batches:
    // per-arrival exactness must hold batch by batch, not only in total
    val dir = TempDirs.scratch("graft-span-stream")
    incoming.filter(col("doc_id") <= 11).coalesce(1).write.parquet(s"$dir/in/f1")
    incoming.filter(col("doc_id") >= 12).coalesce(1).write.parquet(s"$dir/in/f2")
    val stream = spark.readStream.schema(incoming.schema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/in")
    val outDir = s"$dir/out"
    StreamingIngest.runSpanFlagStreamOnce(stream, dict, "doc_id", "text",
      k = k, outDir = outDir)

    val got = spark.read.parquet(outDir)
      .select("doc", "span_start", "span_end", "n_windows")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Dedup.duplicatedSpans(all, "doc_id", "text", k, minDocs = 2)
      .filter(col("doc") >= 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected, s"got=$got expected=$expected")
    // the fresh doc is unflagged; the stream-stream pair IS flagged
    assert(!got.exists(_._1 == 11L))
    assert(got.exists(_._1 == 12L) && got.exists(_._1 == 13L))
  }

  test("streaming KNN serving equals batch top-k, across real micro-batches") {
    import graft.operators.Knn
    import spark.implicits._
    val corpus = Tables.embeddings(spark, sfDir)
    val qBatch = corpus.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val dir = TempDirs.scratch("graft-knn-stream")
    qBatch.repartition(3).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(qBatch.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val (_, progress) = progressOf {
      StreamingIngest.runKnnStreamOnce(stream, corpus, "vec_id", "embedding",
        "query_id", "qvec", k = 3, outDir = s"$dir/out")
    }
    // three landing files, one per trigger → three REAL micro-batches
    val nBatches = progress.count(_.numInputRows > 0)
    assert(nBatches == 3, s"expected 3 micro-batches, got $nBatches")
    // the appended union equals the batch twin exactly
    val got = spark.read.parquet(s"$dir/out")
      .select("query_id", "vec_id", "score", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    val expected = Knn.topKBatch(corpus, "vec_id", "embedding", qBatch,
        "query_id", "qvec", k = 3)
      .select("query_id", "vec_id", "score", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == expected)
    // every query answered, nothing over k
    val perQ = spark.read.parquet(s"$dir/out").groupBy("query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perQ.size == qBatch.count())
    assert(perQ.values.forall(_ <= 3))
  }

  test("funnel FSM: cross-batch state, on-arrival emission, self-eviction") {
    import spark.implicits._
    import StreamingIngest.{FunnelEvent, StepReached}
    val dir = graft.util.TempDirs.scratch("graft-funnel-")
    // user 1 completes the funnel ACROSS batches (view in batch 1,
    // click+purchase in batch 2); user 2 clicks before ever viewing
    // (click must not count, the later view->click order must);
    // user 3 views only.
    def fe(u: Long, us: Long, id: Long, et: String) =
      FunnelEvent(u, new java.sql.Timestamp(us / 1000L), us, id, et)
    val b1 = Seq(
      fe(1L, 100L, 1L, "view"),
      fe(2L, 100L, 2L, "click"),
      fe(3L, 120L, 3L, "view"),
      fe(2L, 150L, 4L, "view"))
    val b2 = Seq(
      fe(1L, 200L, 5L, "click"),
      fe(2L, 220L, 6L, "click"),
      fe(1L, 300L, 7L, "purchase"))
    b1.toDS().coalesce(1).write.parquet(s"$dir/batch1")
    b2.toDS().coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .as[FunnelEvent]
    val reached = graft.streaming.StreamRunner.runToBatch(
        StreamingIngest.funnelSteps(stream,
          Seq("view", "click", "purchase")).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .as[StepReached].collect()
      .map(r => (r.user_id, r.step, r.ts_us)).toSet
    assert(reached == Set(
      (1L, 1, 100L), (1L, 2, 200L), (1L, 3, 300L), // full funnel, cross-batch
      (2L, 1, 150L), (2L, 2, 220L),                // pre-view click ignored
      (3L, 1, 120L)))
  }

  test("funnel FSM: watermark-horizon eviction drops abandoning users' state") {
    import spark.implicits._
    import StreamingIngest.{FunnelEvent, SessionFlush, StepReached}
    val dir = graft.util.TempDirs.scratch("graft-funnel-evict-")
    def fe(u: Long, sec: Long, id: Long, et: String) =
      FunnelEvent(u, new java.sql.Timestamp(sec * 1000L), sec * 1000000L, id, et)
    // batch 1: user 1 views then abandons; user 2 converts fully
    // (self-evicts at completion)
    val b1 = Seq(
      fe(1L, 100L, 1L, "view"),
      fe(2L, 100L, 2L, "view"),
      fe(2L, 150L, 3L, "click"),
      fe(2L, 200L, 4L, "purchase"))
    // batch 2: user 3 views far in the future, advancing the watermark
    // past user 1's first-event + horizon (100 s + 1000 s << 10000 s)
    val b2 = Seq(fe(3L, 10000L, 5L, "view"))
    b1.toDS().coalesce(1).write.parquet(s"$dir/batch1")
    b2.toDS().coalesce(1).write.parquet(s"$dir/batch2")
    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/batch*")
      .withWatermark("ts", "0 seconds")
      .as[FunnelEvent]
    val out = StreamingIngest.funnelSteps(stream,
      Seq("view", "click", "purchase"),
      SessionFlush.WatermarkHorizon(1000L * 1000000L)).toDF()
    val ckpt = graft.util.TempDirs.scratch("graft-funnel-evict-ckpt-")
    val query = out.writeStream.format("memory").queryName("funnel_evict_sink")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    // eviction emits NOTHING — outputs are exactly the on-arrival steps
    val reached = spark.table("funnel_evict_sink").as[StepReached].collect()
      .map(r => (r.user_id, r.step, r.ts_us)).toSet
    assert(reached == Set(
      (1L, 1, 100000000L), (2L, 1, 100000000L), (2L, 2, 150000000L),
      (2L, 3, 200000000L), (3L, 1, 10000000000L)))
    // state-store PROOF of eviction (not just output equality): user 2
    // self-evicted at conversion, user 1 expired at the horizon — only
    // user 3, still inside their conversion window, holds a state row.
    // Under the old NoTimeout behavior this is 2, and on a real stream
    // it is "every abandoning user ever seen".
    val lastState = query.recentProgress.reverse
      .flatMap(_.stateOperators.headOption).headOption
    assert(lastState.exists(_.numRowsTotal == 1L),
      s"expected 1 live state row, got ${lastState.map(_.numRowsTotal)}")
  }

  test("q7V Bloom seen-filter: streaming state is the flag cells, not the URLs") {
    import graft.operators.{Sketch, Url}
    import graft.queries.CurationQueries
    // the q7V pipeline with an explicit sink so recentProgress is
    // observable: state must be bounded by the ≤4 (hit, seen) cells —
    // NEVER one row per URL like q7U's exact dropDuplicates
    val g = col("doc_id") % CurationQueries.UrlGroups
    val seen = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(g < 20)
      .select(Url.canonicalizeUrl(
        CurationQueries.messyUrl(col("doc_id"))).as("curl"))
    val words = Sketch.packBloom(
      Sketch.bloomBits(seen, "curl", depth = 4, width = 16384),
      depth = 4, width = 16384)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val flagged = docs
      .select(
        Sketch.bloomHitCol(
          Url.canonicalizeUrl(CurationQueries.messyUrl(col("doc_id"))),
          words, depth = 4, width = 16384).as("bloom_hit"),
        (g < 20).as("truly_seen"))
      .groupBy("bloom_hit", "truly_seen")
      .agg(count(lit(1)).as("n"))
    val ckpt = graft.util.TempDirs.scratch("graft-urlseen-ckpt-")
    val query = flagged.writeStream.format("memory")
      .queryName("url_seen_sink").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    val out = spark.table("url_seen_sink")
      .select("bloom_hit", "truly_seen").collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)))
    // every truly-seen URL must flag (Bloom has no false negatives)
    assert(!out.contains((false, true)),
      "a truly seen URL escaped the Bloom filter (false negative)")
    assert(out.contains((true, true)) && out.contains((false, false)))
    val lastState = query.recentProgress.reverse
      .flatMap(_.stateOperators.headOption).headOption
    assert(lastState.exists(_.numRowsTotal <= 4L),
      s"expected <=4 state rows (the flag cells), got ${lastState.map(_.numRowsTotal)}")
  }

  test("q7Y line-boilerplate flag: no false negatives vs the exact heavy-hitter set") {
    // exact per-doc boiler-line counts from a plain-Scala recompute of
    // the q6Z template + threshold (the CurationSpec mirror); the
    // streamed Bloom flag must count AT LEAST those lines per doc
    // (no false negatives) and the overshoot is bounded FP noise
    def page(id: Long, source: String, text: String): String = {
      val widget =
        if (id % 3 == 0) "Share this article" else s"Comments (${id % 7})"
      s"=== $source daily digest ===\n" +
        "We use cookies to improve your experience.\n" +
        s"${text.slice(0, 80)}\n${text.slice(80, 160)}\n$widget\n" +
        s"Contact editor@$source.example.com\narticle-$id"
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), page(r.getLong(0), r.getString(1), r.getString(2))))
    val lines = docs.flatMap { case (id, p) =>
      p.split("\n", -1).map(l => (id, l.trim.toLowerCase)) }
    val boiler = lines.groupBy(_._2).filter(_._2.map(_._1).distinct.size >= 3).keySet
    val exact = docs.map { case (id, p) =>
      id -> p.split("\n", -1).count(l => boiler.contains(l.trim.toLowerCase)).toLong
    }.toMap
    val got = SparkEntry.queries("q7Y_stream_line_flag")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == docs.length)
    assert(got.forall(_._2 == 7L), "every template page has 7 lines")
    got.foreach { case (id, nLines, nBoiler) =>
      assert(nBoiler >= exact(id),
        s"doc $id: Bloom flagged $nBoiler < exact ${exact(id)} (false negative)")
      assert(nBoiler <= nLines)
    }
    // the gate is live and the overshoot stays FP noise: some lines
    // flagged, some kept, and the POPULATION-level false-positive
    // fraction is small. (A per-doc `n_boiler < n_lines` would couple
    // the suite to the exact fixture bytes — the query's contract
    // explicitly permits per-line false positives.)
    assert(got.exists(_._3 > 0) && got.exists(g => g._3 < g._2))
    val overshoot = got.map { case (id, _, b) => b - exact(id) }.sum
    val totalLines = got.map(_._2).sum
    assert(overshoot.toDouble / totalLines <= 0.05,
      s"Bloom FP fraction ${overshoot.toDouble / totalLines} > 5% of lines")
  }
}
