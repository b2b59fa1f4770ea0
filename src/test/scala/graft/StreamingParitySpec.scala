package graft

import graft.queries.StreamingQueries
import graft.util.TempDirs
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The q70-q73 streaming registry queries really run as streams (file
  * source → state store → memory sink); here each is checked against the
  * equivalent BATCH Spark computation on the same fixture, and q70 runs
  * twice to prove a bench repetition replays the stream from scratch
  * (fresh sink + checkpoint) instead of resuming offsets into an empty
  * result. The DuckDB hash gate covers the cross-engine compare; this
  * spec pins the stream-vs-batch semantics inside one engine.
  */
class StreamingParitySpec extends GraftSpec {

  test("q70: streaming windowed agg equals batch groupBy, on replay too") {
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    for (rep <- 1 to 2) {
      val streamed = StreamingQueries.queries("q70_stream_hourly")(spark, sfDir)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSet
      assert(streamed == batch, s"rep $rep diverged from batch")
    }
  }

  test("state partitioning freezes at stream start: checkpoint replays at a different shuffle.partitions bit-identically") {
    // The documented streaming deployment knob (PERF.md round-4 close):
    // a stream captures spark.sql.shuffle.partitions at FIRST start and
    // fixes its state-store layout in the checkpoint forever; later runs
    // under any session setting must resume that layout and produce the
    // same answer. Proven here end-to-end: phase 1 ingests half the
    // events at 3 partitions, phase 2 resumes the SAME checkpoint at 17
    // with the other half, the final answer equals the batch aggregate,
    // and the checkpoint's state directory still holds exactly 3
    // partition dirs.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.streaming.StreamingIngest
    val dir  = TempDirs.scratch("graft-partfreeze-")
    val ckpt = TempDirs.scratch("graft-partfreeze-ckpt-")
    val ev = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"), col("event_id"))
    ev.filter(col("event_id") % 2 === 0).write.parquet(s"$dir/data")
    val schema = spark.read.parquet(s"$dir/data").schema
    def runOnce(sinkName: String, parts: Int) = {
      val key  = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, parts.toString)
      try {
        val q = StreamingIngest
          .eventCounts(spark.readStream.schema(schema).parquet(s"$dir/data"))
          .writeStream.format("memory").queryName(sinkName)
          .outputMode(OutputMode.Complete)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally spark.conf.set(key, prev)
      spark.table(sinkName)
    }
    runOnce("pf_run1", 3)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(s"$dir/data")
    val resumed = runOnce("pf_run2", 17)
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        round(col("total_value"), 2).as("tv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("tv"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(resumed == batch,
      s"extra=${(resumed -- batch).take(3)} missing=${(batch -- resumed).take(3)}")
    // the physical state layout stayed at the FIRST run's 3 partitions
    val stateDirs = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit))
    assert(stateDirs.length == 3,
      s"state partition dirs: ${stateDirs.sorted.mkString(", ")} (expected 3 — " +
        "frozen from the first run, regardless of the session's 17)")
  }

  test("q71: closed sessions are exactly batch sessions minus each user's last") {
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val gapUs = 86400L * 1000000L
    val sessions = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("new_s",
        when(col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"))
    val lastSid = sessions.groupBy("user_id").agg(max("sid").as("msid"))
    val expected = sessions.join(lastSid, "user_id")
      .filter(col("sid") < col("msid"))
      .select("user_id", "start_us", "end_us", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet

    val streamed = StreamingQueries.queries("q71_stream_sessions")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed == expected,
      s"extra=${(streamed -- expected).take(3)} missing=${(expected -- streamed).take(3)}")
    assert(streamed.nonEmpty, "fixture produced no closed sessions — gap too small to test anything")
  }

  test("q72: streaming dedup emits exactly the distinct key set") {
    val expected = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = StreamingQueries.queries("q72_stream_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == expected)
  }

  test("q73: stream-stream interval join equals the batch range join") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("vus"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("uid_c"), col("event_id").as("click_id"),
        col("us").as("cus"))
    val expected = v.join(c,
        col("user_id") === col("uid_c") && col("cus") >= col("vus") &&
          col("cus") <= col("vus") + 21600L * 1000000L)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("cus") - col("vus")).as("lag_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = StreamingQueries.queries("q73_stream_attribution")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty, "no view→click pairs at this sf — interval too narrow to test anything")
  }

  test("TopKByRankAgg state survives a checkpoint resume at a different shuffle.partitions") {
    // The custom aggregate's serialize/deserialize round-trips through
    // the state store ACROSS runs: phase 1 streams half the rows at 3
    // partitions, phase 2 resumes the same checkpoint at 17 with the
    // rest; the merged reservoir must equal the batch draw over ALL
    // rows — proving the buffer encoding and the bounded merge are
    // resume-safe, not just single-run-safe.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.functions.TopKByRankAgg.topKByRank
    import spark.implicits._
    val dir  = graft.util.TempDirs.scratch("graft-topk-freeze-")
    val ckpt = graft.util.TempDirs.scratch("graft-topk-freeze-ckpt-")
    val all = (1L to 500L).toDF("id")
    all.filter(col("id") <= 250).write.parquet(s"$dir/data")
    val schema = spark.read.parquet(s"$dir/data").schema
    def runOnce(sinkName: String, parts: Int) = {
      val key  = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, parts.toString)
      try {
        val q = spark.readStream.schema(schema).parquet(s"$dir/data")
          .select(md5(concat(col("id").cast("string"), lit("f"))).as("r"),
            col("id"))
          .agg(topKByRank(col("r"), col("id"), 12).as("top"))
          .writeStream.format("memory").queryName(sinkName)
          .outputMode(OutputMode.Complete)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally spark.conf.set(key, prev)
      spark.table(sinkName)
    }
    runOnce("topk_run1", 3)
    all.filter(col("id") > 250).write.mode("append").parquet(s"$dir/data")
    val got = runOnce("topk_run2", 17)
      .select(explode(col("top.id")).as("id")).orderBy("id")
      .as[Long].collect()
    val want = all
      .select(md5(concat(col("id").cast("string"), lit("f"))).as("r"), col("id"))
      .orderBy("r", "id").limit(12)
      .select("id").orderBy("id").as[Long].collect()
    assert(got.length == 12 && got.sameElements(want))
  }
}
