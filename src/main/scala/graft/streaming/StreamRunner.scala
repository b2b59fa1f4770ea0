package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** The one way graft runs a bounded stream: [[drain]] takes a streaming
  * DataFrame over a bounded source to completion, and [[runToBatch]] is
  * its in-memory-sink form that hands the result back as a batch
  * DataFrame.
  *
  * `runToBatch` is how the streaming operator family earns the SAME
  * DuckDB oracle gate as every batch operator — the stream really
  * executes (file source → state store → sink), and the materialized
  * result is hash-compared against the batch SQL twin. The memory sink
  * is bounded by the RESULT size (windowed aggregates, closed sessions,
  * matched pairs — never the corpus), which is what makes it safe as a
  * test harness; production streams write to a real sink through a
  * foreachBatch body instead ([[StreamingIngest]]'s bounded runners, or
  * the continuous [[StreamingIngest.start]]).
  *
  * Every drain is a one-shot replay: it gets a fresh checkpoint (and
  * `runToBatch` a fresh sink name), so a bench repetition (3 runs of the
  * same query builder in one session) replays the stream from scratch
  * instead of resuming offsets and emitting nothing.
  */
object StreamRunner {
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  // sink views registered by runToBatch and not yet dropped — see
  // [[dropRetainedSinks]]
  private val liveSinks = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** `spark.sql.shuffle.partitions` for the whole of every drain. The
    * stream captures the value at start and fixes its state store's
    * partitioning in the checkpoint, and every micro-batch pays a
    * per-partition state-store open/commit, so a bounded replay over a
    * fixture wants FEW partitions (32 turns tiny-batch commit overhead
    * into the dominant cost). foreachBatch bodies run batch jobs too,
    * which would otherwise split a micro-batch-sized aggregate into one
    * tiny task per session core (VERDICT r12 #2: size per-batch task
    * counts by batch volume). Results are partition-count-invariant.
    */
  private val ShufflePartitions = 8

  /** Drop every memory-sink temp view registered by prior
    * [[runToBatch]] calls, releasing the sink rows they pin. The
    * MEMORY sink retains its result rows for as long as its temp view
    * exists; a benchmark constructing ~100 streams in one JVM
    * accumulates every result as heap ballast. Callers that still
    * hold an earlier runToBatch frame must NOT call this until they
    * are done with it (the bench discards each frame after counting;
    * parity specs that compare two frames simply don't call it).
    */
  def dropRetainedSinks(spark: org.apache.spark.sql.SparkSession): Unit = {
    var n = liveSinks.poll()
    while (n != null) {
      spark.catalog.dropTempView(n)
      n = liveSinks.poll()
    }
  }

  /** Run `df` to completion with `Trigger.AvailableNow` into the sink
    * `sink` configures, and return when the stream terminates (or
    * rethrow what stopped it).
    *
    * The checkpoint lives on tmpfs (/dev/shm): the offset/commit WAL
    * fsyncs per micro-batch, and on a disk-backed tmpdir that fsync
    * jitter dominates short bounded replays (see TempDirs.scratchIn). It
    * is reclaimed as soon as the stream is done — a bench constructs each
    * of ~30 streaming queries up to seven times, and pinning every
    * checkpoint until JVM exit would ENOSPC a small /dev/shm mid-run.
    *
    * [[ShufflePartitions]] holds from before `start()` until after
    * `awaitTermination`, not only across the start: the state store
    * reads the value at start, but a foreachBatch body plans its frames
    * in the caller's session (a stream-static join plans under the
    * static side's session) on every micro-batch. The session's own
    * value is restored after the drain, also when it throws.
    */
  def drain(df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = df.sparkSession
    val ckpt  = graft.util.TempDirs.scratchIn("/dev/shm", "graft-stream-ckpt-")
    val key   = "spark.sql.shuffle.partitions"
    val prev  = spark.conf.get(key)
    spark.conf.set(key, ShufflePartitions.toString)
    try {
      sink(df.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      spark.conf.set(key, prev)
      graft.util.TempDirs.deleteNow(ckpt)
    }
  }

  /** [[drain]] into a fresh memory sink; the result as a batch frame. */
  def runToBatch(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_stream_sink_${runSeq.incrementAndGet()}"
    drain(df)(_.format("memory").queryName(name).outputMode(mode))
    liveSinks.add(name)
    df.sparkSession.table(name)
  }
}
