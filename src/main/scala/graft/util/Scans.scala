package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** The one place a post-scan fan-out is decided: every exchange that
  * only spreads a scan's rows over the cores goes through [[fanOut]]
  * (batch) or [[streamFanOut]] (stream), and `src/main` names
  * `defaultParallelism` nowhere else (HygieneSpec). Exchanges that set a
  * file or shard count are semantics, not fan-outs, and stay at their
  * writers.
  *
  * Why a fan-out at all: the driver fixtures are single-file,
  * single-row-group parquet tables, and Spark cannot split a parquet scan
  * below row-group granularity, so every per-row expression between such
  * a scan and the first exchange runs in ONE task however many cores the
  * session has (a 600 k-row md5/tokenize/shingle stage single-threaded on
  * `local[32]`).
  *
  * What it costs, by scale:
  *  - Small input (an estimate below `defaultParallelism` max-size scan
  *    partitions: single-row-group parquet, tiny landing dirs): one hash
  *    exchange into `defaultParallelism` partitions on the caller's row
  *    key. A later aggregate, join or window keyed on that column reuses
  *    the partitioning instead of shuffling again (q63: 4 exchanges at
  *    the old round-robin sites, 2 now).
  *  - No estimate (the `Long.MaxValue` sentinel of an RDD-backed frame
  *    with no origin stats): treated as small, since a trigger-bounded
  *    micro-batch of unknowable size is the honest fan-out default.
  *    Measured on Spark 4.1, a foreachBatch micro-batch `LogicalRDD`
  *    carries its source's stats, so it takes the small branch instead.
  *  - At scale (an input of at least `defaultParallelism ×
  *    maxPartitionBytes`, which a real table scan reaches with thousands
  *    of row-group splits): no exchange at all; the scan's own splits
  *    are the parallelism. The condition is size-based, not
  *    splittability-based: one huge unsplittable compressed member still
  *    reads as big and is not fanned out.
  *
  * The key is a deterministic row key (`doc_id`, `vec_id`), never
  * round-robin: placement stays stable under task retry (SPARK-38388)
  * and round-robin's sort-before-repartition pass is skipped. Callers
  * only hand over frames whose result is placement-independent
  * (aggregations, joins, keyed windows, writers whose files are read
  * back as a whole).
  */
object Scans {
  def fanOut(df: DataFrame, key: Column*): DataFrame = {
    require(key.nonEmpty, "fanOut needs a deterministic partitioning key")
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    // Size probe via the optimizer's estimate — deliberately NOT
    // `df.rdd.getNumPartitions`: Dataset.rdd plans a DeserializeToObject
    // execution (it fires QueryExecutionListeners and shows up as a
    // construction-time job — QuantilesSpec guards against exactly
    // that), and touching an AQE plan's RDD can eagerly materialize
    // exchange stages. `optimizedPlan.stats` is job-free. The condition:
    // an input the scan could not split into >= defaultParallelism
    // max-size partitions anyway is worth one narrow shuffle; a real
    // at-scale input (TBs) always exceeds it and adds NOTHING.
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // No-estimate sentinel: LogicalRDD leaves (foreachBatch
    // micro-batches, localCheckpoint cuts) report defaultSizeInBytes
    // (Long.MaxValue), possibly scaled by projections above them. Any
    // estimate within a constant factor of the sentinel is estimate-free
    // garbage, not a measurement — real inputs top out around 10^14
    // bytes (100 TB), eight orders of magnitude below Long.MaxValue/4.
    val unknown = stats >= BigInt(Long.MaxValue) / 4
    val small = stats < BigInt(p) * maxPartitionBytes
    if (small || unknown) df.repartition(p, key: _*) else df
  }

  /** Stream-side fan-out: a per-micro-batch hash repartition ahead of a
    * heavy row-local stage (canonicalize + robots fold, tokenize+md5).
    * A stream's logical plan has no usable size estimate at
    * construction time (StreamingRelation reports the sentinel), so the
    * batch probe of [[fanOut]] cannot apply and the stream always fans
    * out — right for bounded replays over unsplittable fixture files,
    * where the micro-batch otherwise runs its whole per-row stage in ONE
    * task (measured r13: q7W 2.5 s with the fan-out vs 5.7 s without at
    * local[32]). At scale, where micro-batch file sets already split into
    * enough tasks, the exchange is one narrow shuffle of the key columns.
    * Callers must project to the needed columns FIRST — the exchange
    * must never carry payload text a downstream aggregate would have
    * reduced.
    */
  def streamFanOut(df: DataFrame, key: Column*): DataFrame = {
    require(key.nonEmpty, "streamFanOut needs a deterministic partitioning key")
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key: _*)
  }
}
