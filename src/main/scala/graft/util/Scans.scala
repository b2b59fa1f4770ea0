package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism helpers (optimization rounds 12-13).
  *
  * The driver fixtures are single-file, SINGLE-ROW-GROUP parquet tables;
  * Spark cannot split a parquet scan below row-group granularity, so
  * every per-row expression that sits between such a scan and the first
  * exchange executes in ONE task no matter how many cores the session
  * has — a 600 k-row md5/tokenize/shingle stage runs single-threaded on
  * `local[32]`. This is exactly the guide's §2.5 "input skew: one huge
  * unsplittable file … repartition immediately after the read".
  *
  * [[fanOut]] makes that repartition SCALE-ADAPTIVE instead of
  * unconditional: it fires only when the frame's planned size estimate
  * is below what the session's default parallelism could split anyway
  * (small inputs: single-row-group parquet, tiny landing dirs), or when
  * the plan has NO size estimate at all (the Long.MaxValue
  * `defaultSizeInBytes` sentinel). On the sentinel: VERDICT r12
  * hypothesized that foreachBatch micro-batch `LogicalRDD`s report it
  * and so silently skipped round 12's size-only probe — MEASURED in
  * r13 to be false on Spark 4.1: the micro-batch LogicalRDD carries
  * originStats from the source plan (a documents.parquet batch reports
  * ~65 KB, well under the threshold), so fanOut fires inside
  * foreachBatch exactly like the batch path. The sentinel branch is
  * kept as defense-in-depth for RDD-backed frames with no origin stats
  * (a trigger-bounded micro-batch is the honest fan-out default when
  * its size is unknowable). At 100 TB a real table scan carries
  * thousands of row-group splits with a real (finite,
  * far-below-sentinel) size estimate, the condition is false, and no
  * shuffle is added. NOTE the condition is size-based, not
  * splittability-based: a LARGE unsplittable compressed input (one huge
  * .gz member) still reads as "big" and is not fanned out — this helper
  * targets small/unknown inputs and single-row-group parquet, not
  * codec-level unsplittability (ADVICE r12).
  *
  * Hash partitioning on a caller-chosen deterministic key (NEVER
  * round-robin on non-deterministic input) keeps row placement stable
  * under task retry (SPARK-38388) and skips round-robin's
  * sort-before-repartition pass.
  *
  * Callers must only hand this frames whose downstream result is
  * partition-independent (aggregations, joins, keyed windows — not
  * pid-derived sketches or per-partition file writers unless those are
  * themselves placement-invariant).
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
