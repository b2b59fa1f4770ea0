package graft.catalog

import graft.functions.CosineSimilarityExpr
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  GenericInternalRow, InterpretedOrdering, JoinedRow, Literal, Round, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}

/** A named vector index: parquet data dir + catalog meta, with
  * upsert-by-id last-wins semantics (Pinecone upsert,
  * `app/services/pinecone_service.py:108-146`) and top-k query
  * (`pinecone_service.py:148-182`).
  *
  * Write path is merge-on-read: each upsert appends a new `_version`
  * batch; [[readAt]] keeps the newest row per id via a window. `compact()`
  * rewrites to a single deduped version. At scale this is the standard
  * log-structured layout (append cheap + periodic compaction), and the
  * dedup window shuffles only on `id` — AQE-coalesced and skew-safe.
  *
  * Read path is a live snapshot: [[read]], [[knn]] and [[stats]] serve
  * the deduped live view materialized once per state of the log, keyed
  * by a fingerprint of its part files (sorted name + length, one
  * directory listing). Any writer — this handle, another handle on the
  * same path, streaming ingest, [[compact]] — changes the listing, so
  * the next read rebuilds; between writes a query is a single job over
  * the snapshot with no listing of its own, no footer reads and no
  * dedup shuffle. The snapshot is a `localCheckpoint`, not a `persist`:
  * a persisted plan would register with Spark's `CacheManager`, which
  * hands it to any later reader of the same plan (stale rows) and never
  * frees it when the handle is dropped; the checkpoint's blocks are
  * freed by the `ContextCleaner` once the snapshot is unreachable. The
  * trade at scale: a local checkpoint has no lineage, so losing an
  * executor that holds snapshot blocks fails the queries over it until
  * it is rebuilt — [[knn]] drops a snapshot whose query failed, so the
  * next call rebuilds from the log.
  *
  * [[knn]] bypasses Catalyst: one `SparkContext.runJob` over the
  * snapshot's physical rows (`queryExecution.toRdd`, planned once per
  * snapshot) with [[VectorIndex.TopK]] as the task — cosine score,
  * `round(…, 6)` and a bounded k-heap per partition, a ≤ k-row merge on
  * the driver. The `withColumn(score) → orderBy → limit` plan it
  * replaces ran the same single job, but on a 2.5k-row index with
  * `local[4]` on a 4-core host a request spent ~6 ms in analysis,
  * optimization and planning, ~4 ms closure-cleaning the job's lambda
  * and ~25 ms in the SQL-execution bookkeeping of its two Dataset
  * actions, around a ~6 ms task. A metadata filter still goes through the planner (analysis
  * and planning of `filter`, no Dataset action); the scoring does not.
  */
final class VectorIndex(
    spark: SparkSession,
    catalog: VectorCatalog,
    val meta: IndexMeta
) {
  private val path = catalog.dataPath(meta.name)

  /** Schema contract for upserts: `id STRING` + `embedding ARRAY<FLOAT>`
    * (+ arbitrary metadata columns). Dimension is validated row-wise at
    * write time — the invariant the reference enforces
    * (`pinecone_service.py:126-133`, SURVEY §1.2).
    */
  def upsert(df: DataFrame): Long = {
    require(df.columns.contains("id") && df.columns.contains("embedding"),
      "upsert requires id + embedding columns")
    // One pass over the (potentially expensive: chunk+embed) input:
    // persist the batch, validate + write + count from the materialized
    // data instead of recomputing the upstream pipeline three times.
    val batch = df.persist()
    try {
      // null-safe: size(NULL) is NULL and would slip through a plain
      // =!= filter — null embeddings are invalid, not ignorable
      val bad = batch.filter(col("embedding").isNull ||
          size(col("embedding")) =!= meta.dimension)
        .limit(1).count()
      require(bad == 0,
        s"embedding dimension mismatch or null embedding: index ${meta.name} expects ${meta.dimension}")
      val version = claimVersion()
      // stage-then-move: the batch is written to a dot-prefixed dir
      // (invisible to readers — FileInputFormat's hidden-file filter),
      // then its part files rename into the live dir. A crash before
      // the move leaves only ignored staging garbage; the claimed
      // version is burnt (a harmless gap). A crash MID-loop leaves a
      // TORN batch: some part files of the claimed version visible,
      // the rest still staged — readers see a partial upsert until
      // recovery (delete every live part with this _version, or finish
      // the moves from the surviving .staged dir; both are listable by
      // the burnt version number). A single-directory-rename publish
      // would close the window but forces one subdirectory per version,
      // turning every read into an O(versions) directory walk — this
      // log keeps reads flat and accepts the torn window as the
      // documented crash cost.
      val staged = s"$path/.staged_v$version"
      batch.withColumn("_version", lit(version))
        .write.mode("overwrite").parquet(staged)
      val stagedPath = new org.apache.hadoop.fs.Path(staged)
      val livePath   = new org.apache.hadoop.fs.Path(path)
      fileSystem.listStatus(stagedPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          require(fileSystem.rename(f.getPath,
            new org.apache.hadoop.fs.Path(livePath, f.getPath.getName)),
            s"failed to publish ${f.getPath} into $path")
        }
      fileSystem.delete(stagedPath, true)
      batch.count()
    } finally {
      batch.unpersist()
      ()
    }
  }

  /** Optimistic commit protocol for the next batch version: a candidate
    * (max of in-memory successor and wall clock) is CLAIMED by the
    * atomic creation of `_commits/_v<N>.commit`; on collision (another
    * writer owns it) the candidate increments and retries. Two
    * concurrent writers — an API upload racing a streaming batch, or
    * two JVMs — therefore always hold DISTINCT, strictly ordered
    * versions: no same-millisecond tie, no lost update. (On an object
    * store without atomic create-exclusive, swap the marker for a
    * conditional PUT — the protocol shape is unchanged.)
    *
    * The on-disk max is read ONCE per VectorIndex instance (marker
    * listing, O(batches); parquet footers only for pre-marker legacy
    * logs) and bumped in memory after each claim: a streaming ingest
    * upserting hundreds of micro-batches must not re-scan every prior
    * version per batch.
    */
  private var lastVersion: Long = Long.MinValue

  private def fileSystem: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markersDir = new org.apache.hadoop.fs.Path(s"$path/_commits")

  private val MarkerName = """_v(\d+)\.commit""".r

  private def claimVersion(): Long = synchronized {
    val fs = fileSystem
    if (lastVersion == Long.MinValue) {
      val markerMax =
        if (!fs.exists(markersDir)) -1L
        else fs.listStatus(markersDir).foldLeft(-1L) { (m, st) =>
          st.getPath.getName match {
            case MarkerName(v) => math.max(m, v.toLong)
            case _             => m
          }
        }
      val dataMax =
        if (markerMax >= 0L || liveFiles().isEmpty) markerMax
        else spark.read.parquet(path).agg(max("_version")).head().getLong(0)
      lastVersion = math.max(markerMax, dataMax)
    }
    fs.mkdirs(markersDir)
    var candidate = math.max(lastVersion + 1L, System.currentTimeMillis())
    while (!VectorIndex.createExclusive(fs,
        new org.apache.hadoop.fs.Path(markersDir, s"_v$candidate.commit")))
      candidate += 1L
    lastVersion = candidate
    candidate
  }


  /** The log's live part files as sorted `(name, length)` — the
    * fingerprint of its state. Staging dirs and `_commits` are hidden
    * and never match; a dir moved aside mid-[[compact]] lists as empty.
    */
  private def liveFiles(): Seq[(String, Long)] = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = fileSystem
    try
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName -> st.getLen).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** One state of the log: its fingerprint, the live view materialized
    * on first use, and the live-id count computed on first use. The
    * count runs its own distinct-id aggregate rather than forcing the
    * snapshot, so a writer polling [[stats]] never pays for a build.
    */
  private final class Snapshot(val files: Seq[(String, Long)]) {
    lazy val frame: DataFrame =
      if (files.isEmpty) emptyLike()
      else merged(Long.MaxValue).localCheckpoint(eager = true)
    /** The frame's physical rows, planned once. */
    lazy val rows: RDD[InternalRow] = frame.queryExecution.toRdd
    lazy val liveCount: Long =
      if (files.isEmpty) 0L else catalog.countLive(meta.name)
  }

  private var cached: Snapshot = _

  /** The snapshot for the log as listed now. The listing comes BEFORE
    * any read, so a write landing mid-build is picked up early (and
    * rebuilt over on the next call), never missed. A query already
    * running keeps its reference to the snapshot it started with.
    */
  private def snapshot(): Snapshot = synchronized {
    val files = liveFiles()
    if (cached == null || cached.files != files) cached = new Snapshot(files)
    cached
  }

  private def drop(s: Snapshot): Unit = synchronized {
    if (cached eq s) cached = null
  }

  /** Live view: newest version per id, as the materialized snapshot of
    * the log's current state (rebuilt only when the log has changed).
    */
  def read: DataFrame = snapshot().frame

  /** Point-in-time view: newest version per id among upsert batches with
    * `_version <= asOf` — the merge-on-read log IS a history, so time
    * travel is one filter pushed below the same dedup window (parquet
    * row groups whose `_version` min exceeds `asOf` are skipped by their
    * footer stats). Lazy: each action re-reads the log. [[versions]]
    * lists the valid as-of points. NOTE
    * [[compact]] rewrites the log to a single version 0 and therefore
    * TRUNCATES history — the standard retention trade (Delta/Iceberg
    * vacuum semantics): compact when the audit window has passed.
    */
  def readAt(asOf: Long): DataFrame =
    if (liveFiles().isEmpty) emptyLike() else merged(asOf)

  private def merged(asOf: Long): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("_version").desc)
    spark.read.parquet(path)
      .filter(col("_version") <= asOf)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_version")
  }

  /** The distinct upsert-batch versions present in the log, ascending —
    * the valid [[readAt]] points. Bounded by batch count, not rows.
    */
  def versions: Seq[Long] =
    if (liveFiles().isEmpty) Seq.empty
    else spark.read.parquet(path).select("_version").distinct()
      .orderBy("_version").collect().map(_.getLong(0)).toSeq

  private def emptyLike(): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", StringType),
        StructField("embedding", ArrayType(FloatType, containsNull = false))
      ))
    )
  }

  /** Rewrite the log to a single deduped version (run periodically; the
    * read-side window disappears for subsequent queries). Crash-safe
    * ordering: the old data is moved ASIDE (not deleted) before the
    * compacted dir takes its place, so every crash window leaves either
    * the old or the new data at a recoverable location; the aside copy
    * is removed last. The `_commits` marker history moves BACK into the
    * compacted dir before the aside copy is dropped — [[claimVersion]]'s
    * monotonicity in a fresh JVM reads off the markers, and discarding
    * them would silently demote the protocol to its wall-clock fallback
    * (a clock-skewed writer could then re-claim a burnt version). A
    * legacy log without markers gets one synthesized at the
    * pre-compaction max version for the same reason.
    */
  def compact(): Unit = {
    // capture the pre-compaction max version BEFORE the log is rewritten
    // to _version = 0 — it seeds the synthesized marker for marker-less
    // legacy logs
    val maxVersion =
      if (liveFiles().nonEmpty) spark.read.parquet(path).agg(max("_version")).head().getLong(0)
      else 0L
    val deduped = readAt(Long.MaxValue).withColumn("_version", lit(0L))
    val tmp     = s"$path._compact"
    deduped.write.mode("overwrite").parquet(tmp)
    val conf  = spark.sparkContext.hadoopConfiguration
    val p     = new org.apache.hadoop.fs.Path(path)
    val tmpP  = new org.apache.hadoop.fs.Path(tmp)
    val aside = new org.apache.hadoop.fs.Path(s"$path._old")
    val fs    = p.getFileSystem(conf)
    fs.delete(aside, true) // clear any leftover from a prior crash
    require(fs.rename(p, aside), s"compact: could not move $path aside")
    if (!fs.rename(tmpP, p)) {
      // restore the old data rather than leaving an empty index
      fs.rename(aside, p)
      throw new RuntimeException(s"compact: rename of $tmp into place failed; restored old data")
    }
    val asideMarkers = new org.apache.hadoop.fs.Path(aside, "_commits")
    if (fs.exists(asideMarkers)) fs.rename(asideMarkers, markersDir)
    else if (maxVersion > 0L) {
      fs.mkdirs(markersDir)
      fs.createNewFile(
        new org.apache.hadoop.fs.Path(markersDir, s"_v$maxVersion.commit"))
      ()
    }
    fs.delete(aside, true)
  }

  /** Top-k cosine query with optional metadata filter — the reference's
    * `index.query(vector, top_k, filter)` (`pinecone_service.py:148-182`).
    * The live snapshot's columns plus `score` = `round(cosine, 6)`,
    * ordered by score desc nulls last, then id, as a local frame. A filter
    * naming a column the index lacks, or comparing a column with an
    * operand of the wrong type, is the caller's error:
    * `IllegalArgumentException`, not Spark's `AnalysisException`.
    */
  def knn(queryVec: Seq[Float], k: Int, filter: Option[Column] = None): DataFrame = {
    val (schema, rows) = topK(queryVec, k, filter)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** [[knn]]'s rows, without the local frame around them. */
  def knnRows(queryVec: Seq[Float], k: Int, filter: Option[Column] = None): Seq[Row] =
    topK(queryVec, k, filter)._2.toSeq

  private def topK(queryVec: Seq[Float], k: Int,
      filter: Option[Column]): (StructType, Array[Row]) = {
    require(queryVec.length == meta.dimension,
      s"query dimension ${queryVec.length} != index dimension ${meta.dimension}")
    require(k >= 0, s"k must be >= 0, got $k")
    val snap = snapshot()
    try {
      val (schema, rows) = filter.fold((snap.frame.schema, snap.rows)) { f =>
        val base =
          try snap.frame.filter(f)
          catch {
            case e: AnalysisException =>
              throw new IllegalArgumentException(s"invalid filter: ${e.getMessage}", e)
          }
        (base.schema, base.queryExecution.toRdd)
      }
      val task  = new VectorIndex.TopK(queryVec.toArray, k, schema)
      val parts = new Array[Array[InternalRow]](rows.getNumPartitions)
      spark.sparkContext.runJob(rows, task, parts.indices,
        (i: Int, best: Array[InternalRow]) => parts(i) = best)
      (task.outputSchema, task.merge(parts))
    } catch {
      case e: IllegalArgumentException => throw e
      case e: Exception => drop(snap); throw e
    }
  }

  /** `{total_vector_count, dimension}`: the live-id count, memoized for
    * the log's current state.
    */
  def stats: IndexStats = IndexStats(snapshot().liveCount, meta.dimension)
}

object VectorIndex {
  /** The fused operator behind [[VectorIndex.knn]], over rows of
    * `schema` (the snapshot's columns, which include `id` and
    * `embedding`). Per partition it scores each row with
    * `round(cosine_similarity(embedding, query), 6)` — the same
    * expressions, evaluated interpreted — and keeps a bounded heap of the
    * k best copied rows, each followed by its score; on the driver
    * [[merge]] orders the ≤ k rows of every partition and keeps k. One
    * ordering serves both: score desc nulls last, then id asc, Spark's
    * own comparison for each type.
    *
    * A named class, not a lambda: `SparkContext.runJob` closure-cleans a
    * lambda on every job (~4 ms of reading class bytes out of the Spark
    * jars) and passes any other function object through as it is.
    */
  private[catalog] final class TopK(query: Array[Float], k: Int, schema: StructType)
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    private val width = schema.length
    // where withColumn("score", …) puts the score: in place of a
    // same-named column, else last
    private val scoreAt = {
      val resolver = SQLConf.get.resolver
      val at = schema.fieldNames.indexWhere(resolver(_, "score"))
      if (at < 0) width else at
    }

    private def withScore[T: scala.reflect.ClassTag](fields: Array[T], score: T): Array[T] =
      if (scoreAt == width) fields :+ score else fields.updated(scoreAt, score)

    def outputSchema: StructType =
      StructType(withScore(schema.fields, StructField("score", DoubleType)))

    private def column(name: String) =
      BoundReference(schema.fieldIndex(name), schema(name).dataType, nullable = true)

    /** Over a row joined with a one-field row holding its score. */
    private def ordering = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(width, DoubleType, nullable = true), Descending),
      SortOrder(column("id"), Ascending)))

    def apply(context: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      if (k == 0) Array.empty
      else {
        val score = Round(CosineSimilarityExpr(column("embedding"),
          Literal(UnsafeArrayData.fromPrimitiveArray(query),
            ArrayType(FloatType, containsNull = false))), Literal(6))
        val order  = ordering
        val heap   = new java.util.PriorityQueue[InternalRow](k, order.reverse) // worst first
        val scored = new GenericInternalRow(1)
        val probe  = new JoinedRow(null, scored)
        rows.foreach { row =>
          scored.update(0, score.eval(row))
          if (heap.size < k || order.compare(probe.withLeft(row), heap.peek) < 0) {
            if (heap.size == k) heap.poll()
            heap.add(new JoinedRow(row.copy(), scored.copy()))
          }
        }
        heap.toArray(Array.empty[InternalRow])
      }

    /** The k best of every partition's best, as rows of [[outputSchema]]. */
    def merge(parts: Array[Array[InternalRow]]): Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(outputSchema)
      parts.flatten.sorted(ordering).take(k).map { hit =>
        val values = Array.tabulate[Any](width)(i => hit.get(i, schema(i).dataType))
        toRow(new GenericInternalRow(withScore(values, hit.get(width, DoubleType)))).asInstanceOf[Row]
      }
    }
  }

  /** Atomic create-exclusive: true for exactly one of several racing
    * creators. Hadoop's `createNewFile` is exists-then-create, which on
    * the local filesystem two writers can both win (both then stage the
    * same version, and one's overwrite deletes the other's files); there
    * NIO's `createFile` (`O_CREAT | O_EXCL`) decides. On HDFS
    * `createNewFile` is already atomic.
    */
  private[graft] def createExclusive(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getScheme != "file") fs.createNewFile(p)
    else
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(fs.makeQualified(p).toUri))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Create-or-connect (`pinecone_service.py:33-68`). */
  def createOrConnect(
      spark: SparkSession, catalog: VectorCatalog, meta: IndexMeta): VectorIndex =
    new VectorIndex(spark, catalog, catalog.create(meta))
}
