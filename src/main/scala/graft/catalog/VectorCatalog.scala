package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Index metadata: `(name, dimension, metric, model)` — the per-index
  * invariants the reference stores in Pinecone
  * (`app/services/pinecone_service.py:33-68`: create with dimension +
  * metric; `app/api/routes.py:120-126`: model aligned to dimension).
  */
final case class IndexMeta(
    name: String,
    dimension: Int,
    metric: String = "cosine",
    model: String = "deterministic-trigram"
)

final case class IndexStats(
    totalVectorCount: Long,
    dimension: Int,
    indexFullness: Double = 0.0 // no capacity concept in our store
)

/** Catalog of vector indexes over a filesystem root: one JSON meta file +
  * one parquet data dir per index. Uses the Hadoop FileSystem API so the
  * same code addresses local disk, HDFS, or object stores on a cluster.
  *
  * Re-expresses the reference's index lifecycle
  * (`pinecone_service.py:33-100,184-204`):
  * idempotent create, existence/dimension probe, delete, stats — plus its
  * dimension-suffix resolution (`scripts/ingest_documents.py:175-195`) and
  * best-index startup selection (`app/api/routes.py:79-142`).
  */
final class VectorCatalog(spark: SparkSession, root: String) {

  /** Dimensions the reference probes for, largest first
    * (`app/api/routes.py:100`: base, base-3072, ..., base-384).
    */
  val KnownDimensions: Seq[Int] = Seq(3072, 1536, 1024, 768, 384)

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs    = new Path(root).getFileSystem(hconf)

  private def metaPath(name: String) = new Path(s"$root/_catalog/$name.json")
  def dataPath(name: String): String = s"$root/$name"

  /** Idempotent create-or-connect (`pinecone_service.py:49-68`). Returns
    * the existing meta when present; dimension conflicts are an error.
    */
  def create(meta: IndexMeta): IndexMeta = {
    // names/metric/model become filesystem paths and hand-rolled JSON —
    // restrict to a safe charset rather than escape
    // matches() (not findFirstIn with $): '$' would still match before a
    // trailing newline, letting "name\n" corrupt paths + JSON
    val safe = java.util.regex.Pattern.compile("[A-Za-z0-9][A-Za-z0-9._-]*")
    Seq(meta.name, meta.metric, meta.model).foreach { s =>
      require(safe.matcher(s).matches(),
        s"index metadata field '$s' must match [A-Za-z0-9._-]+ (no path or quote chars)")
    }
    createValidated(meta)
  }

  private def createValidated(meta: IndexMeta): IndexMeta = get(meta.name) match {
    case Some(existing) =>
      require(existing.dimension == meta.dimension,
        s"index ${meta.name} exists with dimension ${existing.dimension}, requested ${meta.dimension}")
      existing
    case None =>
      val p   = metaPath(meta.name)
      val out = fs.create(p, true)
      out.write(toJson(meta).getBytes(StandardCharsets.UTF_8))
      out.close()
      fs.mkdirs(new Path(dataPath(meta.name)))
      meta
  }

  def exists(name: String): Boolean = fs.exists(metaPath(name))

  def get(name: String): Option[IndexMeta] =
    if (!exists(name)) None
    else {
      val in    = fs.open(metaPath(name))
      val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
      in.close()
      Some(fromJson(new String(bytes, StandardCharsets.UTF_8)))
    }

  def dimensionOf(name: String): Option[Int] = get(name).map(_.dimension)

  /** S8 fallback (`pinecone_service.py:79-100` probes the live index when
    * metadata is unavailable): measure the dimension from the stored
    * data itself — parquet schema proves the column exists, one row
    * gives the length. Returns None for a missing/empty index.
    */
  def dimensionFromData(name: String): Option[Int] = {
    val p = new Path(dataPath(name))
    if (!fs.exists(p) ||
      !fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))) None
    else {
      val df = spark.read.parquet(dataPath(name))
      if (!df.columns.contains("embedding")) None
      else df.select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding")))
        .limit(1).collect().headOption.map(_.getInt(0))
    }
  }

  /** Drop index + data (`pinecone_service.py:184-191`). */
  def delete(name: String): Unit = {
    fs.delete(metaPath(name), false)
    fs.delete(new Path(dataPath(name)), true)
  }

  def list(): Seq[IndexMeta] = {
    val dir = new Path(s"$root/_catalog")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .flatMap(st => get(st.getPath.getName.stripSuffix(".json")))
  }

  /** `{total_vector_count, dimension, index_fullness}`
    * (`pinecone_service.py:193-204`).
    */
  def stats(name: String): Option[IndexStats] = get(name).map { m =>
    val p = new Path(dataPath(name))
    val hasData = fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    IndexStats(if (hasData) countLive(name) else 0L, m.dimension)
  }

  /** Live count of an index with data: the merge-on-read log keeps
    * superseded versions per id until compaction, so count distinct ids,
    * not raw rows.
    */
  private[catalog] def countLive(name: String): Long = {
    val df = spark.read.parquet(dataPath(name))
    if (df.columns.contains("id")) df.select("id").distinct().count()
    else df.count()
  }

  /** Ingest-side resolution (`ingest_documents.py:175-195`): if `base`
    * exists with a different dimension, route to `base-{dim}`.
    */
  def resolveForDimension(base: String, dim: Int): String =
    dimensionOf(base) match {
      case Some(d) if d != dim => s"$base-$dim"
      case _                   => base
    }

  /** Startup-side selection (`routes.py:79-142`): among candidate names
    * `{base} ∪ {base-{d}}`, pick the existing index with the most
    * vectors.
    */
  def bestIndex(base: String): Option[IndexMeta] = {
    val candidates = base +: KnownDimensions.map(d => s"$base-$d")
    val existing   = candidates.flatMap(get)
    if (existing.isEmpty) None
    else Some(existing.maxBy(m => stats(m.name).map(_.totalVectorCount).getOrElse(0L)))
  }

  // Tiny fixed-schema JSON codec (no external deps available offline).
  private def toJson(m: IndexMeta): String =
    s"""{"name":"${m.name}","dimension":${m.dimension},"metric":"${m.metric}","model":"${m.model}"}"""

  private def fromJson(s: String): IndexMeta = {
    def str(k: String) =
      s.split("\"" + k + "\":\"").apply(1).takeWhile(_ != '"')
    def num(k: String) =
      s.split("\"" + k + "\":").apply(1).takeWhile(c => c.isDigit).toInt
    IndexMeta(str("name"), num("dimension"), str("metric"), str("model"))
  }
}
