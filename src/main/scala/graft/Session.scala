package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main builds its SparkSession, so the mains, the
  * server and the specs run the engine under the same settings.
  */
object Session {

  /** Core count for every main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // one shuffle partition per core: Spark's default 200 makes every
      // small keyed stage (and an upload) several times slower
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // to a us timestamp in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive (no-tz) parquet timestamps read as TIMESTAMP, not NTZ —
      // the session is pinned to UTC so instants are unchanged, and
      // event-time streaming / unix_micros require TIMESTAMP.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Encoding.repairMojibake needs REPLACE (not throw) semantics for
      // malformed/unmappable bytes; its guards inspect the replacements
      .config("spark.sql.legacy.codingErrorAction", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
