package graft.ingest

import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** Document source scans (SURVEY §2 S1-S4): text directory, PDF
  * directory (parse stubbed — no PDF lib ships in this environment),
  * and their union. One row per document: `(text, source)`.
  */
object Readers {

  /** The file names [[documents]] reads, as `pathGlobFilter` globs. */
  private val TextGlob = "*.txt"
  private val PdfGlob  = "*.pdf"

  /** S1: recursive `*.txt` scan, one Document per file, `source` = path
    * (`scripts/ingest_documents.py:42-49`). `wholetext` keeps each file a
    * single row; Spark parallelizes across files, so a 100 TB corpus
    * just needs enough files.
    */
  def textDirectory(spark: SparkSession, dir: String): DataFrame =
    wholeTextFiles(spark, dir, TextGlob)

  /** Recursive scan of the files under `dir` matching `glob`, one row
    * `(text, source)` per file.
    */
  private def wholeTextFiles(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .text(dir)
      .select(col("value").as("text"), input_file_name().as("source"))

  /** Pluggable page extractor for binary documents; returns one string
    * per page (PDF page explode = the reference's per-page Documents,
    * `scripts/ingest_documents.py:52-59`).
    */
  trait BinaryDocParser extends Serializable {
    def pages(bytes: Array[Byte]): Seq[String]
  }

  /** Deterministic pseudo-page fallback, kept for tests and as the
    * degraded-mode output [[PdfParser]] emits for files outside the
    * supported subset (encrypted, exotic filters, non-PDF bytes).
    */
  final class StubPdfParser extends BinaryDocParser {
    override def pages(bytes: Array[Byte]): Seq[String] =
      Seq(s"[pdf-stub ${bytes.length} bytes]")
  }

  /** S2: recursive `*.pdf` scan via the binaryFile source + page
    * explode. Default parser is the dependency-free [[PdfParser]]
    * (object scan → page-tree walk → FlateDecode via the JDK Inflater →
    * ToUnicode CMaps for CID/Type0 fonts → Tj/TJ/'/" text operators;
    * see [[PdfText]]), degrading per-file to the stub pseudo-page
    * outside its subset. The page explode is a typed `flatMap` — binary
    * parsing is genuinely imperative per-file work, and the Dataset
    * object path keeps it out of the ScalaUDF anti-pattern the plan
    * audit bans registry-wide (one narrow map per file either way; the
    * scan parallelizes across files, never within one).
    */
  def pdfDirectory(
      spark: SparkSession, dir: String,
      parser: BinaryDocParser = new PdfParser
  ): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", PdfGlob)
      .load(dir)
      .select(col("content"), col("path"))
      .as[(Array[Byte], String)]
      .flatMap { case (bytes, path) =>
        (if (bytes == null) Seq.empty[String] else parser.pages(bytes))
          .map(t => (t, path))
      }
      .toDF("text", "source")
  }

  /** S3: txt ∪ pdf (`scripts/ingest_documents.py:61-64`). */
  def documents(spark: SparkSession, dir: String): DataFrame =
    textDirectory(spark, dir).unionByName(pdfDirectory(spark, dir))

  /** [[documents]]' rows for request-sized input: the named files, as
    * `(path, bytes)` a request already holds, parsed on the driver with no
    * Spark job and no read of the files. The selection is the scan's — the
    * `*.txt` / `*.pdf` globs and Spark's data-file rule (its file index
    * skips a name starting `.`, or `_` without a `=`) — the PDF parser is
    * [[PdfParser]], and `source` is the string each scan yields: the
    * text scan's `input_file_name()` is the file's URI
    * (`file:///d/a%20b.txt`), the binary scan's `path` the Hadoop path
    * (`file:/d/a b.pdf`).
    */
  private[graft] def localDocuments(
      spark: SparkSession, files: Seq[(String, Array[Byte])]): Seq[(String, String)] = {
    val conf   = spark.sparkContext.hadoopConfiguration
    val text   = new GlobFilter(TextGlob)
    val pdf    = new GlobFilter(PdfGlob)
    val parser = new PdfParser
    files.flatMap { case (f, bytes) =>
      val p    = new Path(f)
      val path = p.getFileSystem(conf).makeQualified(p)
      val name = path.getName
      if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Nil
      else if (text.accept(path)) Seq(new String(bytes, UTF_8) -> path.toUri.toString)
      else if (pdf.accept(path)) parser.pages(bytes).map(_ -> path.toString)
      else Nil
    }
  }

  /** Compressed text-corpus scan: `*.txt.gz`, one document per file.
    * Hadoop's codec factory decompresses by extension inside the SAME
    * wholetext source — a 100 TB corpus ships gzipped, and the scan
    * shape (parallel across files, one row per file, pruned columns)
    * is identical to [[textDirectory]]. The one scale caveat: gzip is
    * unsplittable, so parallelism = file count here too — which the
    * one-doc-per-file layout already implies.
    */
  def textGzDirectory(spark: SparkSession, dir: String): DataFrame =
    wholeTextFiles(spark, dir, "*.txt.gz")

  /** CSV landing-dir scan (the spreadsheet-era interchange format the
    * long tail of corpus drops still arrives in) — the q59 JSONL
    * contract on RFC 4180: explicit schema (no inference double-scan),
    * PERMISSIVE parse with malformed rows captured as DATA in
    * `_corrupt` (a bad id cell nulls only that field — the raw line
    * and the surviving cells stay), RFC quoting (`"` quote, `""`
    * escape). `multiLine` stays OFF — line-splittable parsing is the
    * 100 TB contract; embedded newlines need the quoted-multiline mode
    * whose files parse whole, so writers in this repo reject them
    * instead (the JsonlSink scope rule).
    */
  def csvDirectory(
      spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt"),
      "schema must not predeclare _corrupt")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase("source")),
      "schema must not declare a source field (withColumn would silently " +
        "clobber the parsed data with the file path)")
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.csv")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(dir)
      .withColumn("source", input_file_name())
  }

  /** JSONL corpus scan (one JSON document per line — the interchange
    * format of web-scale text pipelines; engine extension, the reference
    * reads only txt/pdf). The schema is REQUIRED: inference at 100 TB
    * reads the corpus twice before the job starts. Malformed lines land
    * in `_corrupt` (PERMISSIVE mode) instead of failing the job, so one
    * bad record in a day-long ingest surfaces as data, not a stack
    * trace; `source` carries the originating file.
    *
    * Spark restriction: a query that selects ONLY `_corrupt` (no data
    * column) throws `AnalysisException` ("queries from raw JSON files are
    * disallowed when the referenced columns only include the internal
    * corrupt record column"). For a corrupt-rows-only audit, select at
    * least one data column alongside it — e.g.
    * `.select("_corrupt", schema.fieldNames.head).filter(col("_corrupt")
    * .isNotNull)` — or `.cache()` the frame first.
    */
  def jsonlDirectory(
      spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType
  ): DataFrame = {
    require(!schema.fieldNames.contains("_corrupt"),
      "schema must not predeclare _corrupt")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase("source")),
      "schema must not declare a source field (withColumn would silently " +
        "clobber the parsed data with the file path) — rename it, or drop " +
        "this reader's provenance column")
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.jsonl")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .withColumn("source", input_file_name())
  }
}
