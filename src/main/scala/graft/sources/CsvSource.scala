package graft.sources

import java.io.{BufferedReader, FileNotFoundException, InputStream, InputStreamReader}

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV ingestion/export matching the reference's contract (SURVEY.md §2.1).
  *
  *  - S1: all columns ingested as STRINGS (`pd.read_csv(dtype=str)`,
  *    cleaning.py:538) — typing happens in the cleaning layer, never at
  *    the source. `inferSchema` is deliberately NOT used.
  *  - S16: the schema is derived from the header with sanitized
  *    identifiers, the dynamic-DDL path of server.js:47-113 restated as
  *    StructType construction.
  *  - S8: quarantine export — nulls blanked, header kept
  *    (cleaning.py:772-779).
  *
  * Header read: [[headerOf]] reads the header on the DRIVER — the first
  * non-blank line of the first file Spark would scan, parsed by Spark's
  * own CSV tokenizer settings — so the readers launch no Spark job
  * before the data is scanned.
  *
  * Ingest order: `_ingest_id` is attached at read time from
  * monotonically_increasing_id(), which is stable within a read (partition
  * index in the high bits, record order in the low bits) — the pandas
  * file-order semantics the dedup/ffill operators depend on (SURVEY.md §4).
  */
object CsvSource {

  val IngestId = "_ingest_id"

  /** server.js:56-63 identifier sanitation: lowercase, non-[a-z0-9_] → _.
    * A UTF-8 BOM on the first header cell (the reference's upload fixtures
    * carry one) is dropped, not sanitized into a leading underscore. */
  def sanitizeName(raw: String): String = {
    val s = raw.replace("﻿", "").trim.toLowerCase.replaceAll("[^a-z0-9_]", "_")
    if (s.isEmpty || s.head.isDigit) "c_" + s else s
  }

  /** All-string StructType from raw header names (S16). */
  def allStringSchema(header: Seq[String]): StructType =
    StructType(header.map(h => StructField(sanitizeName(h), StringType, nullable = true)))

  /** The raw header cells of the CSV at `path` (a file, a directory of
    * part files, or a glob), read on the driver without a Spark job.
    * It is the row `spark.read.option("header", "false").csv(path)`
    * returns first: hidden (`_`/`.`) files are skipped, files are taken
    * largest first (Spark's split order), compressed files are decoded
    * by Hadoop's codec for their extension, a UTF-8 BOM is dropped and
    * blank lines are skipped (as Hadoop's line reader and Spark's CSV
    * filter do), and the line is tokenized with Spark's own parser
    * settings; empty cells read as "". Empty when no file has a
    * non-blank line; throws when `path` matches nothing. */
  def headerOf(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val matched = Option(fs.globStatus(root)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty) throw new FileNotFoundException(s"Path does not exist: $path")
    def hidden(s: FileStatus) = {
      val n = s.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(leaves)
      else Seq(s)
    val files = matched.filterNot(s => s.isFile && hidden(s)).flatMap(leaves)
      .sortBy(-_.getLen)
    val options = new CSVOptions(Map("header" -> "false"), false,
      spark.sessionState.conf.sessionLocalTimeZone)
    val codecs = new CompressionCodecFactory(conf)
    def firstLine(f: FileStatus): Option[String] = {
      val raw = fs.open(f.getPath)
      val in = Option(codecs.getCodec(f.getPath)).fold[InputStream](raw)(
        _.createInputStream(raw))
      val r = new BufferedReader(new InputStreamReader(in, options.charset))
      try {
        val first = Option(r.readLine()).map(_.stripPrefix("\uFEFF"))
        (first.iterator ++ Iterator.continually(r.readLine()).takeWhile(_ != null))
          .find(_.trim.nonEmpty)
      } finally r.close()
    }
    files.iterator.flatMap(firstLine).nextOption().fold(Seq.empty[String])(line =>
      new CsvParser(options.asParserSettings).parseLine(line).toSeq
        .map(v => Option(v).getOrElse("")))
  }

  /** S1 — all-string CSV read with normalized column names + ingest id. */
  def readAllString(spark: SparkSession, path: String): DataFrame = {
    val schema = allStringSchema(headerOf(spark, path))
    spark.read
      .option("header", "true")
      .schema(schema)
      .csv(path)
      .withColumn(IngestId, monotonically_increasing_id())
  }

  /** S8 — quarantine CSV export: nulls → empty string, header row kept.
    * An empty quarantine still writes the (header-only) marker files,
    * matching the reference's empty-but-present CSV signal. */
  def writeQuarantine(df: DataFrame, path: String): Unit =
    df.na.fill("")
      .write.mode("overwrite").option("header", "true").csv(path)

  /** S9 — cleaned CSV export. */
  def writeClean(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S17/S12 — streaming file source over a landing directory: the
    * upload-dir / outbox pattern as a Structured Streaming source. */
  def streamDirectory(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.option("header", "true").schema(schema).csv(dir)

  /** S16 — dynamic DDL from a CSV header (server.js:47-113): sanitize the
    * header into identifiers, `CREATE TABLE IF NOT EXISTS` with all-STRING
    * columns plus an `inserted_at` timestamp; if a table of that name
    * already exists with NON-string data columns, fall back to a parallel
    * `<table>_raw` (server.js:81-90). Returns the table actually targeted.
    */
  def createTableFromHeader(spark: SparkSession, csvPath: String,
                            table: String, location: Option[String] = None): String = {
    val schema = allStringSchema(headerOf(spark, csvPath))

    val target =
      if (spark.catalog.tableExists(table)) {
        val existing = spark.table(table).schema
        val typed = existing.fields.exists(f =>
          f.name != "inserted_at" && f.dataType != StringType)
        if (typed) s"${table}_raw" else table
      } else table

    val cols = schema.fields.map(f => s"${f.name} STRING").mkString(", ")
    val loc = location.fold("")(l => s" LOCATION '$l'")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $target ($cols, inserted_at TIMESTAMP) USING parquet$loc")
    target
  }
}
