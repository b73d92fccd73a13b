package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Eligibility
import graft.pipelines.CleaningPipelines
import graft.sources.CsvSource
import graft.streaming.EligibilityStream
import graft.warehouse.Warehouse

/** `etl_batches`: the reference's user path, clean-file → transform-tables
  * → check-eligibility, over the seeded upload batches `gen.py` wrote.
  *
  * Set-up loads the first batch into an empty warehouse (this is also
  * the warm-up). Each pass then loads the remaining batches in order on
  * top of that state, writing its own copies, so passes repeat the same
  * work and the later batches upsert and close SCD2 versions. A batch is
  * the reference's API calls, each one operation: a clean-file call per
  * upload (`CsvSource.readAllString`, `CleaningPipelines.cleanFile`,
  * `CsvSource.writeClean`, `CsvSource.writeQuarantine`), transform-tables
  * (`Warehouse.run` with a `materialize` that writes each layer), and
  * check-eligibility (`Eligibility.latestPerFlight`, `Eligibility.checkRaw`),
  * and stream-eligibility, the Kafka worker's path over the same requests
  * (`EligibilityStream`, a file-source stream drained with AvailableNow).
  */
final class EtlBatches(spark: SparkSession, work: String)
    extends Workload {

  import EtlBatches._

  private val in = new File(work, "in")
  private val out = new File(work, "etl")
  private val batches = in.listFiles().filter(_.getName.startsWith("batch"))
    .map(_.getName).sorted.toSeq

  private val requestMs = mutable.ArrayBuffer.empty[Double]
  private val landedToFact = mutable.ArrayBuffer.empty[Double]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private var passes = 0
  private var inputRows = 0L
  private var base: Option[Warehouse.Layers] = None

  private def csv(b: String, f: String) = new File(new File(in, b), s"$f.csv").toString
  private def outDir(b: String, kind: String, f: String) =
    new File(out, s"$b/$kind/$f").toString

  def setup(): Unit = {
    require(batches.size >= 2, s"need at least two input batches under $in")
    inputRows = measured.flatMap(b =>
      (Uploads :+ "requests").map(f => dataRows(csv(b, f)))).sum
    // the first batch loads the warehouse every pass starts from; it is
    // also the warm-up
    base = loadBatch(batches.head, 0, None)
    require(base.isDefined, s"loading ${batches.head} failed")
    requestMs.clear(); landedToFact.clear()
  }

  /** The batches a pass loads, in order, on top of the first one. */
  private def measured: Seq[String] = batches.tail

  def pass(): Unit = {
    val t0 = System.nanoTime()
    val end = measured.zipWithIndex.foldLeft(base) { case (layers, (b, j)) =>
      layers.flatMap(l => loadBatch(b, j + 1, Some(l)))
    }
    if (end.isDefined) {
      passWalls += (System.nanoTime() - t0) / 1e9
      passes += 1
    }
  }

  /** One batch as the reference's API calls: a clean-file call per
    * upload, transform-tables, check-eligibility, stream-eligibility.
    * None when a call failed. */
  private def loadBatch(b: String, bi: Int,
                        prev: Option[Warehouse.Layers]): Option[Warehouse.Layers] = {
    val t0 = System.nanoTime()
    // dimensions first: the flights pipeline repairs against them
    val cleaned = Uploads.forall(f => request(s"$b/clean-file/$f")(clean(b, f)).isDefined)
    val layers =
      if (!cleaned) None
      else request(s"$b/transform-tables")(transform(b, bi, prev))
    layers.foreach(_ => landedToFact += (System.nanoTime() - t0) / 1e9)
    layers.filter { _ =>
      request(s"$b/check-eligibility")(eligibility(b)).isDefined && {
        // a fresh stream over the outbox each time the batch is loaded
        deleteRecursively(new File(outDir(b, "stream", "")))
        request(s"$b/stream-eligibility")(streamEligibility(b)).isDefined
      }
    }
  }

  /** One API call, timed and counted; None when it threw. */
  private def request[T](what: String)(body: => T): Option[T] = {
    Trace.beginOp()
    val t0 = System.nanoTime()
    val res = attempt(what)(body)
    if (res.isDefined) requestMs += (System.nanoTime() - t0) / 1e6
    res
  }

  private def read(path: String, tag: String): DataFrame =
    Trace.span(s"sources.csv_read/$tag")(CsvSource.readAllString(spark, path))

  /** clean-file: read an upload, clean it, write both partitions. */
  private def clean(b: String, f: String): Unit =
    Trace.span(s"pipelines.clean_file/$f") {
      val raw = read(csv(b, f), f)
      val (airlineKeys, airportKeys) =
        if (f != "flights") (None, None)
        else (Some(read(outDir(b, "clean", "airlines"), "clean_airlines")
                .select("airlinekey")),
              Some(read(outDir(b, "clean", "airports"), "clean_airports")
                .select("airportkey")))
      val res = Trace.span(s"pipelines.${f}_build/$f")(
        CleaningPipelines.cleanFile(f, raw, airlineKeys, airportKeys = airportKeys))
      Trace.span(s"sources.clean_write/$f")(
        CsvSource.writeClean(res.clean, outDir(b, "clean", f)))
      Trace.span(s"sources.quarantine_write/$f")(
        CsvSource.writeQuarantine(res.quarantine, outDir(b, "quarantine", f)))
    }

  /** transform-tables: the clean transactions through the warehouse
    * layers, each layer written by `materialize`. */
  private def transform(b: String, bi: Int,
                        prev: Option[Warehouse.Layers]): Warehouse.Layers = {
    val staged = read(outDir(b, "clean", "transactions"), "clean_transactions")
      .select(col("transactionid").as("booking_reference") +:
        (DimCols ++ MeasureCols :+ CsvSource.IngestId).map(col): _*)
    val cfg = Warehouse.bookingSales
    val existing = prev.getOrElse(
      Warehouse.emptyLayers(cfg, staged, DimCols, MeasureCols, CsvSource.IngestId))
    val layerNames = Iterator("staging", "prefact", "dimension", "fact")
    def materialize(df: DataFrame): DataFrame = {
      val layer = layerNames.next()
      val path = outDir(b, "warehouse", layer)
      Trace.span(s"warehouse.$layer") {
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
    }
    Trace.span("warehouse.run")(
      Warehouse.run(cfg, staged, existing, DimCols, MeasureCols,
        CsvSource.IngestId, date_add(to_date(lit("2024-02-01")), bi),
        materialize))
  }

  private def eligibility(b: String): Unit = Trace.span("operators.eligibility") {
    val checked = Trace.span("operators.eligibility_build") {
      val flights = read(outDir(b, "clean", "flights"), "clean_flights")
        .select("flightkey", "scheduleddeparture", "actualdeparture")
      val latest = Eligibility.latestPerFlight(flights, "flightkey",
        "scheduleddeparture")
      val requests = read(csv(b, "requests"), "requests")
      Eligibility.checkRaw(requests, latest, "flightkey",
        "scheduleddeparture", "actualdeparture")
    }
    Trace.span("operators.eligibility_write")(
      checked.write.mode("overwrite").parquet(outDir(b, "eligibility", "requests")))
  }

  /** The Kafka worker's path: the batch's outbox messages as a
    * file-source stream through `EligibilityStream.process` against the
    * latest clean flights, into a parquet sink, until the landed files are
    * drained. */
  private def streamEligibility(b: String): Unit =
    Trace.span("operators.eligibility_stream") {
      // a plain header read: readAllString's ingest id is nondeterministic,
      // which a streaming query rejects even on its static side
      val flights = Eligibility.latestPerFlight(
          spark.read.option("header", "true").csv(outDir(b, "clean", "flights")),
          "flightkey", "scheduleddeparture")
        .select(col("flightkey").as("flight_number"),
          col("scheduleddeparture").as("scheduled_departure"),
          col("actualdeparture").as("actual_departure"))
      val messages = spark.readStream.schema("value STRING")
        .text(new File(new File(in, b), "outbox").toString)
      EligibilityStream.process(EligibilityStream.parseMessages(messages), flights)
        .drop("processed_at")
        .writeStream.format("parquet")
        .option("checkpointLocation", outDir(b, "stream", "checkpoint"))
        .option("path", outDir(b, "stream", "sink"))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  def endToEnd(): Map[String, Double] = Map(
    "op_mean_ms" -> Stats.mean(requestMs.toSeq),
    "pass_s" -> Stats.median(passWalls.toSeq))

  def detail(): Map[String, Double] = Map(
    "etl.rows_per_s" -> inputRows / Stats.median(passWalls.toSeq),
    "etl.batch_p50_s" -> Stats.median(landedToFact.toSeq),
    "etl.call_p50_ms" -> Stats.median(requestMs.toSeq),
    "etl.call_p90_ms" -> Stats.quantile(requestMs.toSeq, 0.9),
    "etl.input_rows_per_pass" -> inputRows.toDouble,
    "etl.passes" -> passes.toDouble)

  def layers(t: TraceResult): Map[String, Double] = {
    val files = t.ofKind("pipelines.clean_file")
    def sizeOf(f: String) = new File(csv(measured.head, f)).length().toDouble
    // bytes the clean-file calls read over the upload's size
    val scans = Seq("transactions", "flights", "passengers").map { f =>
      val calls = files.filter(_.name.endsWith(s"/$f"))
      t.subtreeWork(calls).inputBytes / (sizeOf(f) * math.max(1, calls.size))
    }
    val wh = t.ofKind("warehouse.run")
    val lastDim = outDir(batches.last, "warehouse", "dimension")
    Map(
      "sources.csv_read_ms" -> t.meanMs("sources.csv_read"),
      "sources.clean_write_ms" -> t.meanMs("sources.clean_write"),
      "sources.quarantine_write_ms" -> t.meanMs("sources.quarantine_write"),
      "sources.input_scans_per_file" -> scans.sum / scans.size,
      "pipelines.transactions_build_ms" -> t.meanMs("pipelines.transactions_build"),
      "pipelines.flights_build_ms" -> t.meanMs("pipelines.flights_build"),
      "pipelines.passengers_build_ms" -> t.meanMs("pipelines.passengers_build"),
      "pipelines.jobs_per_file" -> t.jobsPerCall("pipelines.clean_file"),
      "warehouse.staging_ms" -> t.meanMs("warehouse.staging"),
      "warehouse.prefact_ms" -> t.meanMs("warehouse.prefact"),
      "warehouse.dimension_ms" -> t.meanMs("warehouse.dimension"),
      "warehouse.fact_ms" -> t.meanMs("warehouse.fact"),
      "warehouse.jobs_per_batch" -> t.jobsPerCall("warehouse.run"),
      "warehouse.bytes_written_per_input_byte" ->
        t.subtreeWork(wh).outputBytes / (sizeOf("transactions") * math.max(1, wh.size)),
      "warehouse.dim_versions" -> spark.read.parquet(lastDim).count().toDouble,
      "operators.eligibility_ms" -> t.meanMs("operators.eligibility"),
      "operators.eligibility_stream_ms" -> t.meanMs("operators.eligibility_stream"))
  }

  def layerNames: Seq[String] = EtlBatches.LayerNames

  override def gateInfo(): Map[String, Any] = Map(
    "out_dir" -> out.toString,
    "in_dir" -> in.toString,
    "batches" -> measured,
    "passes" -> passes)
}

object EtlBatches {
  /** The uploads of one batch that are cleaned, in cleaning order (the
    * dimensions first: the flights pipeline repairs against them). */
  val Uploads: Seq[String] =
    Seq("airlines", "airports", "flights", "passengers", "transactions")
  val DimCols: Seq[String] = Seq("passengerid", "flightid", "transactiondate")
  val MeasureCols: Seq[String] =
    Seq("ticketprice", "taxes", "baggagefees", "totalamount")

  val LayerNames: Seq[String] = Seq(
    "sources.csv_read_ms", "sources.clean_write_ms",
    "sources.quarantine_write_ms", "sources.input_scans_per_file",
    "pipelines.transactions_build_ms", "pipelines.flights_build_ms",
    "pipelines.passengers_build_ms", "pipelines.jobs_per_file",
    "warehouse.staging_ms", "warehouse.prefact_ms", "warehouse.dimension_ms",
    "warehouse.fact_ms", "warehouse.jobs_per_batch",
    "warehouse.bytes_written_per_input_byte", "warehouse.dim_versions",
    "operators.eligibility_ms", "operators.eligibility_stream_ms")

  /** Data rows of a generated CSV (one record per line, header first). */
  def dataRows(path: String): Long = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().size - 1L finally src.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

}
