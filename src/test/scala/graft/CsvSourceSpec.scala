package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.sources.CsvSource
import graft.pipelines.CleaningPipelines

class CsvSourceSpec extends AnyFunSuite {
  import TestSpark.jobsOf
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The Spark-job header probe `headerOf` replaced, kept as the
    * reference: the first row of a header-less read. */
  private def probeHeader(path: String): Seq[String] =
    spark.read.option("header", "false").csv(path).limit(1)
      .collect().headOption.map(_.toSeq.map(v => Option(v).fold("")(_.toString)))
      .getOrElse(Seq.empty)

  test("headerOf equals the header-less read's first row on every input shape") {
    val dir = Files.createTempDirectory("graftheader")
    def file(name: String, body: String): String = {
      val f = dir.resolve(name)
      Files.writeString(f, body)
      f.toString
    }
    val quoted = file("quoted.csv", "\"Total, Amount\",Key,\"\"\n\"$1,5\",A,x\n")
    val bom = file("bom.csv", "\uFEFFAirlineKey,AirlineName\nAA,American\n")
    val blank = file("blank.csv", "\n   \nFlightKey,Origin\nAA1,JFK\n")
    val empty = file("empty.csv", "")
    // Spark-written part files, with _SUCCESS and .crc siblings
    val written = dir.resolve("written").toString
    CsvSource.writeClean((1 to 40).map(i => (s"k$i", i.toString)).toDF("Key Col", "Val")
      .repartition(3), written)
    val names = Files.list(Paths.get(written)).toArray.map(_.toString).toSeq
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.endsWith(".crc")),
      s"fixture lacks the hidden siblings: $names")
    val gz = dir.resolve("packed.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try out.write("Zipped,Header\n1,2\n".getBytes("UTF-8")) finally out.close()
    // a glob over two files: the larger one's header comes first
    file("g_small.csv", "s1,s2\n1,2\n")
    file("g_large.csv", "b1,b2,b3\n" + "1,2,3\n" * 20)
    val glob = dir.resolve("g_*.csv").toString

    for (p <- Seq(quoted, bom, blank, written, gz.toString, glob, empty))
      assert(CsvSource.headerOf(spark, p) == probeHeader(p), p)
    assert(CsvSource.headerOf(spark, quoted) == Seq("Total, Amount", "Key", ""))
    assert(CsvSource.headerOf(spark, glob) == Seq("b1", "b2", "b3"))
    assert(CsvSource.headerOf(spark, empty).isEmpty)
    intercept[java.io.FileNotFoundException](
      CsvSource.headerOf(spark, dir.resolve("missing.csv").toString))
  }

  test("the CSV readers launch no Spark job") {
    val dir = Files.createTempDirectory("graftreadjobs")
    val f = dir.resolve("in.csv")
    Files.writeString(f, "Some Key,Total$Amount\nA,1\n")
    val (df, readJobs) = jobsOf(CsvSource.readAllString(spark, f.toString))
    assert(readJobs.isEmpty, s"jobs launched by readAllString: $readJobs")
    assert(df.columns.toSeq == Seq("some_key", "total_amount", CsvSource.IngestId))
    val (_, ddlJobs) = jobsOf(CsvSource.createTableFromHeader(spark, f.toString,
      "graft_ddl_jobs", Some(dir.resolve("t").toString)))
    assert(ddlJobs.isEmpty, s"jobs launched by createTableFromHeader: $ddlJobs")
    spark.sql("DROP TABLE IF EXISTS graft_ddl_jobs")
  }

  test("a clean-file's quarantine write reads the split the clean write computed") {
    val dir = Files.createTempDirectory("graftsplitjobs")
    val f = dir.resolve("flights.csv")
    Files.writeString(f,
      """FlightKey,OriginAirportKey,DestinationAirportKey,AircraftType
        |AA100,JK,LAX,boeing 737
        |dl200,LAX,ORD,airbus a320
        |AA300,LAb,JFK,e190
        |AA400,ORD,ORD,x
        |AA100,JFK,LAX,dup key
        |""".stripMargin)
    val res = CleaningPipelines.cleanFile("flights",
      CsvSource.readAllString(spark, f.toString),
      airlineKeys = Some(Seq("AA", "DL").toDF("airlinekey")),
      airportKeys = Some(Seq("JFK", "LAX", "ORD").toDF("airportkey")))
    CsvSource.writeClean(res.clean, dir.resolve("clean").toString)
    val (_, jobs) = jobsOf(
      CsvSource.writeQuarantine(res.quarantine, dir.resolve("quarantine").toString))
    assert(jobs.size == 1, s"jobs launched by the quarantine write: $jobs")
    def rows(kind: String) = spark.read.option("header", "true")
      .csv(dir.resolve(kind).toString).count()
    assert(rows("clean") == 3 && rows("quarantine") == 2)
  }

  test("S1/S16: all-string ingest with sanitized header and ingest id") {
    val dir = Files.createTempDirectory("graftcsv")
    val f = dir.resolve("in.csv")
    Files.writeString(f,
      "TransactionID,Transaction Date,Total$Amount\n40001,2023-01-10,\"$1,540.00\"\n4AN,01/18/2023,99.50\n")
    val df = CsvSource.readAllString(spark, f.toString)
    assert(df.columns.toSeq == Seq("transactionid", "transaction_date", "total_amount", "_ingest_id"))
    assert(df.schema.fields.take(3).forall(_.dataType.typeName == "string"))
    val rows = df.orderBy("_ingest_id").collect()
    assert(rows.length == 2 && rows.head.getString(0) == "40001")
  }

  test("S8: quarantine round-trip blanks nulls and keeps header") {
    val dir = Files.createTempDirectory("graftq")
    val df = Seq((Some("a"), None: Option[String]), (None, Some("b")))
      .toDF("x", "y")
    CsvSource.writeQuarantine(df, dir.resolve("q").toString)
    val back = spark.read.option("header", "true").csv(dir.resolve("q").toString)
    assert(back.count() == 2)
  }

  test("S16: dynamic DDL from header + _raw fallback for typed tables") {
    val dir = Files.createTempDirectory("graftddl")
    val f = dir.resolve("in.csv")
    Files.writeString(f, "Some Key,Total$Amount\nA,1\n")
    val t1 = CsvSource.createTableFromHeader(spark, f.toString, "graft_ddl_t",
      Some(dir.resolve("t").toString))
    assert(t1 == "graft_ddl_t")
    val schema = spark.table("graft_ddl_t").schema
    assert(schema.fieldNames.toSeq == Seq("some_key", "total_amount", "inserted_at"))
    assert(schema("some_key").dataType.typeName == "string")

    // pre-existing TYPED table of the same name → parallel _raw target
    spark.sql("CREATE TABLE graft_ddl_typed (k INT) USING parquet " +
      s"LOCATION '${dir.resolve("typed")}'")
    val t2 = CsvSource.createTableFromHeader(spark, f.toString, "graft_ddl_typed",
      Some(dir.resolve("typed_raw").toString))
    assert(t2 == "graft_ddl_typed_raw")
    assert(spark.catalog.tableExists("graft_ddl_typed_raw"))
    Seq("graft_ddl_t", "graft_ddl_typed", "graft_ddl_typed_raw")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("S6/S7: upsert — latest incoming version wins, others survive") {
    import graft.sources.UpsertSink
    val existing = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val incoming = Seq((2L, "b2", 21.0, 1), (2L, "b3", 22.0, 2), (4L, "d", 40.0, 1))
      .toDF("k", "name", "bal", "version")
    val got = UpsertSink.upsert(existing, incoming, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b3", 22.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // idempotent: re-applying the same batch changes nothing
    val again = UpsertSink.upsert(
      UpsertSink.upsert(existing, incoming, Seq("k"), "version"),
      incoming, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(again == got)
  }

  test("bucketed tables join with NO shuffle exchange (co-located join)") {
    import graft.sources.Bucketing
    val dir = Files.createTempDirectory("graftbucket")
    val facts = (1L to 200L).map(i => (i % 40, i, i * 1.5)).toDF("k", "id", "amt")
    val dims = (0L until 40L).map(i => (i, s"dim_$i")).toDF("k", "name")
    Bucketing.writeBucketed(facts, "graft_b_facts", 8, Seq("k"), dir.resolve("f").toString)
    Bucketing.writeBucketed(dims, "graft_b_dims", 8, Seq("k"), dir.resolve("d").toString)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = Bucketing.readBucketed(spark, "graft_b_facts")
        .join(Bucketing.readBucketed(spark, "graft_b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 200)
      // and a groupBy on the bucket key also skips the exchange
      val agg = Bucketing.readBucketed(spark, "graft_b_facts")
        .groupBy("k").sum("amt")
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("graft_b_facts", "graft_b_dims")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("end-to-end: dirty CSV file through the transactions pipeline") {
    val dir = Files.createTempDirectory("grafte2e")
    val f = dir.resolve("txn.csv")
    Files.writeString(f,
      """TransactionID,TransactionDate,PassengerID,FlightID,TicketPrice,Taxes,BaggageFees,TotalAmount
        |40001,2023-01-10,P12345,AA123,"$1,540.00",1.00,0.00,2.00
        |4AN,01/18/2023,P20000,DL45,250.50,1.00,0.00,2.00
        |40009,garbage,P30000,UA9,99.99,1.00,0.00,2.00
        |""".stripMargin)
    val in = CsvSource.readAllString(spark, f.toString)
    val r = CleaningPipelines.transactions(in)
    assert(r.clean.count() == 2)      // 4AN repaired to 40002, parsed dates
    assert(r.quarantine.count() == 1) // garbage date
    CsvSource.writeQuarantine(r.quarantine, dir.resolve("quar").toString)
    assert(Files.list(dir.resolve("quar")).count() > 0)
  }
}
