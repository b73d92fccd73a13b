package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CleanFunctions => CF}
import graft.operators.{Dedup, FuzzyJoin}
import graft.pipelines.CleaningPipelines
import graft.pipelines.CleaningPipelines.IngestId
import graft.sources.CsvSource

/** Fixture tests mirroring FIXTURES.md §A fault classes (derived from the
  * reference's real dirty inputs). */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("StagedPipeline: resume skips completed stages, crash recomputes only the incomplete tail, tag change cascades") {
    import graft.pipelines.StagedPipeline
    import StagedPipeline.Stage
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("staged_spec").toString
    val src = Seq((1L, "a", 2L), (2L, "a", 3L), (3L, "b", 5L))
      .toDF("id", "k", "v")
    val ran = scala.collection.mutable.Buffer[String]()
    def stages(failAgg: Boolean, tag: String = "v1") = Seq(
      Stage("base", { _ => ran += "base"; src }, tag),
      Stage("doubled", { st => ran += "doubled"
        st("base").withColumn("v2", col("v") * 2) }, tag),
      Stage("agg", { st => ran += "agg"
        if (failAgg) sys.error("boom")
        st("doubled").groupBy("k").agg(sum("v2").as("s")) }, tag))

    // crash in stage 3: stages 1-2 complete, pipeline throws
    intercept[RuntimeException](
      StagedPipeline.run(spark, dir, stages(failAgg = true)))
    assert(ran.toSeq == Seq("base", "doubled", "agg"))
    ran.clear()
    // retry: ONLY the incomplete stage recomputes; result == direct
    val out = StagedPipeline.run(spark, dir, stages(failAgg = false))
    assert(ran.toSeq == Seq("agg"), s"recomputed too much: $ran")
    val got = out("agg").orderBy("k").as[(String, Long)].collect.toSeq
    assert(got == Seq(("a", 10L), ("b", 10L)))
    ran.clear()
    // full resume: nothing recomputes, outputs still readable
    val cached = scala.collection.mutable.Buffer[(String, Boolean)]()
    val out2 = StagedPipeline.run(spark, dir, stages(failAgg = false),
      onStage = (n, c) => cached += ((n, c)))
    assert(ran.isEmpty && cached.forall(_._2))
    assert(out2("agg").orderBy("k").as[(String, Long)].collect.toSeq == got)
    ran.clear()
    // tag bump on stage 2 invalidates it AND the downstream stage, not stage 1
    val mixed = Seq(stages(false).head) ++ stages(false, "v2").tail
    StagedPipeline.run(spark, dir, mixed)
    assert(ran.toSeq == Seq("doubled", "agg"), s"cascade wrong: $ran")
  }

  test("M3 airlines: normalize, alliance map, dedup, regex split") {
    val in = Seq(
      (0L, "aa ", "american  airlines", "oneworld"),
      (1L, "DL", "delta air lines", "sky team"),
      (2L, "DL", "duplicate row", "skyteam"),      // dup key → quarantine
      (3L, "TOOLONG", "bad key", "none"),          // key regex fail
      (4L, "LH", "lufthansa", "garbage"),          // unknown alliance → None
      (5L, "VS", "virgin", "oneworld"),            // per-key fix → SkyTeam
      (6L, "B6", "jet#blue", "Star Alliance")      // illegal name char
    ).toDF(IngestId, "airlinekey", "airlinename", "alliance")
    val r = CleaningPipelines.airlines(in)
    val clean = r.clean.orderBy(IngestId)
      .select("airlinekey", "airlinename", "alliance")
      .as[(String, String, String)].collect.toSeq
    assert(clean == Seq(
      ("AA", "American Airlines", "Oneworld"),
      ("DL", "Delta Air Lines", "SkyTeam"),
      ("LH", "Lufthansa", "None"),
      ("VS", "Virgin", "SkyTeam")))
    assert(r.quarantine.select(IngestId).as[Long].collect.toSet == Set(2L, 3L, 6L))
  }

  test("M3 airlines: missing columns synthesized (name := key, alliance := None)") {
    val in = Seq((0L, "AA")).toDF(IngestId, "airlinekey")
    val clean = CleaningPipelines.airlines(in).clean
      .select("airlinename", "alliance").as[(String, String)].head()
    // title-case runs AFTER the default is synthesized (cleaning.py:325-341),
    // so the defaulted name is 'Aa', exactly like pandas str.title() on 'AA'.
    assert(clean == ("Aa", "None"))
  }

  test("M4 flights: JK→JFK, prefix repair, fuzzy airport repair, origin≠dest") {
    val airlines = Seq("AA", "DL").toDF("airlinekey")
    val airports = Seq("JFK", "LAX", "ORD").toDF("airportkey")
    val in = Seq(
      (0L, "AA100", "JK",  "LAX", "boeing  737"),   // JK→JFK fix
      (1L, "dl200", "LAX", "ORD", "airbus a320"),   // lowercase key prefix
      (2L, "AA300", "LAb", "JFK", "e190"),          // LAb→fuzzy? 2/3 diff → 66.7 <85 kept → invalid IATA? LAB matches [A-Za-z]{3}
      (3L, "AA400", "ORD", "ORD", "x"),             // origin == dest → quarantine
      (4L, "AA100", "JFK", "LAX", "dup key")        // dup flightkey → quarantine
    ).toDF(IngestId, "flightkey", "originairportkey", "destinationairportkey", "aircrafttype")
    val r = CleaningPipelines.flights(in, airlines, "airlinekey", airports, "airportkey")
    val clean = r.clean.orderBy(IngestId)
      .select("flightkey", "originairportkey", "destinationairportkey")
      .as[(String, String, String)].collect.toSeq
    assert(clean.head == ("AA100", "JFK", "LAX"))
    assert(clean.map(_._1).contains("DL200"))
    assert(r.quarantine.select(IngestId).as[Long].collect.toSet == Set(3L, 4L))
  }

  test("M5 passengers: key-strip email, title name, loyalty clean, dedup") {
    val in = Seq(
      (0L, "P01234", "john SMITH", "john.smith01234@example.com", "gold"),
      (1L, "P02000", "mary jones", "mary.jones@example.com", "SILVER!"),
      (2L, "P03000", "john smith", "john.smith03000@example.com", "gold"), // dup after strip
      (3L, "",       "no key", "nokey@example.com", "Bronze"),             // missing key
      (4L, "P04000", "single", "single@example.com", "Gold"),              // 1-word name
      (5L, "P05000", "bad email", "bad@other.com", "Gold"),                // wrong domain
      (6L, "P06000", "carl chen", "carl.chen@example.com", "copper")       // bad enum
    ).toDF(IngestId, "passengerkey", "fullname", "email", "loyaltystatus")
    val r = CleaningPipelines.passengers(in)
    val clean = r.clean.orderBy(IngestId)
      .select("fullname", "email", "loyaltystatus")
      .as[(String, String, String)].collect.toSeq
    assert(clean == Seq(
      ("John Smith", "john.smith@example.com", "Gold"),
      ("Mary Jones", "mary.jones@example.com", "Silver")))
    assert(r.quarantine.count() == 5)
  }

  test("M2 transactions: id repair quirk + money + dates + dedup + patterns") {
    val in = Seq(
      (0L, "40001", "2023-01-10", "P12345", "AA123", "$1,540.00"),
      (1L, "4AN",   "01/18/2023", "P20000", "DL45",  "250.50"),   // repaired → 40002
      (2L, "4GW",   "20-Jan-23",  "P30000", "UA9",   "$99.99"),   // repaired → 40002 (same!) → id dup
      (3L, "40003", "2024/Jan/05","P90001", "B61",   "10.00"),    // P9 invalid
      (4L, "40004", "garbage",    "P40000", "AA1",   "20.00"),    // bad date
      (5L, "40001", "2023-01-10", "P12345", "AA123", "$1,540.00") // exact dup of 0
    ).toDF(IngestId, "transactionid", "transactiondate", "passengerid", "flightid", "ticketprice")
      .withColumn("taxes", lit("1.00"))
      .withColumn("baggagefees", lit("0.00"))
      .withColumn("totalamount", lit("2.00"))
    val r = CleaningPipelines.transactions(in)
    val clean = r.clean.orderBy(IngestId)
      .select("transactionid", "transactiondate", "ticketprice")
      .as[(String, String, Double)].collect.toSeq
    assert(clean == Seq(
      ("40001", "2023-01-10", 1540.00),
      ("40002", "2023-01-18", 250.50)))
    // row 2 repaired to the SAME id as row 1 (consecutive-bad quirk) → id dup
    val quarantined = r.quarantine.select(IngestId).as[Long].collect.toSet
    assert(quarantined == Set(2L, 3L, 4L, 5L))
  }

  test("M6 airports identity + M7 airlinesales id/price") {
    val ap = Seq((0L, "JFK")).toDF(IngestId, "airportkey")
    val ar = CleaningPipelines.airports(ap)
    assert(ar.clean.count() == 1 && ar.quarantine.count() == 0)

    val as = Seq(
      (0L, "1001", "$10.00"), (1L, "1001", "$20.00"), (2L, "", "$5.00"))
      .toDF(IngestId, "transactionid", "ticketprice")
    val rr = CleaningPipelines.airlinesales(as)
    assert(rr.clean.select("ticketprice").as[Double].collect.toSeq == Seq(10.00))
    assert(rr.quarantine.count() == 2)
  }

  test("e2e dirty CSV: BOM header, every A1 fault class, exact split") {
    // Checked-in fixture reproducing the reference upload's fault taxonomy
    // (FIXTURES.md §A1, from 2025-12-09…_travel_agency_sales_001.csv): UTF-8
    // BOM, mixed date formats, quoted $/comma money, non-numeric ids (two
    // CONSECUTIVE, exercising the same-repaired-id quirk), a duplicate id
    // that is also a whole-row duplicate, missing/out-of-range PassengerID,
    // missing/malformed FlightID. Runs the real S1 CSV read, not a
    // hand-built DataFrame, so header sanitation is part of the assertion.
    val path = getClass.getResource("/fixtures/travel_agency_sales_dirty.csv").getPath
    val raw = graft.sources.CsvSource.readAllString(spark, path)
    // BOM stripped: first column is `transactionid`, not `_transactionid`
    assert(raw.columns.head == "transactionid")

    val r = CleaningPipelines.transactions(raw)
    val cols = Seq("transactionid", "transactiondate", "passengerid",
      "flightid", "ticketprice", "taxes", "baggagefees", "totalamount")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(IngestId).select(cols.map(col): _*)
        .as[(String, String, String, String, Double, Double, Double, Double)]
        .collect.toSeq

    assert(rows(r.clean) == Seq(
      ("40001", "2023-01-10", "P00101", "AA100", 1540.00, 154.00, 40.00, 1734.00),
      ("40002", "2023-01-18", "P00102", "DL200", 620.00, 62.00, 0.00, 682.00),
      // "4AN" repaired from the last numeric id before it: 40002 + 1
      ("40003", "2023-01-20", "P00103", "UA300", 570.00, 57.00, 40.00, 667.00),
      ("40009", "2023-01-20", "P00109", "UA301", 1000.00, 100.00, 0.00, 1100.00),
      ("40011", "2023-02-01", "P00111", "QF7", 99999999.99, 0.00, 0.00, 99999999.99)))

    val quar = r.quarantine.orderBy(IngestId)
      .select(col("transactionid"), col("transactiondate"),
        col("passengerid"), col("flightid"))
      .as[(String, String, String, String)].collect.toSeq
    assert(quar == Seq(
      ("40002", "2023-01-18", "P00102", "DL200"),    // whole-row + id dup
      // "4GW" follows "4AN": prev NUMERIC id is still 40002 (the quirk), so
      // it repairs to the same 40003 as the row before it -> id dup
      ("40003", "2024-01-05", "P00104", "WN500"),
      ("40005", "2023-01-21", null, "B6400"),        // missing PassengerID
      ("40006", "2023-01-22", "P90001", "AA101"),    // out-of-range P9xxxx
      ("40007", "2023-01-23", "P00107", null),       // missing FlightID
      ("40008", null, "P00108", "DL201"),            // unparseable date
      ("40010", "2024-01-05", "P00110", "X123456"))) // FlightID digits > 5
  }

  test("M1 cleanFile dispatches by file type and rejects unknown types") {
    val airlines = Seq((0L, "AA", "american", "oneworld"))
      .toDF(IngestId, "airlinekey", "airlinename", "alliance")
    assert(CleaningPipelines.cleanFile("airlines", airlines).clean.count() == 1)
    assert(CleaningPipelines.cleanFile(" Airports ",
      Seq((0L, "JFK")).toDF(IngestId, "airportkey")).clean.count() == 1)
    // flights without dims is a hard error, matching the reference's
    // mandatory key-validation inputs
    intercept[IllegalArgumentException] {
      CleaningPipelines.cleanFile("flights", airlines)
    }
    intercept[IllegalArgumentException] {
      CleaningPipelines.cleanFile("nonsense", airlines)
    }
  }

  /** The flights pipeline as the reference writes it: three chained
    * repairs, each over the previous one's output. */
  private def chainedFlights(in: DataFrame, airlineKeys: DataFrame,
                             airportKeys: DataFrame): (DataFrame, DataFrame) = {
    val df0 = CleaningPipelines.withIngestId(CleaningPipelines.normalizeColumns(in))
      .withColumn("flightkey", upper(trim(col("flightkey"))))
      .withColumn("originairportkey", upper(trim(col("originairportkey"))))
      .withColumn("destinationairportkey", upper(trim(col("destinationairportkey"))))
      .withColumn("aircrafttype", CF.titleCase(col("aircrafttype")))
      .withColumn("originairportkey",
        when(col("originairportkey") === "JK", "JFK").otherwise(col("originairportkey")))
    val prefixFixed = FuzzyJoin.fixKeyPrefix(df0, "flightkey",
      airlineKeys, "airlinekey")
    val originFixed = FuzzyJoin.fuzzyFix(prefixFixed, "originairportkey",
      airportKeys, "airportkey")
    val destFixed = FuzzyJoin.fuzzyFix(originFixed, "destinationairportkey",
      airportKeys, "airportkey")
    val flagged = Dedup.dupFlag(destFixed, Seq("flightkey"), IngestId)
      .withColumn("_valid", coalesce(
        col("flightkey").rlike("^[A-Za-z0-9]{2}[0-9]+$") &&
        CF.validIata(col("originairportkey")) &&
        CF.validIata(col("destinationairportkey")) &&
        col("originairportkey") =!= col("destinationairportkey") &&
        !col("_is_dup"), lit(false)))
    (flagged.filter(col("_valid")).drop("_valid", "_is_dup"),
      flagged.filter(!col("_valid")).drop("_valid", "_is_dup"))
  }

  test("M4 flights: one airport map for both columns equals the chained repairs") {
    // lowercase and mixed-case entries make case-only misses repairable
    // (the default scorer case-folds); duplicated rows and the Sfo/sfo
    // tie exercise the top-1's tie-break
    val airlines = Seq("AA", "DL", "DL", "ua", "ua").toDF("airlinekey")
    val airports = Seq("JFK", "LAX", "ORD", "ORD", "sfo", "Sfo", "Sfo", "KENNEDY")
      .toDF("airportkey")
    val in = Seq[(Long, String, String, String, String)](
      (0L, "AA100", "JK", "LAX", "boeing  737"),    // JK→JFK
      (1L, "dl200", "LAX", "ORD", "airbus a320"),   // lowercase key
      (2L, "U-A300", "ORD", "JFK", "e190"),         // near-miss prefix → ua300
      (3L, "A.A400", "ORD", "ORD", "x"),            // origin = destination
      (4L, "AA100", "JFK", "LAX", "dup key"),       // duplicate flightkey
      (5L, "XY500", " lax", "jfk ", "a"),           // unknown airline prefix
      (6L, "B6 600", "KENNEDYX", "JFK", "b"),       // repaired, not IATA
      (7L, null, "JFK", "LAX", "c"),                // missing flightkey
      (8L, "AA700", null, "LAX", "d"),              // missing origin
      (9L, "AA800", "SFO", "KENNEDY1", "e"),        // Sfo/sfo tie; dest repaired
      (10L, "AA900", "SFO", "SFO", "f"),            // equal once both repaired
      (11L, "DL1000", "ORD", "SFO", "g"),           // value in both columns
      (12L, "ua", "JFK", "ORD", "h"),               // prefix only, no digits
      (13L, "ua1", "JK", "JK", "i")                 // JK fixed on origin only
    ).toDF(IngestId, "flightkey", "originairportkey", "destinationairportkey",
      "aircrafttype")
    val r = CleaningPipelines.flights(in, airlines, "airlinekey", airports, "airportkey")
    val (clean, quarantine) = chainedFlights(in, airlines, airports)
    assert(r.clean.columns.toSeq == clean.columns.toSeq)
    assert(TestSpark.multiset(r.clean) == TestSpark.multiset(clean))
    assert(TestSpark.multiset(r.quarantine) == TestSpark.multiset(quarantine))
    // the repairs did fire: prefixes to `ua`, SFO to the tie's winner
    val got = r.clean.orderBy(IngestId)
      .select("flightkey", "originairportkey", "destinationairportkey")
      .as[(String, String, String)].collect().toSeq
    assert(got == Seq(("AA100", "JFK", "LAX"), ("DL200", "LAX", "ORD"),
      ("ua300", "ORD", "JFK"), ("XY500", "LAX", "JFK"), ("DL1000", "ORD", "Sfo")))
    assert(r.quarantine.select(IngestId).as[Long].collect().toSet ==
      Set(3L, 4L, 6L, 7L, 8L, 9L, 10L, 12L, 13L))
  }

  test("M4 flights: an uploaded file is read, cleaned and written in 13 Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_flights_jobs")
    def file(name: String, body: String): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, body)
      f.toString
    }
    val airlines = file("airlines.csv", "airlinekey\nAA\nDL\nua\n")
    val airports = file("airports.csv", "airportkey\nJFK\nLAX\nORD\nsfo\n")
    val flights = file("flights.csv",
      """flightkey,originairportkey,destinationairportkey,aircrafttype
        |AA100,JK,LAX,boeing 737
        |dl200,LAX,ORD,airbus a320
        |U-A300,SFO,JFK,e190
        |AA400,ORD,ORD,x
        |AA100,JFK,LAX,dup key
        |""".stripMargin)
    val (res, jobs) = TestSpark.jobsOf {
      val r = CleaningPipelines.cleanFile("flights",
        CsvSource.readAllString(spark, flights),
        airlineKeys = Some(CsvSource.readAllString(spark, airlines).select("airlinekey")),
        airportKeys = Some(CsvSource.readAllString(spark, airports).select("airportkey")))
      CsvSource.writeClean(r.clean, dir.resolve("clean").toString)
      CsvSource.writeQuarantine(r.quarantine, dir.resolve("quarantine").toString)
    }
    // per repair map: the dictionary's broadcast for the anti-join, the
    // distinct dictionary's shuffle and broadcast for the cross join, the
    // distinct values' shuffle and the map's broadcast; then the dedup
    // shuffle and the two writes. The chained repairs, three maps with
    // one per airport column, launched 17.
    val launched = jobs.size
    assert(launched == 13, s"jobs launched by the flights upload: $launched")
    def rows(kind: String) = spark.read.option("header", "true")
      .csv(dir.resolve(kind).toString).count()
    assert(rows("clean") == 3 && rows("quarantine") == 2)
  }
}
