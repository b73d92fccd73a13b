package graft

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.CleaningPipelines
import graft.sources.CsvSource

/** A repeated upload compiles nothing: the generated classes of the five
  * clean-file calls fit the session's codegen cache
  * (`GraftSession.CodegenCacheEntries`), so a second round over the same
  * inputs finds every class cached. Spark's default cache of 100 entries
  * is smaller than this working set and recompiles on every round. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def write(dir: Path, name: String, body: String): String = {
    val f = dir.resolve(name)
    Files.writeString(f, body)
    f.toString
  }

  /** The five uploads of one batch, dimensions first. */
  private def inputs(dir: Path): Seq[(String, String)] = Seq(
    "airlines" -> write(dir, "airlines.csv",
      """AirlineKey,AirlineName,Alliance
        |aa,american airlines,oneworld
        |DL,delta air lines,sky team
        |DL,duplicate,skyteam
        |UA,united,star alliance
        |TOOLONG,bad key,none
        |""".stripMargin),
    "airports" -> write(dir, "airports.csv",
      """AirportKey,AirportName
        |JFK,Kennedy
        |LAX,Los Angeles
        |ORD,O'Hare
        |""".stripMargin),
    "flights" -> write(dir, "flights.csv",
      """FlightKey,OriginAirportKey,DestinationAirportKey,AircraftType,ScheduledDeparture
        |AA100,JK,LAX,boeing 737,2024-01-01 10:00
        |dl200,LAX,ORD,airbus a320,2024-01-01 11:00
        |U-A300,ORD,JFK,e190,2024-01-01 12:00
        |AA400,ORD,ORD,x,2024-01-01 13:00
        |AA100,JFK,LAX,dup key,2024-01-01 14:00
        |""".stripMargin),
    "passengers" -> write(dir, "passengers.csv",
      """PassengerKey,FullName,Email,LoyaltyStatus
        |P01234,john SMITH,john.smith01234@example.com,gold
        |P02000,mary jones,mary.jones@example.com,SILVER!
        |P03000,john smith,john.smith03000@example.com,gold
        |,no key,nokey@example.com,Bronze
        |""".stripMargin),
    "transactions" -> write(dir, "transactions.csv",
      """TransactionID,TransactionDate,PassengerID,FlightID,TicketPrice,Taxes,BaggageFees,TotalAmount
        |40001,2023-01-10,P12345,AA123,"$1,540.00",1.00,0.00,2.00
        |4AN,01/18/2023,P20000,DL45,250.50,1.00,0.00,2.00
        |40003,2024/Jan/05,P90001,B61,10.00,1.00,0.00,2.00
        |40001,2023-01-10,P12345,AA123,"$1,540.00",1.00,0.00,2.00
        |""".stripMargin))

  /** One round: each upload read, cleaned and both partitions written. */
  private def uploadRound(in: Seq[(String, String)], out: Path): Unit =
    in.foreach { case (fileType, path) =>
      def clean(t: String) = out.resolve(s"clean_$t").toString
      val dims = fileType == "flights"
      val res = CleaningPipelines.cleanFile(fileType,
        CsvSource.readAllString(spark, path),
        airlineKeys = Option.when(dims)(
          CsvSource.readAllString(spark, clean("airlines")).select("airlinekey")),
        airportKeys = Option.when(dims)(
          CsvSource.readAllString(spark, clean("airports")).select("airportkey")))
      CsvSource.writeClean(res.clean, clean(fileType))
      CsvSource.writeQuarantine(res.quarantine, out.resolve(s"quarantine_$fileType").toString)
    }

  test("a repeated round of the five clean-file calls compiles no class") {
    val in = inputs(Files.createTempDirectory("graft_codegen_in"))
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // AQE numbers whole-stage-codegen stages in the order its query stages
    // finish, and the number is part of the generated source: a plan with
    // concurrent stages (the flights repairs) can yield a differently
    // numbered, thus uncached, class on a repeat. With AQE off the numbering
    // is fixed, so what remains measured is the cache's capacity.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val before = compiled
      uploadRound(in, Files.createTempDirectory("graft_codegen_r1"))
      val first = compiled - before
      uploadRound(in, Files.createTempDirectory("graft_codegen_r2"))
      val second = compiled - before - first
      assert(first > 0, "the first round compiled nothing — is codegen on?")
      assert(second == 0,
        s"the second round recompiled $second of the first round's $first classes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
