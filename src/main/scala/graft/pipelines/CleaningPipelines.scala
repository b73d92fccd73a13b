package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CleanFunctions => CF}
import graft.operators.{Dedup, FfillRepair, FuzzyJoin, Pin}

/** The reference's six file-type cleaning pipelines (SURVEY.md §2.10
  * M2-M7; `/root/reference/backend/etl_scripts/cleaning.py:314-767`),
  * re-expressed as DataFrame transforms that produce a (clean,
  * quarantine) partition of ONE evaluation of the input (P3): each
  * pipeline flags every row valid or not and pins the flagged frame
  * lazily (`split`), so the first consumer computes it once and the
  * other reads its blocks — both partitions come from the same
  * `_ingest_id` assignment, and writing both costs one pipeline run,
  * not two.
  *
  * Inputs are all-string DataFrames (the reference ingests CSV with
  * dtype=str, cleaning.py:538) carrying an `_ingest_id` ordering column —
  * pandas' file-order-dependent semantics (keep-first dedup, ffill id
  * repair) are defined relative to it (SURVEY.md §4 "Ordering semantics").
  *
  * Scale: every pipeline is a single codegen'd projection chain plus at
  * most one window shuffle (dedup) — no driver-side loops; dictionary
  * repairs broadcast the dimension.
  */
object CleaningPipelines {

  /** Clean/quarantine split result (cleaning.py:772-779 quarantine CSV). */
  final case class CleanResult(clean: DataFrame, quarantine: DataFrame)

  val IngestId = "_ingest_id"

  /** Normalize column names to lowercase (cleaning.py:320,540). */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase.trim): _*)

  /** Attach ingest order if absent. Stable within a file read; callers
    * that need exact pandas parity must attach this before any shuffle. */
  def withIngestId(df: DataFrame): DataFrame =
    if (df.columns.contains(IngestId)) df
    else df.withColumn(IngestId, monotonically_increasing_id())

  private def split(df: DataFrame, valid: Column,
                    dropCols: Seq[String] = Seq("_is_dup")): CleanResult = {
    // NULL validity (e.g. a regex validator over a NULL column) must land
    // in quarantine, not vanish from both partitions — pandas str.match
    // with na=False quarantines missing values (cleaning.py:598-609), and
    // three-valued filter(valid)/filter(!valid) would drop the row twice.
    // pinned lazily: the two partitions are two consumers of one flagged
    // frame, so the first action computes it and the second reads blocks
    val flagged = Pin.data(df.withColumn("_valid", coalesce(valid, lit(false))),
      eager = false)
    val drops = "_valid" +: dropCols.filter(df.columns.contains)
    CleanResult(
      flagged.filter(col("_valid")).drop(drops: _*),
      flagged.filter(!col("_valid")).drop(drops: _*))
  }

  // ------------------------------------------------------------------ M3
  /** Airlines pipeline (cleaning.py:314-393).
    * Columns: airlinekey, airlinename (default := airlinekey), alliance
    * (default := 'None'). Alliance is dictionary-normalized then
    * whitelisted; per-key fixes VS→SkyTeam, AZ→None (cleaning.py:368-379).
    * Valid rows: key `^[A-Z0-9]{2,3}$`, name charset, first occurrence
    * per key by ingest order. */
  def airlines(in: DataFrame): CleanResult = {
    val allianceMap = Map(
      "skyteam" -> "SkyTeam", "sky team" -> "SkyTeam",
      "star alliance" -> "Star Alliance", "staralliance" -> "Star Alliance",
      "oneworld" -> "Oneworld", "one world" -> "Oneworld")
    val allianceEnum = Seq("Oneworld", "SkyTeam", "Star Alliance", "None")

    val df0 = withIngestId(normalizeColumns(in))
    val df1 = (if (df0.columns.contains("airlinename")) df0
               else df0.withColumn("airlinename", col("airlinekey")))
    val df2 = (if (df1.columns.contains("alliance")) df1
               else df1.withColumn("alliance", lit("None")))

    val df = df2
      .withColumn("airlinekey", upper(trim(col("airlinekey"))))
      .withColumn("airlinename",
        coalesce(CF.titleCase(col("airlinename")), col("airlinekey")))
      .withColumn("alliance",
        CF.whitelistElseDefault(
          CF.dictReplace(lower(trim(col("alliance"))), allianceMap),
          allianceEnum, "None"))
      // per-airline-key overrides (cleaning.py:368-371)
      .withColumn("alliance",
        when(col("airlinekey") === "VS", "SkyTeam")
          .when(col("airlinekey") === "AZ", "None")
          .otherwise(col("alliance")))

    val deduped = Dedup.dupFlag(df, Seq("airlinekey"), IngestId)
    split(deduped,
      CF.validAirlineKey(col("airlinekey")) &&
      CF.validAirlineName(col("airlinename")) &&
      !col("_is_dup"))
  }

  // ------------------------------------------------------------------ M4
  /** Flights pipeline (cleaning.py:399-452): literal JK→JFK fix, key
    * normalize, airline-prefix repair against the airline dim (J5), fuzzy
    * airport-code repair (J4), then validation: flightkey pattern, IATA
    * codes, origin ≠ dest, keep-first per flightkey.
    *
    * The reference chains the three repairs, but none reads a column
    * another one writes, so every repair map is built from the normalized
    * input: the airline-prefix map, and ONE airport map over the origin ∪
    * destination values that repairs both columns. The maps' broadcasts
    * therefore run side by side instead of each waiting on the previous
    * repair's join. */
  def flights(in: DataFrame, airlineKeys: DataFrame, airlineKeyCol: String,
              airportKeys: DataFrame, airportKeyCol: String): CleanResult = {
    val df0 = withIngestId(normalizeColumns(in))
      .withColumn("flightkey", upper(trim(col("flightkey"))))
      .withColumn("originairportkey", upper(trim(col("originairportkey"))))
      .withColumn("destinationairportkey", upper(trim(col("destinationairportkey"))))
      .withColumn("aircrafttype", CF.titleCase(col("aircrafttype")))
      // literal data-fix from the reference (cleaning.py:404)
      .withColumn("originairportkey",
        when(col("originairportkey") === "JK", "JFK").otherwise(col("originairportkey")))

    val airportMap = FuzzyJoin.repairMap(
      df0.select(col("originairportkey"))
        .union(df0.select(col("destinationairportkey"))),
      airportKeys, airportKeyCol)
    val repaired = Seq("originairportkey", "destinationairportkey")
      .foldLeft(FuzzyJoin.fixKeyPrefix(df0, "flightkey", airlineKeys, airlineKeyCol))(
        (d, c) => FuzzyJoin.applyRepair(d, c, airportMap, c))

    val deduped = Dedup.dupFlag(repaired, Seq("flightkey"), IngestId)
    split(deduped,
      CF.validFlightKey(col("flightkey")) &&
      CF.validIata(col("originairportkey")) &&
      CF.validIata(col("destinationairportkey")) &&
      col("originairportkey") =!= col("destinationairportkey") &&
      !col("_is_dup"))
  }

  // ------------------------------------------------------------------ M5
  /** Passengers pipeline (cleaning.py:458-508): required columns created
    * null when absent; email stripped of the passenger key's digits (F12)
    * and lowercased; fullname title-cased; loyalty status non-alpha-
    * stripped + capitalized; invalid = missing ∪ dup(name,email,status) ∪
    * regex/enum fails (U1). */
  def passengers(in: DataFrame): CleanResult = {
    val required = Seq("passengerkey", "fullname", "email", "loyaltystatus")
    val df0 = withIngestId(normalizeColumns(in))
    val df1 = required.foldLeft(df0)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(StringType)))

    val df = df1
      .withColumn("passengerkey", trim(col("passengerkey")))
      .withColumn("email",
        lower(trim(CF.stripKeyFromEmail(col("email"), col("passengerkey")))))
      .withColumn("fullname", CF.titleCase(col("fullname")))
      .withColumn("loyaltystatus",
        CF.capitalizeFirst(CF.stripNonAlpha(trim(col("loyaltystatus")))))

    val missing = required.map(c =>
      col(c).isNull || length(trim(col(c))) === 0).reduce(_ || _)
    val deduped = Dedup.dupFlag(df, Seq("fullname", "email", "loyaltystatus"), IngestId)
    split(deduped,
      !missing &&
      CF.validFullName(col("fullname")) &&
      CF.validEmail(col("email")) &&
      col("loyaltystatus").isin("Bronze", "Silver", "Gold", "Platinum") &&
      !col("_is_dup"))
  }

  // ------------------------------------------------------------------ M2
  /** Transactions pipeline (cleaning.py:554-634): non-numeric id repair
    * with the reference's ffill+1 quirk (W3), money cleaning on the four
    * amount columns (F6/F25-F27), multi-format date normalization
    * (F17/F18), whole-row + id dedup, pattern validation. */
  def transactions(in: DataFrame): CleanResult = {
    val df0 = withIngestId(normalizeColumns(in))
    val moneyCols = Seq("ticketprice", "taxes", "baggagefees", "totalamount")

    val df = FfillRepair
      .repairIds(df0, "transactionid", IngestId, seed = 40000L, out = "_id_rep")
      .withColumn("transactionid", col("_id_rep").cast(StringType))
      .drop("_id_rep")
      .transform(d => moneyCols.filter(d.columns.contains).foldLeft(d)((dd, c) =>
        dd.withColumn(c, CF.cleanMoney(col(c)))))
      .withColumn("transactiondate",
        CF.toIsoDate(CF.parseDateMulti(col("transactiondate"))))

    val exactDup = Dedup.dupFlag(df,
      df.columns.filterNot(_ == IngestId).toSeq, IngestId, "_row_dup")
    val idDup = Dedup.dupFlag(exactDup, Seq("transactionid"), IngestId, "_id_dup")

    split(idDup,
      CF.validTransactionId(col("transactionid")) &&
      col("transactiondate").isNotNull &&
      CF.validPassengerId(col("passengerid")) &&
      CF.validFlightId(col("flightid")) &&
      !col("_row_dup") && !col("_id_dup"),
      dropCols = Seq("_row_dup", "_id_dup"))
  }

  // ------------------------------------------------------------------ M7
  /** Airline-sales pipeline (cleaning.py:737-764): price cleaning +
    * transactionid non-null, unique. */
  def airlinesales(in: DataFrame): CleanResult = {
    val df = withIngestId(normalizeColumns(in))
      .withColumn("ticketprice", CF.cleanMoney(col("ticketprice")))
    val deduped = Dedup.dupFlag(df, Seq("transactionid"), IngestId)
    split(deduped,
      col("transactionid").isNotNull &&
      length(trim(col("transactionid"))) > 0 &&
      !col("_is_dup"))
  }

  // ------------------------------------------------------------------ M6
  /** Airports pipeline (cleaning.py:514-518): identity pass-through with
    * an empty (schema-preserving) quarantine. */
  def airports(in: DataFrame): CleanResult = {
    val df = withIngestId(normalizeColumns(in))
    CleanResult(df, df.filter(lit(false)))
  }

  // ------------------------------------------------------------------ M1
  /** File-type dispatch (cleaning.py:524-767 `clean_file` router): routes
    * a raw all-string frame to the right pipeline by file-type tag. The
    * dimension frames are required only by the flights pipeline (its
    * prefix/fuzzy repairs). */
  def cleanFile(fileType: String, df: DataFrame,
                airlineKeys: Option[DataFrame] = None,
                airlineKeyCol: String = "airlinekey",
                airportKeys: Option[DataFrame] = None,
                airportKeyCol: String = "airportkey"): CleanResult =
    fileType.trim.toLowerCase match {
      case "airlines"     => airlines(df)
      case "passengers"   => passengers(df)
      case "transactions" => transactions(df)
      case "airports"     => airports(df)
      case "airlinesales" | "airline_sales" => airlinesales(df)
      case "flights" =>
        val al = airlineKeys.getOrElse(throw new IllegalArgumentException(
          "flights pipeline needs airlineKeys (cleaning.py:422-436 key validation)"))
        val ap = airportKeys.getOrElse(throw new IllegalArgumentException(
          "flights pipeline needs airportKeys (cleaning.py:422-436 key validation)"))
        flights(df, al, airlineKeyCol, ap, airportKeyCol)
      case other =>
        throw new IllegalArgumentException(s"unknown file type '$other' " +
          "(expected one of: airlines flights passengers transactions airports airlinesales)")
    }
}
