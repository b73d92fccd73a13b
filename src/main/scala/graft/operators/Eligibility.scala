package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Flight-delay insurance eligibility — the reference's flagship analytic
  * query (SURVEY.md §2.10 M10; backend/server.js:212-314,
  * backend/kafkaworker.js:67-140).
  *
  * Semantics: look up the most recent flight row per flight number (W4),
  * compute delay minutes between scheduled and actual departure (F23), apply
  * the >= 120-minute rule (P9), and emit one of the reference's six reason
  * codes. [[checkRaw]] is the full-fidelity path over the string-typed
  * time columns the reference's DB hands back (kafkaworker.js:109-125):
  * db_query_error / flight_not_found / missing_time_data /
  * invalid_time_format / delay_threshold_met / delay_below_threshold.
  * [[check]] is the typed-column variant: already-parsed timestamps can't
  * be malformed, so it emits the four codes that remain meaningful.
  *
  * Spark-first: requests JOIN (per-key-latest flights) is a broadcast hash
  * join when the flight dim is small, a shuffled hash join otherwise; the
  * when-cascade is one codegen'd projection. No per-row lookups.
  */
object Eligibility {

  val ThresholdMinutes = 120L

  /** JS `Math.round` parity — half rounds toward +infinity (so -1.5 -> -1),
    * where Spark/DuckDB `round` rounds half away from zero (-1.5 -> -2).
    * The reference computes delay with Math.round (kafkaworker.js:113), so
    * an early departure at an exact half minute differs under plain round;
    * eligibility outcome is unaffected (negatives are always below
    * threshold) but the emitted delay_minutes matters. */
  private def jsRound(minutes: Column): Column =
    floor(minutes + lit(0.5)).cast("long")

  /** Reduce a flights table to its latest row per flight number —
    * row_number over (partition by key, order by scheduled desc). */
  def latestPerFlight(flights: DataFrame, keyCol: String, timeCol: String,
                      tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(timeCol).desc +: tieBreak.map(col(_).asc)): Seq[Column]
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    flights.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Full reason-code cascade over RAW STRING time columns, matching the
    * reference's branch order exactly (kafkaworker.js:80-125):
    *
    *  1. `dbErrorCol` true            -> db_query_error (lookup failed;
    *     kafkaworker.js:80-90 inserts the result row instead of crashing)
    *  2. no flight row joined         -> flight_not_found
    *  3. either time null or ''       -> missing_time_data (JS falsy check
    *     `if (scheduled && actual)`, kafkaworker.js:109 — null/empty only;
    *     a whitespace-only string is truthy and falls through to 4)
    *  4. either time fails to parse   -> invalid_time_format
    *     (`isNaN(new Date(x).getTime())`, server.js:271-278)
    *  5. delay >= 120                 -> delay_threshold_met, else
    *     delay_below_threshold; delay_minutes is emitted only on this branch
    *     (the reference leaves delayMinutes null on every earlier exit).
    *
    * `flights` must carry ONE row per `flightKeyCol` (use
    * [[latestPerFlight]] first) with STRING scheduled/actual columns.
    * The join key is compared as a string on both sides — the reference
    * matches flight numbers like "AA123" by equality (kafkaworker.js:72-77),
    * so numeric-looking and alphanumeric keys both work.
    */
  def checkRaw(requests: DataFrame, flights: DataFrame, flightKeyCol: String,
               scheduledCol: String, actualCol: String,
               dbErrorCol: Option[String] = None): DataFrame = {
    val f = flights
      .withColumn(flightKeyCol, col(flightKeyCol).cast("string"))
      .withColumn("_found", lit(true))
    val r = requests.withColumn(flightKeyCol, col(flightKeyCol).cast("string"))
    val joined = r.join(f, Seq(flightKeyCol), "left")

    val schedS = col(scheduledCol)
    val actS   = col(actualCol)
    val missing = schedS.isNull || schedS === "" || actS.isNull || actS === ""
    // non-ANSI session (GraftSession): unparseable -> null, not error
    val schedT = to_timestamp(schedS)
    val actT   = to_timestamp(actS)
    val delay  = jsRound((unix_timestamp(actT) - unix_timestamp(schedT)) / 60.0)
    val dbErr = dbErrorCol.map(col).getOrElse(lit(false))

    joined
      .withColumn("reason",
        when(dbErr, lit("db_query_error"))
          .when(col("_found").isNull, lit("flight_not_found"))
          .when(missing, lit("missing_time_data"))
          .when(schedT.isNull || actT.isNull, lit("invalid_time_format"))
          .when(delay >= ThresholdMinutes, lit("delay_threshold_met"))
          .otherwise(lit("delay_below_threshold")))
      .withColumn("delay_minutes",
        when(col("reason").isin("delay_threshold_met", "delay_below_threshold"), delay))
      .withColumn("eligible", col("reason") === "delay_threshold_met")
      .drop("_found")
  }

  /** Typed-column rule: enrich requests with flight times and emit
    * (delay_minutes, eligible, reason). Expects `requests` to carry
    * `flightKeyCol`, and `flights` to carry scheduled/actual TIMESTAMP
    * columns (already reduced to one row per key). Already-typed inputs
    * can't carry a malformed time string, so invalid_time_format never
    * fires here — [[checkRaw]] is the string-input path that does. A
    * missed join is detected by an explicit presence marker, not by null
    * time columns, so a found flight with both times null correctly
    * reports missing_time_data rather than flight_not_found. */
  def check(requests: DataFrame, flights: DataFrame, flightKeyCol: String,
            scheduledCol: String, actualCol: String): DataFrame = {
    val joined = requests.join(flights.withColumn("_found", lit(true)),
      Seq(flightKeyCol), "left")
    val sched = col(scheduledCol)
    val act   = col(actualCol)
    val delay = ((unix_timestamp(act) - unix_timestamp(sched)) / 60.0)

    joined
      .withColumn("delay_minutes",
        when(sched.isNotNull && act.isNotNull, jsRound(delay)))
      .withColumn("reason",
        when(col("_found").isNull, lit("flight_not_found"))
          .when(sched.isNull || act.isNull, lit("missing_time_data"))
          .when(col("delay_minutes") >= ThresholdMinutes, lit("delay_threshold_met"))
          .otherwise(lit("delay_below_threshold")))
      .withColumn("eligible", col("reason") === "delay_threshold_met")
      .drop("_found")
  }
}
