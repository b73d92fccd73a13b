package graft.streaming

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types._

import graft.operators.{Eligibility, Pin}

/** Structured-Streaming restatement of the reference's Kafka/CDC
  * eligibility path (SURVEY.md §2.9 T1-T6; backend/kafkaworker.js:41-150,
  * backend/supabaseWatcher.js:28-66).
  *
  * The reference consumes an outbox topic message-at-a-time, audits every
  * raw message, dispatches on `type === 'eligibility_check'`, looks up the
  * latest flight row, applies the >= 120-minute rule, and appends a
  * reason-coded result with a processed_at stamp. Here each step is a
  * streaming DataFrame transform: the same code runs on `readStream`
  * (Kafka or file source) and on a batch DataFrame — which is how the
  * tests drive it with MemoryStream.
  *
  * Scale: the flights dim is a stream-static join (broadcast when small);
  * parsing and the rule cascade are stateless projections, so the stream
  * needs no state store at all — arbitrary parallelism by input partition.
  */
object EligibilityStream {

  /** Message envelope the reference produces (kafkaworker.js:66-69). */
  val messageSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("requested_at", StringType),
    StructField("payload", StructType(Seq(
      StructField("firstName", StringType),
      StructField("lastName", StringType),
      StructField("flightNumber", StringType),
      StructField("passengerId", StringType))))))

  /** Kafka connection surface mirroring the reference's client config
    * (kafkaworker.js:12-45: brokers + SASL, group id, topic, latest
    * offsets; kafkaProducer.js:36-44: JSON string values). The offline
    * test env has no broker, so the spec asserts the configured options
    * on the builders rather than opening a socket. */
  final case class KafkaOptions(bootstrapServers: String, topic: String,
                                groupIdPrefix: String = "graft",
                                startingOffsets: String = "latest",
                                extra: Map[String, String] = Map.empty) {
    /** Source option set (kafkaworker.js:35-45: subscribe to one topic,
      * `fromBeginning: false` == startingOffsets=latest, stable group id). */
    def sourceOptions: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "kafka.group.id" -> s"$groupIdPrefix-$topic") ++ extra

    /** Sink option set (kafkaProducer.js:36-44). */
    def sinkOptions: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic) ++ extra
  }

  /** S11 — the configured Kafka source. Returns the reader so callers
    * compose `.load()` then [[parseMessages]] on `CAST(value AS STRING)`;
    * the option set itself is [[KafkaOptions.sourceOptions]], asserted in
    * the spec without a live broker. */
  def fromKafka(spark: SparkSession, opts: KafkaOptions): DataStreamReader =
    spark.readStream.format("kafka").options(opts.sourceOptions)

  /** S10 — the configured Kafka sink shape (kafkaProducer.js:36-44: one
    * JSON-serialized value per message). Projects the frame to the
    * (key, value) contract and returns the writer options to apply. */
  def toKafkaFrame(df: DataFrame, keyCol: Column, opts: KafkaOptions)
      : (DataFrame, Map[String, String]) = {
    val framed = df.select(keyCol.cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))
    (framed, opts.sinkOptions)
  }

  /** T2/F35 — parse the raw message value as JSON; malformed payloads fall
    * back to a raw envelope instead of being dropped
    * (kafkaworker.js:47-51's try/catch). Input column: `value` string. */
  def parseMessages(raw: DataFrame): DataFrame = {
    val parsed = from_json(col("value"), messageSchema)
    raw
      .withColumn("_parsed", parsed)
      .withColumn("is_json", col("_parsed").isNotNull && col("_parsed.type").isNotNull)
      .withColumn("type", col("_parsed.type"))
      .withColumn("flight_number", col("_parsed.payload.flightNumber"))
      .withColumn("passenger_id", col("_parsed.payload.passengerId"))
      .withColumn("raw", when(!col("is_json"), col("value")))
      .drop("_parsed")
  }

  /** T1/S14 — audit projection: every raw message, JSON or not, with a
    * receive stamp (kafka_messages insert, kafkaworker.js:54-63). */
  def audit(raw: DataFrame): DataFrame =
    raw.select(col("value").as("message_content"),
      current_timestamp().as("received_at"))

  /** T3/T4 — dispatch + enrich + rule + stamp: filter eligibility_check
    * messages, join the (already per-key-latest) flights dim, apply the
    * full six-code reason cascade, stamp processed_at.
    *
    * Flight numbers join AS STRINGS — the reference matches them by
    * equality whatever their shape (kafkaworker.js:72-77), so "AA123"
    * finds its row instead of casting to null. The dim's time columns are
    * cast to strings and re-judged by [[Eligibility.checkRaw]], so raw
    * (string) dims surface invalid_time_format exactly like the reference
    * and typed (timestamp) dims round-trip losslessly. */
  def process(messages: DataFrame, flightsLatest: DataFrame,
              flightKeyCol: String = "flight_number",
              scheduledCol: String = "scheduled_departure",
              actualCol: String = "actual_departure"): DataFrame = {
    val checks = messages
      .filter(col("is_json") && col("type") === "eligibility_check")
      .select(col("flight_number").as(flightKeyCol), col("passenger_id"))
    val rawDim = flightsLatest
      .withColumn(scheduledCol, col(scheduledCol).cast(StringType))
      .withColumn(actualCol, col(actualCol).cast(StringType))
    Eligibility.checkRaw(checks, rawDim, flightKeyCol, scheduledCol, actualCol)
      .withColumn("processed_at", current_timestamp())
      .select(col("passenger_id"), col(flightKeyCol), col("delay_minutes"),
        col("reason"), col("eligible"), col("processed_at"))
  }

  /** T3's failure leg — the reference's db_query_error path
    * (kafkaworker.js:80-90): when the flight lookup itself fails, every
    * pending request still gets a result row with reason db_query_error
    * and a null delay instead of crashing the worker. `flightsLatest` is
    * a thunk so a failing dim load is caught here, mirroring the
    * reference's per-lookup try/catch.
    *
    * SCOPE: Spark is lazy, so by default the guard covers failures raised
    * while CONSTRUCTING the dim (missing table/path, bad credentials,
    * schema mismatch — anything load/analysis-time). A dim that analyzes
    * fine but fails at execution time (file deleted mid-batch, transient
    * source error) still fails the query, unlike the reference's per-batch
    * try/catch. Set `eager = true` to also catch execution-time failures:
    * the dim is pinned ([[Pin.data]]) inside the guard, so a source that
    * can't actually be read lands on the db_query_error leg — at the cost
    * of one blocking materialization (fine for the small per-key-latest
    * dims this path joins). */
  def processSafe(messages: DataFrame, flightsLatest: () => DataFrame,
                  flightKeyCol: String = "flight_number",
                  scheduledCol: String = "scheduled_departure",
                  actualCol: String = "actual_departure",
                  eager: Boolean = false): DataFrame =
    Try {
      val dim = flightsLatest()
      if (eager) Pin.data(dim) else dim
    } match {
      case Success(dim) =>
        process(messages, dim, flightKeyCol, scheduledCol, actualCol)
      case Failure(_) =>
        messages
          .filter(col("is_json") && col("type") === "eligibility_check")
          .select(col("passenger_id"),
            col("flight_number").as(flightKeyCol),
            lit(null).cast(LongType).as("delay_minutes"),
            lit("db_query_error").as("reason"),
            lit(false).as("eligible"),
            current_timestamp().as("processed_at"))
    }
}
