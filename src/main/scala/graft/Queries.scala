package graft

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CleanFunctions => CF, TextFunctions => TF, VectorFunctions => VF}
import graft.operators._

/** One named demo query per implemented operator (SURVEY.md §2 inventory),
  * each paired with a DuckDB-equivalent oracle where ANSI-SQL-expressible.
  *
  * Cross-engine determinism rules used throughout:
  *  - double SUMs go through DECIMAL casts (exact, order-independent) and
  *    come back as DOUBLE;
  *  - every window/top-k has a total-order tiebreak;
  *  - timestamps in outputs are formatted to strings (parquet physical-type
  *    parity between engines);
  *  - DuckDB `sum(int)` returns HUGEINT → always CAST to BIGINT.
  */
object Queries {

  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)   // schema-cached parquet read (see Tables)

  /** events.ts micros, adaptive to the testdata's physical type: older
    * generators wrote TIMESTAMP(NANOS) parquet (surfaced as long via
    * nanosAsLong), current ones TIMESTAMP(MICROS) (timestamp_ntz).
    * Integer paths only — no double precision loss on ~1e18 values.
    * Session tz is UTC, so the ntz→ltz cast below is value-identity
    * and matches DuckDB's epoch_us(ts) on the same file. */
  private def tsMicros(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => expr("ts DIV 1000")
    case _        => unix_micros(col("ts").cast(TimestampType))
  }

  /** events.ts as a timestamp, same physical-type adaptivity. */
  private def eventsTs(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => expr("timestamp_seconds(ts DIV 1000000000)")
    case _        => col("ts").cast(TimestampType)
  }

  // ---------------------------------------------------------------- q01
  // A1-A3/F26 — pricing summary (hash agg with partial aggregation;
  // filter + projection pushed to the parquet scan).
  private val q01 = Q("q01_pricing_summary",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1997-06-30 23:59:59").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
          (sum(col("l_discount").cast(DecimalType(18, 6))).cast(DoubleType) / count(lit(1))).as("avg_disc"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
            CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
            max(l_quantity) AS max_qty,
            count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1997-06-30 23:59:59'
            GROUP BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- q02
  // O1/O3 — top-k (TakeOrderedAndProject: no full sort, no full shuffle).
  private val q02 = Q("q02_top_orders",
    (s, dir) => t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // ---------------------------------------------------------------- q03
  // P1/P2/P6/P7/P9/P10 — predicate stack pushed into the scan.
  private val q03 = Q("q03_filter_project",
    (s, dir) => t(s, dir, "customer")
      .filter(col("c_acctbal").between(1000.0, 5000.0) &&
        col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
        col("c_nationkey") =!= 3)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment")),
    Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
            WHERE c_acctbal BETWEEN 1000.0 AND 5000.0
              AND c_mktsegment IN ('BUILDING','MACHINERY')
              AND c_nationkey <> 3"""))

  // ---------------------------------------------------------------- q04/q05
  // J2/J3 — semi/anti key validation.
  private val q04 = Q("q04_semi_join",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name")),
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0)"""))

  private val q05 = Q("q05_anti_join",
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 250000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")),
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000.0)"""))

  // ---------------------------------------------------------------- q06
  // J1/A2 — star-schema revenue rollup; dims broadcast.
  private val q06 = Q("q06_star_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT r_name, n_name,
            CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
            count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name"""))

  // ---------------------------------------------------------------- q07
  // W1 — keep-first per key by explicit order.
  private val q07 = Q("q07_keep_first",
    (s, dir) => {
      // l_linenumber is not unique per order in the synthetic data — build a
      // total ingest order (the _ingest_id discipline from SURVEY.md §4).
      val li = t(s, dir, "lineitem")
        .withColumn("_ord", concat_ws(":",
          lpad(col("l_linenumber").cast(StringType), 4, "0"),
          lpad(col("l_partkey").cast(StringType), 12, "0"),
          lpad(col("l_suppkey").cast(StringType), 12, "0")))
      Dedup.keepFirst(
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("_ord")),
        Seq("l_orderkey"), "_ord").drop("_ord")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_orderkey
              ORDER BY lpad(CAST(l_linenumber AS VARCHAR), 4, '0') || ':' ||
                       lpad(CAST(l_partkey AS VARCHAR), 12, '0') || ':' ||
                       lpad(CAST(l_suppkey AS VARCHAR), 12, '0')) = 1"""))

  // ---------------------------------------------------------------- q08
  // W4 — per-key latest.
  private val q08 = Q("q08_latest_per_key",
    (s, dir) => Eligibility.latestPerFlight(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate_s"),
          col("o_totalprice")),
        "o_custkey", "o_orderdate_s", tieBreak = Seq("o_orderkey")),
    Some("""SELECT o_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s, o_totalprice
            FROM orders
            QUALIFY row_number() OVER (PARTITION BY o_custkey
              ORDER BY strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') DESC, o_orderkey) = 1"""))

  // ---------------------------------------------------------------- q09
  // W2 — forward fill (pandas ffill parity) over an explicit order.
  private val q09 = Q("q09_ffill",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("price_gap",
          when(col("o_orderstatus") === "P", lit(null).cast(DoubleType))
            .otherwise(col("o_totalprice")))
      FfillRepair.ffill(o, "price_gap", "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus"), col("price_gap"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
            last_value(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END IGNORE NULLS)
              OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price_gap
            FROM orders"""))

  // ---------------------------------------------------------------- q10
  // A5/U-family — distinct projection.
  private val q10 = Q("q10_distinct",
    (s, dir) => t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct(),
    Some("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"))

  // ---------------------------------------------------------------- q11
  // A4 — grouped duplicate detection.
  private val q11 = Q("q11_dup_keys",
    (s, dir) => Dedup.duplicateKeys(
        t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey")),
    Some("""SELECT l_partkey, l_suppkey, count(*) AS dup_count FROM lineitem
            GROUP BY l_partkey, l_suppkey HAVING count(*) > 1"""))

  // ---------------------------------------------------------------- q12
  // M10 flagship — eligibility: per-key latest + delay + threshold + reasons.
  private val q12 = Q("q12_eligibility",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      // "flight updates": one row per shipment; actual departure nulled for
      // a deterministic slice to exercise missing_time_data.
      val updates = li.select(
        col("l_orderkey").as("flight_number"),
        when(col("l_orderkey") % 13 === 5, lit(null).cast(TimestampType))
          .otherwise(col("l_shipdate")).as("actual_departure"),
        col("l_shipdate").as("_ship_ts"), col("l_linenumber"))
      val latest = Eligibility.latestPerFlight(updates, "flight_number", "_ship_ts",
          tieBreak = Seq("l_linenumber"))
        .select(col("flight_number"), col("actual_departure"))
      val sched = o.select(col("o_orderkey").as("flight_number"),
        col("o_orderdate").as("scheduled_departure"))
      val flights = sched.join(latest, Seq("flight_number"))
      val requests = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("flight_number"))
        .union(s.range(-3, 0).select(col("id").cast(LongType).as("flight_number")))
      Eligibility.check(requests, flights, "flight_number",
          "scheduled_departure", "actual_departure")
        .select(col("flight_number"), col("delay_minutes"), col("reason"), col("eligible"))
    },
    Some("""WITH updates AS (
              SELECT l_orderkey AS flight_number,
                     CASE WHEN l_orderkey % 13 = 5 THEN NULL ELSE l_shipdate END AS actual_departure,
                     l_shipdate AS ship_ts, l_linenumber
              FROM lineitem),
            latest AS (
              SELECT flight_number, actual_departure FROM updates
              QUALIFY row_number() OVER (PARTITION BY flight_number
                ORDER BY ship_ts DESC, l_linenumber DESC) = 1),
            flights AS (
              SELECT o_orderkey AS flight_number, o_orderdate AS scheduled_departure,
                     l.actual_departure
              FROM orders JOIN latest l ON o_orderkey = l.flight_number),
            requests AS (
              SELECT o_orderkey AS flight_number FROM orders WHERE o_orderkey % 7 = 0
              UNION ALL SELECT * FROM (VALUES (-3),(-2),(-1)) v(flight_number))
            SELECT r.flight_number,
              CASE WHEN f.scheduled_departure IS NOT NULL AND f.actual_departure IS NOT NULL
                   THEN CAST(floor(date_diff('second', f.scheduled_departure, f.actual_departure) / 60.0 + 0.5) AS BIGINT)
              END AS delay_minutes,
              CASE WHEN f.scheduled_departure IS NULL AND f.actual_departure IS NULL THEN 'flight_not_found'
                   WHEN f.scheduled_departure IS NULL OR f.actual_departure IS NULL THEN 'missing_time_data'
                   WHEN floor(date_diff('second', f.scheduled_departure, f.actual_departure) / 60.0 + 0.5) >= 120 THEN 'delay_threshold_met'
                   ELSE 'delay_below_threshold' END AS reason,
              (CASE WHEN f.scheduled_departure IS NULL AND f.actual_departure IS NULL THEN 'flight_not_found'
                   WHEN f.scheduled_departure IS NULL OR f.actual_departure IS NULL THEN 'missing_time_data'
                   WHEN floor(date_diff('second', f.scheduled_departure, f.actual_departure) / 60.0 + 0.5) >= 120 THEN 'delay_threshold_met'
                   ELSE 'delay_below_threshold' END) = 'delay_threshold_met' AS eligible
            FROM requests r LEFT JOIN flights f ON r.flight_number = f.flight_number"""))

  // ---------------------------------------------------------------- q13
  // M8 — SCD2 dimension build as pure DataFrame algebra.
  private val q13 = Q("q13_scd2",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val dim = c.filter(col("c_custkey") % 10 =!= 0).select(
        col("c_custkey"), col("c_acctbal").as("acctbal"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast(DateType).as("valid_to"),
        lit(true).as("is_current"))
      val staging = c.select(col("c_custkey"),
        (col("c_acctbal") + when(col("c_custkey") % 3 === 0, lit(100.0)).otherwise(lit(0.0))).as("acctbal"))
      Scd2(dim, staging,
        Scd2.Config(Seq("c_custkey"), Seq("acctbal")),
        lit(java.sql.Date.valueOf("2024-06-01")))
        // dates → ISO strings: date32 vs timestamp physical-type ambiguity
        // between engines would otherwise break the value compare.
        .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd"))
        .withColumn("valid_to", date_format(col("valid_to"), "yyyy-MM-dd"))
    },
    Some("""WITH dim AS (
              SELECT c_custkey, c_acctbal AS acctbal, DATE '2024-01-01' AS valid_from,
                     CAST(NULL AS DATE) AS valid_to, true AS is_current
              FROM customer WHERE c_custkey % 10 <> 0),
            stg AS (
              SELECT c_custkey,
                     c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 100.0 ELSE 0.0 END AS acctbal
              FROM customer)
            SELECT d.c_custkey, d.acctbal, strftime(d.valid_from, '%Y-%m-%d') AS valid_from,
                   strftime(d.valid_to, '%Y-%m-%d') AS valid_to, d.is_current
            FROM dim d JOIN stg s USING (c_custkey) WHERE s.acctbal = d.acctbal
            UNION ALL
            SELECT d.c_custkey, d.acctbal, strftime(d.valid_from, '%Y-%m-%d'), '2024-06-01', false
            FROM dim d JOIN stg s USING (c_custkey) WHERE s.acctbal <> d.acctbal
            UNION ALL
            SELECT s.c_custkey, s.acctbal, '2024-06-01', CAST(NULL AS VARCHAR), true
            FROM stg s LEFT JOIN dim d USING (c_custkey)
            WHERE d.c_custkey IS NULL OR s.acctbal <> d.acctbal"""))

  // ---------------------------------------------------------------- q14
  // J4 — fuzzy dictionary repair (broadcast + levenshtein ratio + top-1).
  private val q14 = Q("q14_fuzzy_repair",
    (s, dir) => {
      val n = t(s, dir, "nation")
      val dirty = n.select(col("n_nationkey"),
        when(col("n_nationkey") % 2 === 0,
          concat(substring(col("n_name"), 1, 1), substring(col("n_name"), 3, Int.MaxValue)))
          .otherwise(col("n_name")).as("dirty_name"))
      FuzzyJoin.fuzzyFix(dirty, "dirty_name", n, "n_name", 85.0, "repaired")
        .select(col("n_nationkey"), col("dirty_name"), col("repaired"))
    },
    Some("""WITH dict AS (SELECT DISTINCT n_name FROM nation),
            dirty AS (
              SELECT n_nationkey,
                     CASE WHEN n_nationkey % 2 = 0
                          THEN substr(n_name,1,1) || substr(n_name,3)
                          ELSE n_name END AS dirty_name
              FROM nation),
            misses AS (
              SELECT DISTINCT dirty_name FROM dirty d
              WHERE NOT EXISTS (SELECT 1 FROM dict x WHERE x.n_name = d.dirty_name)),
            scored AS (
              SELECT m.dirty_name, v.n_name AS cand,
                     100.0 * (1.0 - CAST(levenshtein(upper(m.dirty_name), upper(v.n_name)) AS DOUBLE)
                       / greatest(length(m.dirty_name), length(v.n_name))) AS score
              FROM misses m CROSS JOIN dict v),
            best AS (
              SELECT dirty_name, cand, score FROM scored
              QUALIFY row_number() OVER (PARTITION BY dirty_name ORDER BY score DESC, cand) = 1)
            SELECT d.n_nationkey, d.dirty_name,
                   coalesce(CASE WHEN b.score >= 85.0 THEN b.cand END, d.dirty_name) AS repaired
            FROM dirty d LEFT JOIN best b ON d.dirty_name = b.dirty_name"""))

  // ---------------------------------------------------------------- q15
  // F17/F18 — multi-format date parse round-trip.
  private val q15 = Q("q15_multiformat_dates",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val dirty = o.withColumn("dirty_date",
        when(col("o_orderkey") % 4 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 4 === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
          .when(col("o_orderkey") % 4 === 2, date_format(col("o_orderdate"), "MM/dd/yyyy"))
          .otherwise(date_format(col("o_orderdate"), "yyyy/MMM/dd")))
      dirty.select(col("o_orderkey"), col("dirty_date"),
        CF.toIsoDate(CF.parseDateMulti(col("dirty_date"))).as("parsed_iso"),
        (CF.toIsoDate(CF.parseDateMulti(col("dirty_date"))) ===
          date_format(col("o_orderdate"), "yyyy-MM-dd")).as("roundtrip_ok"))
    },
    Some("""WITH dirty AS (
              SELECT o_orderkey, o_orderdate,
                     CASE o_orderkey % 4
                       WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                       WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
                       WHEN 2 THEN strftime(o_orderdate, '%m/%d/%Y')
                       ELSE strftime(o_orderdate, '%Y/%b/%d') END AS dirty_date
              FROM orders),
            parsed AS (
              SELECT o_orderkey, o_orderdate, dirty_date,
                     coalesce(try_strptime(dirty_date, '%Y-%m-%d'),
                              try_strptime(dirty_date, '%d/%m/%Y'),
                              try_strptime(dirty_date, '%m/%d/%Y'),
                              try_strptime(dirty_date, '%Y/%m/%d'),
                              try_strptime(dirty_date, '%d-%m-%Y'),
                              try_strptime(replace(dirty_date, '-', '/'), '%Y/%b/%d')) AS p
              FROM dirty)
            SELECT o_orderkey, dirty_date,
                   strftime(p, '%Y-%m-%d') AS parsed_iso,
                   strftime(p, '%Y-%m-%d') = strftime(o_orderdate, '%Y-%m-%d') AS roundtrip_ok
            FROM parsed"""))

  // ---------------------------------------------------------------- q16
  // F6/F25/F26/F27 — money cleaning round-trip.
  private val q16 = Q("q16_money_clean",
    (s, dir) => {
      // integer-cents synthesis → "$1,234.56"-style strings with no
      // float-formatting ambiguity between engines.
      val li = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
      val cents = (col("l_orderkey") * 137 + col("l_partkey") * 7) % 10000000000L
      li.select(col("l_orderkey"),
          concat(lit("$"), format_number((cents / 100).cast(LongType), 0),
            lit("."), lpad((cents % 100).cast(StringType), 2, "0")).as("dirty_money"))
        .withColumn("cleaned", CF.cleanMoney(col("dirty_money")))
    },
    Some("""WITH x AS (
              SELECT l_orderkey,
                     (l_orderkey * 137 + l_partkey * 7) % 10000000000 AS cents
              FROM lineitem WHERE l_linenumber = 1),
            d AS (
              SELECT l_orderkey,
                     '$' || format('{:,}', cents // 100) || '.' ||
                       lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS dirty_money
              FROM x)
            SELECT l_orderkey, dirty_money,
                   least(round(CAST(replace(replace(dirty_money, '$', ''), ',', '') AS DOUBLE), 2), 99999999.99) AS cleaned
            FROM d"""))

  // ---------------------------------------------------------------- q17
  // F14/F15 — PII masking + MD5 surrogate keys.
  private val q17 = Q("q17_pii_mask",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val email = concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", ".")),
        lit("@example.com"))
      c.select(col("c_custkey"),
        email.as("email"),
        CF.maskEmail(email).as("email_masked"),
        CF.md5Key(col("c_name"), col("c_custkey")).as("surrogate_key"))
    },
    Some("""SELECT c_custkey,
                   lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) || '@example.com' AS email,
                   substr(lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')), 1, 2) || '***@example.com' AS email_masked,
                   md5(upper(trim(c_name)) || '|' || upper(trim(CAST(c_custkey AS VARCHAR)))) AS surrogate_key
            FROM customer"""))

  // ---------------------------------------------------------------- q18
  // F28 — haversine over synthesized coordinates.
  private val q18 = Q("q18_haversine",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val lat1 = (col("c_custkey") % 180 - 90).cast(DoubleType) + lit(0.5)
      val lon1 = (col("c_custkey") % 360 - 180).cast(DoubleType) + lit(0.25)
      val lat2 = (col("c_nationkey") * 7 % 180 - 90).cast(DoubleType)
      val lon2 = (col("c_nationkey") * 13 % 360 - 180).cast(DoubleType)
      c.select(col("c_custkey"),
        bround(CF.haversineKm(lat1, lon1, lat2, lon2), 4).as("dist_km"))
    },
    Some("""SELECT c_custkey,
              round(6371.0 * 2.0 * atan2(
                sqrt(pow(sin(radians(CAST(c_nationkey * 7 % 180 - 90 AS DOUBLE) - (CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5)) / 2), 2)
                  + cos(radians(CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5)) * cos(radians(CAST(c_nationkey * 7 % 180 - 90 AS DOUBLE)))
                  * pow(sin(radians(CAST(c_nationkey * 13 % 360 - 180 AS DOUBLE) - (CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.25)) / 2), 2)),
                sqrt(1.0 - (pow(sin(radians(CAST(c_nationkey * 7 % 180 - 90 AS DOUBLE) - (CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5)) / 2), 2)
                  + cos(radians(CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5)) * cos(radians(CAST(c_nationkey * 7 % 180 - 90 AS DOUBLE)))
                  * pow(sin(radians(CAST(c_nationkey * 13 % 360 - 180 AS DOUBLE) - (CAST(c_custkey % 360 - 180 AS DOUBLE) + 0.25)) / 2), 2)))), 4) AS dist_km
            FROM customer"""))

  // ---------------------------------------------------------------- q19
  // F29/F33 — static-map currency conversion.
  private val q19 = Q("q19_currency",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val target = element_at(
        typedLit(Seq("EUR", "GBP", "JPY", "CAD", "AUD", "USD")),
        (col("o_orderkey") % 6 + 1).cast(IntegerType))
      o.select(col("o_orderkey"), col("o_totalprice"), target.as("target_ccy"),
        bround(CF.convertCurrency(col("o_totalprice"), lit("USD"), target), 4).as("converted"))
    },
    Some("""SELECT o_orderkey, o_totalprice,
                   ['EUR','GBP','JPY','CAD','AUD','USD'][CAST(o_orderkey % 6 + 1 AS INT)] AS target_ccy,
                   round(o_totalprice / 1.0 * (CASE ['EUR','GBP','JPY','CAD','AUD','USD'][CAST(o_orderkey % 6 + 1 AS INT)]
                     WHEN 'EUR' THEN 0.92 WHEN 'GBP' THEN 0.79 WHEN 'JPY' THEN 149.50
                     WHEN 'CAD' THEN 1.36 WHEN 'AUD' THEN 1.52 ELSE 1.0 END), 4) AS converted
            FROM orders"""))

  // ---------------------------------------------------------------- q20
  // F34/F35/F36 — JSON round-trip on events.props.
  private val q20 = Q("q20_json",
    (s, dir) => t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        to_json(struct(col("event_id"), col("event_type"))).as("as_json")),
    Some("""SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   '{"event_id":' || event_id || ',"event_type":"' || event_type || '"}' AS as_json
            FROM events"""))

  // ---------------------------------------------------------------- q21
  // §2.9 superset — event-time tumbling window aggregation (batch form).
  private val q21 = Q("q21_event_windows",
    (s, dir) => { val ev = t(s, dir, "events"); ev
      .groupBy(date_format(date_trunc("hour", eventsTs(ev)), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value")) },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2"""))

  // ---------------------------------------------------------------- q22
  // P5/P11 — completeness check with missing-field report.
  private val q22 = Q("q22_completeness",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("name_maybe",
          when(col("c_custkey") % 11 === 0, lit(null).cast(StringType)).otherwise(col("c_name")))
        .withColumn("segment_maybe",
          when(col("c_custkey") % 13 === 0, lit("")).otherwise(col("c_mktsegment")))
      c.select(col("c_custkey"),
        CF.isComplete(Seq(col("name_maybe"), col("segment_maybe"))).as("is_complete"),
        array_join(CF.missingFields(scala.collection.immutable.ListMap(
          "name" -> col("name_maybe"), "segment" -> col("segment_maybe"))), ",").as("missing"))
    },
    Some("""WITH x AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_name END AS name_maybe,
                     CASE WHEN c_custkey % 13 = 0 THEN '' ELSE c_mktsegment END AS segment_maybe
              FROM customer)
            SELECT c_custkey,
                   (name_maybe IS NOT NULL AND length(trim(name_maybe)) > 0
                    AND segment_maybe IS NOT NULL AND length(trim(segment_maybe)) > 0) AS is_complete,
                   coalesce(array_to_string(list_filter(
                     [CASE WHEN name_maybe IS NULL OR length(trim(name_maybe)) = 0 THEN 'name' END,
                      CASE WHEN segment_maybe IS NULL OR length(trim(segment_maybe)) = 0 THEN 'segment' END],
                     x -> x IS NOT NULL), ','), '') AS missing
            FROM x"""))

  // ---------------------------------------------------------------- q23
  // U2 — EXCEPT set operation.
  private val q23 = Q("q23_except",
    (s, dir) => t(s, dir, "customer").select(col("c_custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
        .select(col("o_custkey").as("c_custkey"))),
    Some("""SELECT c_custkey FROM customer
            EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000.0"""))

  // ---------------------------------------------------------------- q24
  // O2 — top-N per group.
  private val q24 = Q("q24_topn_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("l_returnflag"), col("rank").cast(IntegerType).as("rank"),
          col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    },
    Some("""SELECT l_returnflag, CAST(rank AS INT) AS rank, l_orderkey, l_linenumber, l_extendedprice
            FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
                  FROM lineitem) WHERE rank <= 3"""))

  // ---------------------------------------------------------------- q43
  // S6/S7 — upsert sink semantics as MERGE algebra: latest incoming
  // version per key wins, untouched existing rows survive.
  private val q43 = Q("q43_upsert",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val existing = c.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("segment"))
      // two versions per incoming key; version 2 must win
      val incoming = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), explode(array(lit(1), lit(2))).as("version"),
          col("c_acctbal"), col("c_mktsegment"))
        .select(col("c_custkey"),
          (col("c_acctbal") + col("version") * 10).as("acctbal"),
          concat(col("c_mktsegment"), lit("_v"), col("version")).as("segment"),
          col("version"))
      graft.sources.UpsertSink.upsert(existing, incoming,
        Seq("c_custkey"), "version")
    },
    Some("""WITH existing AS (
              SELECT c_custkey, c_acctbal AS acctbal, c_mktsegment AS segment
              FROM customer WHERE c_custkey % 3 <> 0),
            incoming AS (
              SELECT c_custkey, c_acctbal + version * 10 AS acctbal,
                     c_mktsegment || '_v' || version AS segment, version
              FROM customer, (SELECT unnest([1, 2]) AS version)
              WHERE c_custkey % 2 = 0),
            latest AS (
              SELECT c_custkey, acctbal, segment FROM incoming
              QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY version DESC) = 1)
            SELECT e.c_custkey, e.acctbal, e.segment FROM existing e
            WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.c_custkey = e.c_custkey)
            UNION ALL SELECT c_custkey, acctbal, segment FROM latest"""))

  // ---------------------------------------------------------------- q44
  // IVF ANN — coarse-quantizer cells + nprobe probing, with a PINNED
  // codebook (the normalized first 16 corpus vectors), the production
  // "pretrained quantizer" split: index assignment, probing, and top-k
  // stay fully distributed and the DuckDB oracle replays cell argmax,
  // nprobe probe set, and per-query ranking exactly. The k-means-trained
  // variant (ivfTopK) keeps its recall spec in TextDedupSpec.
  private val q44 = Q("q44_ann_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopKWithCentroids(e.filter(col("vec_id") % 50 === 0), e,
        "vec_id", "embedding", QueriesText.unitCodebook(e, 16), k = 3, nprobe = 4)
    },
    Some("WITH " + QueriesText.ivfDotsCtes("embeddings WHERE vec_id < 16") +
      ",\n            " + QueriesText.ivfProbeCtes("rn <= 4 AND vec_id % 50 = 0") +
      QueriesText.cosTop3Select))

  // ---------------------------------------------------------------- q98
  // IVF with a TRAINED quantizer, end-to-end: oracle-mode spherical
  // k-means (md5-ordered sample, integer micro-unit accumulation — see
  // Similarity.trainCentroidsOracleMode for why that makes the rounds
  // engine-portable) feeding the same probe as q44. The oracle UNROLLS
  // the three Lloyd rounds as chained CTEs — assignment by row_number
  // over (dot DESC, cell), per-cell integer sums via a lateral
  // range(1,65) position join, normalize, COALESCE empty cells to the
  // previous round — then replays the nprobe/top-k probe. A quantizer
  // that drifts by one assignment in any round hash-mismatches.
  private val q98 = Q("q98_ann_ivf_trained",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.operators.Similarity.trainCentroidsOracleMode(
        e, "vec_id", "embedding", nlist = 8, sampleSize = 512, iters = 3)
      graft.operators.Similarity.ivfTopKWithCentroids(
        e.filter(col("vec_id") % 50 === 0), e, "vec_id", "embedding", cb,
        k = 3, nprobe = 2)
    },
    Some {
      // Lloyd round r: assign the sample to c(r-1), sum each cell's
      // micro-unit vectors, renormalize into c(r)
      def round(r: Int): String = s"""d$r AS (SELECT sv.vec_id, sv.vq, c.cell,
                          list_sum(list_transform(range(1, 65),
                            i -> sv.v[i] * c.cv[i])) AS dp
                   FROM sv CROSS JOIN c${r - 1} c),
            a$r AS (SELECT vec_id, vq, cell FROM
                    (SELECT vec_id, vq, cell, row_number() OVER
                       (PARTITION BY vec_id ORDER BY dp DESC, cell) AS rn FROM d$r)
                   WHERE rn = 1),
            s$r AS (SELECT cell, i, sum(vq[i]) AS sq
                   FROM a$r, range(1, 65) t(i) GROUP BY cell, i),
            """ + QueriesText.centroidUpdateCtes(r)
      s"""WITH nv0 AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
                     sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
              FROM embeddings),
            samp AS (
              SELECT vec_id,
                     ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h,
                     list_transform(
                       CASE WHEN n = 0 THEN vd ELSE list_transform(vd, x -> x / n) END,
                       x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vq
              FROM nv0 ORDER BY h LIMIT 512),
            sv AS (SELECT vec_id, h, vq,
                          list_transform(vq, x -> x / 1000000.0) AS v
                   FROM samp),
            c0 AS (SELECT cell, v AS cv FROM
                    (SELECT row_number() OVER (ORDER BY h) AS cell, v FROM sv)
                   WHERE cell <= 8),
            ${(1 to 3).map(round).mkString(",\n            ")},
            ${QueriesText.evCte()},
            dots AS (
              SELECT ev.vec_id, c.cell,
                     list_sum(list_transform(range(1, 65),
                       i -> CAST(ev.embedding[i] AS DOUBLE) * c.cv[i])) *
                     (CASE WHEN ev.nv = 0 THEN 0.0 ELSE 1.0 / sqrt(ev.nv) END) AS dp
              FROM ev CROSS JOIN c3 c),
            ranked AS (
              SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                       ORDER BY dp DESC, cell) AS rn
              FROM dots),
            ccell AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE rn = 1),
            qcell AS (SELECT vec_id AS query_id, cell FROM ranked
                      WHERE rn <= 2 AND vec_id % 50 = 0),
            ${QueriesText.probeCosCte("sc")},
            ${QueriesText.cosRankCte("sc")}""" + QueriesText.cosTop3Select
    })

  /** The (total, n, gid) orders aggregates q45 and q52 group by. */
  private def orderTotals(g: RelationalGroupedDataset): DataFrame = g.agg(
    sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"),
    count(lit(1)).as("n"),
    grouping_id().cast(LongType).as("gid"))

  private lazy val orderTotalsSql: String = """SELECT o_orderstatus, o_orderpriority,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                   count(*) AS n,
                   CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
            FROM orders"""

  // ---------------------------------------------------------------- q45
  // OLAP superset — ROLLUP with grouping id: subtotal + grand-total rows
  // (Catalyst expands to a single-shuffle Expand+Aggregate).
  private val q45 = Q("q45_rollup",
    (s, dir) => orderTotals(t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))),
    Some(orderTotalsSql + " GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"))

  // ---------------------------------------------------------------- q46
  // OLAP superset — exact interpolated quantiles per group WITHOUT a
  // per-group value buffer (Quantiles.exact: frequency-reduce →
  // cumulative-rank window over distinct values → interpolate). The
  // sketch twin (Quantiles.approx) is asserted in ScalaTest with a
  // rank-error bound, since approx sketches differ across engines.
  private val q46 = Q("q46_quantiles",
    (s, dir) => Quantiles.exact(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", Seq(0.5, 0.9, 0.99), Seq("p50", "p90", "p99"))
      .select(col("l_returnflag"), round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99")),
    Some("""SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem GROUP BY l_returnflag"""))

  // ---------------------------------------------------------------- q49
  // OLAP superset — CUBE: all 2^n grouping combinations in one
  // Expand+Aggregate pass.
  private val q49 = Q("q49_cube",
    (s, dir) => t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("qty"),
        count(lit(1)).as("n"),
        grouping_id().cast(LongType).as("gid")),
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
                   count(*) AS n,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  // ---------------------------------------------------------------- q52
  // OLAP superset — explicit GROUPING SETS (the general form rollup and
  // cube specialize): chosen combinations only, still one Expand+Aggregate
  // pass and a single shuffle.
  private val q52 = Q("q52_grouping_sets",
    (s, dir) => orderTotals(t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))),
    Some(orderTotalsSql + """
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderstatus), ())"""))

  // ---------------------------------------------------------------- q57
  // Contiguous global row index WITHOUT a single-task window: the
  // distributed prefix-scan (range partition + per-partition counts +
  // broadcast carry offsets) from Pack.globalIndex.
  private val q57 = Q("q57_global_index",
    (s, dir) => Pack.globalIndex(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "o_orderkey"),
    Some("""SELECT o_orderkey, o_totalprice,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS row_idx
            FROM orders"""))

  // ---------------------------------------------------------------- q60
  // One-pass column profiling (count/nulls/exact distinct/min/max per
  // column, unpivoted to one row per column).
  private def profCol(c: String) =
    s"""SELECT '$c' AS "column", count(*) AS n_rows, count($c) AS n_nonnull,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               CAST(min($c) AS VARCHAR) AS min, CAST(max($c) AS VARCHAR) AS max
        FROM customer"""
  private val q60 = Q("q60_profile",
    (s, dir) => Profile.describe(t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
    Some(Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .map(profCol).mkString("\nUNION ALL\n")))

  // ---------------------------------------------------------------- q66
  // Gap-based sessionization over the event log (6h inactivity gap):
  // one keyed shuffle on user_id, window session assignment, per-session
  // rollup. Timestamps compared at micros (tsMicros here, epoch_us in
  // DuckDB — identical integers for either parquet physical type).
  private val q66 = Q("q66_sessionize",
    (s, dir) => { val ev = t(s, dir, "events")
      Sessionize.sessionStats(ev,
        "user_id", tsMicros(ev), col("event_id"),
        gapMicros = 6L * 3600 * 1000000, valueCol = "value") },
    Some("""WITH x AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
            y AS (
              SELECT *, CASE WHEN tus - lag(tus) OVER
                  (PARTITION BY user_id ORDER BY tus, event_id) > 21600000000
                THEN 1 ELSE 0 END AS ns
              FROM x),
            z AS (
              SELECT *, sum(ns) OVER
                  (PARTITION BY user_id ORDER BY tus, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
              FROM y)
            SELECT user_id, CAST(sid AS BIGINT) AS session_id,
                   min(tus) AS session_start, max(tus) AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM z GROUP BY user_id, sid"""))

  // ---------------------------------------------------------------- q67
  // Wide pivot with an EXPLICIT value list (static plan — no distinct-
  // discovery job) and two aggregates per cell; compiles to ONE hash
  // aggregation on the row key.
  private val q67 = Q("q67_pivot",
    (s, dir) => Reshape.pivotWide(
      t(s, dir, "orders")
        .withColumn("order_year", year(col("o_orderdate")).cast(LongType)),
      Seq("order_year"), "o_orderstatus", Seq("F", "O", "P"),
      Seq("cnt" -> count(lit(1)),
        "rev" -> sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType))),
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   nullif(count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS F_cnt,
                   CAST(sum(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F_rev,
                   nullif(count(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS O_cnt,
                   CAST(sum(CASE WHEN o_orderstatus = 'O'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O_rev,
                   nullif(count(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS P_cnt,
                   CAST(sum(CASE WHEN o_orderstatus = 'P'
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P_rev
            FROM orders GROUP BY order_year"""))

  // ---------------------------------------------------------------- q68
  // Unpivot/melt back to long form — Spark's native unpivot is a map-only
  // Expand (no shuffle); the wide input here is a small conditional agg.
  private val q68 = Q("q68_melt",
    (s, dir) => {
      val wide = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
      Reshape.meltLong(wide, Seq("o_orderpriority"), Seq("n_f", "n_o", "n_p"),
        "status_bucket", "n_orders")
    },
    Some("""WITH w AS (
              SELECT o_orderpriority,
                     count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                     count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                     count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
              FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority, 'n_f' AS status_bucket, n_f AS n_orders FROM w
            UNION ALL
            SELECT o_orderpriority, 'n_o', n_o FROM w
            UNION ALL
            SELECT o_orderpriority, 'n_p', n_p FROM w"""))

  // ---------------------------------------------------------------- q70
  // Order-insensitive table checksum (reconciliation): md5-derived 60-bit
  // row hashes folded with XOR + exact decimal SUM + COUNT per group.
  private val q70 = Q("q70_checksum",
    (s, dir) => Checksum.tableChecksum(t(s, dir, "lineitem"),
      Seq("l_returnflag"),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
        "l_linestatus")),
    Some("""WITH h AS (
              SELECT l_returnflag,
                     CAST(concat('0x', substr(md5(concat_ws('|',
                          l_orderkey, l_partkey, l_suppkey, l_returnflag,
                          l_linestatus)), 1, 15)) AS BIGINT) AS h
              FROM lineitem)
            SELECT l_returnflag, count(*) AS n_rows,
                   bit_xor(h) AS xor_hash,
                   CAST(sum(CAST(h AS DECIMAL(38,0))) AS DOUBLE) AS sum_hash
            FROM h GROUP BY l_returnflag"""))

  // ---------------------------------------------------------------- q71
  // Group-wise z-score outliers: exact decimal moments (one hash agg),
  // joined back — no fact-table sort, no per-group value buffering.
  private val q71 = Q("q71_outliers",
    (s, dir) => Outliers.zscore(
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type"), "value", 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        col("grp_n"), col("grp_mean"), col("grp_std"), col("z")),
    Some("""WITH m AS (
              SELECT event_type, count(*) AS grp_n,
                     CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                     -- one side widened to DECIMAL(19,6): DuckDB multiplies
                     -- DECIMAL(18)s in int64 and overflows; 19 forces int128
                     CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))
                            * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ssq
              FROM events WHERE value IS NOT NULL GROUP BY event_type),
            e AS (
              SELECT event_type, grp_n,
                     s / CAST(grp_n AS DOUBLE) AS mean,
                     sqrt(greatest(ssq / CAST(grp_n AS DOUBLE)
                       - (s / CAST(grp_n AS DOUBLE)) * (s / CAST(grp_n AS DOUBLE)),
                       0.0)) AS std
              FROM m)
            SELECT o.event_id, o.event_type, o.value,
                   e.grp_n, round(e.mean, 6) AS grp_mean,
                   round(e.std, 6) AS grp_std,
                   round((o.value - e.mean) / e.std, 6) AS z
            FROM events o JOIN e USING (event_type)
            WHERE e.std > 0 AND abs(round((o.value - e.mean) / e.std, 6)) > 3.0"""))

  // ---------------------------------------------------------------- q47
  // As-of join: every error event joined to the latest click of the same
  // user at-or-before it (union-scan formulation, one keyed shuffle).
  // Oracle: DuckDB's native ASOF LEFT JOIN.
  private val q47 = Q("q47_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      // compare in MICROS — tsMicros matches DuckDB's epoch_us exactly
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), tsMicros(ev).as("t"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          tsMicros(ev).as("click_t"))
      AsofJoin.backward(errors, clicks, Seq("user_id"), "t", "click_t",
        rightPrefix = "")
    },
    Some("""WITH l AS (
              SELECT event_id, user_id, epoch_us(ts) AS t FROM events
              WHERE event_type = 'error'),
            r AS (
              SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_t
              FROM events WHERE event_type = 'click')
            SELECT l.user_id, l.event_id, l.t, r.click_id, r.click_t
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.t >= r.click_t"""))

  // ---------------------------------------------------------------- q48
  // Range join: lineitem ship-days inside synthetic promo periods —
  // bucketed equi-join (hash shuffle) instead of BroadcastNestedLoop.
  private val q48 = Q("q48_range_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), lit("1970-01-01").cast(DateType)).cast(LongType).as("ship_day"))
      val periods = t(s, dir, "nation")
        .select(col("n_nationkey").as("period_id"),
          (lit(9131L) + col("n_nationkey") * 150).as("start_day"),
          (lit(9131L) + col("n_nationkey") * 150 + 89).as("end_day"))
      RangeJoin.intervalJoin(li, "ship_day", periods, "start_day", "end_day",
          bucketWidth = 64)
        .select(col("l_orderkey"), col("l_linenumber"), col("ship_day"),
          col("period_id"), col("start_day"), col("end_day"))
    },
    Some("""WITH p AS (
              SELECT n_nationkey AS period_id,
                     CAST(9131 + n_nationkey * 150 AS BIGINT) AS start_day,
                     CAST(9131 + n_nationkey * 150 + 89 AS BIGINT) AS end_day
              FROM nation),
            l AS (
              SELECT l_orderkey, l_linenumber,
                     datediff('day', DATE '1970-01-01', l_shipdate) AS ship_day
              FROM lineitem)
            SELECT l_orderkey, l_linenumber, ship_day, period_id, start_day, end_day
            FROM l JOIN p ON ship_day BETWEEN start_day AND end_day"""))

  // ---------------------------------------------------------------- q50
  // M10/T3 full fidelity — checkRaw over STRING keys and STRING time
  // columns: all six reference reason codes in one run
  // (kafkaworker.js:80-125 branch order), including alphanumeric flight
  // numbers, present-but-unparseable timestamps (invalid_time_format vs
  // missing_time_data), and the lookup-failure leg (db_query_error).
  private val q50 = Q("q50_eligibility_full",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val k = col("o_orderkey")
      // string flight keys; delays are whole minutes (k % 300) so the
      // rounding is exact in both engines
      val flights = o.filter(k % 3 =!= 0).select(
        concat(lit("FL"), k.cast(StringType)).as("flight_number"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("scheduled_departure"),
        when(k % 11 === 0, lit(""))
          .when(k % 11 === 1, lit("not-a-timestamp"))
          .otherwise(date_format(
            timestamp_seconds(unix_timestamp(col("o_orderdate")) + (k % 300) * 60),
            "yyyy-MM-dd HH:mm:ss")).as("actual_departure"))
      val requests = o.filter(k % 2 === 0).select(
        concat(lit("FL"), k.cast(StringType)).as("flight_number"),
        (k % 17 === 3).as("db_err"))
      Eligibility.checkRaw(requests, flights, "flight_number",
          "scheduled_departure", "actual_departure", dbErrorCol = Some("db_err"))
        .select(col("flight_number"), col("delay_minutes"), col("reason"),
          col("eligible"))
    },
    Some(eligibilityOracle(
      """SELECT 'FL' || CAST(o_orderkey AS VARCHAR) AS flight_number,
                     o_orderkey % 17 = 3 AS db_err
              FROM orders WHERE o_orderkey % 2 = 0""",
      keys = "flight_number", dbErr = true)))

  /** The DuckDB replay of checkRaw over the q50-shaped flights, for the
    * requests the `requests` SQL selects (q50 batch, q118 streamed):
    * lookup, parse, the reference's reason-code order and the rounded
    * delay, output keyed by `keys`. With `dbErr`, a request's `db_err`
    * column marks a lookup failure. */
  private def eligibilityOracle(requests: String, keys: String,
                                dbErr: Boolean): String = {
    val rCols = (keys.split(", ").map("r." + _) ++
      (if (dbErr) Seq("r.db_err") else Nil)).mkString(", ")
    val errCase = if (dbErr) "WHEN db_err THEN 'db_query_error'\n                          " else ""
    s"""WITH flights AS (
              SELECT 'FL' || CAST(o_orderkey AS VARCHAR) AS flight_number,
                     strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS s,
                     CASE WHEN o_orderkey % 11 = 0 THEN ''
                          WHEN o_orderkey % 11 = 1 THEN 'not-a-timestamp'
                          ELSE strftime(o_orderdate + (o_orderkey % 300) * INTERVAL 1 MINUTE,
                                        '%Y-%m-%d %H:%M:%S') END AS a
              FROM orders WHERE o_orderkey % 3 <> 0),
            requests AS (
              $requests),
            j AS (
              SELECT $rCols,
                     f.flight_number IS NOT NULL AS found, f.s, f.a,
                     try_strptime(f.s, '%Y-%m-%d %H:%M:%S') AS st,
                     try_strptime(f.a, '%Y-%m-%d %H:%M:%S') AS act
              FROM requests r LEFT JOIN flights f ON r.flight_number = f.flight_number),
            judged AS (
              SELECT $keys,
                     CASE ${errCase}WHEN NOT found THEN 'flight_not_found'
                          WHEN s IS NULL OR s = '' OR a IS NULL OR a = '' THEN 'missing_time_data'
                          WHEN st IS NULL OR act IS NULL THEN 'invalid_time_format'
                          WHEN floor(date_diff('second', st, act) / 60.0 + 0.5) >= 120 THEN 'delay_threshold_met'
                          ELSE 'delay_below_threshold' END AS reason,
                     CAST(floor(date_diff('second', st, act) / 60.0 + 0.5) AS BIGINT) AS delay
              FROM j)
            SELECT $keys,
                   CASE WHEN reason IN ('delay_threshold_met','delay_below_threshold')
                        THEN delay END AS delay_minutes,
                   reason,
                   reason = 'delay_threshold_met' AS eligible
            FROM judged"""
  }

  // ---------------------------------------------------------------- q51
  // M8 complete — config-driven staging → pre-fact → dimension (SCD2) →
  // fact chain (table_configs.json:1-13 semantics), two batches deep so
  // the upserts and the SCD2 close/reopen both fire. The fact output
  // transitively verifies every layer: measures come through staging and
  // pre-fact, dim_valid_from points at the post-merge CURRENT dimension
  // version.
  private val q51 = Q("q51_warehouse",
    (s, dir) => {
      import graft.warehouse.Warehouse
      val c = t(s, dir, "customer")
      val b1 = c.select(
        col("c_custkey").cast(StringType).as("booking_reference"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").as("amount"),
        col("c_custkey").as("_ingest_id"))
      val b2 = c.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey").cast(StringType).as("booking_reference"),
        when(col("c_custkey") % 3 === 0, concat(col("c_mktsegment"), lit("_X")))
          .otherwise(col("c_mktsegment")).as("segment"),
        (col("c_acctbal") + 50.0).as("amount"),
        col("c_custkey").as("_ingest_id"))
      val cfg = Warehouse.bookingSales
      val dims = Seq("segment"); val measures = Seq("amount")
      // materialize each layer like the reference's per-batch table
      // writes — lazily chained, batch 2's plan would re-evaluate batch
      // 1's whole chain once per downstream consumer. localCheckpoint,
      // not persist: layer frames are never unpersisted, and cache
      // entries would pile up across repeated runs in one session
      val pin = (df: org.apache.spark.sql.DataFrame) =>
        graft.operators.Pin.data(df)
      val l0 = Warehouse.emptyLayers(cfg, b1, dims, measures, "_ingest_id")
      val l1 = Warehouse.run(cfg, b1, l0, dims, measures, "_ingest_id",
        lit(java.sql.Date.valueOf("2024-01-01")), materialize = pin)
      val l2 = Warehouse.run(cfg, b2, l1, dims, measures, "_ingest_id",
        lit(java.sql.Date.valueOf("2024-06-01")), materialize = pin)
      l2.fact.select(col("booking_reference"), col("amount"),
        date_format(col("dim_valid_from"), "yyyy-MM-dd").as("dim_valid_from"),
        col("_ingest_id"))
    },
    Some("""WITH b1 AS (
              SELECT CAST(c_custkey AS VARCHAR) AS booking_reference,
                     c_mktsegment AS segment, c_acctbal AS amount,
                     c_custkey AS _ingest_id
              FROM customer),
            b2 AS (
              SELECT CAST(c_custkey AS VARCHAR) AS booking_reference,
                     CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_X'
                          ELSE c_mktsegment END AS segment,
                     c_acctbal + 50.0 AS amount, c_custkey AS _ingest_id
              FROM customer WHERE c_custkey % 2 = 0)
            SELECT b1.booking_reference,
                   coalesce(b2.amount, b1.amount) AS amount,
                   CASE WHEN b2.booking_reference IS NOT NULL AND b2.segment <> b1.segment
                        THEN '2024-06-01' ELSE '2024-01-01' END AS dim_valid_from,
                   coalesce(b2._ingest_id, b1._ingest_id) AS _ingest_id
            FROM b1 LEFT JOIN b2 ON b1.booking_reference = b2.booking_reference"""))

  // ---------------------------------------------------------------- q73
  // F20/F21 — business-day SLA arithmetic and inclusive range overlap,
  // all in one codegen'd projection (map-only plan, zero shuffles). The
  // oracle rewrites add-N-business-days into its closed form per weekday
  // (any weekday start +5bd lands exactly one week out; Sat/Sun collapse
  // to the preceding Friday's walk), independently deriving the same
  // calendar the Spark side walks with its sequence+filter HOF.
  private val q73 = Q("q73_business_calendar",
    (s, dir) => {
      val day = to_date(col("o_orderdate"))
      t(s, dir, "orders").select(col("o_orderkey"),
        date_format(day, "yyyy-MM-dd").as("order_day"),
        date_format(CF.addBusinessDays(day, 1), "yyyy-MM-dd").as("next_bd"),
        date_format(CF.addBusinessDays(day, 5), "yyyy-MM-dd").as("week_bd"),
        CF.rangesOverlap(day, date_add(day, 30),
          lit(java.sql.Date.valueOf("1995-03-01")),
          lit(java.sql.Date.valueOf("1995-03-31"))).as("in_promo"),
        // F22 — arrival synthesized −2..+93 h from departure, exercising
        // the non-positive-span → NULL guard alongside real spans
        CF.durationHours(col("o_orderdate"),
          timestamp_seconds(unix_timestamp(col("o_orderdate")) +
            ((col("o_orderkey") % 96) - 2) * lit(3600L))).as("leg_hours"))
    },
    Some("""SELECT o_orderkey,
              strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_day,
              strftime(CAST(o_orderdate AS DATE) +
                CASE isodow(CAST(o_orderdate AS DATE))
                  WHEN 5 THEN 3 WHEN 6 THEN 2 ELSE 1 END, '%Y-%m-%d') AS next_bd,
              strftime(CAST(o_orderdate AS DATE) +
                CASE isodow(CAST(o_orderdate AS DATE))
                  WHEN 6 THEN 6 WHEN 7 THEN 5 ELSE 7 END, '%Y-%m-%d') AS week_bd,
              CAST(o_orderdate AS DATE) <= DATE '1995-03-31'
                AND DATE '1995-03-01' <= CAST(o_orderdate AS DATE) + 30 AS in_promo,
              CASE WHEN o_orderkey % 96 - 2 <= 0 THEN NULL
                   ELSE CAST(o_orderkey % 96 - 2 AS DOUBLE) END AS leg_hours
            FROM orders"""))

  // ---------------------------------------------------------------- q74
  // F19/F30/F31 — age-from-DOB with birthday adjustment, amount
  // reconciliation within tolerance, and clamped refund, over synthetic
  // per-customer inputs derived from the key (deterministic, seedless).
  // The oracle computes age as calendar-year difference minus a
  // birthday-not-yet-passed flag — an independent formulation of
  // floor(months_between/12). Money expressions mirror the exact
  // arithmetic tree so IEEE doubles agree bit-for-bit; the reconcile
  // drift (0.02 vs tol 0.01) sits safely away from the boundary.
  private val q74 = Q("q74_age_reconcile_refund",
    (s, dir) => {
      val dob = date_add(lit(java.sql.Date.valueOf("1958-01-01")),
        (col("c_custkey") * 7919 % 15000).cast(IntegerType))
      val fees = (col("c_custkey") % 3) * lit(10.0)
      val claimed = col("c_acctbal") * lit(1.1) + fees +
        when(col("c_custkey") % 7 === 0, lit(0.02)).otherwise(lit(0.0))
      t(s, dir, "customer").select(col("c_custkey"),
        date_format(dob, "yyyy-MM-dd").as("dob"),
        CF.ageYears(dob, lit(java.sql.Date.valueOf("2024-06-15"))).as("age"),
        CF.amountsReconcile(col("c_acctbal"), col("c_acctbal") * lit(0.1),
          fees, claimed).as("reconciled"),
        CF.refundAmount(col("c_acctbal"),
          (col("c_custkey") % 97).cast(DoubleType)).as("refund"))
    },
    Some("""WITH c AS (
              SELECT c_custkey, c_acctbal,
                     DATE '1958-01-01' + CAST(c_custkey * 7919 % 15000 AS INTEGER) AS dob,
                     (c_custkey % 3) * 10.0 AS fees
              FROM customer)
            SELECT c_custkey,
              strftime(dob, '%Y-%m-%d') AS dob,
              CAST(date_diff('year', dob, DATE '2024-06-15')
                - CASE WHEN month(dob) > 6 OR (month(dob) = 6 AND day(dob) > 15)
                       THEN 1 ELSE 0 END AS INTEGER) AS age,
              abs(c_acctbal + c_acctbal * 0.1 + fees
                - (c_acctbal * 1.1 + fees
                   + CASE WHEN c_custkey % 7 = 0 THEN 0.02 ELSE 0.0 END)) <= 0.01
                AS reconciled,
              greatest(0.0, c_acctbal
                * (1.0 - CAST(c_custkey % 97 AS DOUBLE) / 100.0)) AS refund
            FROM c"""))

  // ---------------------------------------------------------------- q75
  // F13 — name split (first token vs rest after whitespace collapse);
  // single-token names take the empty-last-name path. Map-only plan.
  private val q75 = Q("q75_name_split",
    (s, dir) => {
      val full = when(col("c_custkey") % 101 === 0, col("c_name"))
        .otherwise(concat(lower(col("c_mktsegment")), lit("   "), col("c_name"),
          when(col("c_custkey") % 5 === 0, lit(" van der berg")).otherwise(lit(""))))
      t(s, dir, "customer").select(col("c_custkey"),
        CF.firstName(full).as("first_name"),
        CF.lastName(full).as("last_name"))
    },
    Some("""WITH f AS (
              SELECT c_custkey,
                     regexp_replace(trim(CASE WHEN c_custkey % 101 = 0 THEN c_name
                       ELSE lower(c_mktsegment) || '   ' || c_name ||
                         CASE WHEN c_custkey % 5 = 0 THEN ' van der berg' ELSE '' END
                       END), '\s+', ' ', 'g') AS norm
              FROM customer)
            SELECT c_custkey,
              split_part(norm, ' ', 1) AS first_name,
              CASE WHEN strpos(norm, ' ') > 0
                   THEN substr(norm, strpos(norm, ' ') + 1) ELSE '' END AS last_name
            FROM f"""))

  // ---------------------------------------------------------------- q79
  // Z-order layout stats: Morton-interleave (l_partkey, l_suppkey) and
  // aggregate per 64-bucket z-range the bounds a pruning scan would
  // consult. Tight min/max on BOTH keys per bucket is the measurable
  // payoff of z-clustering (OPTIMIZE ZORDER BY); the z-value itself is a
  // map-only codegen'd projection, the stats one hash aggregation.
  private val q79 = Q("q79_zorder_layout",
    (s, dir) => graft.operators.Layout.zBucketStats(
      t(s, dir, "lineitem").select(
        shiftright(col("l_partkey"), 3).as("part_blk"),
        col("l_suppkey").as("supp_blk")),
      Seq("part_blk", "supp_blk"), bits = 8, numBuckets = 64),
    Some("""WITH z AS (
              SELECT l_partkey >> 3 AS part_blk,
                     l_suppkey AS supp_blk,
                     CAST(list_sum(list_transform(range(8), i ->
                         ((((l_partkey >> 3) & 255) >> i) & 1) << (i * 2)))
                       + list_sum(list_transform(range(8), i ->
                         (((l_suppkey & 255) >> i) & 1) << (i * 2 + 1)))
                       AS BIGINT) AS zv
              FROM lineitem)
            SELECT zv >> 10 AS bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(part_blk) AS min_part_blk,
                   max(part_blk) AS max_part_blk,
                   min(supp_blk) AS min_supp_blk,
                   max(supp_blk) AS max_supp_blk
            FROM z GROUP BY 1"""))

  // ---------------------------------------------------------------- q86
  // Relational HyperLogLog: approximate distinct customers per order
  // priority, next to the exact count and the relative error. The
  // register table (groupBy (key, register) max rho) is the sketch —
  // mergeable across shards/days with a plain re-aggregation, which is
  // why it beats an opaque binary HLL buffer for incremental corpora.
  // Deterministic to the bit: md5 hashing, exact integer indicator sum,
  // and the DuckDB oracle replays the whole estimator.
  private val q86 = Q("q86_hll_distinct",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val approx = Sketches.hllDistinct(o, col("o_custkey"), Seq("o_orderpriority"))
      val exact = o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      approx.join(exact, "o_orderpriority")
        .withColumn("rel_err",
          bround(abs(col("approx_distinct") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double"), 6))
    },
    Some(s"""WITH approx AS (
              ${Sketches.hllOracleSql("orders", "o_orderpriority", "o_custkey")}),
            exact AS (
              SELECT o_orderpriority,
                     CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
              FROM orders GROUP BY 1)
            SELECT o_orderpriority, approx_distinct, exact_distinct,
                   round(abs(approx_distinct - CAST(exact_distinct AS DOUBLE))
                         / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
            FROM approx JOIN exact USING (o_orderpriority)"""))

  // ---------------------------------------------------------------- q87
  // Deterministic stratified sample — class rebalancing (keep all of the
  // rare P status, half of F, a tenth of O). Pure projection+filter, no
  // shuffle; the keep decision is a function of (status fraction,
  // order key) alone, so both engines and any re-run keep the same rows.
  private val q87 = Q("q87_stratified_sample",
    (s, dir) => Split.stratifiedSample(
        t(s, dir, "orders"), col("o_orderstatus"),
        Map("O" -> 0.1, "F" -> 0.5, "P" -> 1.0), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
    Some("""WITH b AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice,
                (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM orders)
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM b
            WHERE bucket < CASE o_orderstatus WHEN 'O' THEN 6554
                                              WHEN 'F' THEN 32768
                                              WHEN 'P' THEN 65536
                                              ELSE 0 END"""))

  // ---------------------------------------------------------------- q89
  // Keyed table diff — the drill-down a failed checksum comparison
  // (q70) needs: which keys were added / removed / changed between two
  // table versions. The "right" version is derived deterministically
  // in-query (md5-bucket 0 keys dropped, bucket 1 priorities edited,
  // bucket 2 keys re-keyed as additions) so both engines diff the same
  // pair. Each side collapses to (key, 60-bit row hash) at the scan;
  // the full-outer join ships two slim columns, never the payload, and
  // unchanged keys (~all of a real reconciliation) are filtered out.
  private val q89 = Q("q89_table_diff",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
      val b = Split.bucket16(col("o_orderkey"))
      val right = o.filter(b =!= 0)
        .withColumn("o_orderpriority",
          when(b === 1, concat(col("o_orderpriority"), lit("*")))
            .otherwise(col("o_orderpriority")))
        .unionByName(o.filter(b === 2)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      Checksum.diffTables(o, right, "o_orderkey",
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
    },
    Some("""WITH base AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                     CAST(strpos('0123456789abcdef',
                                 substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1
                          AS BIGINT) AS b
              FROM orders),
            right_t AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CASE WHEN b = 1 THEN o_orderpriority || '*'
                          ELSE o_orderpriority END AS o_orderpriority
              FROM base WHERE b <> 0
              UNION ALL
              SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                     o_orderpriority
              FROM base WHERE b = 2),
            lh AS (
              SELECT o_orderkey AS k,
                     CAST(concat('0x', substr(md5(concat_ws('|',
                          o_custkey, o_orderstatus, o_orderpriority)), 1, 15))
                       AS BIGINT) AS lh
              FROM orders),
            rh AS (
              SELECT o_orderkey AS k,
                     CAST(concat('0x', substr(md5(concat_ws('|',
                          o_custkey, o_orderstatus, o_orderpriority)), 1, 15))
                       AS BIGINT) AS rh
              FROM right_t)
            SELECT coalesce(lh.k, rh.k) AS o_orderkey,
                   CASE WHEN lh.lh IS NULL THEN 'added'
                        WHEN rh.rh IS NULL THEN 'removed'
                        WHEN lh.lh <> rh.rh THEN 'changed' END AS status
            FROM lh FULL OUTER JOIN rh ON lh.k = rh.k
            WHERE (CASE WHEN lh.lh IS NULL THEN 'added'
                        WHEN rh.rh IS NULL THEN 'removed'
                        WHEN lh.lh <> rh.rh THEN 'changed' END) IS NOT NULL"""))

  // ---------------------------------------------------------------- q92
  // Salted skew join THROUGH the correctness gate: the hot-key remedy
  // (large side scatters keys over 16 salt buckets, small side
  // replicates into all of them, join on (key, salt)) must be
  // result-identical to the plain join — the oracle computes the plain
  // join, no salt anywhere. Aggregated output keeps the comparison
  // order-insensitive; the decimal cast makes the double sum exact.
  private val q92 = Q("q92_salted_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.saltedJoin(ev, dim, "user_id", parts = 16)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
    },
    Some("""SELECT c_mktsegment, event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY 1, 2"""))

  /** `b` and `g`: the 20 equi-width o_totalprice bins over [0, 500000)
    * (edges clamped) and their counts — q93's histogram, q103's input. */
  private lazy val orderPriceBinsCtes: String = """WITH b AS (
              SELECT least(19, greatest(0,
                       CAST(floor((o_totalprice - 0.0) / 25000.0) AS INT)))
                       AS bin
              FROM orders WHERE o_totalprice IS NOT NULL),
            g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin)"""

  // ---------------------------------------------------------------- q93
  // Equi-width histogram (distribution profiling): 20 buckets over
  // order totals, out-of-range clamped to the edge buckets so outliers
  // are counted, not dropped. One bin projection + one hash agg; the
  // share denominator comes from a window over the <= 20 aggregated
  // bins, so the data is scanned ONCE. Per-bin counts merge by
  // addition across shards/days.
  private val q93 = Q("q93_histogram",
    (s, dir) => Profile.histogram(t(s, dir, "orders"), col("o_totalprice"),
      lo = 0.0, hi = 500000.0, bins = 20),
    Some(orderPriceBinsCtes + """
            SELECT bin,
                   round_even(0.0 + bin * 25000.0, 6) AS bin_lo,
                   round_even(0.0 + (bin + 1) * 25000.0, 6) AS bin_hi,
                   n,
                   round_even(CAST(n AS DOUBLE) /
                         CAST(sum(n) OVER () AS DOUBLE), 6) AS share
            FROM g"""))

  // ---------------------------------------------------------------- q103
  // Approximate quantiles from the MERGEABLE bin table (q93's histogram
  // registers): target rank = q x N, first bin whose cumulative count
  // reaches it, linear interpolation inside — error bounded by one bin
  // width. The bin counts merge by addition across shards/days, so this
  // is the read-time estimator of a distributed profiling sketch; the
  // oracle replays the cumulative walk and the interpolation
  // arithmetic in the same association order, so the estimates
  // hash-match exactly.
  private val q103 = Q("q103_hist_quantiles",
    (s, dir) => Profile.histogramQuantiles(
      Profile.histogram(t(s, dir, "orders"), col("o_totalprice"),
        lo = 0.0, hi = 500000.0, bins = 20).select(col("bin"), col("n")),
      lo = 0.0, hi = 500000.0, bins = 20,
      qs = Seq(0.25, 0.5, 0.9, 0.99)),
    Some(orderPriceBinsCtes + """,
            c AS (SELECT bin, n,
                         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
                         sum(n) OVER () AS total
                  FROM g),
            p AS (
              SELECT qs.q, c.bin, c.n, c.cum, c.total,
                     qs.q * CAST(c.total AS DOUBLE) AS target
              FROM c CROSS JOIN (SELECT unnest([CAST(0.25 AS DOUBLE),
                     CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                     CAST(0.99 AS DOUBLE)]) AS q) qs
              WHERE CAST(c.cum AS DOUBLE) >= qs.q * CAST(c.total AS DOUBLE)),
            sel AS (
              SELECT *, row_number() OVER (PARTITION BY q ORDER BY bin) AS rn
              FROM p)
            SELECT q,
                   round_even(0.0 + bin * 25000.0
                         + (target - CAST(cum - n AS DOUBLE))
                           / CAST(n AS DOUBLE) * 25000.0, 6) AS estimate,
                   CAST(total AS BIGINT) AS n_rows
            FROM sel WHERE rn = 1"""))

  // ---------------------------------------------------------------- q95
  // Point-in-time join against an SCD2 dimension — the query-side half
  // of q13's maintenance flow: each order picks the customer-balance
  // VERSION valid on its order date. The dim history is built by the
  // same Scd2 operator (two epochs: all keys open 1990-01-01, every
  // 3rd key's balance changes 1995-01-01), so TPC-H order dates
  // straddle the change and exercise both versions, plus the NULL path
  // for keys the dim never held. Key equality drives the hash join; the
  // validity window is a join residual, never a nested loop.
  private val q95 = Q("q95_pit_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val dim0 = c.filter(col("c_custkey") % 10 =!= 0).select(
        col("c_custkey"), col("c_acctbal").as("acctbal"),
        lit(java.sql.Date.valueOf("1990-01-01")).as("valid_from"),
        lit(null).cast(DateType).as("valid_to"),
        lit(true).as("is_current"))
      val staging = c.filter(col("c_custkey") % 10 =!= 0).select(
        col("c_custkey"),
        (col("c_acctbal") + when(col("c_custkey") % 3 === 0, lit(100.0))
          .otherwise(lit(0.0))).as("acctbal"))
      val dim = Scd2(dim0, staging,
        Scd2.Config(Seq("c_custkey"), Seq("acctbal")),
        lit(java.sql.Date.valueOf("1995-01-01")))
      Scd2.pitJoin(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate")),
          dim, "o_custkey", "c_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("acctbal"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("bal_valid_from"))
    },
    Some("""WITH dimv AS (
              SELECT c_custkey, c_acctbal AS acctbal,
                     DATE '1990-01-01' AS valid_from,
                     CASE WHEN c_custkey % 3 = 0 THEN DATE '1995-01-01' END AS valid_to
              FROM customer WHERE c_custkey % 10 <> 0
              UNION ALL
              SELECT c_custkey, c_acctbal + 100.0, DATE '1995-01-01', NULL
              FROM customer WHERE c_custkey % 10 <> 0 AND c_custkey % 3 = 0)
            SELECT o_orderkey, o_custkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                   acctbal,
                   strftime(valid_from, '%Y-%m-%d') AS bal_valid_from
            FROM orders LEFT JOIN dimv
              ON o_custkey = c_custkey
             AND o_orderdate >= valid_from
             AND (valid_to IS NULL OR o_orderdate < valid_to)"""))

  // ---------------------------------------------------------------- q96
  // Salted two-stage aggregation through the gate (q92's sibling for
  // the agg fan-in): partial sums per (key, salt) then merge — the
  // static remedy when upstream partitioning defeats map-side combine
  // on a hot key. Values ride as DECIMAL so both stages are exact and
  // the result hash-matches the plain one-stage GROUP BY oracle.
  private val q96 = Q("q96_salted_agg",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("value").cast(DecimalType(18, 6)).as("v"))
      Skew.saltedSum(ev, "user_id", "v", parts = 16, out = "sum_dec")
        .select(col("user_id"), col("sum_dec").cast(DoubleType).as("sum_value"))
    },
    Some("""SELECT user_id,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1"""))

  // --------------------------------------------------------------- q118
  // T1-T4 EXECUTED as a stream: the q50-shaped messages land as text
  // files, a file-source STREAM parses/dispatches/enriches/judges them
  // (EligibilityStream) into an append parquet sink, and the SINK is
  // the registered result — so the DuckDB oracle gates what the
  // streaming path actually wrote, not a batch restatement. Corrupt
  // lines (every 50th) are parse-fallback rows: audited, never
  // dispatched, hence absent here. The sibling Verify artifact
  // (stream_parity.json) additionally pins sink == batch bit-parity.
  private val q118 = Q("q118_stream_eligibility",
    (s, dir) => graft.streaming.StreamHarness.eligibilitySinkRun(s, dir)._1,
    Some(eligibilityOracle(
      """SELECT 'P' || CAST(o_orderkey AS VARCHAR) AS passenger_id,
                     'FL' || CAST(o_orderkey AS VARCHAR) AS flight_number
              FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 50 <> 0""",
      keys = "passenger_id, flight_number", dbErr = false)))

  /** All registered queries, in declaration order. */
  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q43, q44,
    q45, q46, q47, q48, q49, q50, q51, q52, q57, q60, q66, q67, q68, q70,
    q71, q73, q74, q75, q79, q86, q87, q89, q92, q93, q95, q96, q98,
    q103, q118) ++
    QueriesText.all ++ QueriesClean.all
}
