package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar cleaning/normalization function library (SURVEY.md §2.8 F1-F16,
  * F25-F32). Re-expresses the reference's pandas/JS scalar logic
  * (`/root/reference/backend/etl_scripts/cleaning.py`,
  * `/root/reference/backend/functions/functions.py`) as composable,
  * codegen-friendly `Column` combinators — no UDFs, so every function stays
  * inside WholeStageCodegen and is usable at 100 TB scale.
  */
object CleanFunctions {

  // ---- string normalization ------------------------------------------------

  /** F5 — collapse runs of whitespace to a single space (cleaning.py:341). */
  def normalizeWhitespace(c: Column): Column =
    regexp_replace(trim(c), "\\s+", " ")

  /** Unicode text repair (ftfy-lite): NFC-compose combining sequences so
    * visually identical text is byte-identical (dedup/shingle/join all
    * depend on it), then strip the invisible characters a web corpus
    * drags in — zero-widths (ZWSP/ZWNJ/ZWJ/ZWNBSP-BOM), soft hyphen, and
    * C0/DEL controls except tab/newline/CR. The pattern stays in the
    * Java-regex ∩ RE2 dialect so external engines run it verbatim. */
  def normalizeUnicode(c: Column): Column =
    regexp_replace(graft.plans.UnicodeExpressions.nfc(c),
      "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]|[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]",
      "")

  /** F3 — trim + collapse whitespace + title-case (cleaning.py:340-341). */
  def titleCase(c: Column): Column = initcap(normalizeWhitespace(c))

  /** F4 — Python str.capitalize(): first char upper, REST lower — differs
    * from initcap on multi-word strings (cleaning.py:484). */
  def capitalizeFirst(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType)).otherwise(
      concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue))))

  /** F7 — strip every non-alphabetic character (cleaning.py:484). */
  def stripNonAlpha(c: Column): Column = regexp_replace(c, "[^a-zA-Z]", "")

  /** F6 — strip currency symbols and thousands separators (cleaning.py:574). */
  def stripCurrency(c: Column): Column = regexp_replace(c, "[$,]", "")

  /** F25 + F6 + F26 + F27 — money cleaner: strip $/commas, coerce to double
    * (null on failure, = pandas to_numeric(errors='coerce')), banker's-round
    * to 2dp (pandas parity → bround), cap at 99,999,999.99
    * (cleaning.py:574-576). */
  def cleanMoney(c: Column, cap: Double = 9.999999999e7): Column = {
    val x = bround(stripCurrency(trim(c)).cast(DoubleType), 2)
    // guard: least() skips nulls, which would turn unparseable money into
    // the cap — null must stay null (pandas to_numeric coerce parity).
    when(x.isNull, lit(null).cast(DoubleType)).otherwise(least(x, lit(cap)))
  }

  /** F32 — str.isdigit() equivalent (cleaning.py:556). */
  def isDigits(c: Column): Column = c.rlike("^[0-9]+$")

  /** F9 — keep value when in whitelist, else default (cleaning.py:362-365). */
  def whitelistElseDefault(c: Column, allowed: Seq[String], default: String): Column =
    when(c.isin(allowed: _*), c).otherwise(lit(default))

  /** F8 — dictionary replace via chained `when`s; unmatched pass through. */
  def dictReplace(c: Column, dict: Map[String, String]): Column =
    dict.foldLeft(c) { case (acc, (k, v)) => when(c === lit(k), lit(v)).otherwise(acc) }

  /** F11 — first-2-alphanumeric uppercased prefix (cleaning.py:278-283). */
  def alnumPrefix(c: Column, n: Int = 2): Column =
    upper(substring(regexp_replace(c, "[^A-Za-z0-9]", ""), 1, n))

  /** F12 — remove a key's digits (and the de-zero-padded variant) from an
    * email local part (cleaning.py:298-308). */
  def stripKeyFromEmail(email: Column, key: Column): Column = {
    val digits = regexp_replace(key, "[^0-9]", "")
    val noPad  = digits.cast(LongType).cast(StringType) // "00123" -> "123"
    val once   = when(length(digits) > 0, regexp_replace(email, digits, lit("")))
      .otherwise(email)
    when(noPad.isNotNull && length(noPad) > 0, regexp_replace(once, noPad, lit("")))
      .otherwise(once)
  }

  /** F13 — split a full name into (first, last): first token vs the rest
    * (functions.py:214-227; server.js:221-225). */
  def firstName(fullName: Column): Column =
    element_at(split(normalizeWhitespace(fullName), " "), 1)
  def lastName(fullName: Column): Column =
    array_join(slice(split(normalizeWhitespace(fullName), " "), 2, 1000), " ")

  // ---- PII masking (functions.py:230-250) ----------------------------------

  /** F14 — email mask: keep first 2 chars of local part + domain. */
  def maskEmail(c: Column): Column =
    when(c.isNull || !c.contains("@"), lit(null).cast(StringType)).otherwise(
      concat(substring(element_at(split(c, "@"), 1), 1, 2), lit("***@"),
             element_at(split(c, "@"), 2)))

  /** F14 — phone mask: *** + last 4 digits. */
  def maskPhone(c: Column): Column = {
    val digits = regexp_replace(c, "[^0-9]", "")
    when(c.isNull, lit(null).cast(StringType))
      .otherwise(concat(lit("***"), substring(digits, -4, 4)))
  }

  /** F14 — address mask: first 10 chars + ***. */
  def maskAddress(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType))
      .otherwise(concat(substring(c, 1, 10), lit("***")))

  /** F15 — MD5 surrogate key over normalized parts (functions.py:70-73 etc.). */
  def md5Key(parts: Column*): Column =
    md5(concat_ws("|", parts.map(p => upper(trim(coalesce(p.cast(StringType), lit(""))))): _*))

  // ---- dates (F17-F24) -----------------------------------------------------

  /** F17 — multi-format date parse with the reference's exact precedence:
    * ['%Y-%m-%d','%d/%m/%Y','%m/%d/%Y','%Y/%m/%d','%d-%m-%Y'] from
    * functions.py:9-29, then the `%Y/%b/%d` titlecase path and `%d-%b-%y`
    * from cleaning.py:579-591. Null when nothing matches (NaT parity). */
  def parseDateMulti(c: Column): Column = {
    val t = trim(c)
    coalesce(
      to_date(t, "yyyy-MM-dd"),
      to_date(t, "dd/MM/yyyy"),
      to_date(t, "MM/dd/yyyy"),
      to_date(t, "yyyy/MM/dd"),
      to_date(t, "dd-MM-yyyy"),
      to_date(regexp_replace(t, "-", "/"), "yyyy/MMM/dd"),
      to_date(t, "dd-MMM-yy"))
  }

  /** F18 — normalize a parsed date to ISO yyyy-MM-dd text. */
  def toIsoDate(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** F19 — age in whole years with birthday adjustment (functions.py:32-38). */
  def ageYears(dob: Column, asOf: Column = current_date()): Column =
    floor(months_between(asOf, dob) / 12).cast(IntegerType)

  /** F20 — add N business days, skipping weekends (functions.py:41-49),
    * as a sequence+filter higher-order expression (no UDF). Walks forward
    * day by day counting only Mon-Fri, exactly like the reference loop. */
  def addBusinessDays(start: Column, n: Int): Column = {
    // Worst case n business days span ceil(n/5)*7+3 calendar days.
    val span = n / 5 * 7 + n % 5 * 2 + 3
    val days = sequence(date_add(start, 1), date_add(start, span))
    val bd = filter(days, d => !dayofweek(d).isin(1, 7))
    element_at(bd, n)
  }

  /** F21 — inclusive date-range overlap (functions.py:52-54). */
  def rangesOverlap(s1: Column, e1: Column, s2: Column, e2: Column): Column =
    s1 <= e2 && s2 <= e1

  /** F22 — flight duration hours; null when arrival <= departure
    * (functions.py:145-174). */
  def durationHours(dep: Column, arr: Column): Column =
    when(arr <= dep, lit(null).cast(DoubleType))
      .otherwise((unix_timestamp(arr) - unix_timestamp(dep)) / 3600.0)

  /** F23 — delay minutes, rounded half-up like Math.round
    * (server.js:281-283). */
  def delayMinutes(scheduled: Column, actual: Column): Column =
    round((unix_timestamp(actual) - unix_timestamp(scheduled)) / 60.0)
      .cast(LongType)

  // ---- math / geo / money (F28-F31) ---------------------------------------

  /** F28 — haversine distance in km (functions.py:93-108). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(6371.0) * lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** F29 — static-rate currency conversion via USD (functions.py:261-280). */
  val currencyRatesUsd: Map[String, Double] = Map(
    "USD" -> 1.0, "EUR" -> 0.92, "GBP" -> 0.79, "JPY" -> 149.50,
    "CAD" -> 1.36, "AUD" -> 1.52)

  def convertCurrency(amount: Column, from: Column, to: Column): Column = {
    val rates = typedLit(currencyRatesUsd)
    amount / element_at(rates, from) * element_at(rates, to)
  }

  /** F30 — amount reconciliation within tolerance (functions.py:283-299). */
  def amountsReconcile(base: Column, taxes: Column, fees: Column,
                       total: Column, tol: Double = 0.01): Column =
    abs(base + taxes + fees - total) <= lit(tol)

  /** F31 — refund = max(0, total * (1 - pct/100)) (functions.py:315-317). */
  def refundAmount(total: Column, penaltyPct: Column): Column =
    greatest(lit(0.0), total * (lit(1.0) - penaltyPct / 100.0))

  // ---- validators (P4 / F16) ----------------------------------------------
  // pandas str.match anchors at the start only; the reference's patterns are
  // written with explicit ^...$ or are prefix checks — mirrored exactly.

  def validAirlineKey(c: Column): Column   = c.rlike("^[A-Z0-9]{2,3}$")
  def validAirlineName(c: Column): Column  = c.rlike("^[A-Za-z0-9\\s\\.\\-\\&]+$")
  def validFlightKey(c: Column): Column    = c.rlike("^[A-Za-z0-9]{2}[0-9]+$")
  def validIata(c: Column): Column         = c.rlike("^[A-Za-z]{3}$")
  def validFullName(c: Column): Column     = c.rlike("^[A-Za-z]+(?:\\s+[A-Za-z]+)+$")
  def validEmail(c: Column): Column        = c.rlike("^[a-z0-9]+(?:[._][a-z0-9]+)*@example\\.com$")
  def validTransactionId(c: Column): Column = c.rlike("^4[0-9]{4}$")
  def validPassengerId(c: Column): Column  = c.rlike("^P[0-8][0-9]{4}$")
  def validFlightId(c: Column): Column     = c.rlike("^[A-Z]{1,2}[0-9]{1,5}$")

  /** P10 — numeric range validation (functions.py:339-349). */
  def inRange(c: Column, min: Double, max: Double): Column = c.between(min, max)

  /** P11 — row completeness: all required columns present and non-blank
    * (functions.py:328-336). Returns (is_complete, missing-list). */
  def isComplete(cols: Seq[Column]): Column =
    cols.map(c => c.isNotNull && length(trim(c.cast(StringType))) > 0)
      .reduce(_ && _)
  def missingFields(cols: Map[String, Column]): Column = {
    val pairs = cols.toSeq.map { case (n, c) =>
      when(c.isNull || length(trim(c.cast(StringType))) === 0, lit(n))
        .otherwise(lit(null).cast(StringType))
    }
    filter(array(pairs: _*), x => x.isNotNull)
  }
}
