package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._

import graft.functions.{CleanFunctions => CF, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.FuzzyJoin

/** SQL surface for the scalar library (SURVEY.md §2.11): every F-row
  * combinator is a named function, so the whole library is callable from
  * `spark.sql("...")` as well as the DataFrame API.
  *
  * [[table]] is the one list of functions. Each builder maps the call's
  * arguments to the SAME Catalyst expression tree the Column API builds
  * (codegen'd, optimizer-visible), not a UDF. It reaches a session either
  * way:
  *   GraftFunctions.registerAll(spark)   // temp functions, this session
  *   .config("spark.sql.extensions", classOf[GraftExtensions].getName)
  *                                       // every session of the builder
  */
object GraftFunctions {

  private def fn(name: String)(f: Seq[Column] => Column): (String, Seq[Column] => Column) =
    name -> f

  val table: Seq[(String, Seq[Column] => Column)] = Seq(
    // strings / cleaning
    fn("graft_normalize_ws")     { a => CF.normalizeWhitespace(a.head) },
    fn("graft_normalize_unicode") { a => CF.normalizeUnicode(a.head) },
    fn("graft_title_case")       { a => CF.titleCase(a.head) },
    fn("graft_capitalize_first") { a => CF.capitalizeFirst(a.head) },
    fn("graft_strip_non_alpha")  { a => CF.stripNonAlpha(a.head) },
    fn("graft_clean_money")      { a => CF.cleanMoney(a.head) },
    fn("graft_is_digits")        { a => CF.isDigits(a.head) },
    fn("graft_alnum_prefix")     { a => CF.alnumPrefix(a.head) },
    fn("graft_strip_key_from_email") { a => CF.stripKeyFromEmail(a(0), a(1)) },
    fn("graft_first_name")       { a => CF.firstName(a.head) },
    fn("graft_last_name")        { a => CF.lastName(a.head) },
    // PII / keys
    fn("graft_mask_email")       { a => CF.maskEmail(a.head) },
    fn("graft_mask_phone")       { a => CF.maskPhone(a.head) },
    fn("graft_mask_address")     { a => CF.maskAddress(a.head) },
    fn("graft_md5_key")          { a => CF.md5Key(a: _*) },
    // dates
    fn("graft_parse_date")       { a => CF.parseDateMulti(a.head) },
    fn("graft_iso_date")         { a => CF.toIsoDate(a.head) },
    fn("graft_age_years")        { a => CF.ageYears(a(0), a(1)) },
    fn("graft_ranges_overlap")   { a => CF.rangesOverlap(a(0), a(1), a(2), a(3)) },
    fn("graft_duration_hours")   { a => CF.durationHours(a(0), a(1)) },
    fn("graft_delay_minutes")    { a => CF.delayMinutes(a(0), a(1)) },
    // math / geo / money
    fn("graft_haversine_km")     { a => CF.haversineKm(a(0), a(1), a(2), a(3)) },
    fn("graft_convert_currency") { a => CF.convertCurrency(a(0), a(1), a(2)) },
    fn("graft_reconcile")        { a => CF.amountsReconcile(a(0), a(1), a(2), a(3)) },
    fn("graft_refund")           { a => CF.refundAmount(a(0), a(1)) },
    // fuzzy
    fn("graft_similarity_ratio") { a => FuzzyJoin.similarityRatio(a(0), a(1)) },
    fn("graft_token_sort_ratio") { a => FuzzyJoin.tokenSortRatio(a(0), a(1)) },
    // text analysis
    fn("graft_tokens")           { a => TF.tokens(a.head) },
    fn("graft_token_count")      { a => TF.tokenCount(a.head) },
    fn("graft_bpe_token_count")  { a => TF.bpeTokenCount(a.head) },
    fn("graft_lang_id")          { a => TF.langId(a.head) },
    fn("graft_quality_score")    { a => TF.qualityScore(a.head) },
    fn("graft_fingerprint")      { a => TF.fingerprint(a.head) },
    fn("graft_content_key")      { a => TF.contentKey(a.head) },
    // vectors
    fn("graft_dot")              { a => VF.dot(a(0), a(1)) },
    fn("graft_norm2")            { a => VF.norm2(a.head) },
    fn("graft_cosine")           { a => VF.cosine(a(0), a(1)) },
    fn("graft_normalize_vec")    { a => VF.normalize(a.head) },
    // sketches / dedup / selection (int parameters must be literals —
    // they size the expression tree itself)
    fn("graft_char_shingles")    { a => TF.charShingles(a(0), litInt(a(1), "shingle size")) },
    fn("graft_word_shingles")    { a => TF.wordShingles(a(0), litInt(a(1), "n")) },
    fn("graft_minhash_sig")      { a => graft.operators.TextDedup.minHashSignature(a(0), litInt(a(1), "numHashes")) },
    // null (not NaN / a padded misestimate) on empty or length-mismatched
    // signatures — zip_with would silently null-pad the shorter array and
    // size 0 would divide to NaN
    fn("graft_est_jaccard")      { a =>
      when(size(a(0)) > 0 && size(a(0)) === size(a(1)),
        size(filter(zip_with(a(0), a(1), (x, y) => x === y), b => b))
          .cast("double") / size(a(0))) },
    fn("graft_bpe_tokens")       { a => TF.bpeTokens(a.head, TF.DemoMerges) },
    fn("graft_bucket16")         { a => graft.operators.Split.bucket16(a.head) },
    fn("graft_bucket65536")      { a => graft.operators.Split.bucket65536(a.head) },
    fn("graft_dsir_bucket")      { a => graft.operators.Dsir.bucketOf(a(0), litInt(a(1), "nBuckets")) }
  )

  /** The Catalyst builder behind a [[table]] entry. */
  private[plans] def builder(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => ExpressionUtils.expression(f(exprs.map(ExpressionUtils.column)))

  /** Registers, as temp functions of `spark`, the [[table]] functions it
    * does not resolve yet: a graft-built session already holds them all
    * (see [[GraftExtensions]]), and a repeated call replaces nothing. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (name, f) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder(f), "scala_udf")
    }
  }

  /** Extract a literal INT argument — the parameter sizes the expression
    * tree (number of hashes, shingle width), so it cannot be a runtime
    * column. */
  private def litInt(c: Column, what: String): Int =
    ExpressionUtils.expression(c) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an INT literal, got $other")
    }
}

/** Session-extensions hook (`spark.sql.extensions=graft.plans.GraftExtensions`):
  * injects every [[GraftFunctions.table]] function at session build time,
  * so it resolves in every session of the builder, `newSession()`s and
  * pure SQL included. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, f) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), GraftFunctions.builder(f)))
    }
}
