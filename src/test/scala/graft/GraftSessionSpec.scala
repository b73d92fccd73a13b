package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftFunctions

/** The session contract a library user gets from GraftSession. Every main
  * (Bench, Verify, Smoke, Explain, PhaseProf, ScaleStress) and this
  * suite's shared session ([[TestSpark]], built by `GraftSession.local`)
  * start from `GraftSession.builder()`, so the cases below check both the
  * builder-time half of the contract on the shared session and `attach`,
  * the path for a session built outside graft. */
class GraftSessionSpec extends AnyFunSuite {

  test("attach applies the runtime contract and registers the functions") {
    val s = GraftSession.attach(TestSpark.spark)
    assert(s.conf.get("spark.sql.ansi.enabled") == "false")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // the full registry is live in SQL, including the round-4 additions
    assert(s.sql("SELECT graft_title_case('  gold  STAR ')").head.getString(0)
      == "Gold Star")
    assert(s.sql("SELECT graft_normalize_unicode('a\u200Bb')").head.getString(0)
      == "ab")
  }

  test("the shared session carries the builder-time contract") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  /** One SQL argument list per function of [[GraftFunctions.table]]. */
  private val probeArgs: Map[String, String] = {
    val text = "'the cat sat on the mat'"
    val ts = "TIMESTAMP'2023-01-01 00:00:00', TIMESTAMP'2023-01-01 02:30:00'"
    val vec = "array(3.0D, 4.0D)"
    Map(
      "graft_normalize_ws" -> "'  a   b '",
      "graft_normalize_unicode" -> "'a b'",
      "graft_title_case" -> "'gold star'",
      "graft_capitalize_first" -> "'gold'",
      "graft_strip_non_alpha" -> "'a1-b'",
      "graft_clean_money" -> "'$1,540.00'",
      "graft_is_digits" -> "'123'",
      "graft_alnum_prefix" -> "'ab12-x'",
      "graft_strip_key_from_email" -> "'ann12@x.com', '12'",
      "graft_first_name" -> "'Ann Lee'",
      "graft_last_name" -> "'Ann Lee'",
      "graft_mask_email" -> "'alice@example.com'",
      "graft_mask_phone" -> "'555-123-4567'",
      "graft_mask_address" -> "'1 Main St'",
      "graft_md5_key" -> "'a', 1",
      "graft_parse_date" -> "'20-Jan-23'",
      "graft_iso_date" -> "DATE'2023-01-20'",
      "graft_age_years" -> "DATE'2000-01-01', DATE'2023-01-01'",
      "graft_ranges_overlap" -> "1, 3, 2, 4",
      "graft_duration_hours" -> ts,
      "graft_delay_minutes" -> ts,
      "graft_haversine_km" -> "0.0D, 0.0D, 1.0D, 1.0D",
      "graft_convert_currency" -> "10.0D, 'USD', 'EUR'",
      "graft_reconcile" -> "1.0D, 0.5D, 0.5D, 2.0D",
      "graft_refund" -> "100.0D, 10.0D",
      "graft_similarity_ratio" -> "'ABCDE', 'ABCDF'",
      "graft_token_sort_ratio" -> "'a b', 'b a'",
      "graft_tokens" -> text,
      "graft_token_count" -> text,
      "graft_bpe_token_count" -> text,
      "graft_lang_id" -> text,
      "graft_quality_score" -> text,
      "graft_fingerprint" -> text,
      "graft_content_key" -> text,
      "graft_dot" -> s"$vec, $vec",
      "graft_norm2" -> vec,
      "graft_cosine" -> s"$vec, $vec",
      "graft_normalize_vec" -> vec,
      "graft_char_shingles" -> s"$text, 5",
      "graft_word_shingles" -> s"$text, 2",
      "graft_minhash_sig" -> "array('ab', 'bc'), 4",
      "graft_est_jaccard" -> "array(1L, 2L), array(1L, 3L)",
      "graft_bpe_tokens" -> "'the then'",
      "graft_bucket16" -> "7",
      "graft_bucket65536" -> "CAST(42 AS BIGINT)",
      "graft_dsir_bucket" -> "'ab', 16")
  }

  test("every graft function resolves in a newSession of the graft-built session") {
    val names = GraftFunctions.table.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    assert(probeArgs.keySet == names.toSet,
      "probeArgs must hold exactly one argument list per table function")
    // a fresh session holds no temp functions: only the extensions'
    // injections can resolve these
    val fresh = TestSpark.spark.newSession()
    names.foreach(name => fresh.sql(s"SELECT $name(${probeArgs(name)})").collect())
    assert(fresh.sql(s"SELECT graft_lang_id(${probeArgs("graft_lang_id")})")
      .head.getString(0) == "en")
  }

  test("no source file outside GraftSession.scala calls the session builder") {
    // built from two parts so this file does not match itself
    val needle = "SparkSession" + ".builder()"
    val roots = Seq("src/main/scala", "src/test/scala").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r),
      s"$r is missing: run the suite from the project root"))
    import scala.jdk.CollectionConverters._
    val hits = roots.flatMap { r =>
      val files = java.nio.file.Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "GraftSession.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty,
      s"build sessions through GraftSession.local/builder, not: ${hits.mkString(", ")}")
  }

  test("sketch/selection family is callable from pure SQL") {
    val s = GraftSession.attach(TestSpark.spark)
    // identical texts -> identical 32-hash signatures -> est jaccard 1.0
    val est = s.sql(
      """SELECT graft_est_jaccard(
        |  graft_minhash_sig(graft_char_shingles('the same doc text', 9), 32),
        |  graft_minhash_sig(graft_char_shingles('the same doc text', 9), 32))
        |""".stripMargin).head.getDouble(0)
    assert(est == 1.0)
    // SQL and Column API build the SAME expression => same bits
    import org.apache.spark.sql.functions._
    val sqlBucket = s.sql("SELECT graft_bucket65536(CAST(42 AS BIGINT))")
      .head.getLong(0)
    import s.implicits._
    val apiBucket = Seq(42L).toDF("id")
      .select(graft.operators.Split.bucket65536(col("id"))).head.getLong(0)
    assert(sqlBucket == apiBucket)
    assert(s.sql("SELECT graft_bucket16(7)").head.getLong(0) ==
      s.sql("SELECT graft_bucket16(7)").head.getLong(0))
    // the real BPE tokenizer from SQL (DemoMerges table)
    val toks = s.sql("SELECT graft_bpe_tokens('the then')")
      .head.getSeq[String](0)
    assert(toks.nonEmpty && toks.mkString("") == "thethen")
    // non-literal int parameter fails loudly, not silently
    val err = intercept[Exception] {
      s.sql("SELECT graft_minhash_sig(graft_char_shingles('x', 3), id)" +
        " FROM range(1)").collect()
    }
    assert(err.getMessage.contains("literal"))
  }
}
