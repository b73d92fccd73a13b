package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftFunctions

class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("scalar library is callable from SQL after registration") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("""
      SELECT graft_title_case('  american   AIRLINES ') AS t,
             graft_clean_money('$1,540.00') AS m,
             graft_iso_date(graft_parse_date('20-Jan-23')) AS d,
             graft_similarity_ratio('ABCDE', 'ABCDF') AS s,
             graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c,
             graft_lang_id('the cat and the dog is in a house') AS l,
             graft_mask_email('alice.smith@example.com') AS e
    """).head
    assert(r.getString(0) == "American Airlines")
    assert(r.getDouble(1) == 1540.0)
    assert(r.getString(2) == "2023-01-20")
    assert(r.getDouble(3) == 80.0)
    assert(r.getDouble(4) == 0.0)
    assert(r.getString(5) == "en")
    assert(r.getString(6) == "al***@example.com")
  }

  test("est_jaccard yields NULL (not NaN / padded estimate) on empty or mismatched signatures") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("""
      SELECT graft_est_jaccard(array(1L, 2L), array(1L, 3L)) AS ok,
             graft_est_jaccard(CAST(array() AS ARRAY<BIGINT>),
                               CAST(array() AS ARRAY<BIGINT>)) AS empty,
             graft_est_jaccard(array(1L, 2L), array(1L, 2L, 3L)) AS mismatched
    """).head
    assert(r.getDouble(0) == 0.5)
    assert(r.isNullAt(1), "empty signatures must yield NULL, not NaN")
    assert(r.isNullAt(2),
      "length-mismatched signatures must yield NULL, not a zip-padded estimate")
  }

  test("registered functions are expression trees, not UDF black boxes") {
    GraftFunctions.registerAll(spark)
    val plan = spark.sql("SELECT graft_clean_money('$5.00')").queryExecution.optimizedPlan
    // constant-folded by Catalyst → proof the optimizer sees through it
    assert(plan.toString.contains("5.0"))
  }
}
