package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Eval, FfillRepair}
import graft.plans.RangeBucketExpr

/** Job counts and plan shape of the prefix-scan callers. The counts
  * cover building the frame (the scan's pinned planning pass runs
  * eagerly) and collecting it. */
class PrefixScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsOf

  private def scored =
    (0 until 200).map(i => ((i * 37 % 23) / 4.0, i % 3 == 0)).toDF("score", "y")

  test("q141's precision/recall sweep runs one prefix-scan planning pass") {
    val (_, jobs) = jobsOf(Eval.prCurve(scored, col("score"), col("y")).collect())
    // its two running sums, as two chained scans, launched 20
    assert(jobs.size == PrCurveJobs, s"${jobs.size} jobs:\n" + jobs.mkString("\n---\n"))
    val (_, aucJobs) = jobsOf(Eval.auc(scored, col("score"), col("y")).collect())
    assert(aucJobs.size == AucJobs, s"${aucJobs.size} jobs:\n" + aucJobs.mkString("\n---\n"))

    // q141 is prCurve over a pinned scored frame (a leaf of the plan):
    // every range_bucket it holds comes from the sweep itself
    val plan = Eval.prCurve(scored, col("score"), col("y")).queryExecution.optimizedPlan
    val buckets = plan.flatMap(_.expressions.flatMap(
      _.collect { case b: RangeBucketExpr => b }))
    assert(buckets.size == 1, plan)
  }

  test("repairIds keeps its job count") {
    val df = (0L until 100L).map(i => (i, if (i % 7 == 3) "x" else (40000 + i).toString))
      .toDF("_ingest_id", "id")
    val (_, jobs) = jobsOf(FfillRepair.repairIds(df, "id", "_ingest_id").collect())
    assert(jobs.size == RepairIdsJobs, s"${jobs.size} jobs:\n" + jobs.mkString("\n---\n"))
  }

  private val PrCurveJobs = 12
  private val AucJobs = 11
  private val RepairIdsJobs = 8
}
