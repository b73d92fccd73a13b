package graft

/** Smoke entry: mirrors the driver's t1 check — SparkEntry.entry on
  * sf0.001 must return rows. Usage: runMain graft.Smoke */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, "graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows=$n reasons:")
    df.groupBy("reason").count().show(false)
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
