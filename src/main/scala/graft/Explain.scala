package graft

/** Plan-audit tool: prints the formatted physical plan of selected
  * queries so pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * broadcast-vs-shuffle join choices, and WholeStageCodegen spans can be
  * inspected and iterated on.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  * With no names, explains every registered query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = GraftSession.local(4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain] $name failed: $e") }
      }
    spark.stop()
  }
}
