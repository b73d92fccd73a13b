package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in [[Queries]]; each is paired with its DuckDB oracle SQL.
  */
object SparkEntry {

  /** Flagship query (M10 eligibility) on /root/testdata/sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_eligibility")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * applies [[GraftSession.attach]] first, so a session built outside
    * graft still runs under the session contract. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name ->
      ((s: SparkSession, dir: String) => q.fn(GraftSession.attach(s), dir))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
