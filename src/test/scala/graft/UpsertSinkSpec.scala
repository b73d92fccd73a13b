package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.UpsertSink

/** `UpsertSink.upsert` drops existing rows by an anti-join on the incoming
  * KEY SET. These cases hold it to the formulation it replaced, which
  * anti-joined on the windowed per-key latest rows, as multisets. */
class UpsertSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{jobsOf, multiset}

  /** The anti-join-on-latest formulation, kept as the reference. */
  private def upsertOnLatest(existing: DataFrame, incoming: DataFrame,
                             keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    val latest = incoming
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .select(existing.columns.map(col): _*)
    existing.join(latest, keys, "left_anti").unionByName(latest)
  }

  private def assertSame(existing: DataFrame, incoming: DataFrame,
                         keys: Seq[String], orderCol: String = "v"): Unit = {
    val got = multiset(UpsertSink.upsert(existing, incoming, keys, orderCol))
    val want = multiset(upsertOnLatest(existing, incoming, keys, orderCol))
    assert(got == want)
  }

  private type K = Option[String]
  private def single(rows: (K, String, Int)*) = rows.toDF("k", "x", "v")
  private def composite(rows: (K, Option[Int], String, Int)*) =
    rows.toDF("a", "b", "x", "v")

  test("single key with NULLs: null-keyed rows never replace each other") {
    assertSame(
      single((Some("a"), "e1", 0), (None, "e2", 0), (None, "e3", 0), (Some("b"), "e4", 0)),
      single((Some("a"), "i1", 1), (None, "i2", 1), (None, "i3", 2), (Some("c"), "i4", 1)),
      Seq("k"))
  }

  test("composite key with a NULL in either part") {
    assertSame(
      composite((Some("a"), Some(1), "e1", 0), (Some("a"), None, "e2", 0),
        (None, Some(1), "e3", 0), (None, None, "e4", 0), (Some("b"), Some(2), "e5", 0)),
      composite((Some("a"), Some(1), "i1", 1), (Some("a"), None, "i2", 1),
        (None, Some(1), "i3", 1), (None, None, "i4", 1), (Some("b"), Some(3), "i5", 1)),
      Seq("a", "b"))
  }

  test("duplicate existing keys, with and without incoming rows for them") {
    assertSame(
      single((Some("a"), "e1", 0), (Some("a"), "e2", 0), (Some("b"), "e3", 0),
        (Some("b"), "e4", 0), (Some("c"), "e5", 0)),
      single((Some("a"), "i1", 1), (Some("c"), "i2", 1)),
      Seq("k"))
  }

  test("existing without the order column (q43's shape)") {
    val existing = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "bal")
    val incoming = Seq(("b", 20.0, 1), ("b", 21.0, 2), ("d", 40.0, 1))
      .toDF("k", "bal", "v")
    assertSame(existing, incoming, Seq("k"))
    assert(UpsertSink.upsert(existing, incoming, Seq("k"), "v").columns.toSeq ==
      Seq("k", "bal"))
  }

  test("empty existing and empty incoming") {
    val some = single((Some("a"), "r1", 1), (Some("b"), "r2", 1), (None, "r3", 1))
    val none = some.limit(0)
    assertSame(none, some, Seq("k"))
    assertSame(some, none, Seq("k"))
    assertSame(none, none, Seq("k"))
  }

  test("several versions per key: the highest order wins") {
    val incoming = single(
      (Some("a"), "a1", 1), (Some("a"), "a3", 3), (Some("a"), "a2", 2),
      (Some("b"), "b2", 2), (Some("b"), "b1", 1), (None, "n1", 1), (None, "n2", 2))
    val existing = single((Some("a"), "e1", 0), (Some("z"), "e2", 0))
    assertSame(existing, incoming, Seq("k"))
    val got = UpsertSink.upsert(existing, incoming, Seq("k"), "v")
      .filter(col("k").isNotNull).orderBy("k").as[(String, String, Int)].collect().toSeq
    assert(got == Seq(("a", "a3", 3), ("b", "b2", 2), ("z", "e2", 0)))
  }

  test("an upsert of two parquet tables and its write run in 3 Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_jobs")
    def stored(name: String, df: DataFrame): DataFrame = {
      val p = dir.resolve(name).toString
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val existing = stored("existing", (1 to 200).map(i => (s"k$i", s"e$i", 0))
      .toDF("k", "x", "v"))
    val incoming = stored("incoming", (150 to 260).flatMap(i =>
      Seq((s"k$i", s"i$i", 1), (s"k$i", s"j$i", 2))).toDF("k", "x", "v"))
    val out = dir.resolve("out").toString
    val (_, jobs) = jobsOf(UpsertSink.upsert(existing, incoming, Seq("k"), "v")
      .write.mode("overwrite").parquet(out))
    // the window's shuffle, the key set's broadcast and the write; the
    // anti-join on the windowed rows launched 4
    val launched = jobs.size
    assert(launched == 3, s"jobs launched by upsert + write: ${jobs.mkString("\n---\n")}")
    assert(spark.read.parquet(out).count() == 260)
    assert(spark.read.parquet(out).filter(col("k") === "k200").as[(String, String, Int)]
      .collect().toSeq == Seq(("k200", "j200", 2)))
  }

  test("keys from a nondeterministic expression are rejected on entry, with no job") {
    val existing = single((Some("a"), "e1", 0))
    // not a local relation: the optimizer would evaluate a projection over
    // one once, at planning
    val base = spark.range(2).select(
      when(col("id") === 0, "a").otherwise("b").as("k"), lit("x").as("x"), lit(1).as("v"))
    for ((what, key) <- Seq(
        "rand()" -> (rand(7) * 10).cast("int").cast("string"),
        "monotonically_increasing_id()" -> monotonically_increasing_id().cast("string"))) {
      val incoming = base.withColumn("k", key)
      val (ex, jobs) = jobsOf(intercept[IllegalArgumentException](
        UpsertSink.upsert(existing, incoming, Seq("k"), "v")))
      assert(ex.getMessage.contains(what.takeWhile(_ != '(')), s"$what: ${ex.getMessage}")
      assert(jobs.isEmpty, s"$what: the check launched ${jobs.size} jobs")
    }
    // a nondeterministic column outside the keys is pruned from the key
    // projection: allowed
    val tagged = base.withColumn("noise", rand(7))
    assert(UpsertSink.upsert(existing, tagged, Seq("k"), "v").count() == 2)
  }
}
