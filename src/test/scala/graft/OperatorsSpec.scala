package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("W1 keepFirst keeps the first row per key by ingest order") {
    val df = Seq((0L, "A", "first"), (1L, "B", "b"), (2L, "A", "second"))
      .toDF("_ingest_id", "k", "v")
    val got = Dedup.keepFirst(df, Seq("k"), "_ingest_id")
      .orderBy("k").select("v").as[String].collect.toSeq
    assert(got == Seq("first", "b"))
  }

  test("A5 exactDedup drops later identical rows only") {
    val df = Seq((0L, "x", 1), (1L, "x", 1), (2L, "x", 2))
      .toDF("_ingest_id", "a", "b")
    assert(Dedup.exactDedup(df, "_ingest_id").count() == 2)
  }

  test("A4 duplicateKeys reports keys with count > 1") {
    val df = Seq("a", "a", "b", "c", "c", "c").toDF("k")
    val got = Dedup.duplicateKeys(df, Seq("k"))
      .orderBy("k").as[(String, Long)].collect.toSeq
    assert(got == Seq(("a", 2L), ("c", 3L)))
  }

  test("W2 ffill carries the last non-null forward in ingest order") {
    val df = Seq((0L, Some(1.0)), (1L, None), (2L, None), (3L, Some(4.0)), (4L, None))
      .toDF("_ingest_id", "v")
    val got = FfillRepair.ffill(df, "v", "_ingest_id")
      .orderBy("_ingest_id").select("v").as[Option[Double]].collect.toSeq
    assert(got == Seq(Some(1.0), Some(1.0), Some(1.0), Some(4.0), Some(4.0)))
  }

  test("W2 ffill carries a null order key's value forward (nulls sort first)") {
    val df = Seq((None, Some(7)), (Some(1L), None), (Some(2L), None)).toDF("k", "v")
    val got = FfillRepair.ffill(df, "v", "k")
      .orderBy(col("k").asc).as[(Option[Long], Option[Int])].collect().toSeq
    assert(got == Seq((None, Some(7)), (Some(1L), Some(7)), (Some(2L), Some(7))))
  }

  test("W3 repairIds: consecutive bad ids get the SAME repaired id (reference quirk)") {
    val df = Seq((0L, "40001"), (1L, "4AN"), (2L, "4GW"), (3L, "40005"), (4L, "xx"))
      .toDF("_ingest_id", "id")
    val got = FfillRepair.repairIds(df, "id", "_ingest_id")
      .orderBy("_ingest_id").select("id_repaired").as[Long].collect.toSeq
    // both consecutive bad rows repair to prev-numeric+1 = 40002 (NOT 40002,40003)
    assert(got == Seq(40001L, 40002L, 40002L, 40005L, 40006L))
  }

  test("W3 repairIds seeds leading bad rows") {
    val df = Seq((0L, "abc"), (1L, "50000")).toDF("_ingest_id", "id")
    val got = FfillRepair.repairIds(df, "id", "_ingest_id", seed = 40000L)
      .orderBy("_ingest_id").select("id_repaired").as[Long].collect.toSeq
    assert(got == Seq(40001L, 50000L))
  }

  test("J4 fuzzyFix repairs >=85 scores, keeps exact hits and low scores") {
    val dict = Seq("UNITED STATES", "CANADA", "GERMANY").toDF("name")
    val dirty = Seq("UNITED STATE", "CANADA", "XYZQW").toDF("v")
    val got = FuzzyJoin.fuzzyFix(dirty, "v", dict, "name")
      .orderBy("v").as[String].collect.toSeq.sorted
    assert(got.sorted == Seq("CANADA", "UNITED STATES", "XYZQW").sorted)
  }

  test("J4 similarityRatio formula") {
    val df = Seq(1).toDF("x")
    val r = df.select(FuzzyJoin.similarityRatio(lit("ABCDE"), lit("ABCDF")).as("r"))
      .head.getDouble(0)
    assert(r == 80.0) // lev 1 of max-len 5 → 100*(1-0.2)
  }

  test("J5 fixKeyPrefix repairs the 2-char airline prefix") {
    val airlines = Seq("AA", "DL", "UA").toDF("k")
    val flights = Seq((0L, "AA123"), (1L, "dl456"), (2L, "ZZ9"))
      .toDF("_ingest_id", "fk")
    val got = FuzzyJoin.fixKeyPrefix(flights, "fk", airlines, "k")
      .orderBy("_ingest_id").select("fk").as[String].collect.toSeq
    // AA exact; dl → upper DL exact; ZZ scores 0/50 vs dict → kept
    assert(got == Seq("AA123", "DL456", "ZZ9"))
  }

  test("M8 SCD2: unchanged kept, changed closed+reopened, new inserted") {
    val dim = Seq(
      (1L, 10.0, "2024-01-01", null.asInstanceOf[String], true),
      (2L, 20.0, "2024-01-01", null.asInstanceOf[String], true),
      (9L, 5.0, "2023-01-01", "2024-01-01", false) // history row
    ).toDF("id", "bal", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", to_date(col("valid_from")))
      .withColumn("valid_to", to_date(col("valid_to")))
    val staging = Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)).toDF("id", "bal")
    val next = Scd2(dim, staging, Scd2.Config(Seq("id"), Seq("bal")),
      to_date(lit("2024-06-01")))
    val rows = next.orderBy("id", "valid_from")
      .select(col("id"), col("bal"), date_format(col("valid_from"), "yyyy-MM-dd"),
        date_format(col("valid_to"), "yyyy-MM-dd"), col("is_current"))
      .as[(Long, Double, String, String, Boolean)].collect.toSeq
    assert(rows == Seq(
      (1L, 10.0, "2024-01-01", null, true),           // unchanged
      (2L, 20.0, "2024-01-01", "2024-06-01", false),  // closed
      (2L, 25.0, "2024-06-01", null, true),           // reopened
      (3L, 30.0, "2024-06-01", null, true),           // new
      (9L, 5.0, "2023-01-01", "2024-01-01", false)))  // history preserved
  }

  test("M10 eligibility reason codes cover all paths") {
    val flights = Seq(
      (100L, Some("2024-01-01 10:00:00"), Some("2024-01-01 12:00:00")), // 120 min → met
      (101L, Some("2024-01-01 10:00:00"), Some("2024-01-01 11:59:00")), // 119 → below
      (102L, Some("2024-01-01 10:00:00"), None)                          // missing
    ).toDF("flight_number", "s", "a")
      .select(col("flight_number"), to_timestamp(col("s")).as("sched"),
        to_timestamp(col("a")).as("act"))
    val requests = Seq(100L, 101L, 102L, 999L).toDF("flight_number")
    val got = Eligibility.check(requests, flights, "flight_number", "sched", "act")
      .orderBy("flight_number").select("reason").as[String].collect.toSeq
    assert(got == Seq("delay_threshold_met", "delay_below_threshold",
      "missing_time_data", "flight_not_found"))
  }

  test("W4 latestPerFlight keeps the most recent row per key") {
    val f = Seq((1L, "2024-01-01", "a"), (1L, "2024-02-01", "b"), (2L, "2024-01-15", "c"))
      .toDF("k", "ts", "v")
    val got = Eligibility.latestPerFlight(f, "k", "ts")
      .orderBy("k").select("v").as[String].collect.toSeq
    assert(got == Seq("b", "c"))
  }

  test("as-of join: latest right row at-or-before each left row per key") {
    val trades = Seq(
      ("A", 10L, 100.0), ("A", 20L, 110.0), ("A", 5L, 90.0),
      ("B", 15L, 50.0)).toDF("sym", "t", "price")
    val quotes = Seq(
      ("A", 10L, 99.0),   // equal time -> inclusive match for t=10
      ("A", 12L, 101.0),
      ("B", 99L, 42.0)    // after B's trade -> no match
    ).toDF("sym", "qt", "bid")
    val got = AsofJoin.backward(trades, quotes, Seq("sym"), "t", "qt")
      .orderBy("sym", "t")
      .select(col("sym"), col("t"), col("r_bid"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq(
      ("A", 5L, None),            // before any quote
      ("A", 10L, Some(99.0)),     // inclusive equal-time match
      ("A", 20L, Some(101.0)),    // latest of the two prior quotes
      ("B", 15L, None)))          // only later quotes exist
  }

  test("range join: bucketed interval join == naive between join") {
    val points = (0L to 300L by 7).map(v => (v, s"p$v")).toDF("v", "tag")
    val intervals = Seq((1L, 0L, 50L), (2L, 40L, 45L), (3L, 200L, 310L), (4L, 400L, 500L))
      .toDF("iid", "s", "e")
    val got = RangeJoin.intervalJoin(points, "v", intervals, "s", "e", bucketWidth = 32)
      .select("v", "iid").as[(Long, Long)].collect.toSet
    val naive = points.join(intervals, col("v").between(col("s"), col("e")))
      .select("v", "iid").as[(Long, Long)].collect.toSet
    assert(got == naive && got.nonEmpty)
  }

  test("approximate aggregates: HLL count-distinct and approx percentile " +
       "land within tolerance of exact") {
    val df = (1L to 20000L).map(i => (i % 997, i.toDouble)).toDF("k", "v")
    val exact = df.select(countDistinct(col("k"))).head.getLong(0)
    val approx = df.select(approx_count_distinct(col("k"), 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")

    val exactP50 = df.select(expr("percentile(v, 0.5)")).head.getDouble(0)
    val approxP50 = df.select(percentile_approx(col("v"), lit(0.5), lit(1000)))
      .head.getDouble(0)
    assert(math.abs(approxP50 - exactP50) / exactP50 < 0.02,
      s"approx p50 $approxP50 vs exact $exactP50")
  }

  test("J4 wRatio: fuzzywuzzy-parity accept/reject on the reference's repair domains") {
    // fixture shape = cleaning.py:427-434 (airport codes / airline keys /
    // airline names); expected decisions computed with fuzzywuzzy WRatio >= 85
    val cases = Seq(
      ("JFK", "JFK", true),                 // exact
      ("JFX", "JFK", false),                // 1-of-3 edit: 67, rejected
      ("JFK INTL", "JFK", true),            // code embedded in longer string: partial 90
      ("LHRX", "LHR", false),               // similar lengths, 75 < 85
      ("AB", "AA", false),                  // 2-char keys: 50
      ("star alliance", "alliance star", true),      // token sort 95
      ("delta air lines inc", "delta air lines", true), // token set 95
      ("  jfk ", "JFK", true),              // full_process trims + case-folds
      // partial_token_set: tokens shared but not contiguous in either
      // string — only the token-set + partial blend crosses 85 (0.95 x 0.9
      // x 100 = 85.5)
      ("lines delta", "delta air lines international", true),
      // lenRatio exactly 8 (2 vs 16 processed chars): fuzzywuzzy scales
      // 0.6 only when ratio > 8, so partial stays 100 x 0.9 = 90
      ("ab", "ab cdefghijklmno", true))
    val df = cases.toDF("a", "b", "expected")
      .withColumn("w", FuzzyJoin.wRatio(col("a"), col("b")))
    val bad = df.filter((col("w") >= 85.0) =!= col("expected")).collect()
    assert(bad.isEmpty, s"decision mismatches: ${bad.mkString(", ")}")

    // the simple ratio misses the substring case — wRatio is the fix
    val simple = Seq(("JFK INTL", "JFK")).toDF("a", "b")
      .select(FuzzyJoin.similarityRatio(upper(col("a")), upper(col("b"))))
      .head.getDouble(0)
    assert(simple < 85.0)

    // end to end: fuzzyFix with the WRatio scorer repairs the long form
    val dirty = Seq("JFK INTL", "LAX", "zzz").toDF("airport")
    val dict = Seq("JFK", "LAX", "LHR").toDF("code")
    val fixed = FuzzyJoin.fuzzyFix(dirty, "airport", dict, "code",
        scorer = FuzzyJoin.wRatio)
      .orderBy("airport").select("airport").as[String].collect.toSeq
    assert(fixed == Seq("JFK", "LAX", "zzz"))
  }

  test("M10 checkRaw: all six reason codes, string keys, JS-falsy parity") {
    val flights = Seq(
      ("100",   "2024-01-01 10:00:00", "2024-01-01 12:00:00"), // 120 → met
      ("101",   "2024-01-01 10:00:00", "2024-01-01 11:59:00"), // 119 → below
      ("102",   "2024-01-01 10:00:00", ""),                    // empty → missing
      ("103",   "2024-01-01 10:00:00", "garbage"),             // unparseable → invalid
      ("104",   " ",                   "2024-01-01 11:00:00"), // whitespace is JS-truthy → invalid
      ("AA105", "2024-01-01 10:00:00", "2024-01-01 13:00:00")  // alphanumeric key
    ).toDF("flight_number", "sched", "act")
    val requests = Seq(
      ("100", false), ("101", false), ("102", false), ("103", false),
      ("104", false), ("AA105", false), ("999", false),
      ("100", true) // lookup failure wins over everything
    ).toDF("flight_number", "db_err")
    val got = Eligibility.checkRaw(requests, flights, "flight_number",
        "sched", "act", dbErrorCol = Some("db_err"))
      .orderBy("flight_number", "db_err")
      .select("flight_number", "reason", "delay_minutes")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(got == Seq(
      ("100", "delay_threshold_met", Some(120L)),
      ("100", "db_query_error", None),
      ("101", "delay_below_threshold", Some(119L)),
      ("102", "missing_time_data", None),
      ("103", "invalid_time_format", None),
      ("104", "invalid_time_format", None),
      ("999", "flight_not_found", None),
      ("AA105", "delay_threshold_met", Some(180L))))
  }

  test("quantiles: exact == Spark's buffering percentile, approx within rank tolerance") {
    // duplicate-heavy values, uneven group sizes, a single-row group
    val rows = (1L to 5000L).map(i => ("g" + (i % 3), (i % 40).toDouble)) :+ (("solo", 7.0))
    val df = rows.toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val got = Quantiles.exact(df, Seq("g"), "v", ps)
      .orderBy("g").collect()
      .map(r => (r.getString(0), (1 to 4).map(r.getDouble))).toSeq
    val want = df.groupBy("g")
      .agg(expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"),
        expr("percentile(v, 0.9)"), expr("percentile(v, 0.99)"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), (1 to 4).map(r.getDouble))).toSeq
    got.zip(want).foreach { case ((g1, a), (g2, b)) =>
      assert(g1 == g2)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"group $g1: exact $x vs percentile $y") }
    }
    // sketch twin: p50 of each group within 1% rank error of exact
    val approx = Quantiles.approx(df, Seq("g"), "v", Seq(0.5), accuracy = 10000)
      .orderBy("g").collect().map(r => r.getDouble(1)).toSeq
    approx.zip(want.map(_._2(1))).foreach { case (a, e) =>
      assert(math.abs(a - e) <= 1.0, s"approx p50 $a vs exact $e") }
  }

  test("quantiles: NULL values are skipped, all-null groups still emit a row") {
    // group a: nulls interleaved with values — quantiles over {1,2,3} only;
    // group b: every value null — one output row with null quantiles
    // (quantile_cont / Spark percentile semantics)
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(2.0)),
        ("a", None), ("a", Some(3.0)), ("b", None), ("b", None))
      .toDF("g", "v")
    val got = Quantiles.exact(df, Seq("g"), "v", Seq(0.5, 1.0))
      .orderBy("g").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq(("a", Some(2.0), Some(3.0)), ("b", None, None)))
  }

  test("quantiles: global (no keys) matches percentile, via prefix-scan not a single-task window") {
    val df = ((1L to 5000L).map(i => (i % 40).toDouble) :+ 7.5).toDF("v")
    val ps = Seq(0.0, 0.1, 0.5, 0.99, 1.0)
    val got = Quantiles.exact(df, Nil, "v", ps).collect().head
    val want = df.agg(expr("percentile(v, array(0.0, 0.1, 0.5, 0.99, 1.0))"))
      .collect().head.getSeq[Double](0)
    ps.indices.foreach { i =>
      assert(math.abs(got.getDouble(i) - want(i)) < 1e-9,
        s"p=${ps(i)}: ${got.getDouble(i)} vs ${want(i)}") }
    // all-null input still emits one row of null quantiles
    val empty = Seq.empty[Option[Double]].toDF("v")
    val nulls = Quantiles.exact(empty, Nil, "v", Seq(0.5)).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
    // every Window in the plan belongs to the prefix-scan (partitioned by
    // its pid, or the config-bounded per-pid summary) — no window ever
    // sees the data-sized distinct-value stream unpartitioned
    val plan = Quantiles.exact(df, Nil, "v", Seq(0.5))
      .queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("_prefix_pid")), plan)
  }

  test("mixturePlan budgets tokens per source; applyMixture samples deterministically") {
    // source a: 4 docs x 100 tokens = 400; source b: 2 x 100 = 200;
    // source c is NOT in the target mix
    val docs = ((1L to 4L).map(i => (i, "a", 100L)) ++
      (5L to 6L).map(i => (i, "b", 100L)) :+ ((7L, "c", 100L)))
      .toDF("doc_id", "source", "ntok")
    val plan = Split.mixturePlan(docs, "source", col("ntok"),
      Map("a" -> 0.25, "b" -> 0.75), budget = 400L)
    val rows = plan.collect().map(r => r.getString(0) -> r).toMap
    // a: alloc 100 of 400 -> rate 0.25, keep 0.25, 1 epoch (downsample)
    assert(rows("a").getLong(1) == 4L && rows("a").getLong(2) == 400L)
    assert(rows("a").getLong(4) == 100L && rows("a").getDouble(5) == 0.25)
    assert(rows("a").getDouble(6) == 0.25 && rows("a").getLong(7) == 1L)
    // b: alloc 300 of 200 -> rate 1.5, keep capped at 1.0, 2 epochs
    assert(rows("b").getDouble(5) == 1.5 && rows("b").getDouble(6) == 1.0)
    assert(rows("b").getLong(7) == 2L)
    // c: not in the mix -> NULL plan, not silent zero
    assert(rows("c").isNullAt(3) && rows("c").isNullAt(5))

    val kept = Split.applyMixture(docs, "source", col("doc_id"), plan)
      .select("doc_id").as[Long].collect().toSet
    // b keeps everything (fraction 1.0); a keeps the md5-bucket subset —
    // exactly the rows hashSample(0.25) keeps; c is excluded entirely
    val aSample = Split.hashSample(docs.filter(col("source") === "a"),
      col("doc_id"), 0.25).select("doc_id").as[Long].collect().toSet
    assert(kept == aSample ++ Set(5L, 6L))
  }

  test("skew salting: salted join and salted sum are result-identical") {
    // 90% of rows share one hot key
    val large = (1L to 1000L).map(i => (if (i % 10 == 0) i % 7 else 0L, i))
      .toDF("k", "v")
    val small = (0L until 7L).map(i => (i, s"d$i")).toDF("k", "name")

    val plain = large.join(small, "k").orderBy("v")
      .select("k", "v", "name").collect().toSeq
    val salted = Skew.saltedJoin(large, small, "k", parts = 8).orderBy("v")
      .select("k", "v", "name").collect().toSeq
    assert(salted == plain)

    val plainSum = large.groupBy("k").agg(sum("v").as("sum"))
      .orderBy("k").collect().toSeq
    val saltedSum = Skew.saltedSum(large, "k", "v", parts = 8)
      .orderBy("k").collect().toSeq
    assert(saltedSum == plainSum)
  }

  test("sessionize: gap starts a new session, bounds and counts roll up") {
    // user 1: events at t=0s, 10s, 1000s (gap>60s -> new session), 1010s
    // user 2: single event
    val ev = Seq(
      (1L, 10L, 0L, 1.0), (1L, 11L, 10_000_000L, 2.0),
      (1L, 12L, 1000_000_000L, 4.0), (1L, 13L, 1010_000_000L, 8.0),
      (2L, 20L, 5_000_000L, 16.0))
      .toDF("user_id", "event_id", "tus", "value")
    val got = Sessionize.sessionStats(ev, "user_id", col("tus"),
        col("event_id"), gapMicros = 60_000_000L, valueCol = "value")
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "session_start", "session_end", "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect.toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 10_000_000L, 2L, 3.0),
      (1L, 1L, 1000_000_000L, 1010_000_000L, 2L, 12.0),
      (2L, 0L, 5_000_000L, 5_000_000L, 1L, 16.0)))
  }

  test("sessionize: equal timestamps break ties on the tie-break column") {
    val ev = Seq((1L, 2L, 100L, 1.0), (1L, 1L, 100L, 2.0))
      .toDF("user_id", "event_id", "tus", "value")
    // same instant -> same session regardless of order; one session of 2
    val got = Sessionize.sessionStats(ev, "user_id", col("tus"),
        col("event_id"), gapMicros = 1L, valueCol = "value")
      .select("n_events").as[Long].collect.toSeq
    assert(got == Seq(2L))
  }

  test("auc: hand-computed Mann-Whitney with ties, distributed == formula") {
    import graft.operators.Eval
    // scores: pos {0.9, 0.7, 0.5}, neg {0.7, 0.3, 0.1} — one tied pair
    // at 0.7. Ranks (avg for ties): 0.1->1, 0.3->2, 0.5->3, 0.7->4.5
    // (x2), 0.9->6. R_pos = 6 + 4.5 + 3 = 13.5;
    // AUC = (13.5 - 3*4/2) / (3*3) = 7.5/9 = 0.833333
    val df = Seq((0.9, true), (0.7, true), (0.5, true),
      (0.7, false), (0.3, false), (0.1, false))
      .toDF("s", "y").repartition(4)
    val r = Eval.auc(df, col("s"), col("y"))
      .as[(Long, Long, Double)].head()
    assert(r == ((3L, 3L, 0.833333)))
    // perfect separation -> 1.0; reversed -> 0.0
    val sep = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("s", "y")
    assert(Eval.auc(sep, col("s"), col("y"))
      .as[(Long, Long, Double)].head() == ((2L, 2L, 1.0)))
    assert(Eval.auc(sep, col("s"), !col("y"))
      .as[(Long, Long, Double)].head() == ((2L, 2L, 0.0)))
    // all-tied scores -> 0.5 exactly (pure average-rank case)
    val flat = Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))
      .toDF("s", "y")
    assert(Eval.auc(flat, col("s"), col("y"))
      .as[(Long, Long, Double)].head() == ((2L, 2L, 0.5)))
  }

  test("prCurve: hand-computed sweep, tie handling, all-negative guard") {
    import graft.operators.Eval
    // the auc fixture: pos {0.9, 0.7, 0.5}, neg {0.7, 0.3, 0.1}
    val df = Seq((0.9, true), (0.7, true), (0.5, true),
      (0.7, false), (0.3, false), (0.1, false))
      .toDF("s", "y").repartition(4)
    val out = Eval.prCurve(df, col("s"), col("y"))
      .as[(Double, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0.1, 6L, 3L, 0.5, 1.0, 0.666667),
      (0.3, 5L, 3L, 0.6, 1.0, 0.75),
      (0.5, 4L, 3L, 0.75, 1.0, 0.857143),
      (0.7, 3L, 2L, 0.666667, 0.666667, 0.666667),  // tie: both 0.7s kept
      (0.9, 1L, 1L, 1.0, 0.333333, 0.5)))
    // all-negative input: precision/recall/f1 are 0, never NaN
    val neg = Seq((0.5, false), (0.3, false)).toDF("s", "y")
    val outN = Eval.prCurve(neg, col("s"), col("y"))
      .as[(Double, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(outN == Seq((0.3, 2L, 0L, 0.0, 0.0, 0.0),
      (0.5, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("calibration: hand-computed reliability bins, clamp and degenerate edges") {
    import graft.operators.Eval
    // range [0.0, 1.0], 4 bins of width 0.25. 0.1,0.2 -> bin 0;
    // 0.3 -> bin 1; 0.6 -> bin 2; 0.9, 1.0 -> bin 3 (the max score
    // lands exactly on bins*width and must CLAMP to the last bin,
    // not fall off the table)
    val df = Seq((0.0, false), (0.1, false), (0.2, true), (0.3, false),
      (0.6, true), (0.9, true), (1.0, true))
      .toDF("s", "y").repartition(3)
    val out = Eval.calibration(df, col("s"), col("y"), bins = 4)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (0L, 3L, 0.1, 0.333333),       // mean(0.0,0.1,0.2) pos 1/3
      (1L, 1L, 0.3, 0.0),
      (2L, 1L, 0.6, 1.0),
      (3L, 2L, 0.95, 1.0)))
    // all-identical scores collapse to bin 0, not a divide-by-zero
    val flat = Seq((0.5, true), (0.5, false)).toDF("s", "y")
    assert(Eval.calibration(flat, col("s"), col("y"), bins = 10)
      .as[(Long, Long, Double, Double)].collect().toSeq ==
      Seq((0L, 2L, 0.5, 0.5)))
  }

  test("semanticScreen flags planted contamination, threshold excludes the rest") {
    import graft.operators.Similarity
    // 4-dim corpus: two tight direction clusters + one orthogonal row
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.04, 0.0, 0.0)),   // near-dup of 1 (cos ~0.9992)
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (4L, Seq(0.0, 0.0, 1.0, 0.0))
    ).toDF("id", "v")
    // bench: an exact copy of 1 and an exact copy of 3 (shifted ids)
    val bench = Seq(
      (101L, Seq(1.0, 0.0, 0.0, 0.0)),
      (103L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("id", "v")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0))
    val hits = Similarity.semanticScreen(bench, corpus, "id", "v", cents,
        threshold = 0.99, nprobe = 1)
      .select("bench_id", "corpus_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // 101 hits its exact copy 1 AND the near-dup 2; 103 hits 3 only;
    // the orthogonal row and cross-cluster pairs never clear 0.99
    assert(hits == Set((101L, 1L, 1.0), (101L, 2L, 0.999199), (103L, 3L, 1.0)))
    // tightening the threshold drops the near-dup, keeps exact copies
    val strict = Similarity.semanticScreen(bench, corpus, "id", "v", cents,
        threshold = 0.9999, nprobe = 1)
      .select("corpus_id").as[Long].collect().toSet
    assert(strict == Set(1L, 3L))
  }

  test("retrievalMetrics: hand-computed MRR/nDCG incl. empty and zero-universe edges") {
    import graft.operators.Eval
    // k=3 discounts: D(1)=1e6, D(2)=round(1e6/log2 3)=630930, D(3)=5e5
    val d = Eval.ndcgDiscountsMicro(3)
    assert(d == Seq(1000000L, 630930L, 500000L))
    val ranked = Seq(
      ("A", 1, false), ("A", 2, true), ("A", 3, true), // first rel at 2
      ("B", 1, false), ("B", 2, false),                // nothing relevant
      ("C", 1, true),                                  // perfect single
      ("D", 1, true)                                   // zero universe
    ).toDF("q", "rank", "rel")
    val uni = Seq(("A", 5L), ("B", 4L), ("C", 1L), ("D", 0L)).toDF("q", "n_rel")
    val got = Eval.retrievalMetrics(ranked, "q", "rank", "rel", uni, k = 3)
      .as[(String, Double, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val dcgA = d(1) + d(2); val idcgA = d.sum // least(5,3)=3 positions
    val ndcgA = BigDecimal(dcgA.toDouble / idcgA)
      .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(got("A") == ((0.5, dcgA, idcgA, ndcgA)))
    assert(got("B") == ((0.0, 0L, d(0) + d(1) + d(2), 0.0)))
    assert(got("C") == ((1.0, d(0), d(0), 1.0)))
    assert(got("D") == ((1.0, d(0), 0L, 0.0))) // rel hit but empty ideal -> 0
  }

  test("mmrRerank trades relevance for diversity at the greedy boundary") {
    import graft.operators.Similarity
    // cell-1 geometry around query q=(1,0,0,0): a and a' are a
    // near-duplicate pair hugging the query direction (cos(a,a') =
    // cos 1 deg); b is slightly less relevant but directionally
    // distinct. At lambda=1/2 the round-2 scores are
    //   a': (rel_a' - sim(a,a'))/2 = (0.994522 - 0.999848)/2 < 0
    //   b : (rel_b  - sim(a,b ))/2 = (0.930000 - 0.926461)/2 > 0
    // so MMR must pick b second even though pure relevance ranks a'
    // second — the defining behavior of the operator.
    val vecs = Seq(
      (1L, Seq(0.996195, 0.087156, 0.0, 0.0)),  // a  (cos 5 deg)
      (2L, Seq(0.994522, 0.104528, 0.0, 0.0)),  // a' (cos 6 deg)
      (3L, Seq(0.93, 0.0, 0.36756, 0.0)),       // b  (distinct direction)
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),           // q
      (20L, Seq(0.0, 0.0, 0.0, 1.0)),           // second-cell filler
      (21L, Seq(0.01, 0.0, 0.0, 0.9999))
    ).toDF("id", "v")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))
    val got = Similarity.mmrRerank(vecs, "id", "v", cents,
        fetch = 8, select = 3, nprobe = 1, lamNumer = 1, lamDenom = 2)
      .filter(col("query_id") === 10L)
      .select("neighbor_id", "mmr_rank").as[(Long, Int)].collect()
      .sortBy(_._2)
    assert(got.map(_._1).take(2).toSeq == Seq(1L, 3L),
      s"expected a then b, got ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(1, 2, 3))
    // contrast: pure relevance (lambda=1) keeps the near-dup second
    val rel = Similarity.mmrRerank(vecs, "id", "v", cents,
        fetch = 8, select = 2, nprobe = 1, lamNumer = 1, lamDenom = 1)
      .filter(col("query_id") === 10L)
      .select("neighbor_id", "mmr_rank").as[(Long, Int)].collect()
      .sortBy(_._2).map(_._1).toSeq
    assert(rel == Seq(1L, 2L), s"pure-relevance order was $rel")
  }

  test("tokenBudgetSelect: score order, boundary doc included, exact cum_before") {
    // score desc, id asc: 30(0.9) -> 10(0.5) -> 20(0.5) -> 40(0.1)
    val df = Seq((10L, 0.5, 60L), (20L, 0.5, 50L), (30L, 0.9, 40L),
      (40L, 0.1, 100L)).toDF("doc_id", "score", "n_tokens")
    val got = Split.tokenBudgetSelect(df, col("score"), col("n_tokens"),
        "doc_id", budget = 120L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect.toMap
    // 30 starts at 0, 10 at 40, 20 at 100 (crosses 120 -> still kept:
    // span STARTS inside the budget); 40 starts at 150 -> dropped
    assert(got == Map(30L -> 0L, 10L -> 40L, 20L -> 100L))
    // budget below the first doc keeps exactly the best doc
    val one = Split.tokenBudgetSelect(df, col("score"), col("n_tokens"),
        "doc_id", budget = 1L)
      .select("doc_id").as[Long].collect.toSeq
    assert(one == Seq(30L))
    // invariant to input partitioning
    val again = Split.tokenBudgetSelect(df.repartition(5), col("score"),
        col("n_tokens"), "doc_id", budget = 120L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect.toMap
    assert(again == got)
  }

  test("capPerGroup keeps exactly n per group by md5 order of the id") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "a"), (6L, "b"))
      .toDF("id", "src")
    // md5 hex order of "1".."5": a87..("4") < c4c..("1") < c81..("2")
    // < e4d..("5") < ecc..("3") -> cap 2 keeps {4, 1}; group b under cap
    val kept = Split.capPerGroup(df, col("src"), col("id"), 2)
      .select("id").as[Long].collect.toSet
    assert(kept == Set(4L, 1L, 6L))
    // deterministic: a re-run selects the identical rows
    val again = Split.capPerGroup(df.repartition(7), col("src"), col("id"), 2)
      .select("id").as[Long].collect.toSet
    assert(again == kept)
  }
}
