package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, FfillRepair}
import graft.functions.{CleanFunctions => CF}

/** ScalaCheck property tests for the order-sensitive rewrites
  * (SURVEY.md §5): the Spark operators must agree with a direct in-memory
  * model of the pandas semantics on arbitrary inputs — not just the
  * curated fixtures. Iteration counts are small because every case runs
  * real Spark jobs. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(name: String, p: Prop, n: Int = 12): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: $res")
  }

  test("W2 ffill == in-memory forward fill for arbitrary null patterns") {
    val gen = Gen.listOfN(60, Gen.option(Gen.choose(0, 9)))
    check("ffill", Prop.forAll(gen) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toDouble)) }
        .toDF("ord", "v")
        .select(col("ord"), col("v").cast("double").as("v"))
      val got = FfillRepair.ffill(df, "v", "ord")
        .orderBy("ord").select("v").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toList
      val expected = xs.scanLeft(Option.empty[Double]) {
        case (prev, cur) => cur.map(_.toDouble).orElse(prev)
      }.tail
      got == expected
    })
  }

  test("W3 repairIds == in-memory model incl. consecutive-bad-rows quirk") {
    val gen = Gen.listOfN(40, Gen.oneOf(
      Gen.choose(40000, 40020).map(_.toString),
      Gen.oneOf("4AN", "x", "", "12b")))
    check("repairIds", Prop.forAll(gen) { ids =>
      val df = ids.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("ord", "id")
      val got = FfillRepair.repairIds(df, "id", "ord", seed = 40000L)
        .orderBy("ord").select("id_repaired").as[Long].collect().toList
      // model: prev = last numeric id seen strictly before; bad -> prev+1
      var prev = Option.empty[Long]
      val expected = ids.map { v =>
        val num = if (v.nonEmpty && v.forall(_.isDigit)) Some(v.toLong) else None
        val out = num.getOrElse(prev.getOrElse(40000L) + 1)
        prev = num.orElse(prev)
        out
      }
      got == expected
    })
  }

  test("PrefixScan == the global window: Sum, Last and all three in one call") {
    import graft.operators.PrefixScan
    import org.apache.spark.sql.expressions.Window
    // few rows per partition and half the values null, so partitions
    // holding only the null key or only null values are common
    val gen = for {
      n <- Gen.choose(1, 16)
      keys <- Gen.pick(n, -50L until 50L)
      vals <- Gen.listOfN(n, Gen.oneOf(Gen.const(None), Gen.choose(-50, 50).map(Some(_))))
      nullKey <- Gen.oneOf(true, false)
      inParts <- Gen.choose(1, 6)
      parts <- Gen.choose(1, 8)
    } yield {
      val ks = keys.toList.map(Option(_))
      ((if (nullKey) None :: ks.tail else ks).zip(vals), inParts, parts)
    }
    // no shrinking: every shrink step reruns the Spark jobs
    check("prefixScan", Prop.forAllNoShrink(gen) { case (rows, inParts, parts) =>
      // a session of its own, so the partition count stays local to the case
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      val df = s.createDataFrame(rows).toDF("k", "v").repartition(inParts)
      val w = Window.orderBy(col("k").asc)
      def upTo(end: Long) = w.rowsBetween(Window.unboundedPreceding, end)
      val want = df.select(col("k"),
        coalesce(sum(col("v").cast("long")).over(upTo(-1L)), lit(0L)).as("s"),
        last(col("v"), ignoreNulls = true).over(upTo(0L)).as("li"),
        last(col("v"), ignoreNulls = true).over(upTo(-1L)).as("le"))
      def same(got: DataFrame, outs: String*) =
        TestSpark.multiset(got.select("k", outs: _*)) ==
          TestSpark.multiset(want.select("k", outs: _*))
      val sum0 = PrefixScan.Sum(col("v"), "s")
      val incl = PrefixScan.Last(col("v"), "li", inclusive = true)
      val excl = PrefixScan.Last(col("v"), "le", inclusive = false)
      same(PrefixScan(df, "k", sum0), "s") &&
        same(PrefixScan(df, "k", incl), "li") &&
        same(PrefixScan(df, "k", excl), "le") &&
        same(PrefixScan(df, "k", sum0, incl, excl), "s", "li", "le")
    }, n = 10)
  }

  test("W1 keepFirst == first row per key in explicit order") {
    val gen = Gen.listOfN(50, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))
    check("keepFirst", Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("ord", "k", "v")
      val got = Dedup.keepFirst(df, Seq("k"), "ord")
        .orderBy("ord").select("k", "v").as[(Int, Int)].collect().toList
      val expected = rows.zipWithIndex
        .groupBy(_._1._1).values.map(_.minBy(_._2)).toList
        .sortBy(_._2).map(_._1)
      got == expected
    })
  }

  test("F17 date precedence: earlier format wins on ambiguous strings") {
    // 03/04/2023 parses as dd/MM (April 3rd), NOT MM/dd — order matters
    val one = Seq("03/04/2023").toDF("d")
      .select(CF.toIsoDate(CF.parseDateMulti(col("d"))).as("iso"))
    assert(one.as[String].head() == "2023-04-03")

    val gen = Gen.zip(Gen.choose(1, 28), Gen.choose(1, 12), Gen.choose(2000, 2030))
    check("datePrecedence", Prop.forAll(gen) { case (d, m, y) =>
      val iso = f"$y%04d-$m%02d-$d%02d"
      val variants = Seq(
        iso,
        f"$d%02d/$m%02d/$y%04d",
        f"$y%04d/$m%02d/$d%02d",
        f"$d%02d-$m%02d-$y%04d")
      val parsed = variants.toDF("d")
        .select(CF.toIsoDate(CF.parseDateMulti(col("d"))).as("iso"))
        .as[String].collect().toSeq
      // every variant of a valid date parses; the unambiguous ones
      // (day > 12, where dd/MM vs MM/dd cannot flip) all round-trip
      if (d > 12) parsed.forall(_ == iso) else parsed.forall(_ != null)
    })
  }

  test("stripDupLines == in-memory occurrence-count model") {
    // small alphabet so cross- and within-doc line repeats actually occur
    val lineGen = Gen.oneOf("aa", "bb", "cc", "dd", "")
    val docGen = Gen.listOfN(6, lineGen).map(_.mkString("\n"))
    val gen = Gen.listOfN(5, docGen)
    check("stripDupLines", Prop.forAll(gen) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextDedup
        .stripDupLines(df, "text", "doc_id", minCount = 2L)
        .orderBy("doc_id")
        .select("n_lines", "n_dropped", "text_clean")
        .as[(Long, Long, String)].collect().toList
      val counts = texts.flatMap(_.split("\n", -1)).groupBy(identity)
        .map { case (l, o) => l -> o.size }
      val expected = texts.map { t =>
        val ls = t.split("\n", -1).toList
        val kept = ls.filter(l => l.trim.isEmpty || counts(l) < 2)
        (ls.size.toLong, (ls.size - kept.size).toLong, kept.mkString("\n"))
      }
      got == expected
    }, n = 10)
  }

  test("capPerGroup: exact per-group counts, subset, repartition-invariant") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 99L), Gen.oneOf("x", "y", "z")))
    check("capPerGroup", Prop.forAll(gen) { rows0 =>
      val rows = rows0.distinct // unique ids keep the md5 order total
      val df = rows.toDF("id", "g")
      val out = graft.operators.Split.capPerGroup(df, col("g"), col("id"), 3)
        .select("id", "g").as[(Long, String)].collect().toList
      val out2 = graft.operators.Split
        .capPerGroup(df.repartition(5), col("g"), col("id"), 3)
        .select("id", "g").as[(Long, String)].collect().toList
      val sizes = rows.groupBy(_._2).map { case (g, r) => g -> r.map(_._1).distinct.size }
      out.toSet.subsetOf(rows.toSet) &&
        out.groupBy(_._2).forall { case (g, r) => r.size == math.min(3, sizes(g)) } &&
        out.toSet == out2.toSet
    }, n = 10)
  }

  test("bigram LM score == in-memory Laplace model (incl. rounding path)") {
    // tiny alphabet so gram/context counts collide; doc lengths 0-6 cover
    // the unscorable (<2 tokens) edge
    val docGen = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    val gen = Gen.listOfN(5, docGen)
    check("ngramLM", Prop.forAll(gen) { texts =>
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toList
      def grams(t: String) = toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toList
      val all = texts.flatMap(grams)
      val c12 = all.groupBy(identity).map { case (g, o) => g -> o.size }
      val c1 = all.map(_.split(" ")(0)).groupBy(identity).map { case (w, o) => w -> o.size }
      val v = texts.flatMap(toks).distinct.size
      val expected = texts.zipWithIndex.map { case (t, i) =>
        val gs = grams(t)
        val score = if (gs.isEmpty) None else {
          val sum = gs.map { g =>
            val lp = math.log((c12(g) + 1).toDouble / (c1(g.split(" ")(0)) + v))
            BigDecimal(lp).setScale(12, BigDecimal.RoundingMode.HALF_UP)
          }.sum
          Some(BigDecimal(sum.toDouble / gs.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        }
        (i.toLong, (gs.size.toLong, score))
      }.toMap

      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.NgramLM.scoreSelfTrained(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      got == expected
    }, n = 10)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def bround6(x: Double): Double =
    new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).doubleValue()

  test("HLL estimate == in-memory reference model on arbitrary multisets") {
    import graft.operators.Sketches
    // small domain (dups + linear-counting path) and a wide domain (raw path)
    val gen = Gen.oneOf(
      Gen.listOfN(80, Gen.choose(0, 25).map(i => s"v$i")),
      Gen.listOfN(300, Gen.choose(0, 100000).map(i => s"v$i")))
    check("hll", Prop.forAll(gen) { xs =>
      val est = Sketches.hllDistinct(
        xs.map(Tuple1(_)).toDF("v").withColumn("g", lit("x")),
        col("v"), Seq("g")).select("approx_distinct").as[Double].head()
      // reference model: same md5 layout, exact integer indicator sum
      val regs = scala.collection.mutable.Map.empty[Int, Int]
      xs.distinct.foreach { s =>
        val h = md5hex(s)
        val reg = Integer.parseInt(h.substring(0, 2), 16)
        val v48 = java.lang.Long.parseLong(h.substring(2, 14), 16)
        val rho = if (v48 == 0L) 49
          else 49 - (64 - java.lang.Long.numberOfLeadingZeros(v48))
        regs(reg) = math.max(regs.getOrElse(reg, 0), rho)
      }
      val v = 256 - regs.size
      val s = regs.values.map(r => 1L << (49 - r)).sum + v.toLong * (1L << 49)
      val c = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * math.pow(2.0, 49)
      val raw = c / s.toDouble
      val expected = bround6(
        if (raw <= 640.0 && v > 0) 256.0 * math.log(256.0 / v) else raw)
      est == expected // bit-identical, not approximately
    }, n = 8)
  }

  test("stratifiedSample == in-memory md5-bucket model") {
    import graft.operators.Split
    val fractions = Map("a" -> 0.3, "b" -> 1.0) // "c" absent -> dropped
    val gen = Gen.listOfN(120, Gen.zip(Gen.choose(0L, 100000L),
      Gen.oneOf("a", "b", "c")))
    check("stratified", Prop.forAll(gen) { xs =>
      val df = xs.distinct.toDF("id", "cls")
      val got = Split.stratifiedSample(df, col("cls"), fractions, col("id"))
        .select("id").as[Long].collect().toSet
      val expected = xs.distinct.filter { case (id, cls) =>
        fractions.get(cls).exists { f =>
          val h = md5hex(id.toString)
          Integer.parseInt(h.substring(0, 4), 16) < math.round(f * 65536.0)
        }
      }.map(_._1).toSet
      got == expected
    }, n = 8)
  }

  test("stripDupSpans == in-memory model on arbitrary small-vocab corpora") {
    import graft.operators.TextDedup
    val w = 3
    // tiny vocabulary forces organic cross- and within-doc window collisions
    val doc = for {
      n <- Gen.choose(0, 12) // varying lengths, incl. < w
      t <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield t
    val gen = Gen.listOfN(5, doc)
    check("stripDupSpans", Prop.forAll(gen) { ds =>
      val docs = ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = TextDedup.stripDupSpans(df, "text", "doc_id", window = w)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      // direct model: window occurrences, global first per duplicated
      // gram, coverage, rebuild
      val occ = docs.flatMap { case (id, t) =>
        if (t.length < w) Nil
        else (0 to t.length - w).map(p =>
          (id, p.toLong, t.slice(p, p + w).mkString(" ")))
      }
      val removed = occ.groupBy(_._3).values.filter(_.size > 1).flatMap { os =>
        val first = os.minBy(o => (o._1, o._2))
        os.filterNot(_ == first)
      }.map(o => (o._1, o._2)).toSet
      val expected = docs.map { case (id, t) =>
        val covered = removed.collect {
          case (d, p) if d == id => (p until p + w)
        }.flatten.toSet
        val kept = t.zipWithIndex.collect {
          case (tok, i) if !covered.contains(i.toLong) => tok
        }
        id -> ((t.length.toLong, (t.length - kept.length).toLong,
          kept.mkString(" ")))
      }.toMap
      got == expected
    }, n = 8)
  }

  test("leakageSafeAssign: every edge's endpoints share group and split") {
    import graft.operators.Split
    val gen = Gen.listOfN(10,
      Gen.zip(Gen.choose(1L, 25L), Gen.choose(1L, 25L)))
    check("leakSafe", Prop.forAll(gen) { es =>
      val edges = es.filter { case (a, b) => a != b }
      val docs = (1L to 25L).toDF("doc_id")
      val pairs = (if (edges.isEmpty) List((1L, 1L)) else edges)
        .toDF("id_a", "id_b")
      val out = Split.leakageSafeAssign(docs, "doc_id", pairs,
          "id_a", "id_b", Seq("train" -> 12, "val" -> 2, "test" -> 2))
        .select("doc_id", "group_id", "split")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      // in-memory union-find for the expected components
      val parent = scala.collection.mutable.Map((1L to 25L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to 25L).forall { id =>
        val members = (1L to 25L).filter(find(_) == find(id))
        out(id)._1 == members.min &&                    // group = min id
        members.map(out(_)._2).distinct.size == 1       // one split per group
      }
    }, n = 8)
  }
}
