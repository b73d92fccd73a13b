package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{TextDedup, Similarity}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

class TextDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    Seq(
      (1L, base),
      (2L, base),                                    // exact dup of 1
      (3L, base.replace("quick", "swift")),          // near dup of 1
      (4L, "completely different text about spark engines and query planning systems"),
      (5L, "another unrelated document on warehouse schemas and dimension tables")
    ).toDF("doc_id", "text")
  }

  test("exact dedup finds the identical pair and keeps lowest id") {
    assert(TextDedup.exactDupGroups(docs, "text").count() == 1)
    val kept = TextDedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect.toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("containment is directed: a prefix doc scores 1.0 into its container, jaccard stays small") {
    val long = ("the quick brown fox jumps over the lazy dog and then " * 12) +
      "runs far away into the quiet evening hills beyond the river"
    val short = "the quick brown fox jumps over the lazy dog and then " * 3
    val other = "completely different content about distributed query engines " * 6
    val df = Seq((1L, long), (2L, short), (3L, other)).toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(df, "text", "doc_id",
        shingleSize = 5, threshold = 0.5, dfCap = 64, minShared = 2)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // short -> long: every shingle of the repeated prefix is in the
    // container => containment 1.0; the reverse direction dilutes
    val (cSL, jSL) = got((2L, 1L))
    assert(cSL == 1.0, s"short-in-long containment $cSL")
    assert(jSL < 0.8, s"jaccard should be diluted by the container, got $jSL")
    // long -> short survives only if it clears 0.5 — with 12x repeats
    // vs 3x the long doc's distinct-shingle set is a superset: its
    // containment into short = |short's set| / |long's set| < 1
    got.get((1L, 2L)).foreach { case (cLS, _) => assert(cLS < 1.0) }
    // the unrelated doc pairs with nothing
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash candidates contain every true near-dup pair (recall)") {
    val trueDups = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 5, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(trueDups.contains((1L, 2L)) && trueDups.contains((1L, 3L)))
    val cands = TextDedup.minHashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect.toSet
    assert(trueDups.subsetOf(cands), s"missed: ${trueDups -- cands}")
  }

  test("minhash near-dups = LSH candidates verified by true jaccard") {
    val got = TextDedup.minHashNearDups(docs, "text", "doc_id", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).size == 2 })
  }

  test("LSH band join: hot bucket capped + observable, real pairs survive") {
    // 150 IDENTICAL docs — same signature, so ONE bucket per band, all
    // over the cap: the uncapped self-join would be 150*149/2 pairs per
    // band, the capped one contributes ZERO. A planted near-dup pair in
    // ordinary text must still come through.
    val boiler = "all work and no play makes jack a dull boy " * 4
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong potions quietly at midnight near the old tower"
    val near = base.replace("midnight", "noonday")
    val corpus = ((0 until 150).map(i => (i.toLong, boiler)) ++
      Seq((9000L, base), (9001L, near))).toDF("doc_id", "text")
    var dropped = -1L
    val pairs = TextDedup.minHashNearDups(corpus, "text", "doc_id",
      threshold = 0.7, shingleSize = 5, bands = 4, rowsPerBand = 4,
      maxBucketSize = 100, onDroppedBuckets = Some(n => dropped = n))
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(dropped == 4L, s"one over-cap bucket per band expected, got $dropped")
    assert(pairs.contains((9000L, 9001L)), "planted pair must survive the cap")
    // the hot docs contribute no pairs at all — their buckets were dropped
    assert(pairs.forall { case (a, b) => a >= 9000L && b >= 9000L },
      s"hot-bucket pairs leaked: ${pairs.filter(_._1 < 9000L)}")
  }

  test("simhash: identical docs distance 0; near-dups within 3; unrelated far") {
    val bits = docs.select(col("doc_id"), TextDedup.simHashBits(col("text")).as("b"))
    val pairs = bits.as("x").join(bits.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        TextDedup.hamming(col("x.b"), col("y.b")).as("h"))
      .as[(Long, Long, Int)].collect
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) <= 8)
    assert(pairs((1L, 4L)) > 8)
    val nd = TextDedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(nd.contains((1L, 2L)))
  }

  test("native sketch expressions are bit-identical to the HOF formulations") {
    import graft.functions.{TextFunctions => TF2}
    val sh = docs.select(TF2.charShingles(col("text")).as("s"), col("text"))
    val mh = sh.select(
        TextDedup.minHashSignature(col("s"), 32).as("native"),
        TextDedup.minHashSignatureHof(col("s"), 32).as("hof"))
      .collect()
    mh.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val simp = docs.select(
        TextDedup.simHashBits(col("text")).as("native"),
        TextDedup.simHashBitsHof(col("text")).as("hof"))
      .collect()
    simp.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }

  test("multi-probe buckets: base parity, single-bit flips in margin order") {
    import graft.functions.{VectorFunctions => VF}
    val planes = VF.randomPlanes(8, 16, seed = 5)
    val rnd = new scala.util.Random(3)
    val vecs = (1 to 100).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("id", "v")
    val out = vecs.select(col("id"),
        graft.plans.SketchExpressions.hyperplaneBucket(col("v"), planes).as("base"),
        graft.plans.SketchExpressions.hyperplaneProbes(col("v"), planes, 5).as("probes"),
        col("v"))
      .as[(Long, String, Seq[String], Seq[Double])].collect()
    assert(out.length == 100)
    out.foreach { case (_, base, probes, v) =>
      // probe 0 IS the classic bucket — bit parity with HyperplaneBucketExpr
      assert(probes.length == 5 && probes.head == base)
      // driver-side margin order: sequential dot (same fold order as the
      // expression's loop), |dot| ascending, plane index on ties
      val dots = planes.map(p => p.zip(v).map { case (a, b) => a * b }.sum)
      val order = dots.indices.sortBy(i => (math.abs(dots(i)), i))
      probes.tail.zipWithIndex.foreach { case (b, r) =>
        val flipped = b.zip(base).zipWithIndex
          .filter { case ((x, y), _) => x != y }.map(_._2)
        assert(flipped == Seq(order(r)),
          s"probe ${r + 1} must flip exactly the rank-${r + 1} margin bit")
      }
      assert(probes.distinct.length == 5) // all probes hit distinct buckets
    }
  }

  test("fingerprint equality ⇔ same normalized token stream") {
    val fp = docs.select(col("doc_id"), TF.fingerprint(col("text")).as("f"))
      .as[(Long, Long)].collect.toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("md5 fingerprint induces the same dup grouping as the xxhash64 form") {
    // the oracle-checkable md5-chain (q28) and the production rolling hash
    // must partition documents identically
    val both = docs.select(
        TF.fingerprint(col("text")).as("x"),
        TF.md5Fingerprint(col("text")).as("m"))
    assert(both.select("x").distinct.count() == both.select("m").distinct.count())
    assert(both.select("x", "m").distinct.count() == both.select("x").distinct.count())
    // whitespace/case normalization parity between the two forms
    val norm = Seq((1L, "A  b\tC"), (2L, "a b c")).toDF("id", "t")
      .select(TF.md5Fingerprint(col("t")).as("m")).distinct
    assert(norm.count() == 1)
  }

  test("simhash packed-long hamming == bit-array hamming") {
    val bits = docs.select(col("doc_id"),
      TextDedup.simHashBits(col("text")).as("b"))
    val both = bits.as("x").join(bits.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(
        TextDedup.hamming(col("x.b"), col("y.b")).as("arr"),
        bit_count(TextDedup.packBits(col("x.b"))
          .bitwiseXOR(TextDedup.packBits(col("y.b")))).as("packed"))
    assert(both.filter(col("arr") =!= col("packed")).count() == 0)
  }

  test("decontaminate: eval prefix flags its source doc, clean drops it") {
    import graft.operators.Decontaminate
    val train = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (3L, "totally separate words with no shared phrasing at all in this doc here")
    ).toDF("doc_id", "text")
    // eval doc = the first 10 tokens of train doc 1
    val eval = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett")
    ).toDF("doc_id", "text")
    val pairs = Decontaminate.overlapPairs(train, eval, "text", "doc_id",
      n = 8, threshold = 0.5)
      .select("train_id", "eval_id").as[(Long, Long)].collect.toSet
    assert(pairs == Set((1L, 100L)))
    val kept = Decontaminate.clean(train, eval, "text", "doc_id", n = 8)
      .select("doc_id").as[Long].collect.toSet
    assert(kept == Set(2L, 3L))
  }

  test("hashSample: deterministic, rate-accurate, mix labels sources") {
    import graft.operators.Split
    val ids = (0L until 4096L).toDF("id")
    val s1 = Split.hashSample(ids, col("id"), 0.25)
    val n = s1.count()
    // md5 buckets: expect ~1024 of 4096, generous slack
    assert(n > 820 && n < 1230, s"got $n")
    // re-run under different partitioning keeps exactly the same rows
    val s2 = Split.hashSample(ids.repartition(13), col("id"), 0.25)
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0)
    assert(Split.hashSample(ids, col("id"), 0.0).count() == 0)
    assert(Split.hashSample(ids, col("id"), 1.0).count() == 4096)
    val mixed = Split.mix(Seq(
      ("a", ids.filter(col("id") < 2048), 1.0),
      ("b", ids.filter(col("id") >= 2048), 0.25)), "id")
    val bySrc = mixed.groupBy("source").count().as[(String, Long)].collect.toMap
    assert(bySrc("a") == 2048 && bySrc("b") > 380 && bySrc("b") < 640)
  }

  test("connected components: chains merge, disjoint groups stay apart") {
    import graft.operators.Components
    // components: {1,2,3,4} via chain, {10,11}, singleton 20 not in edges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Components.labelPropagate(edges, "id_a", "id_b")
      .as[(Long, Long)].collect.toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val kept = Components.dedupByComponents(docs, "doc_id", edges, "id_a", "id_b")
      .as[Long].collect.toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("components: long chains converge in O(log n) rounds, not O(diameter)") {
    import graft.operators.Components
    // a planted path of diameter 63 — min-label propagation needed 63
    // rounds (> the old maxIter=20 throw); large/small-star needs ~log2
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comps, rounds) = Components.labelPropagateWithRounds(chain, "id_a", "id_b")
    val labels = comps.as[(Long, Long)].collect.toMap
    assert(labels.size == 64 && labels.values.forall(_ == 0L), s"bad labels: $labels")
    assert(rounds <= 10, s"expected O(log n) rounds on a 64-node path, got $rounds")

    // random graphs vs an in-memory union-find model (seeded, 5 draws)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 40 + rnd.nextInt(60)
      val edges = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      // canonical model labels: min id per component
      val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val model = verts.groupBy(find).flatMap { case (_, vs) =>
        val m = vs.min; vs.map(_ -> m) }.toMap
      val got = Components.labelPropagate(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect.toMap
      assert(got == model, s"n=$n diff=${got.toSet.diff(model.toSet)}")
    }
  }

  test("crossDocDupGrams: shared n-grams counted by doc frequency") {
    // docs a,b share their full text (all 2-grams df=2); c is unique
    val docs = Seq((1L, "w x y z"), (2L, "w x y z"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextDedup
      .crossDocDupGrams(docs, "text", "doc_id", n = 2)
      .orderBy("doc_id").as[(Long, Long, Double)].collect.toSeq
    assert(got == Seq((1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 3L, 0.0)))
  }

  test("dupNgramFraction: repetition signal on duplicate bigrams") {
    val df = Seq(
      ("a b a b a b", 0.6),   // 5 bigrams, 2 distinct -> 1 - 2/5
      ("one two three four", 0.0), // all bigrams unique
      ("solo", 0.0),          // fewer tokens than n
      ("", 0.0)
    ).toDF("text", "want")
    val bad = df.filter(
      abs(TF.dupNgramFraction(col("text"), 2) - col("want")) > 1e-9).count()
    assert(bad == 0)
    // native expression == HOF formulation, for several n
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = docs.filter(
        abs(TF.dupNgramFraction(col("text"), n) -
          TF.dupNgramFractionHof(col("text"), n)) > 1e-12).count()
      assert(diff == 0, s"native/HOF mismatch at n=$n")
    }
  }

  test("hash split: deterministic, uniform-ish, every label present") {
    import graft.operators.Split
    val ids = (0L until 1600L).toDF("id")
    val got = Split.assign(ids, col("id"), Seq("train" -> 12, "val" -> 2, "test" -> 2))
    val counts = got.groupBy("split").count()
      .as[(String, Long)].collect.toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // md5 buckets are uniform: expect ~1200/200/200, allow wide slack
    assert(counts("train") > 1000 && counts("val") > 100 && counts("test") > 100)
    // pure function of the id: a reshuffled re-run assigns identically
    val again = Split.assign(ids.repartition(7), col("id"),
      Seq("train" -> 12, "val" -> 2, "test" -> 2))
    assert(got.select("id", "split").except(again.select("id", "split")).count() == 0)
    // buckets must cover 0..15 exactly
    intercept[IllegalArgumentException] {
      Split.assign(ids, col("id"), Seq("train" -> 10, "val" -> 2))
    }
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog in a house is that it for",
      "el perro y la casa de que un los se por",
      "le chat et les maisons des une du est la",
      "der hund und das haus ist von den mit ein zu",
      "xyzzy plugh quux").toDF("text")
    val got = df.select(TF.langId(col("text"))).as[String].collect.toSeq
    assert(got == Seq("en", "es", "fr", "de", "und"))
  }

  test("cosine + brute-force top-k are exact") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 1), vecs,
      "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect.toSeq
    assert(got == Seq(2L, 3L, 4L))
    val c = vecs.filter(col("vec_id") === 1).crossJoin(
        vecs.filter(col("vec_id") === 4).select(col("embedding").as("e2")))
      .select(VF.cosine(col("embedding"), col("e2"))).head.getDouble(0)
    assert(c == -1.0)
  }

  test("LSH top-k achieves high recall vs brute force on clustered vectors") {
    // 8 clusters x 25 members in 16 dims: LSH must find same-cluster neighbors
    val rng = new scala.util.Random(7)
    val centers = Seq.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 25) yield {
      val v = centers(c).map(x => x + 0.05f * rng.nextGaussian().toFloat)
      ((c * 25 + m).toLong, v)
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect.toSet
    val approx = Similarity.lshTopK(queries, vecs, "vec_id", "embedding",
        k = 5, dim = 16, tables = 8, planesPerTable = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect.toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("IVF top-k achieves high recall vs brute force on clustered vectors") {
    val rng = new scala.util.Random(7)
    val centers = Seq.fill(8)(Array.fill(16)(rng.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 25) yield {
      val v = centers(c).map(x => x + 0.05f * rng.nextGaussian().toFloat)
      ((c * 25 + m).toLong, v)
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 25 === 0)
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect.toSet
    // the quantizer is trainCentroidsOracleMode's (md5 sample order,
    // integer accumulation — the q98 path), so the SQL-replayable
    // trainer is held to this recall bar
    val approx = Similarity.ivfTopK(queries, vecs, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 2, sampleSize = 200, iters = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect.toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("embeddingNearDups finds a perturbed copy") {
    val rng = new scala.util.Random(11)
    val base = (0 until 20).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dup = (100L, base(3)._2.map(x => x * 1.01f))
    val vecs = (base :+ dup).toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.99, dim = 16, tables = 8, planesPerTable = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(got.contains((3L, 100L)))
  }

  test("embeddingNearDups bucket cap drops a degenerate bucket, keeps real dups") {
    val rng = new scala.util.Random(13)
    // 200 identical vectors: every (table, bucket) they land in holds >= 200
    // rows — with an uncapped self-join that alone is ~20k same-bucket pairs
    val degenerate = (0 until 200).map(i =>
      ((1000 + i).toLong, Array.fill(16)(0.001f)))
    val base = (0 until 10).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val dup = (100L, base(3)._2.map(x => x * 1.01f))
    val vecs = (base ++ degenerate :+ dup).toDF("vec_id", "embedding")
    var dropped = -1L
    val got = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.99, dim = 16, tables = 8, planesPerTable = 4,
        maxBucketSize = 50, onDroppedBuckets = Some(n => dropped = n))
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(got.contains((3L, 100L)), "real near-dup must survive the cap")
    assert(!got.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "degenerate-bucket pairs must be dropped by the cap")
    assert(dropped > 0, "capped run must be observable via onDroppedBuckets")

    // same guard on the top-k probe path: capped corpus buckets only
    var droppedTopK = -1L
    val queries = vecs.filter(col("vec_id") === 3L)
    val topk = Similarity.lshTopK(queries, vecs, "vec_id", "embedding",
        k = 3, dim = 16, tables = 8, planesPerTable = 4, maxBucketSize = 50,
        onDroppedBuckets = Some(n => droppedTopK = n))
      .select("neighbor_id").as[Long].collect.toSet
    assert(topk.contains(100L), "capped lshTopK still finds the true neighbor")
    assert(topk.forall(_ < 1000L), "members of over-cap buckets are not candidates")
    assert(droppedTopK > 0)

    // an uncapped run reports zero dropped buckets
    var droppedUncapped = -1L
    Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.99, dim = 16, tables = 8, planesPerTable = 4,
      maxBucketSize = Int.MaxValue, onDroppedBuckets = Some(n => droppedUncapped = n))
    assert(droppedUncapped == 0)
  }

  test("incremental dedup equals the plain anti-join, at any fpp") {
    import graft.operators.IncrementalDedup
    import graft.functions.{TextFunctions => TF}
    val history = (1L to 200L).map(i => (i, s"history document number $i payload"))
      .toDF("doc_id", "text")
    val inc = ((1L to 50L).map(i => (i + 1000L, s"history document number ${i * 3} payload")) ++
      (1L to 30L).map(i => (i + 2000L, s"brand new increment doc $i")))
      .toDF("doc_id", "text")
    val naive = inc.withColumn("_k", TF.contentKey(col("text")))
      .join(history.select(TF.contentKey(col("text")).as("_k")),
        Seq("_k"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // tight fpp and an absurdly loose one: the Bloom stage is an
    // optimization, the answer must not move
    for (fpp <- Seq(0.01, 0.5)) {
      val got = IncrementalDedup.newDocs(inc, history, "text",
        expectedHistoryKeys = 200L, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(got == naive, s"fpp=$fpp")
    }
    assert(naive == (1L to 30L).map(_ + 2000L).toSet)
    // an all-duplicate increment yields nothing
    assert(IncrementalDedup.newDocs(history, history, "text",
      expectedHistoryKeys = 200L).count() == 0)
  }

  test("semDedup keeps one representative per within-cell semantic group") {
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),     // cell 1
      (2L, Seq(0.999, 0.01, 0.0, 0.0)),  // cell 1, ~dup of 1 -> dropped
      (3L, Seq(0.8, 0.6, 0.0, 0.0)),     // cell 1, cosine 0.8 vs v1 -> kept
      (4L, Seq(0.0, 1.0, 0.0, 0.0)),     // cell 2
      (5L, Seq(0.01, 0.999, 0.0, 0.0))   // cell 2, ~dup of 4 -> dropped
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding", cents,
        threshold = 0.95)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(out.keySet == Set(1L, 3L, 4L))
    assert(out(1L) == 1 && out(3L) == 1 && out(4L) == 2)
  }

  test("semDedup misses cross-cell near-dups (the documented recall bound)") {
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    // cosine(v6, v7) ~ 0.99995, but they argmax to different cells
    val vecs = Seq(
      (6L, Seq(0.71, 0.703, 0.0, 0.0)),
      (7L, Seq(0.703, 0.71, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.95)
    assert(out.count() == 2) // both survive: cells partition the compare space
  }

  test("native CosineSim is bit-identical to the HOF formulation") {
    import graft.functions.{VectorFunctions => VF}
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq)
    } ++ Seq(
      (1001L, Seq.fill(64)(0.0f)),              // zero norm -> null
      (1002L, Seq.fill(64)(1.0f)))
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .select(VF.cosine(col("a.v"), col("b.v")).as("native"),
        VF.cosineHof(col("a.v"), col("b.v")).as("hof"))
    // EXACT equality (same casts, fold order, final association) — the
    // null rows (zero norm) must agree too, hence the eqNullSafe
    assert(pairs.filter(!(col("native") <=> col("hof"))).count() == 0)
    // mismatched lengths -> null, matching zip_with's null padding
    val mixed = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(VF.cosine(col("a"), col("b")).as("c"))
    assert(mixed.filter(col("c").isNotNull).count() == 0)
  }

  test("BPE apply: rank order, all-occurrence merges, unknown fallthrough") {
    // hand-computed against the published algorithm: merge the LOWEST-
    // ranked adjacent pair everywhere, repeat until none applies
    val merges = Seq(("l", "o"), ("lo", "w"), ("w", "e"), ("e", "r"), ("low", "er"))
    def enc(s: String): Seq[String] =
      Seq(s).toDF("t").select(TF.bpeTokens(col("t"), merges).as("x"))
        .as[Seq[String]].collect()(0)
    // l o w e r -> lo w e r -> low e r -> low er -> lower
    assert(enc("lower") == Seq("lower"))
    assert(enc("low") == Seq("low"))
    // (w,e) fires before (e,r) is reachable: w e t -> we t
    assert(enc("wet") == Seq("we", "t"))
    // unknown word falls through as characters
    assert(enc("xyz") == Seq("x", "y", "z"))
    // whitespace splits words; runs and edges handled
    assert(enc("  low   wet ") == Seq("low", "we", "t"))
    assert(enc("") == Seq())
    // ALL occurrences of the best pair merge in one step
    assert(enc("lolo") == Seq("lo", "lo"))
    // rank order matters: ("l","o") outranks ("w","e") inside one word
    assert(enc("welo") == Seq("we", "lo"))
    // token count is what the regex proxy approximates — exact here
    val n = Seq("lower wet xyz").toDF("t")
      .select(size(TF.bpeTokens(col("t"), merges)).as("n"))
      .as[Int].collect()(0)
    assert(n == 6) // lower | we t | x y z

    // non-BMP code points stay whole symbols (no surrogate splitting):
    // 🙂 (U+1F642) is one fallthrough token, and a merges entry naming
    // it can fire — impossible if the word were split into UTF-16 halves
    assert(enc("a🙂b") == Seq("a", "🙂", "b"))
    val emojiMerges = Seq(("🙂", "🙂"))
    val e2 = Seq("🙂🙂").toDF("t")
      .select(TF.bpeTokens(col("t"), emojiMerges).as("x"))
      .as[Seq[String]].collect()(0)
    assert(e2 == Seq("🙂🙂"))
  }

  test("stripDupSpans removes later occurrences of duplicated 8-token spans") {
    val d1 = (1 to 10).map(i => s"w$i").mkString(" ")         // first: intact
    val d3 = "z1 z2 " + (1 to 8).map(i => s"w$i").mkString(" ")
    val d4 = ((1 to 8).map(i => s"x$i") ++ (1 to 8).map(i => s"x$i")).mkString(" ")
    val docs = Seq((1L, d1), (2L, d1), (3L, d3), (4L, d4),
      (5L, "short doc")).toDF("doc_id", "text")
    val out = TextDedup.stripDupSpans(docs, "text", "doc_id", window = 8)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // the globally first occurrence keeps everything
    assert(out(1L) == ((1L, 10L, 0L, d1)))
    // a verbatim later copy collapses entirely
    assert(out(2L) == ((2L, 10L, 10L, "")))
    // a shared span inside an otherwise-distinct doc is stripped there
    assert(out(3L) == ((3L, 10L, 8L, "z1 z2")))
    // WITHIN-doc repetition: the second occurrence goes, the first stays
    assert(out(4L) == ((4L, 16L, 8L, (1 to 8).map(i => s"x$i").mkString(" "))))
    // docs shorter than the window pass through untouched
    assert(out(5L) == ((5L, 2L, 0L, "short doc")))
    // deterministic under repartitioning (min-struct first-occurrence)
    val again = TextDedup.stripDupSpans(docs.repartition(7), "text", "doc_id",
        window = 8)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(again == out.values.toSet)
  }

  test("BPE training learns the Sennrich example merges in order") {
    // the classic fixture (arXiv:1508.07909 §3.2 shape): low x5,
    // lower x2, newest x6, widest x3. Hand-computed rounds:
    //   r0: (e,s)=9 ties (s,t)=9 -> lexicographic a picks (e,s)
    //   r1: (es,t)=9
    //   r2: (l,o)=7 ties (o,w)=7 -> (l,o)
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val got = graft.operators.BpeTrain.learnMerges(corpus, "text", 3)
      .map(m => (m.rnk, m.a, m.b, m.pairCount))
    assert(got == Seq((0L, "e", "s", 9L), (1L, "es", "t", 9L),
      (2L, "l", "o", 7L)))
    // multi-word docs count every occurrence; result identical when the
    // same corpus arrives as one document
    val oneDoc = Seq((0L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
      .toDF("doc_id", "text")
    val got2 = graft.operators.BpeTrain.learnMerges(oneDoc, "text", 3)
      .map(m => (m.rnk, m.a, m.b, m.pairCount))
    assert(got2 == got)
    // early stop: a fully-merged vocabulary yields fewer merges
    val tiny = Seq((0L, "ab ab ab")).toDF("doc_id", "text")
    val m3 = graft.operators.BpeTrain.learnMerges(tiny, "text", 5)
    assert(m3.map(m => (m.a, m.b)) == Seq(("a", "b")))
  }

  test("incremental BPE training matches an in-memory reference at 80 merges") {
    // the q112 gate runs 64 merges against the DuckDB replay; this pins
    // the INCREMENTAL semantics (apply only the newest merge, greedy
    // non-overlapping left-to-right) against an independent driver-side
    // reference on a corpus with enough pair diversity for 80+ rounds
    val rnd = new scala.util.Random(7)
    val vocab = Seq.tabulate(40) { i =>
      val w = Seq.fill(6 + rnd.nextInt(5))(
        ('a' + rnd.nextInt(9)).toChar).mkString
      (w, 1L + rnd.nextInt(50))
    }
    def refTrain(freq: Seq[(String, Long)],
                 n: Int): Seq[(Long, String, String, Long)] = {
      var state: Seq[(Seq[String], Long)] =
        freq.map { case (w, c) => (w.map(_.toString).toSeq, c) }
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      var done = false
      while (out.size < n && !done) {
        val pairs = scala.collection.mutable.Map[(String, String), Long]()
        state.foreach { case (t, c) =>
          var i = 0
          while (i + 1 < t.length) {
            val k = (t(i), t(i + 1))
            pairs(k) = pairs.getOrElse(k, 0L) + c
            i += 1
          }
        }
        if (pairs.isEmpty) done = true
        else {
          val ((a, b), pc) = pairs.toSeq
            .minBy { case ((x, y), c) => (-c, x, y) }
          out += ((out.size.toLong, a, b, pc))
          state = state.map { case (t, c) =>
            val nt = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < t.length) {
              if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
                nt += (a + b); i += 2
              } else { nt += t(i); i += 1 }
            }
            (nt.toSeq, c)
          }
        }
      }
      out.toSeq
    }
    // corpus df: every word repeated cnt times across a few docs
    val corpus = vocab.zipWithIndex.map { case ((w, c), i) =>
      (i.toLong, Seq.fill(c.toInt)(w).mkString(" "))
    }.toDF("doc_id", "text")
    val expect = refTrain(vocab.groupMapReduce(_._1)(_._2)(_ + _).toSeq, 80)
    assert(expect.size == 80) // the corpus really sustains 80 rounds
    val got = graft.operators.BpeTrain.learnMerges(corpus, "text", 80)
      .map(m => (m.rnk, m.a, m.b, m.pairCount))
    assert(got == expect)
  }

  test("BPE train/apply agreement: training-order tokenize == lowest-rank-first apply on the corpus vocabulary") {
    // BpeTrain.scala documents the one known divergence class between
    // the incremental trainer's training-order tokenization and
    // BpeEncode's lowest-rank-first re-tokenization (two derivations of
    // the same symbol string re-enabling an earlier merge). This spec
    // pins "does not occur on our data": on the q112-learned 64-merge
    // table, every word of the sf corpus vocabulary tokenizes
    // identically both ways.
    val sfDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges64 = graft.operators.BpeTrain.learnMerges(sfDocs, "text", 64)
    assert(merges64.size == 64)
    val table = merges64.map(m => (m.a, m.b))
    // training-order tokenizer: apply each adopted merge ONCE, in rank
    // order, as a greedy non-overlapping left-to-right pass — exactly
    // the state evolution learnMerges performs
    def trainOrder(w: String): Seq[String] = {
      var t: Seq[String] = w.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp)))
      table.foreach { case (a, b) =>
        val nt = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < t.length) {
          if (i + 1 < t.length && t(i) == a && t(i + 1) == b) {
            nt += (a + b); i += 2
          } else { nt += t(i); i += 1 }
        }
        t = nt.toSeq
      }
      t
    }
    val vocab = sfDocs
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    val applied = vocab
      .select(col("w"), TF.bpeTokens(col("w"), table).as("toks"))
      .as[(String, Seq[String])].collect()
    assert(applied.nonEmpty)
    val diverged = applied.filter { case (w, toks) => toks != trainOrder(w) }
    assert(diverged.isEmpty,
      s"train/apply divergence on ${diverged.length} of ${applied.length} " +
        s"vocab words, e.g. ${diverged.take(3).map(d =>
          s"'${d._1}' apply=${d._2} train=${trainOrder(d._1)}").mkString("; ")}")
  }

  test("distributed Lloyd's step: deterministic, converges to cluster directions") {
    // two tight clusters around orthogonal axes + deliberately bad init
    val rnd = new scala.util.Random(11)
    def near(axis: Int) = Seq.tabulate(8)(j =>
      (if (j == axis) 1.0 else 0.0) + rnd.nextDouble() * 0.05)
    val vecs = ((1 to 120).map(i => (i.toLong, near(0))) ++
      (201 to 320).map(i => (i.toLong, near(5)))).toDF("vec_id", "embedding")
    val init = Array(
      Array(0.7, 0.1, 0.0, 0.0, 0.0, 0.7, 0.0, 0.0), // between the clusters
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)) // off in the weeds
    val (c1, n1) = Similarity.kmeansStepDistributed(vecs, "embedding", init)
    val (c2, n2) = Similarity.kmeansStepDistributed(vecs, "embedding", c1)
    // every vector is assigned somewhere, every step
    assert(n1.sum == 240L && n2.sum == 240L)
    // determinism: identical inputs give bit-identical centroids
    val (c2b, n2b) = Similarity.kmeansStepDistributed(vecs, "embedding", c1)
    assert(c2.map(_.toSeq).toSeq == c2b.map(_.toSeq).toSeq && n2.toSeq == n2b.toSeq)
    // after two steps the dominant centroid components point at the
    // planted axes (spherical update: unit-norm centroids)
    c2.filter(_ => true).foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val dominant = c2.map(c => c.indexOf(c.max)).toSet
    assert(dominant.contains(0) || dominant.contains(5))
    // an empty cell keeps its previous centroid instead of collapsing
    val (c3, n3) = Similarity.kmeansStepDistributed(
      vecs.filter(col("vec_id") <= 120), "embedding", c2)
    val empty = n3.indexWhere(_ == 0L)
    if (empty >= 0) assert(c3(empty).toSeq == c2(empty).toSeq)
  }

  test("autoNlist scales cells with the corpus and clamps both ends") {
    // mean cell population stays ~targetCellSize → within-cell quadratic
    // term stays linear in the corpus (the SemDeDup scale invariant)
    assert(Similarity.autoNlist(0L) == 16)
    assert(Similarity.autoNlist(525L, targetCellSize = 16) == 33)
    assert(Similarity.autoNlist(5250L, targetCellSize = 16) == 329)
    assert(Similarity.autoNlist(1024L * 40) == 40)
    assert(Similarity.autoNlist(1L << 62) == 1000000) // upper clamp
    // 10x corpus → ~10x cells (never fewer), the anti-quadratic property
    val a = Similarity.autoNlist(100000L, 64)
    val b = Similarity.autoNlist(1000000L, 64)
    assert(b >= 10 * a - 10 && b <= 10 * a + 10)
  }

  test("stripDupLines drops corpus-repeated lines, keeps order and blanks") {
    val multi = Seq(
      (1L, "unique opening line\nshared boilerplate footer\n\nrepeated inside\nrepeated inside"),
      (2L, "another unique line\nshared boilerplate footer"),
      (3L, "shared boilerplate footer")              // hollows out entirely
    ).toDF("doc_id", "text")
    val out = TextDedup.stripDupLines(multi, "text", "doc_id", minCount = 2L)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_dropped", "text_clean")
      .as[(Long, Long, Long, String)].collect.toSeq
    assert(out == Seq(
      // footer (3 docs) and the within-doc repeat (2 occurrences) both
      // drop; the blank line survives; original order is preserved
      (1L, 5L, 3L, "unique opening line\n"),
      (2L, 2L, 1L, "another unique line"),
      (3L, 1L, 1L, "")))
  }
}
