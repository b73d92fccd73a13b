package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Pack, PrefixScan}

class PackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("globalIndex == in-memory sort index, under any input partitioning") {
    val keys = Seq(5L, 1L, 9L, 3L, 7L, 2L, 8L, 4L, 6L, 0L)
    val df = keys.toDF("k").repartition(7)
    val got = Pack.globalIndex(df, "k", "idx")
      .select("k", "idx").as[(Long, Long)].collect.toMap
    val want = keys.sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(got == want)
  }

  test("prefixSum == in-memory exclusive scan, nulls count as zero") {
    val rows = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L)), (4L, Some(0L)),
      (5L, Some(7L))).toDF("k", "v").repartition(3)
    val got = PrefixScan(rows, "k", PrefixScan.Sum(col("v"), "ps"))
      .select("k", "ps").as[(Long, Long)].collect.toMap
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 15L, 5L -> 15L))
  }

  test("packByTokenBudget: offsets, sequence spans, boundary flag") {
    // budget 10; token counts 4,4,4 -> third doc spans tokens 8..11,
    // crossing the seq-0/seq-1 cut; an empty doc stays point-like
    val docs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 0L), (5L, 12L))
      .toDF("id", "n")
    val got = Pack.packByTokenBudget(docs, col("n"), "id", budget = 10)
      .select("id", "tok_offset", "seq_first", "seq_last", "spans_boundary")
      .as[(Long, Long, Long, Long, Boolean)].collect.sortBy(_._1)
    assert(got(0) == ((1L, 0L, 0L, 0L, false)))
    assert(got(1) == ((2L, 4L, 0L, 0L, false)))
    assert(got(2) == ((3L, 8L, 0L, 1L, true)))   // spans the cut at 10
    assert(got(3) == ((4L, 12L, 1L, 1L, false))) // empty doc, point-like
    assert(got(4) == ((5L, 12L, 1L, 2L, true)))  // 12..23 crosses cut at 20
  }

  test("assembleSequences reconstructs the exact concatenation in budget cuts") {
    val docs = Seq(
      (1L, "a1 a2 a3"),
      (2L, "b1 b2"),
      (3L, ""),            // token-free doc contributes nothing
      (4L, "c1 c2 c3 c4 c5")
    ).toDF("doc_id", "text").repartition(3)
    val got = Pack.assembleSequences(docs, "text", "doc_id", budget = 4)
      .orderBy("seq_id")
      .select("seq_id", "n_tokens", "seq_text")
      .as[(Long, Long, String)].collect.toSeq
    // global stream: a1 a2 a3 b1 | b2 c1 c2 c3 | c4 c5
    assert(got == Seq(
      (0L, 4L, "a1 a2 a3 b1"),
      (1L, 4L, "b2 c1 c2 c3"),
      (2L, 2L, "c4 c5")))
    // every non-final sequence is exactly budget-sized; the stream
    // round-trips to the original concatenation
    val joined = got.map(_._3).mkString(" ")
    assert(joined == "a1 a2 a3 b1 b2 c1 c2 c3 c4 c5")
  }

  test("lengthBatches groups by (length, id) order with fixed batch size") {
    // lengths: doc 5 -> 1, doc 2 -> 2, doc 7 -> 2, doc 1 -> 4, doc 9 -> 5
    val docs = Seq(
      (1L, "w w w w"), (2L, "x x"), (5L, "y"), (7L, "z z"), (9L, "v v v v v")
    ).toDF("doc_id", "text").repartition(3)
    val got = Pack.lengthBatches(docs,
        graft.functions.TextFunctions.tokenCount(col("text")),
        "doc_id", batchSize = 2)
      .as[(Long, Long, Long)].collect.toSet
    // order: (1,5) (2,2) (2,7) (4,1) (5,9) -> batches [5,2] [7,1] [9]
    assert(got == Set((5L, 1L, 0L), (2L, 2L, 0L),
      (7L, 2L, 1L), (1L, 4L, 1L), (9L, 5L, 2L)))
    // deterministic under repartitioning
    val again = Pack.lengthBatches(docs.repartition(7),
        graft.functions.TextFunctions.tokenCount(col("text")),
        "doc_id", batchSize = 2)
      .as[(Long, Long, Long)].collect.toSet
    assert(again == got)
    // out-of-contract ids fail loudly instead of corrupting the order key
    val bad = Seq((2000000000L, "a b")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      Pack.lengthBatches(bad,
        graft.functions.TextFunctions.tokenCount(col("text")),
        "doc_id", batchSize = 2).collect()
    }
    assert(err.getMessage != null)
  }

  test("shardAssign: doc joins the shard where its span starts, never splits") {
    // budget 10; offsets 0,4,8,12,22 -> shards 0,0,0,1,2. Doc 3 STARTS
    // at 8 so it belongs to shard 0 even though it overhangs the cut.
    val docs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 10L), (5L, 3L))
      .toDF("id", "n").repartition(3)
    val got = Pack.shardAssign(docs, col("n"), "id", shardBudget = 10L)
      .select("id", "shard_id").as[(Long, Long)].collect.toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L))
    // deterministic under repartitioning
    val again = Pack.shardAssign(docs.repartition(7), col("n"), "id", 10L)
      .select("id", "shard_id").as[(Long, Long)].collect.toMap
    assert(again == got)
  }

  test("shardManifest: counts, ranges, and the order-free checksum triple") {
    val docs = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 10L), (5L, 3L))
      .toDF("id", "n")
    val m = Pack.shardManifest(docs, col("n"), "id", shardBudget = 10L)
      .orderBy("shard_id")
      .select("shard_id", "n_docs", "n_tokens", "first_doc", "last_doc")
      .as[(Long, Long, Long, Long, Long)].collect.toSeq
    assert(m == Seq((0L, 3L, 12L, 1L, 3L), (1L, 1L, 10L, 4L, 4L),
      (2L, 1L, 3L, 5L, 5L)))
    // the checksum is a pure function of the (id, n_tokens) MULTISET:
    // identical membership under a different input layout -> identical
    // xor and sum; one changed token count -> both move
    val a = Pack.shardManifest(docs.repartition(5), col("n"), "id", 10L)
      .select("shard_id", "xor_hash", "sum_hash")
      .as[(Long, Long, String)].collect.toSet
    val b = Pack.shardManifest(docs, col("n"), "id", 10L)
      .select("shard_id", "xor_hash", "sum_hash")
      .as[(Long, Long, String)].collect.toSet
    assert(a == b)
    val tampered = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 10L), (5L, 3L))
      .toDF("id", "n") // shard-0 token TOTAL unchanged (4+5+3 = 12)
    val c = Pack.shardManifest(tampered, col("n"), "id", 10L)
      .filter(col("shard_id") === 0)
      .select("xor_hash", "sum_hash").as[(Long, String)].head()
    val c0 = b.find(_._1 == 0L).get
    assert(c._1 != c0._2 || c._2 != c0._3,
      "membership checksum must catch a token-count swap that preserves the total")
  }
}
