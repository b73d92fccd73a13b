package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

/** PLANS.md's hand-audit as an EXECUTABLE gate: every registered query
  * is planned (not run) at sf0.001 and its physical tree must satisfy
  * the standing scale rules —
  *
  *  1. no `CartesianProductExec` anywhere (a cross product that isn't a
  *     broadcast of a provably tiny side is a 100 TB accident);
  *  2. every `Exchange SinglePartition` is fed by a subtree that
  *     pre-combines or bounds its input (an aggregate, a limit, or a
  *     rank-limit) — one row per upstream partition may funnel to one
  *     task, a data-sized stream may not;
  *  3. every `BroadcastNestedLoopJoin` builds a side that is itself
  *     bounded (a global aggregate or a limit) — the 1-row scalar-join
  *     pattern is fine, a relation-sized nested loop is not.
  *
  * The audit runs with AQE off so the pre-adaptive exchanges are
  * visible as a plain walkable tree; AQE only ever REMOVES exchanges at
  * runtime, so passing here is conservative. A query that needs an
  * exemption must justify it in PLANS.md AND be listed here with the
  * reason — there are currently none.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Subtrees that bound what reaches a single partition / build side.
    * Any aggregate counts: a global agg funnels one row per upstream
    * partition, a grouped one one row per (group, partition) — the
    * catastrophic pattern this rule exists for is a RAW STREAM funneled
    * through one task (the naive global-order window), which has no
    * aggregate/limit between the scan and the exchange. Whether a
    * grouped domain is parameter-bounded (q93's <= 20 bins) stays a
    * PLANS.md judgment call; this gate catches the mechanical class. */
  private def isBounded(p: SparkPlan): Boolean = p.exists {
    case _: BaseAggregateExec => true
    case _: LocalLimitExec | _: GlobalLimitExec => true
    case _: TakeOrderedAndProjectExec => true
    case _: WindowGroupLimitExec => true
    // a reused exchange's subtree lives at its ORIGINAL site, where
    // this audit already judged it — the stub itself proves nothing
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
    case _ => false
  }

  /** Documented exceptions — each must also be justified in PLANS.md /
    * the query's own comment. Keys are query names; values the reason
    * shown if the exemption stops matching (so a stale entry surfaces). */
  private val exempt: Map[String, String] = Map(
    "q31_ngram_jaccard" ->
      ("exact-pairwise oracle for the LSH family over a LITERAL-bounded " +
        "slice (doc_id < 60 at any SF) — the scale path is q30"),
    "q33_cosine_topk" ->
      ("brute-force exactness baseline: broadcasts the 1/50-sampled query " +
        "side by construction (PLANS.md) — the scale paths are q34/q44"),
    "q107_pq_topk" ->
      ("PQ ADC scan: broadcasts the 1/50-sampled query batch (each row a " +
        "parameter-sized m x ncode distance table) over the CODES scan — " +
        "the linear-scan-over-compressed-index shape is the operator " +
        "(PLANS.md); corpus-sized query sets go through q106's cell join"),
    "q51_warehouse" ->
      ("layer materialization during CONSTRUCTION requires the prod " +
        "AQE-on session; plan audited by hand in PLANS.md (q51 row)"),
    "q126_ann_recall" ->
      ("embeds q33's brute-force exactness baseline as the recall " +
        "GROUND TRUTH (1/50-sampled query side broadcast by " +
        "construction — q33's own exemption); the audited LSH pipeline " +
        "is the other half of the same plan (PLANS.md q126 row)"),
    "q130_sq_topk" ->
      ("SQ8 ADC scan: broadcasts the 1/50-sampled query batch (each row " +
        "a dim-sized weight array + bias scalar) over the CODES scan — " +
        "q107's linear-scan-over-compressed-index shape (PLANS.md q130 " +
        "row); corpus-sized query sets go through q106/q131's cell join"),
    "q148_sq_index_search" ->
      ("q130's persisted form: the SAME SQ8 ADC scan shape (1/50-sampled " +
        "query batch broadcast over the codes scan — q130's exemption), " +
        "reading the segment union instead of an in-memory encode " +
        "(PLANS.md q148 row)"),
    "q128_ann_recall_remedy" ->
      ("q126's remedy twin: the same pinned brute-force ground truth " +
        "(q33's exemption) joined against the IVF probe at nprobe = 4 " +
        "and nprobe = 16 = nlist — full probe is deliberately " +
        "exhaustive, that is the documented exact end of the recall " +
        "dial (PLANS.md q128 row)"),
    "q155_sq_cell_search" ->
      ("q148's cell-partitioned twin: the SAME SQ8 ADC scan shape " +
        "(1/50-sampled query batch broadcast over the codes scan — " +
        "q130's exemption) over cell-clustered segments; the pruned " +
        "pushed-cell-filter path is plan-asserted in AnnIndexSpec " +
        "(PLANS.md q155 row)"),
    "q156_sq_pruned_search" ->
      ("the pruned SQ read: q130's broadcast-query scan shape over the " +
        "probe's pushed cell filter — the query side " +
        "is the 8-id literal panel (bounded at every corpus size), the " +
        "scanned side is nprobe/nlist of the codes (PLANS.md q156 row)"),
    "q163_sq_filtered_search" ->
      ("q148's filtered twin: the SAME SQ8 ADC scan shape (1/50-sampled " +
        "query batch broadcast over the codes scan — q130's exemption) " +
        "with one left-semi mask join on the codes side; the mask is " +
        "half the corpus's ids at the gate SF and a broadcast literal " +
        "for review-set-sized filters (PLANS.md q163 row)"),
    "q170_sq_rebalance" ->
      ("q156's post-split pruned read: the SAME SQ8 ADC scan shape " +
        "(1/50-sampled query batch broadcast over the cell-filter-" +
        "restricted codes scan — q130's exemption); the policy pass " +
        "itself is cellStats + parameter-sized seed collects + one " +
        "cell-sized re-key (PLANS.md q170 row)"),
    "q166_sq_shard_merge" ->
      ("q148's federated twin: the SAME SQ8 ADC scan shape (1/50-sampled " +
        "query batch broadcast over the codes scan — q130's exemption) " +
        "reading the two-segment merged union; the merge itself moves " +
        "already-encoded codes, no re-encode (PLANS.md q166 row)"),
    "q164_sq_retrain" ->
      ("q148's retrained twin: the SAME SQ8 ADC scan shape (1/50-sampled " +
        "query batch broadcast over the codes scan — q130's exemption) " +
        "reading the post-retrain single segment; the migration itself " +
        "is two map-only encodes + parameter-sized model writes " +
        "(PLANS.md q164 row)"),
    "q167_sq_filtered_serve" ->
      ("the production filtered SQ serve: q156's broadcast-query " +
        "pushed-cell-filter scan shape (8-id literal panel, nprobe/nlist " +
        "of the codes scanned) with a 10-id broadcast-LITERAL allowlist " +
        "composed under the probe filter — every side is bounded at " +
        "every corpus size (PLANS.md q167 row)"),
    "q153_ann_index_serve" ->
      ("embeds q33's brute-force exactness baseline as the serving " +
        "panel's recall GROUND TRUTH — the query side is an 8-id " +
        "LITERAL panel (broadcast by construction, bounded at every " +
        "corpus size); the served side is the audited q142 pruned " +
        "index scan (PLANS.md q153 row)"))

  /** Rule 4 (the q135 lesson): an INTERPRETED higher-order fold — an
    * `aggregate` HOF, whose lambda is an expression-tree walk per array
    * element with no codegen and (for decimal accumulators) a
    * BigDecimal box per step — must not sit in a narrow chain directly
    * on a raw file scan. Spark sizes scan partitions by BYTES, so a
    * compact input becomes ONE task and the fold serializes on a
    * single core (q135's HOF scoring pass: 31.4 s on one task at
    * sf0.1; spread, 1.8 s). Structurally requiring an Exchange between
    * scan and fold is the SF-independent form of ">1 input partition":
    * after a repartition the stage runs at
    * spark.sql.shuffle.partitions regardless of how few splits the
    * scan produced. Deliberately NOT flagged: the graft native
    * CodegenFallback expressions (PQ encode, SimHash, image headers…)
    * — fusion made them ~linear in scanned bytes (every registered
    * query carrying one on a raw scan ran ≤ 1.8 s at sf0.1 in
    * BENCH_r10), so an exchange there would cost more than it saves;
    * if one ever grows a super-constant per-row cost it shows up in
    * bench, not here. The chain walk stops at exchanges
    * (repartitioned), aggregates (row-bounded) and any multi-child
    * node (a join's probe side is shuffle- or broadcast-shaped by the
    * join rules above). */
  private def isExpensiveExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case _: org.apache.spark.sql.catalyst.expressions.ArrayAggregate => true
      case _ => false
    }

  private def narrowChainToRawScan(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case _: org.apache.spark.sql.execution.exchange.Exchange => false
    case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => false
    case _: BaseAggregateExec => false
    case u: UnaryExecNode => narrowChainToRawScan(u.child)
    case _ => false
  }

  private def audit(name: String, plan: SparkPlan): Seq[String] = {
    val issues = scala.collection.mutable.Buffer[String]()
    plan.foreach {
      case _: CartesianProductExec =>
        issues += s"$name: CartesianProduct (non-broadcast cross join)"
      case pr: ProjectExec
        if pr.projectList.exists(isExpensiveExpr) && narrowChainToRawScan(pr.child) =>
        issues += s"$name: expensive interpreted projection directly on a " +
          "raw file scan (single-split serialization risk) — Spread.toCores first"
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        if (!isBounded(e.child))
          issues += s"$name: SinglePartition exchange over an unbounded stream"
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        if (!isBounded(build))
          issues += s"$name: BroadcastNestedLoopJoin with an unbounded build side:\n" +
            build.treeString.linesIterator.take(8).mkString("\n")
      case _ =>
    }
    issues.toSeq
  }

  test("every registered query carries a DuckDB oracle (zero rows-only checks)") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(qs == os,
      s"queries without an oracle: ${(qs -- os).toSeq.sorted.mkString(", ")}; " +
        s"orphan oracles: ${(os -- qs).toSeq.sorted.mkString(", ")}")
    assert(qs.size >= 168, s"registered query count regressed: ${qs.size}")
    // SparkEntry.queries' toMap would silently drop a duplicate name
    val names = Queries.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).mkString(", ")}")
    // an oracle fragment referenced from a non-interpolated string
    // reaches DuckDB as a literal `${...}`
    val unexpanded = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("${") => name }
    assert(unexpanded.isEmpty,
      s"oracles with an unexpanded $${...}: ${unexpanded.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query satisfies the standing plan rules") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failures = scala.collection.mutable.Buffer[String]()
      var audited = 0
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (name, _) => exempt.contains(name) }
        .foreach { case (name, fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.executedPlan
            failures ++= audit(name, plan)
            audited += 1
          } catch {
            case e: Throwable =>
              failures += s"$name: planning failed: ${e.getMessage}"
          }
        }
      assert(audited >= 100, s"only $audited queries planned")
      assert(failures.isEmpty,
        s"plan-rule violations:\n  ${failures.mkString("\n  ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("the frames the cleaning pipelines pin satisfy the standing plan rules") {
    // q36-q41 pin their flagged frame (CleaningPipelines.split), so their
    // executed plans start at an RDD scan; audit the plans the pins
    // executed instead, captured from the localCheckpoint actions
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val cleaning = Seq("q36_airlines_clean", "q37_transactions_clean",
      "q38_transactions_quarantine", "q39_passengers_clean",
      "q40_flights_clean", "q41_airlinesales_clean")
    val marker = "graft_plan_audit_marker"
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val markerSeen = new java.util.concurrent.atomic.AtomicReference(
      new java.util.concurrent.CountDownLatch(1))
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") pinned.add(qe)
        else if (qe.analyzed.output.exists(_.name == marker)) markerSeen.get.countDown()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      val plans = cleaning.map { name =>
        pinned.clear()
        markerSeen.set(new java.util.concurrent.CountDownLatch(1))
        SparkEntry.queries(name)(spark, sfDir)
        // the listener bus delivers in order: once the marker arrived,
        // every pin of this query has been seen
        spark.range(1).toDF(marker).collect()
        assert(markerSeen.get.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "marker query never reached the listener")
        val qes = pinned.toArray(Array.empty[QueryExecution]).toSeq
        assert(qes.nonEmpty, s"$name pinned no frame")
        name -> qes.map(_.executedPlan)
      }.toMap
      val failures = plans.toSeq.flatMap { case (name, ps) => ps.flatMap(audit(name, _)) }
      assert(failures.isEmpty, s"plan-rule violations:\n  ${failures.mkString("\n  ")}")
      // the audited flights pin still holds the fuzzy repair's cross joins
      assert(plans("q40_flights_clean").exists(_.exists {
        case _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }), "the flights pin's plan lost its fuzzy-repair nested-loop joins")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("the plans the ANN index queries run over index segments satisfy the standing plan rules") {
    // a serving search returns a local relation, so the query's result
    // plan no longer shows the codes scan with its tombstone anti-joins
    // and mask semi-joins; audit every plan the query executed that
    // scans the index segments, captured by TestSpark.plansOf
    val annQueries = Seq("q142_ann_index_search", "q144_ann_index_append",
      "q146_ann_index_compact", "q148_sq_index_search", "q149_ann_index_stats",
      "q152_ann_index_delete", "q153_ann_index_serve", "q155_sq_cell_search",
      "q156_sq_pruned_search", "q157_ann_time_travel",
      "q158_ann_delete_compact", "q159_ann_filtered_search",
      "q160_ann_retention", "q161_ann_retrain", "q162_ann_filtered_tiny",
      "q163_sq_filtered_search", "q164_sq_retrain", "q165_ann_shard_merge",
      "q166_sq_shard_merge", "q167_sq_filtered_serve", "q168_ann_split_cell",
      "q169_ann_rebalance", "q170_sq_rebalance")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failures = annQueries.flatMap { name =>
        val (_, plans) = TestSpark.plansOf(SparkEntry.queries(name)(spark, sfDir))
        val overSegments = plans.filter(_.exists {
          case sc: FileSourceScanExec =>
            sc.relation.location.rootPaths.exists(_.toString.contains("/data/batch-"))
          case _ => false
        })
        assert(overSegments.nonEmpty, s"$name ran no plan over index segments")
        overSegments.flatMap(audit(name, _))
      }
      assert(failures.isEmpty, s"plan-rule violations:\n  ${failures.mkString("\n  ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("rule 4 catches an expensive projection on a raw scan, passes a spread one") {
    // reconstruct the exact pre-fix q135 anti-pattern: the fused DSIR
    // scorer fed straight from the parquet scan (one split at this SF →
    // one task), then the fixed shape with Spread.toCores between
    import org.apache.spark.sql.functions.col
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      val m = graft.operators.Dsir.fitLiteralModel(docs, "text",
        col("lang") === "en", nBuckets = 256)
      // the HOF formulation is the exact pre-fix q135 scorer (the
      // fused native replacement is exempt from rule 4 by design)
      val bare = docs.select(
        graft.operators.Dsir.scoreExprHof(col("text"), m).as("s"))
      assert(audit("prefix_q135", bare.queryExecution.executedPlan)
        .exists(_.contains("expensive interpreted projection")),
        "rule 4 failed to flag the single-split scoring anti-pattern")
      val spread = graft.operators.Spread.toCores(docs).select(
        graft.operators.Dsir.scoreExprHof(col("text"), m).as("s"))
      assert(audit("spread_q135", spread.queryExecution.executedPlan).isEmpty,
        "rule 4 flagged the spread (fixed) shape")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("dedup joins degrade to shuffle joins at scale — no hint, no cartesian") {
    // PLANS.md claims the candidate↔signature self-joins carry no
    // broadcast HINT, so when the small side outgrows the broadcast
    // threshold (the 100 TB case) Spark flips them to shuffle joins
    // instead of failing or falling into a nested loop. Make that
    // executable: plan the LSH dedup query with broadcasting DISABLED
    // and pin the degraded shape.
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q30_minhash_neardup")(spark, sfDir)
        .queryExecution.executedPlan
      val shuffled = plan.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(shuffled.nonEmpty,
        "expected the dedup joins to flip to shuffle joins under a " +
          "disabled broadcast threshold")
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        "a broadcast join survived threshold -1 — a forced hint is hiding " +
          "in the dedup path")
      // and the standing rules still hold in degraded mode
      val issues = audit("q30@degraded", plan)
      assert(issues.isEmpty, issues.mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }
}
