package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame

/** Centralized "materialize and cut lineage" primitive for iterative and
  * reused frames (components rounds, minhash signature frames, ffill
  * carries, scored LM frames).
  *
  * TRADE-OFF (applies to EVERY call site, documented once here):
  * `localCheckpoint` truncates the logical plan — essential for
  * iterative algorithms whose plan otherwise grows exponentially — and
  * stores the materialized blocks EXECUTOR-LOCALLY. On a multi-executor
  * cluster, losing an executor after the checkpoint makes those blocks
  * unrecoverable mid-query (there is no lineage left to recompute them);
  * the job fails and must be rerun. On local[n] (one JVM) the caveat is
  * moot. `reliable = true` upgrades to a lineage-cut checkpoint on the
  * session's configured checkpoint directory (reliable storage — survives
  * executor loss) and falls back to local checkpointing when no
  * checkpoint dir is configured, so callers can default to the safe flag
  * without breaking local runs.
  *
  * Call sites are CLASSIFIED by what they pin — use [[data]] / [[param]]
  * rather than [[materialize]] so the blast radius of an executor loss
  * is visible at the call site. Registry (every pin in the library):
  *
  *  - DATA-SIZED (corpus-proportional → [[data]], reliable when a
  *    checkpoint dir is configured):
  *    `Components` edge frames + labels (4 sites), `TextDedup` minhash
  *    signature frames + `sourceOverlap`'s distinct (source, gram)
  *    frame, `PrefixScan`'s range-partitioned narrow frame,
  *    `NgramLM` per-doc scored frame, `BpeTrain` word-frequency dict
  *    (unique-word-count-sized) + the per-round incremental token state
  *    (lazy — see `eager` on [[data]]), `CleaningPipelines.split`'s
  *    flagged frame (lazy — its two consumers, clean and quarantine,
  *    read one evaluation instead of running the pipeline twice),
  *    `Warehouse` layer frames (q51),
  *    `QueriesText.nearDupPairs` (the shared q30 pair frame), q128's
  *    brute-force recall ground truth (query-count × k rows),
  *    `AnnIndex`'s pruned query batch above `snapshotCollectMax` rows
  *    (its probe cells and the search read one evaluation),
  *    `EligibilityStream.processSafe(eager = true)`'s dim (evaluated
  *    inside the failure guard).
  *  - PARAMETER-SIZED (≤ f(config) rows, never data-proportional →
  *    [[param]], executor-local accepted — re-running the producing job
  *    is cheap and the frames are tiny): `Dsir` count table
  *    (≤ nBuckets rows), `Profile` histogram/quantile bin tables
  *    (≤ bins rows — pinned so the share/cum branches read one
  *    materialized aggregate instead of re-scanning the data).
  */
object Pin {

  /** Pin a DATA-SIZED frame (corpus-proportional: signatures, edges,
    * scored docs). Routes through the reliable checkpoint path whenever
    * the session has a checkpoint dir — on a real cluster an executor
    * loss would otherwise kill a multi-hour job with no recovery.
    *
    * STORAGE LIFECYCLE on the reliable path: `df.checkpoint()` files
    * are deleted when the frame becomes unreachable ONLY if the context
    * was started with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — set it
    * alongside `setCheckpointDir` for cluster deployments, or an
    * iterative caller (components runs one data-sized pin per star
    * round) accumulates a checkpoint directory per pin until the
    * application exits. Local runs are unaffected (local checkpoints
    * are block-manager blocks, ContextCleaner-released either way).
    *
    * `eager = false` defers materialization to the frame's FIRST action
    * — for per-round iterative pins (BpeTrain) whose very next job is a
    * full pass over the frame anyway. On the LOCAL-checkpoint path this
    * folds the block write into that job (blocks persist as the first
    * job computes them). On the RELIABLE path the deferral is weaker:
    * `rdd.doCheckpoint()` runs as a SEPARATE job after the first action
    * completes, recomputing the frame from lineage unless it is cached —
    * so [[materialize]] persists the frame first (MEMORY_AND_DISK),
    * making the checkpoint job a cache read instead of a recompute.
    * That persist is EXPLICITLY released once the checkpoint
    * materializes (swept on the next Pin call) — Dataset.persist
    * registers with the CacheManager, which holds a strong reference
    * until unpersist, so GC/ContextCleaner would never free it and
    * per-round iterative pins would otherwise accumulate cache entries
    * for the session lifetime. */
  def data(df: DataFrame, eager: Boolean = true): DataFrame =
    materialize(df, reliable = true, eager)

  /** Pin a PARAMETER-SIZED frame (≤ config-bounded rows: count tables,
    * codebooks, carries). Executor-local blocks are the accepted
    * trade-off: the frame is tiny and its producing job is cheap. */
  def param(df: DataFrame): DataFrame = materialize(df, reliable = false)

  private val warnedOnce = new AtomicBoolean(false)

  /** Lazy reliable pins whose pre-checkpoint persist is still live.
    * Dataset.persist registers the plan with the CacheManager, which
    * holds a STRONG reference until explicit unpersist — GC never
    * releases it — so per-round lazy pins (BpeTrain: one data-sized
    * frame per merge round, 512 at production depth) would accumulate
    * MEMORY_AND_DISK entries for the session lifetime. Each entry pairs
    * the persisted frame with the RDD its checkpoint lands on; once
    * that RDD reports isCheckpointed the cache has served its one
    * purpose (feeding the deferred doCheckpoint job) and is released.
    * Swept on every materialize call — iterative callers pin once per
    * round, so round k+1's pin frees round k's cache. */
  private val pendingLazyPins =
    new java.util.concurrent.ConcurrentLinkedQueue[
      (DataFrame, org.apache.spark.rdd.RDD[_])]()

  private def sweepLazyPins(): Unit = {
    val it = pendingLazyPins.iterator()
    while (it.hasNext) {
      val (pinned, rdd) = it.next()
      if (rdd.isCheckpointed) {
        pinned.unpersist(blocking = false)
        it.remove()
      }
    }
  }

  /** Live un-released lazy-pin count (spec hook). */
  private[graft] def pendingLazyPinCount: Int = pendingLazyPins.size()

  def materialize(df: DataFrame, reliable: Boolean = false,
                  eager: Boolean = true): DataFrame = {
    sweepLazyPins()
    val sc = df.sparkSession.sparkContext
    if (reliable && sc.getCheckpointDir.isDefined) {
      // lazy reliable checkpoint: doCheckpoint launches a separate job
      // AFTER the first action, recomputing from lineage — persist so
      // that job reads the cached blocks instead (Spark's own
      // RDD.checkpoint scaladoc recommendation); the persist is
      // released by the sweep above once the checkpoint materializes
      if (!eager) {
        df.persist()
        val out = df.checkpoint(eager = false)
        // if Spark ever changes checkpoint's result plan shape the
        // collectFirst misses and we keep the old always-cached
        // behavior — a leak, never a wrong free
        out.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }.foreach(rdd => pendingLazyPins.add((df, rdd)))
        out
      } else df.checkpoint(eager)
    } else {
      // warn once per JVM, not per pin — local test runs hit this on
      // every data-sized site and the signal drowns otherwise
      if (reliable && warnedOnce.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "Pin.data/materialize(reliable=true) without a checkpoint dir — " +
            "falling back to executor-local checkpoints (not fault-tolerant); " +
            "set SparkContext.setCheckpointDir for cluster runs")
      df.localCheckpoint(eager)
    }
  }
}
