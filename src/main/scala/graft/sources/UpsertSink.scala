package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert sink semantics (SURVEY.md §2.1 S6/S7).
  *
  * The reference upserts row batches into Postgres with
  * `supabase.table(...).upsert(records)` and degrades to plain insert /
  * skip on failure (`safe_upsert`, cleaning.py:165-199;
  * staging_script/cleaners/__init__.py:99). There is no transactional
  * MERGE target in a plain-parquet world, so the Spark-first restatement
  * is MERGE-as-algebra + an idempotent overwrite:
  *
  *  - `upsert` computes the post-merge state: the latest incoming version
  *    per key wins over the existing row; existing keys untouched by the
  *    batch survive. Re-applying the same batch is a no-op (idempotent —
  *    the retry semantics `safe_upsert` approximates operationally).
  *  - `writeUpsert` materializes that state atomically
  *    (write-new-then-swap via overwrite mode).
  *
  * Scale: one shuffle for the per-key latest on the (small) incoming
  * batch, and one anti-join of existing against the batch's KEY SET.
  * The key set is projected straight from the incoming rows, so its
  * broadcast runs beside the window's shuffle instead of after it, and
  * `existing` streams through the anti-join unshuffled whenever the key
  * set is small enough to broadcast. With existing bucketed by the key
  * only changed partitions need a rewrite (partition-overwrite mode on a
  * partitioned sink).
  */
object UpsertSink {

  /** Post-merge state of `existing` after applying `incoming`.
    *
    * Existing rows are dropped by an anti-join on the incoming key set,
    * not on the per-key latest rows: both hold the same non-null keys, and
    * a NULL key matches nothing in either. `incoming` is therefore read
    * twice (keys, and the windowed latest), so its key columns must be
    * deterministic — a key drawn from `rand()` or an unordered id would
    * differ between the two reads. That contract is checked on entry: an
    * optimized key projection holding a nondeterministic expression is
    * rejected with an IllegalArgumentException (planning only, no job).
    *
    * @param orderCol column ordering versions WITHIN the incoming batch;
    *                 the highest wins (a batch can carry several versions
    *                 of one key — the reference applies them in order).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             orderCol: String): DataFrame = {
    val random = incoming.select(keys.map(col): _*).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case e if !e.deterministic && e.children.forall(_.deterministic) => e.sql
      }))
    require(random.isEmpty,
      s"upsert keys ${keys.mkString(", ")} are read twice but come from " +
        s"nondeterministic ${random.distinct.mkString(", ")}; materialize the " +
        "incoming batch (or derive its keys deterministically) first")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    val latest = incoming
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .select(existing.columns.map(col): _*)
    existing.join(incoming.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(latest)
  }

  /** Idempotent parquet materialization of the merged state. */
  def writeUpsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
                  orderCol: String, path: String): Unit =
    upsert(existing, incoming, keys, orderCol)
      .write.mode("overwrite").parquet(path)

  // ------------------------------------------------------------ streaming

  /** Apply ONE micro-batch of updates to the versioned upsert table at
    * `tableDir` — the exactly-once unit [[streamUpsert]] runs per batch,
    * exposed so the replay contract is directly testable.
    *
    * Exactly-once WITHOUT a transactional table format: the table is a
    * ledger of immutable version dirs `v<batchId>`; a batch merges the
    * latest version STRICTLY OLDER than its own id and (over)writes
    * `v<batchId>`. A replayed batch (foreachBatch re-delivers after a
    * failure) therefore recomputes its version from the SAME
    * predecessor and overwrites deterministically — applying batch N
    * twice is bit-identical to applying it once, which is the whole
    * exactly-once claim (Structured Streaming guarantees at-least-once
    * delivery to foreachBatch; idempotent apply upgrades it). Readers
    * use [[readLatest]] (max version) and never see a partial write
    * (parquet overwrite is write-new-then-swap).
    *
    * `retain` bounds the ledger: versions older than the newest
    * `retain` are deleted AFTER the new version lands (never the
    * predecessor a concurrent replay might still need within one
    * retained step). At 100 TB each version is a full-table rewrite —
    * that is the honest cost of merge-on-parquet; the production
    * upgrades (key-partitioned sink + partition-overwrite so only
    * touched partitions rewrite, or a Delta/Iceberg MERGE target) keep
    * these SEMANTICS and shrink the write, so this ledger is the
    * portable core, not a toy. */
  def applyBatch(batch: DataFrame, batchId: Long, tableDir: String,
                 keys: Seq[String], orderCol: String,
                 retain: Int = 2): Unit = {
    val spark = batch.sparkSession
    val existing = VersionedTable.latestBefore(spark, tableDir, batchId)
      .getOrElse(batch.limit(0))
    VersionedTable.write(upsert(existing, batch, keys, orderCol),
      tableDir, batchId, retain)
  }

  /** The streaming S6/S7 profile: a CDC/update stream continuously
    * merged into the versioned table via `foreachBatch` +
    * [[applyBatch]]. Returns the started query; callers pick the
    * trigger via the returned writer's defaults (AvailableNow drains a
    * landing, ProcessingTime tails a feed). */
  def streamUpsert(incoming: DataFrame, keys: Seq[String], orderCol: String,
                   tableDir: String, checkpointDir: String,
                   trigger: org.apache.spark.sql.streaming.Trigger,
                   retain: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyBatch(batch.toDF(), batchId, tableDir, keys, orderCol, retain)
      }
      .trigger(trigger)
      .start()

  /** Current state of the versioned upsert table (max version). */
  def readLatest(spark: org.apache.spark.sql.SparkSession,
                 tableDir: String): DataFrame =
    VersionedTable.readLatest(spark, tableDir)
}
