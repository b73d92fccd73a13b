package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-parquet ledger of the streaming merge sink
  * ([[UpsertSink.applyBatch]] last-writer-wins, read back by
  * [[UpsertSink.readLatest]]): a table is a directory of immutable
  * version dirs `v<batchId>`, each the FULL post-merge state after that
  * batch.
  *
  * Exactly-once without a transactional format rests on two properties
  * this utility centralizes:
  *  - a batch always merges the latest version STRICTLY OLDER than its
  *    own id ([[latestBefore]]), so a foreachBatch replay (at-least-once
  *    delivery) recomputes from the SAME predecessor and its overwrite
  *    is bit-identical — idempotent apply upgrades the guarantee;
  *  - retention never deletes the newest `retain` versions
  *    ([[prune]]), so the predecessor a concurrent replay might still
  *    need survives at least one retained step.
  *
  * Readers take [[readLatest]] (max version) and never observe a
  * partial write — NOT because parquet overwrite is atomic (it is not:
  * it deletes the target then writes task files into `_temporary`, so
  * the target dir is listable while half-populated), but because
  * [[write]] stages into a `_tmp_v<id>` dir and RENAMES it into place
  * (one atomic filesystem op on HDFS/local), [[versions]] only admits
  * `v*` dirs carrying the committer's `_SUCCESS` marker, and a
  * replayed batch whose version already exists complete SKIPS the
  * write entirely (its recompute is bit-identical by the
  * [[latestBefore]] contract) instead of deleting a live version a
  * concurrent reader may be mid-scan on. At 100 TB a version is a
  * full-table rewrite — the honest merge-on-parquet cost; a
  * key-partitioned sink with partition-overwrite, or a Delta/Iceberg
  * MERGE target, keeps these semantics and shrinks the write.
  */
object VersionedTable {

  private def fs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** All COMPLETE version ids under `tableDir` (creates the dir).
    * Completeness = the committer's `_SUCCESS` marker: staging dirs
    * (`_tmp_v*`) fail the name filter, and a dir from a writer that
    * died before commit is invisible rather than a partial read. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val f = fs(spark, tableDir)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    f.mkdirs(root)
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .filter(st => f.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(1).toLong).toOption)
  }

  /** The state a batch with `batchId` must merge against: the newest
    * version strictly older than it, or None on a fresh table. */
  def latestBefore(spark: SparkSession, tableDir: String,
                   batchId: Long): Option[DataFrame] =
    versions(spark, tableDir).filter(_ < batchId).sorted.lastOption
      .map(p => spark.read.parquet(s"$tableDir/v$p"))

  /** Publish version `batchId`: stage into `_tmp_v<id>`, atomically
    * rename to `v<id>`, then drop versions beyond the newest `retain`.
    * A replay that finds its version already COMPLETE is a no-op — the
    * recompute is bit-identical (same predecessor via [[latestBefore]],
    * deterministic merge), so skipping both preserves exactly-once AND
    * never deletes a version a concurrent reader is scanning. */
  def write(state: DataFrame, tableDir: String, batchId: Long,
            retain: Int = 2): Unit = {
    val spark = state.sparkSession
    val f = fs(spark, tableDir)
    val target = new org.apache.hadoop.fs.Path(s"$tableDir/v$batchId")
    if (!f.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
      val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/_tmp_v$batchId")
      state.write.mode("overwrite").parquet(tmp.toString)
      // an INCOMPLETE leftover target (no _SUCCESS — a writer that died
      // mid-commit) is invisible to versions(); replace it
      f.delete(target, true)
      if (!f.rename(tmp, target))
        throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
    val keep = versions(spark, tableDir).sorted
      .takeRight(math.max(1, retain)).toSet
    versions(spark, tableDir).filterNot(keep).foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(s"$tableDir/v$v"), true): Unit
    }
  }

  /** Current state (max version). */
  def readLatest(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no versions under $tableDir")
    spark.read.parquet(s"$tableDir/v${vs.max}")
  }
}
