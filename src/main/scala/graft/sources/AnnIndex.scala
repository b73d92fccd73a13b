package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{Pin, Pq, Sq}
import graft.plans.{PqDistTable, SqDotCodes}
import graft.sources.IndexLog.{Art, ManifestData, Staged, commit, freshName,
  maybeKill, publishStaged, refresh, resolve, writeManifest}

/** Persisted IVF-PQ index — the build-once / query-many shape every
  * production ANN deployment actually runs (Faiss `write_index` /
  * `read_index` + `add`, Lucene's segment files): the expensive offline
  * job (train + encode the corpus) lands a directory of parquet
  * artifacts; online query batches open the directory and never touch
  * the raw vectors again; corpus growth lands as APPENDED immutable
  * segments, not rebuilds; takedowns land as TOMBSTONE sets that mask
  * rows at read until a compaction physically drops them.
  *
  * Layout under `dir/`:
  *   - `centroids/`  `(cell INT 1-based, vec ARRAY<DOUBLE>)` — the
  *     coarse quantizer; nlist rows.
  *   - `codebooks/`  `(s INT 0-based, code INT 1-based,
  *     vec ARRAY<DOUBLE>)` — the m residual sub-codebooks; m×ncode rows.
  *   - `data/batch-<uniq>/part-…parquet` — immutable code segments
  *     (`neighbor_id, codes, …, cell`), staged under unique directory
  *     names and mapped to their logical ids by the manifest. A segment
  *     with a `cell` column is CLUSTERED by it: one file per write task,
  *     its rows sorted by cell, `cell` an ordinary data column. A query
  *     batch probes a bounded set of cells (≤ nlist, usually ≪), and the
  *     probe's `cell IN (…)` is pushed into EVERY segment scan as a
  *     parquet data filter, so a large segment's row groups of unprobed
  *     cells are skipped by their min/max statistics. The trade against
  *     one `cell=X` directory per cell: a write creates one file per
  *     task instead of one per populated cell (the per-file create and
  *     commit cost dominates a small write), and an open lists no cell
  *     directories; but a large segment's search opens every file
  *     footer, not only the probed cells' directories. Per-file cell
  *     ranges in the manifest would let a search skip whole files.
  *   - `tomb/t-<n>` — immutable tombstone sets (`neighbor_id`), written
  *     by [[delete]]. Segment and tombstone ids share ONE monotonic
  *     namespace, and a tombstone masks exactly the segments with a
  *     LOWER id (the Lucene/Iceberg sequence-number rule) — so a row
  *     re-appended after a delete is visible again, and a streamed
  *     correction can tombstone the stale vector and append the new one
  *     in a single commit.
  *   - `manifest/m-<n>` — the index state as of generation n: its live
  *     segments and tombstone sets with their row counts, the id and
  *     stream high-water marks and the model version. [[IndexLog]] owns
  *     the format and the commit, repair and expiry protocol over it. A
  *     segment not listed in any manifest does not exist to readers.
  *   - `meta/` one row `(dim, nlist, m, ncode)` — load-time model check.
  *
  * Snapshot semantics come from two rules (the Iceberg/Delta core,
  * reduced to parquet + create-exclusive):
  *  - DATA IS IMMUTABLE AND INVISIBLE UNTIL COMMITTED: a build or
  *    append first finishes its whole `batch-<n>` tree, then publishes
  *    it by creating the next manifest. A writer that dies mid-batch
  *    leaves an orphan no reader ever lists.
  *  - READERS PIN A MANIFEST: [[load]] resolves the highest manifest
  *    ONCE and unions exactly those segments (masked by exactly that
  *    generation's tombstones), so an open [[Loaded]] handle is a
  *    consistent snapshot — a concurrent append or delete never
  *    changes (or half-changes) what it scans. Reopen to see new data.
  *
  * CONCURRENT WRITERS are safe via optimistic concurrency: every
  * in-chain verb stages its artifacts under unique names and commits
  * through [[IndexLog.commit]] (a lost publish race re-bases and
  * retries), [[compact]] rewrites from the fresh snapshot when it loses,
  * and [[retrain]] and [[splitCell]] abort loudly. At 100 TB this is the
  * difference between "the streaming ingester and the nightly compactor
  * are one process" and letting them race.
  *
  * [[appendIvfPq]] reads the model FROM THE INDEX (never from the
  * caller), so appended codes are always encoded against the same
  * centroids/codebooks as the original build — per-row encode is
  * deterministic, hence build(all) ≡ build(part) + append(rest), which
  * is exactly what q144 hash-gates.
  *
  * MODEL MEMO: the model tables (`meta`, `centroids`, `codebooks` or
  * `model`) under a model root are never rewritten once a build,
  * [[retrain]] or [[splitCell]] lands them, and segments are immutable
  * too. So every open reads the validated model literals and the
  * segment schema through one bounded, driver-side memo. The model key
  * is the qualified model root plus the name and length of every data
  * file in each model table (a filesystem listing, no Spark job). The
  * schema key is that model key alone: every segment of one model
  * shares the schema by protocol (append, upsert, merge and compact
  * write it with the model's own encode), so the search right after a
  * [[compact]] infers nothing. Spark names part files after the write
  * job's UUID, so any rewrite of a model table (a rebuild in place, even
  * within the same second) changes the key and misses. Tombstone sets
  * are immutable too, and the memo holds their ids under the set's path
  * plus its part-file names and lengths. The WRITER SEEDS that entry: a
  * set of at most [[tombInlineMax]] ids ([[delete]], an upsert's) is
  * written on the driver, and its ids go into the memo under the key the
  * next open computes, so the first open after the write reads no
  * tombstone file. The manifest is still listed and parsed on every
  * open.
  *
  * CODECS: an index holds IVF-PQ codes (coarse centroids + residual PQ
  * codebooks) or SQ8 codes (a per-dimension affine model, with optional
  * coarse centroids for the cell layout). A private codec owns only
  * what differs between the two: the model type and its `meta` kind
  * tag, writing the model tables and reading and validating them
  * through the memo, encoding a delta into segment rows, replacing the
  * centroids for a split, the model equality a merge requires, and the
  * cell column name of the opened codes (`_cell` or `cell`). The
  * lifecycle owns everything else and is written once over the codec:
  * build, append, upsert, the streaming wrapper, merge, retrain, split,
  * rebalance, cell stats, the pruned probe, filtered search and the
  * snapshot open. The commit log ([[IndexLog]]) never sees a codec; each
  * `…Sq` verb is a one-expression delegate.
  *
  * SERVING: every Spark job has a large fixed cost, so a serving search
  * is ONE job. [[topK]], [[topKSq]], [[topKWhere]] and [[topKWhereSq]]
  * first collect the batch into a driver local relation (up to
  * [[snapshotCollectMax]] rows). The codec's query-side Column
  * expressions (probe cells, SQ8 weights/bias/norm, IVF-PQ residuals)
  * fold over it on the driver, so the probe set is known before the scan
  * is planned. Then one job scans each partition of the visible codes
  * once, scores each row against the queries that probe its cell (an
  * IVF-PQ distance table is derived in the task per (query, cell)), and
  * keeps a bounded top-k heap per query id, ordered by score, then
  * `neighbor_id`. The partial heaps merge on the driver as tasks finish,
  * so the driver holds queries × k candidates. The result is a local
  * relation with the operator plans' schema, `bround(score, 6)` and
  * 1-based `rank`. The per-pair arithmetic is shared with
  * [[Pq.ivfPqSearch]] and [[Sq.topK]] (the distance-table and code-dot
  * loops are one function each), and AnnServeSpec pins the two equal
  * row for row. A larger batch, and `topK(prune = false)`, run those
  * operator plans; a larger pruned batch reads its rows twice (probe
  * cells, then the search), so it is pinned once with [[Pin.data]] and
  * the caller's frame stays uncached. Pending tombstones add no job
  * while the snapshot's tombstone rows fit under [[tombInlineMax]]: the
  * open reads their ids on the driver and each mask run's scan filters
  * them out ([[visibleUnion]]). Query and neighbour ids are integral,
  * as the lifecycle's deletes and upserts already read them (BIGINT).
  *
  * Legacy (pre-high-water) manifests stay readable and recover their
  * stream dedup floor at parse time: see MIGRATION on [[IndexLog]]. */
object AnnIndex {

  /** An opened index snapshot: driver-side model literals + the lazy
    * union of the manifest's segment scans
    * (`neighbor_id, _cell, codes` — [[Pq.ivfPqEncode]]'s schema), with
    * the snapshot's tombstones already masked out of `codes`. `nrows`
    * counts the PHYSICAL rows of the live segments (an upper bound on
    * visible rows while tombstones are pending; compaction restores
    * equality). */
  final case class Loaded(centroids: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]],
                          codes: DataFrame, nrows: Long,
                          batches: Seq[Long]) {
    def nlist: Int = centroids.length
    def m: Int = cbs.length
  }

  private def fs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def path(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Write `df` as a parquet segment and return its row count, observed
    * DURING the write job (`Dataset.observe` — a CollectMetrics node
    * rides the written plan): the read-back count job and its directory
    * re-listing per verb (the previous `countSegment`) are gone. Equal
    * to counting the landed files for any successful write —
    * segment/tombstone names are fresh per verb, so nothing else ever
    * writes the path; on a failed write the caller never reaches the
    * count. Every write task lands ONE file. A frame with a `cell`
    * column is CLUSTERED by it (Layout on the object): each task sorts
    * its rows by cell and writes `cell` as the last data column, so a
    * segment holds one file per write task, never one per populated
    * cell, and its row groups carry narrow cell ranges for the probe's
    * pushed filter. A `oneTask` frame ([[fitsOneTask]]) is coalesced to
    * one partition and written by one task, with no shuffle: one file.
    * Any other frame with a `cell` column is shuffled by cell first, so
    * each cell's rows sit in one file; the shuffle moves (id, cell,
    * codes) — post-compression bytes, not vectors — and at production
    * nlist (thousands, [[graft.operators.Similarity.autoNlist]]) it is as
    * parallel as the cluster. */
  private def writeCounted(df: DataFrame, dest: String,
                           oneTask: Boolean = false): Long =
    writeObserved(df, dest, oneTask)("n").asInstanceOf[Long]

  /** [[writeCounted]], observing `metrics` over the written rows in the
    * same pass; the result maps `n` and each metric's name to its value. */
  private def writeObserved(df: DataFrame, dest: String, oneTask: Boolean,
                            metrics: Column*): Map[String, Any] = {
    val cells = df.columns.contains("cell")
    val obs = new org.apache.spark.sql.Observation()
    val placed = if (oneTask) df.coalesce(1)
      else if (cells) df.repartition(col("cell")) else df
    // `cell` last: the column order the opened codes have always had
    val clustered = if (!cells) placed
      else placed.select((df.columns.filterNot(_ == "cell") :+ "cell").map(col): _*)
        .sortWithinPartitions(col("cell"))
    clustered.observe(obs, count(lit(1)).as("n"), metrics: _*)
      .write.mode("overwrite").parquet(dest)
    obs.get
  }

  /** Whether `df` is small enough for ONE task to write: its optimizer
    * size estimate (no job) is at most Spark's
    * `spark.sql.files.openCostInBytes`, the bytes Spark itself charges
    * for opening one more file. A frame with no usable estimate (Spark's
    * default is Long.MaxValue) is not. */
  private def fitsOneTask(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.filesOpenCostInBytes

  /** The snapshot's visible code union: each live segment masked by the
    * tombstone sets with a HIGHER id (sequence-number rule — a
    * tombstone never masks a segment appended after it, so
    * delete-then-reinsert works). Segments that no tombstone id
    * separates share one mask, so each such MASK RUN is read as one
    * multi-path scan. While the snapshot's tombstone rows
    * (the manifest's counts) fit under [[tombInlineMax]], their ids are
    * read on the driver ([[tombIds]], no Spark job) and each run keeps
    * the rows `neighbor_id IS NULL OR NOT (CAST(neighbor_id AS BIGINT)
    * IN ids)` — exactly the `left_anti` USING join's rows (a NULL id
    * matches nothing on either side), with no broadcast job before the
    * scan. Above the cap each run is anti-joined with its sets' scans as
    * before. A tombstone set that has grown large is the signal to
    * [[compact]], which physically drops the rows and clears the sets. */
  private def visibleUnion(spark: SparkSession, f: org.apache.hadoop.fs.FileSystem,
                           dir: String, md: ManifestData,
                           mkey: Seq[String]): DataFrame = {
    // every segment of one model shares a schema by protocol (append,
    // compact and merge write it with the model's own encode), so it is
    // inferred once per model key and every snapshot over it reuses it
    val segSchema = memoized(Seq("schema") ++ mkey)(
      spark.read.parquet(s"$dir/data/${md.segs.head.dirName}").schema)
    // each set's ids, read once per open, while the snapshot is under the cap
    val inlineIds =
      if (md.tombs.map(_.n).sum > tombInlineMax) None
      else Some(md.tombs.map(t => t.id -> tombIds(f, s"$dir/tomb/${t.dirName}")).toMap)
    val runs = md.segs.groupBy(b => md.tombs.filter(_.id > b.id)).toSeq
      .sortBy { case (_, segs) => segs.head.id }
    runs.map { case (masks, segs) =>
      val base = segmentScan(spark, segSchema,
        segs.map(b => s"$dir/data/${b.dirName}"))
      if (masks.isEmpty) base
      else inlineIds match {
        case Some(byTomb) =>
          // one InSet node, the form the optimizer gives `isin` past a
          // few values anyway: analysing one literal per id costs tens
          // of ms per open at a few hundred ids
          val ids = masks.flatMap(t => byTomb(t.id)).toSet[Any]
          base.filter(col("neighbor_id").isNull || !ColumnBridge.column(
            InSet(ColumnBridge.expression(col("neighbor_id").cast("long")), ids)))
        case None =>
          base.join(masks.map(t => spark.read.schema(tombSchema)
              .parquet(s"$dir/tomb/${t.dirName}")).reduce(_ unionByName _),
            Seq("neighbor_id"), "left_anti")
      }
    }.reduce(_ unionByName _)
  }

  /** Tombstone rows a snapshot open reads onto the driver as id masks
    * (see [[visibleUnion]]); a snapshot with more pending tombstone rows
    * anti-joins them instead. A few thousand ids are a few tens of KiB
    * on the driver and in each task's filter. The same cap bounds the
    * sets a writer collects and lands on the driver ([[writeTomb]]). */
  private val tombInlineMax = 4096

  /** One scan over the segment directories `paths` (all of one model,
    * so one schema). Segments hold plain files, `cell` a data column, so
    * Spark's listing finds no partition columns. A segment in the retired
    * one-directory-per-cell layout would be silently dropped beside a
    * plain one by Spark's partition discovery, so a listing that found
    * partition directories fails loudly, naming the segments that hold
    * them ([[retiredLayout]]); the check reads only what the listing
    * already holds. */
  private def segmentScan(spark: SparkSession, schema: StructType,
                          paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val scan =
      try spark.read.schema(schema).parquet(paths: _*)
      catch {
        // partition directories beside plain files, or under several roots
        case e: org.apache.spark.SparkThrowable
            if e.getCondition == "CONFLICTING_DIRECTORY_STRUCTURES" =>
          throw retiredLayout(spark, paths, e.asInstanceOf[Throwable])
      }
    val LogicalRelation(r: HadoopFsRelation, _, _, _, _) =
      scan.queryExecution.analyzed: @unchecked
    if (r.partitionSchema.nonEmpty) throw retiredLayout(spark, paths, null)
    scan
  }

  /** The error for a scan over `paths` whose listing met partition
    * directories (`cell=X`), naming the segments that hold them; `cause`
    * itself when none does. Lists the segments again: it runs only on
    * the way to failing. */
  private def retiredLayout(spark: SparkSession, paths: Seq[String],
                            cause: Throwable): Throwable = {
    val f = fs(spark, paths.head)
    val old = paths.filter(p => f.listStatus(path(p))
      .exists(st => st.isDirectory && st.getPath.getName.contains("=")))
    if (old.isEmpty && cause != null) cause
    else new IllegalStateException(
      s"segment(s) ${old.mkString(", ")} hold partition directories (the " +
        "retired one-directory-per-cell layout), which a segment scan does " +
        "not read; rebuild the index", cause)
  }

  /** The non-NULL ids of the tombstone set at `tdir`, read on the driver
    * with parquet-hadoop (no Spark job) and memoized: a tombstone set is
    * immutable, and its key ([[tombKey]]) changes with any rewrite. A
    * set's column is BIGINT ([[delete]], upserts) or the segments'
    * integral id type ([[splitCell]]). A set [[writeTomb]] wrote is a
    * memo hit: its writer put the ids there. */
  private def tombIds(f: org.apache.hadoop.fs.FileSystem,
                      tdir: String): Array[Long] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val (key, parts) = tombKey(f, tdir)
    memoized(key) {
      val ids = Array.newBuilder[Long]
      parts.foreach { st =>
        val r = ParquetReader.builder(new GroupReadSupport(), st.getPath)
          .withConf(f.getConf).build()
        try {
          var g = r.read()
          while (g != null) {
            if (g.getFieldRepetitionCount("neighbor_id") > 0)
              ids += (g.getType.getType("neighbor_id").asPrimitiveType
                  .getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64 => g.getLong("neighbor_id", 0)
                case PrimitiveTypeName.INT32 => g.getInteger("neighbor_id", 0).toLong
                case t => throw new IllegalArgumentException(
                  s"tombstone set $tdir holds $t ids, not integral ones")
              })
            g = r.read()
          }
        } finally r.close()
      }
      ids.result()
    }
  }

  /** Memo key of the tombstone set at `tdir` (its qualified path plus
    * its part files' names and lengths, one listing) and those parts. */
  private def tombKey(f: org.apache.hadoop.fs.FileSystem, tdir: String)
      : (Seq[String], Seq[org.apache.hadoop.fs.FileStatus]) = {
    val parts = f.listStatus(path(tdir)).toSeq.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.sortBy(_.getPath.getName)
    (Seq("tomb", f.makeQualified(path(tdir)).toString) ++
      parts.map(st => s"${st.getPath.getName}:${st.getLen}"), parts)
  }

  /** Land the distinct BIGINT `ids` (a `null` element is the NULL id,
    * one row as `distinct()` keeps it) as the tombstone set `tdir`: one
    * parquet file of `neighbor_id INT64`, NULL first and then ascending,
    * written on the driver with parquet-hadoop (no Spark job). Its
    * non-NULL ids go into the memo under the key the next open's
    * [[tombIds]] computes, so that open reads no tombstone file. Returns
    * the set's row count; an empty set writes nothing. */
  private def writeTomb(f: org.apache.hadoop.fs.FileSystem, tdir: String,
                        all: Seq[Any]): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val ids = all.distinct.sortBy(Option(_).map(_.asInstanceOf[Long]))
    if (ids.nonEmpty) {
      val schema = MessageTypeParser.parseMessageType(
        "message spark_schema { optional int64 neighbor_id; }")
      val rows = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
          path(s"$tdir/part-00000-${java.util.UUID.randomUUID}.parquet"), f.getConf))
        .withConf(f.getConf).withType(schema).build()
      try ids.foreach {
        case null => w.write(rows.newGroup())
        case id => w.write(rows.newGroup().append("neighbor_id", id.asInstanceOf[Long]))
      } finally w.close()
      val keyed: Array[Long] = ids.collect { case id: Long => id }.toArray
      memo.synchronized(memo.put(tombKey(f, tdir)._1, keyed))
    }
    ids.length.toLong
  }

  // ---- model-table schemas (fixed: written by this object) ---------
  // Explicit schemas make every model read inference-free: a bare
  // spark.read.parquet runs a footer-reading schema-inference job per
  // call, and the writer verbs open these parameter-sized tables on
  // every append/upsert/merge/split.
  private val ivfMetaSchema =
    StructType.fromDDL("dim INT, nlist INT, m INT, ncode INT, kind STRING")
  private val sqMetaSchema = StructType.fromDDL("dim INT, kind STRING")
  private val centroidsSchema =
    StructType.fromDDL("cell INT, vec ARRAY<DOUBLE>")
  private val codebooksSchema =
    StructType.fromDDL("s INT, code INT, vec ARRAY<DOUBLE>")
  private val sqModelSchema =
    StructType.fromDDL("i INT, mn DOUBLE, step DOUBLE, inv DOUBLE")
  private val tombSchema = StructType.fromDDL("neighbor_id BIGINT")

  /** The manifest's model root: version 0 lives at the index root,
    * every retrain under its own `model-<uniq>/`. */
  private def modelRoot(dir: String, md: ManifestData): String =
    if (md.modelDir.isEmpty) dir else s"$dir/${md.modelDir}"

  // ---- model memo (see MODEL MEMO on the object) -------------------
  /** Entry cap of [[memo]]. An open index uses two entries (its model
    * literals and its segment schema) plus one per pending tombstone set
    * under [[tombInlineMax]]; entries a compaction or retrain left behind
    * age out least-recently-used first. A model entry is
    * parameter-sized and the id sets of one snapshot hold at most
    * [[tombInlineMax]] ids, so the cap bounds driver memory at a few
    * dozen models. */
  private val memoCap = 32

  /** Validated model literals, segment schemas and tombstone ids, least
    * recently used evicted first. Keys start with a kind tag, so the codecs'
    * value types never share a key. */
  private val memo =
    new java.util.LinkedHashMap[Seq[String], AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], AnyRef]): Boolean =
        size() > memoCap
    }

  /** The memo entry under `key`, running `read` on a miss. Only a value
    * `read` returned is stored, so a read that throws (a failed
    * validation) stores nothing and throws again on the next open. */
  private def memoized[T <: AnyRef](key: Seq[String])(read: => T): T =
    memo.synchronized(memo.get(key)) match {
      case null =>
        val v = read
        memo.synchronized(memo.put(key, v))
        v
      case hit => hit.asInstanceOf[T]
    }

  /** Memo key of the model tables `md` pins: the qualified model root
    * plus the name and length of every data file in each table.
    * Driver-side listings only. `meta` exists under every model root,
    * so a reaped `model-*` dir fails here with a FileNotFoundException
    * naming it; the optional tables are simply absent from the key. */
  private def modelKey(f: org.apache.hadoop.fs.FileSystem, dir: String,
                       md: ManifestData): Seq[String] = {
    val mroot = modelRoot(dir, md)
    f.makeQualified(path(mroot)).toString +:
      Seq("meta", "centroids", "codebooks", "model").flatMap { t =>
        val files =
          try f.listStatus(path(s"$mroot/$t")).toSeq
          catch {
            case _: java.io.FileNotFoundException if t != "meta" => Seq.empty
          }
        files.map(st => st.getPath.getName -> st.getLen)
          .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }
          .map { case (n, len) => s"$t/$n:$len" }.sorted
      }
  }

  // ---- codecs (see CODECS on the object) ---------------------------
  private type PqModel = (Array[Array[Double]], Array[Array[Array[Double]]])
  private type SqModel = (Sq.Model, Option[Array[Array[Double]]])

  /** What the two vector codecs do differently; every lifecycle verb
    * below is written once over it. `kind` keys the model memo,
    * `metaKind` is the `kind` value the codec's `meta` table carries
    * (`label` names it in errors), `cellCol` names the cell column of
    * its opened codes, `tier` suffixes its public verb names in errors,
    * `modelNames` names what a merge compares, `scoreCol` names its
    * search score, and `desc` says a higher score ranks first. */
  private sealed abstract class Codec[M <: AnyRef](val kind: String,
      val metaKind: String, val label: String, val metaSchema: StructType,
      val cellCol: String, val tier: String, val modelNames: String,
      val scoreCol: String, val desc: Boolean) {
    /** Land the parameter-sized model tables under `root`: the build at
      * the index root (model version 0), [[retrain]] and [[splitCell]]
      * under a fresh `model-<uniq>/` directory. */
    def writeModel(spark: SparkSession, root: String, m: M): Unit
    /** The model tables under `mroot`, validated against `meta`. */
    def readTables(spark: SparkSession, mroot: String, meta: Row): M
    def copy(m: M): M
    /** `(neighbor_id, codes, …)` rows, plus `cell` (the nearest centroid
      * of the RAW vector) when the model has a coarse quantizer. */
    def encode(delta: DataFrame, idCol: String, vecCol: String, m: M): DataFrame
    def centroids(m: M): Option[Array[Array[Double]]]
    def withCentroids(m: M, cents: Array[Array[Double]]): M
    def same(a: M, b: M): Boolean
    /** The opened codes of a snapshot's visible union. */
    def opened(union: DataFrame): DataFrame = union
    /** SERVING: a query's state columns over its vector (and its probe
      * list, when the search probes cells). */
    def queryState(m: M, vec: Column, probes: Option[Column]): Seq[Column]
    /** SERVING: the scorer of collected query rows, given each row's
      * heap, id, probe list and [[queryState]] struct. */
    def scorer(m: M, codes: StructType, qi: Array[Int], qid: Array[Long],
               probes: Array[Array[Int]], state: Array[Row]): Scorer
    /** The operator plan of a search: the kernel's reference, and what
      * runs for a batch the kernel does not take. */
    def reference(m: M, codes: DataFrame, q: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int): DataFrame
  }

  private def writeTable(df: DataFrame, dest: String): Unit =
    df.repartition(1).write.mode("overwrite").parquet(dest)

  private def writeCentroids(spark: SparkSession, root: String,
                             cents: Array[Array[Double]]): Unit = {
    import spark.implicits._
    writeTable(cents.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }
      .toSeq.toDF("cell", "vec"), s"$root/centroids")
  }

  /** The coarse quantizer, validated: cell ids exactly `1..n` (a lost
    * row would silently shift every later cell's probe routing) and
    * every vector `dim` wide. */
  private def readCentroids(spark: SparkSession, mroot: String,
                            dim: Int): Array[Array[Double]] = {
    val rows = spark.read.schema(centroidsSchema)
      .parquet(s"$mroot/centroids").orderBy("cell").collect()
    require(rows.map(_.getInt(0)).sameElements(1 to rows.length) &&
        rows.forall(_.getSeq[Double](1).length == dim),
      s"centroids table does not match meta (cells 1..${rows.length}, dim $dim)")
    rows.map(_.getSeq[Double](1).toArray)
  }

  private def deep(a: Array[Array[Double]]): Seq[Seq[Double]] =
    a.map(_.toSeq).toSeq

  private object PqCodec extends Codec[PqModel]("ivf", null, "IVF-PQ",
      ivfMetaSchema, "_cell", "", "centroids/codebooks", "adist", false) {
    def writeModel(spark: SparkSession, root: String, m: PqModel): Unit = {
      import spark.implicits._
      val (cents, cbs) = m
      writeCentroids(spark, root, cents)
      writeTable(cbs.zipWithIndex.flatMap { case (cb, s) =>
          cb.zipWithIndex.map { case (v, j) => (s, j + 1, v.toSeq) } }.toSeq
        .toDF("s", "code", "vec"), s"$root/codebooks")
      writeTable(Seq((cents.head.length, cents.length, cbs.length,
          cbs.head.length)).toDF("dim", "nlist", "m", "ncode"), s"$root/meta")
    }
    def readTables(spark: SparkSession, mroot: String,
                   meta: Row): PqModel = {
      val (dim, nlist, m, ncode) =
        (meta.getAs[Int]("dim"), meta.getAs[Int]("nlist"),
          meta.getAs[Int]("m"), meta.getAs[Int]("ncode"))
      val cents = readCentroids(spark, mroot, dim)
      require(cents.length == nlist,
        s"centroids table does not match meta ($nlist x $dim)")
      val cbRows = spark.read.schema(codebooksSchema)
        .parquet(s"$mroot/codebooks").orderBy("s", "code").collect()
      require(cbRows.length == m * ncode,
        s"codebooks table does not match meta ($m x $ncode)")
      (cents, cbRows.grouped(ncode)
        .map(_.map(_.getSeq[Double](2).toArray).toArray).toArray)
    }
    def copy(m: PqModel): PqModel =
      (m._1.map(_.clone), m._2.map(_.map(_.clone)))
    def encode(delta: DataFrame, idCol: String, vecCol: String,
               m: PqModel): DataFrame =
      Pq.ivfPqEncode(delta, idCol, vecCol, m._1, m._2)
        .withColumnRenamed("_cell", "cell")
    def centroids(m: PqModel): Option[Array[Array[Double]]] = Some(m._1)
    def withCentroids(m: PqModel, cents: Array[Array[Double]]): PqModel =
      (cents, m._2)
    def same(a: PqModel, b: PqModel): Boolean =
      deep(a._1) == deep(b._1) && a._2.map(deep).toSeq == b._2.map(deep).toSeq
    override def opened(union: DataFrame): DataFrame =
      union.select(col("neighbor_id"), col("cell").as("_cell"), col("codes"))
    def queryState(m: PqModel, vec: Column,
                   probes: Option[Column]): Seq[Column] =
      Seq(transform(probes.get, c => Pq.residualExpr(vec, c, m._1)).as("_res"))
    def scorer(m: PqModel, codes: StructType, qi: Array[Int],
               qid: Array[Long], probes: Array[Array[Int]],
               state: Array[Row]): Scorer = {
      // a NULL residual element reads as 0.0 in the distance table
      val byCell = probes.indices.flatMap { j =>
        val res = Option(state(j).getSeq[collection.Seq[Any]](0)).getOrElse(Nil)
        probes(j).zip(res).map { case (c, r) => c -> (j, r.map {
          case null => 0.0
          case x => x.asInstanceOf[Double] }.toArray) }
      }.groupBy(_._1).map { case (c, js) => c -> js.map(_._2).toArray }
      new PqScorer(m._2, qi, qid, byCell)
    }
    def reference(m: PqModel, codes: DataFrame, q: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int): DataFrame =
      Pq.ivfPqSearch(codes, q, idCol, vecCol, m._1, m._2, k, nprobe)
  }

  private object SqCodec extends Codec[SqModel]("sq", "sq8", "sq8",
      sqMetaSchema, "cell", "Sq", "affine model/quantizer", "cosine_sq", true) {
    def writeModel(spark: SparkSession, root: String, m: SqModel): Unit = {
      import spark.implicits._
      val (sq, cents) = m
      writeTable((0 until sq.dim)
        .map(i => (i, sq.mins(i), sq.steps(i), sq.invSteps(i)))
        .toDF("i", "mn", "step", "inv"), s"$root/model")
      writeTable(Seq((sq.dim, "sq8")).toDF("dim", "kind"), s"$root/meta")
      cents.foreach(writeCentroids(spark, root, _))
    }
    def readTables(spark: SparkSession, mroot: String,
                   meta: Row): SqModel = {
      val dim = meta.getAs[Int]("dim")
      val rows = spark.read.schema(sqModelSchema)
        .parquet(s"$mroot/model").orderBy("i").collect()
      require(rows.length == dim, s"model table does not match meta ($dim dims)")
      (Sq.Model(rows.map(_.getAs[Double]("mn")),
          rows.map(_.getAs[Double]("step")), rows.map(_.getAs[Double]("inv"))),
        if (!fs(spark, mroot).exists(path(s"$mroot/centroids"))) None
        else Some(readCentroids(spark, mroot, dim)))
    }
    def copy(m: SqModel): SqModel =
      (Sq.Model(m._1.mins.clone, m._1.steps.clone, m._1.invSteps.clone),
        m._2.map(_.map(_.clone)))
    def encode(delta: DataFrame, idCol: String, vecCol: String,
               m: SqModel): DataFrame = {
      import graft.plans.SketchExpressions.nearestCentroids
      delta.select(Seq(col(idCol).as("neighbor_id"),
          Sq.encodeExpr(col(vecCol), m._1).as("codes")) ++
          m._2.map(c => element_at(nearestCentroids(col(vecCol), c, 1), 1)
            .as("cell")): _*)
        .withColumn("recon_norm", Sq.reconNormExpr(col("codes"), m._1))
    }
    def centroids(m: SqModel): Option[Array[Array[Double]]] = m._2
    def withCentroids(m: SqModel, cents: Array[Array[Double]]): SqModel =
      (m._1, Some(cents))
    def same(a: SqModel, b: SqModel): Boolean =
      a._1.mins.toSeq == b._1.mins.toSeq &&
        a._1.steps.toSeq == b._1.steps.toSeq && a._2.map(deep) == b._2.map(deep)
    def queryState(m: SqModel, vec: Column,
                   probes: Option[Column]): Seq[Column] =
      Sq.queryState(vec, m._1)
    def scorer(m: SqModel, codes: StructType, qi: Array[Int],
               qid: Array[Long], probes: Array[Array[Int]],
               state: Array[Row]): Scorer = {
      // Sq.topK's filter: a query with a NULL or zero norm scores nothing
      val live = state.indices.filter(j => !state(j).isNullAt(2) &&
        state(j).getDouble(2) != 0.0).toArray
      // the weights decoded once here; a NULL element makes every dot
      // of that query NULL (the fold meets it, or the lengths differ)
      val w: Array[Array[Double]] = live.map { j =>
        val ws = state(j).getSeq[Any](0)
        if (ws == null || ws.contains(null)) null
        else ws.map(_.asInstanceOf[Double]).toArray
      }
      new SqScorer(live.map(qi), live.map(qid), w,
        live.map(j => state(j).getAs[java.lang.Double](1)),
        live.map(state(_).getDouble(2)),
        codes("codes").dataType.asInstanceOf[ArrayType].elementType)
    }
    def reference(m: SqModel, codes: DataFrame, q: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int): DataFrame =
      Sq.topK(q, codes, idCol, vecCol, m._1, k)
  }

  /** Read ONLY the model tables of a pinned manifest — the writer verbs
    * (append/upsert/merge-dst) need the encode model and nothing else;
    * a full [[open]] would also read the segment schema and tombstone ids
    * for a visible union the writer never evaluates. Validated once per model
    * key (MODEL MEMO on the object); every call gets its own copy of
    * the arrays. */
  private def readModel[M <: AnyRef](codec: Codec[M], spark: SparkSession,
                                     dir: String, md: ManifestData,
                                     mkey: Seq[String]): M =
    codec.copy(memoized(codec.kind +: mkey) {
      val mroot = modelRoot(dir, md)
      val meta = spark.read.schema(codec.metaSchema)
        .parquet(s"$mroot/meta").collect().head
      val kind = meta.getAs[String]("kind")
      require(kind == codec.metaKind,
        s"$dir is not an ${codec.label} index (meta kind=$kind)")
      codec.readTables(spark, mroot, meta)
    })

  /** An opened snapshot of either codec, before [[load]] / [[loadSq]]
    * type it. */
  private final case class Snapshot[M](model: M, codes: DataFrame,
                                       nrows: Long, batches: Seq[Long])

  private def open[M <: AnyRef](codec: Codec[M], spark: SparkSession,
                                dir: String, asOf: Option[Long]): Snapshot[M] = {
    val f = fs(spark, dir)
    open(codec, spark, f, dir, resolve(f, dir, asOf)._2)
  }

  /** The snapshot of the manifest `md` the caller already resolved. */
  private def open[M <: AnyRef](codec: Codec[M], spark: SparkSession,
                                f: org.apache.hadoop.fs.FileSystem, dir: String,
                                md: ManifestData): Snapshot[M] = {
    // model artifacts resolve THROUGH the pinned manifest: a reader
    // pinned before a [[retrain]] keeps scoring with the model its
    // segments were encoded with (version 0 = the build's root dirs)
    val mkey = modelKey(f, dir, md)
    val model = readModel(codec, spark, dir, md, mkey)
    Snapshot(model, codec.opened(visibleUnion(spark, f, dir, md, mkey)),
      md.segs.map(_.n).sum, md.segs.map(_.id))
  }

  /** Encode `delta` with model `m` and land it as segment `segName`
    * (complete before the caller publishes a manifest), observing
    * `metrics` over the encoded rows ([[writeObserved]]). Whether one
    * task writes it is decided once, on `delta` itself ([[fitsOneTask]]):
    * a small delta is encoded and written by one task with no shuffle. A
    * larger delta, or one with no usable estimate, is spread across
    * cores first — a compact input arrives as ONE file → one scan split →
    * the whole encode serializes on one task (the landing-dir trap) — and
    * is shuffled by cell before the write. */
  private def writeSegment[M <: AnyRef](codec: Codec[M], delta: DataFrame,
                                        idCol: String, vecCol: String,
                                        dir: String, segName: String, m: M,
                                        metrics: Column*): Map[String, Any] = {
    val oneTask = fitsOneTask(delta)
    val in = if (oneTask) delta else graft.operators.Spread.toCores(delta)
    writeObserved(codec.encode(in, idCol, vecCol, m), s"$dir/data/$segName",
      oneTask, metrics: _*)
  }

  /** The coarse quantizer a cell verb needs — only an SQ8 index built
    * without centroids lacks one. */
  private def cellsOf(cents: Option[Array[Array[Double]]],
                      verb: String): Array[Array[Double]] =
    cents.getOrElse(throw new IllegalArgumentException(
      s"$verb needs a cell-partitioned SQ index (buildSq with centroids)"))

  /** Build and atomically publish a FRESH index at `dir` (replacing any
    * index already there). The corpus pass is [[Pq.ivfPqEncode]] —
    * assignment + residual + PQ encode fused into one map-only
    * projection — plus the cell-clustered segment write. The replace is a
    * whole-directory swap: unlike every in-chain verb (append, delete,
    * compact, [[retrain]] — all safe under concurrent writers), a
    * rebuild-over-live-index requires writers and readers of the OLD
    * directory to be stopped first; for an in-place model migration
    * that keeps them running, use [[retrain]]. */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 dir: String, centroids: Array[Array[Double]],
                 cbs: Array[Array[Array[Double]]]): Unit =
    build(PqCodec, corpus, idCol, vecCol, dir, (centroids, cbs))

  private def build[M <: AnyRef](codec: Codec[M], corpus: DataFrame,
                                 idCol: String, vecCol: String, dir: String,
                                 m: M): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val target = path(dir)
    val parent = Option(target.getParent).getOrElse(path("."))
    f.mkdirs(parent)
    val tmp = path(parent.toString + s"/_tmp.${target.getName}")
    f.delete(tmp, true)

    codec.writeModel(spark, tmp.toString, m)
    val segName = freshName("batch-")
    val n = writeSegment(codec, corpus, idCol, vecCol, tmp.toString, segName,
      m)("n").asInstanceOf[Long]
    writeManifest(f, tmp.toString, 0L,
      ManifestData(Seq(Art(0L, n, segName)), Seq.empty, hw = 0L, shw = -1L))

    f.delete(target, true)
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** Append `delta` to a live index as a new immutable segment. The
    * encode model is read FROM THE INDEX, so appended codes are
    * bit-consistent with the build; the segment becomes visible only
    * with the manifest publish at the end (readers mid-append see the
    * previous snapshot). The segment id is allocated from the manifest
    * HIGH-WATER MARK — ids are never reused, even after a compaction
    * retires the segments that carried them.
    *
    * `dedupKey` makes the append IDEMPOTENT for at-least-once callers
    * (foreachBatch replay after a crash): keys must be monotonically
    * increasing across the caller's successful appends (the foreachBatch
    * batch-id contract), and a key ≤ the manifest's committed
    * stream-high-water is a duplicate delivery — the append is skipped
    * entirely. The key namespace is ONE LOGICAL STREAM's (replicas of
    * the same stream share it — that is the replica-dedup feature): two
    * INDEPENDENT keyed streams must not feed one index, because each
    * would advance the shared high-water past the other's in-flight
    * keys and silently suppress its commits. Concurrent independent
    * batch writers pass `dedupKey = None` (the multi-writer soak's
    * discipline) — optimistic re-base makes their racing commits safe;
    * only replay-idempotence needs keys. The dedup key is deliberately NOT the segment id: a
    * compaction consumes ids from the shared namespace, so any scheme
    * that derives segment ids from replayable batch ids collides with
    * the compacted segment and silently drops the batch. A crash
    * BETWEEN segment write and manifest publish leaves an unlisted
    * (invisible) staged directory; the replay stages afresh and
    * publishes — the manifest lists the rows exactly once, and the
    * orphan is reclaimed by [[expire]] past its grace window.
    * An EMPTY delta is dropped before any manifest change (a zero-row
    * segment would wedge every checkpoint replay on schema inference).
    * A lost publish race (a concurrent delete/compact/append won the
    * generation) RE-BASES: the segment was staged under a unique
    * directory name, so the retry just re-assigns its logical id from
    * the winner's high-water mark in the manifest line — no data
    * moves, and both commits survive in adjacent generations. */
  def appendIvfPq(delta: DataFrame, idCol: String, vecCol: String,
                  dir: String, dedupKey: Option[Long] = None): Unit =
    ingest(PqCodec, delta, idCol, vecCol, dir, dedupKey, upsert = false)

  /** Continuous index ingestion: every micro-batch lands as one
    * idempotent [[appendIvfPq]] segment, with the foreachBatch id as
    * the append's DEDUP KEY (deterministic across checkpoint restarts,
    * so an at-least-once redelivery is the no-op replay path above —
    * and safe across [[compact]], which allocates segment ids from the
    * same high-water mark the appends do). Requires an index seeded by
    * [[buildIvfPq]] (which owns segment 0). Readers keep their snapshot
    * isolation — a query serving from [[load]] never observes a
    * half-applied micro-batch. */
  def streamAppend(updates: DataFrame, idCol: String, vecCol: String,
                   dir: String, checkpoint: String,
                   trigger: Trigger): StreamingQuery =
    streamBatches(updates, checkpoint, trigger)((batch, id) =>
      appendIvfPq(batch, idCol, vecCol, dir, dedupKey = Some(id)))

  /** One streamed-CORRECTION batch — upsert semantics for the index:
    * the batch's ids are tombstoned at id `t` (masking every OLDER
    * segment's copy) and the re-encoded batch lands as segment `t+1`,
    * which the strictly-older tombstone never masks — both published by
    * ONE atomic manifest swap, so readers see the correction entire or
    * not at all, and the stale vector can never surface again. Same
    * `dedupKey` replay contract and empty-batch short-circuit as
    * [[appendIvfPq]]; a crash between the artifact writes and the
    * publish re-lands both (the orphaned staging is expire-reclaimed
    * past its grace window). Rows within one batch must
    * be unique per id (tombstones separate BATCHES, not rows — reduce
    * to latest-per-key first, [[UpsertSink.upsert]]'s convention): a
    * batch whose rows with a non-NULL id outnumber its distinct ids is
    * rejected with an IllegalArgumentException before publish, and its
    * staged artifacts are deleted. The tombstone ids ride the segment
    * write (one pass over the batch); a set of at most
    * [[tombInlineMax]] ids is written on the driver and seeds the memo
    * (MODEL MEMO on the object), a larger one is a distributed
    * `distinct()` write of the batch's ids.
    * Pair with [[UpsertSink.applyBatch]] in the same foreachBatch to
    * keep the versioned raw table and the index in lockstep (the
    * `stream_index_upsert_parity` harness runs exactly that). */
  def upsertBatchIvfPq(batch: DataFrame, idCol: String, vecCol: String,
                       dir: String, dedupKey: Option[Long] = None): Unit =
    ingest(PqCodec, batch, idCol, vecCol, dir, dedupKey, upsert = true)

  /** [[appendIvfPq]] (`upsert = false`) and [[upsertBatchIvfPq]]
    * (`upsert = true`) over either codec. */
  private def ingest[M <: AnyRef](codec: Codec[M], delta: DataFrame,
                                  idCol: String, vecCol: String, dir: String,
                                  dedupKey: Option[Long],
                                  upsert: Boolean): Unit = {
    val spark = delta.sparkSession
    val f = fs(spark, dir)
    commit(f, dir, dedupKey, abortOnModelChange = true,
        verb = if (upsert) "upsert" else "append") { md =>
      val model = readModel(codec, spark, dir, md, modelKey(f, dir, md))
      val segName = freshName("batch-")
      val seg = s"$dir/data/$segName"
      // an upsert's tombstone ids and its keyed-row count ride the
      // segment write's observation: one pass over the delta
      val id = col("neighbor_id").cast("long")
      val obs = writeSegment(codec, delta, idCol, vecCol, dir, segName, model,
        (if (!upsert) Nil else Seq(count(id).as("keyed"),
          graft.plans.CappedIds.column(id, tombInlineMax).as("ids"))): _*)
      val n = obs("n").asInstanceOf[Long]
      if (n == 0) { f.delete(path(seg), true); None }
      else {
        // an upsert's tombstone takes id t and its segment t+1
        val tomb = if (!upsert) None else {
          val tombName = freshName("t-")
          val tdir = s"$dir/tomb/$tombName"
          // (rows, distinct non-NULL ids): the observed set under the cap,
          // else a distributed distinct() of the delta's ids
          val (tn, distinctKeyed) = obs("ids") match {
            case ids: collection.Seq[_] =>
              (writeTomb(f, tdir, ids.toSeq), ids.count(_ != null).toLong)
            case null =>
              val t = writeObserved(
                delta.select(col(idCol).cast("long").as("neighbor_id")).distinct(),
                tdir, oneTask = false, count(col("neighbor_id")).as("keyed"))
              (t("n").asInstanceOf[Long], t("keyed").asInstanceOf[Long])
          }
          val keyed = obs("keyed").asInstanceOf[Long]
          if (keyed != distinctKeyed) {
            Seq(seg, tdir).foreach(p => f.delete(path(p), true))
            throw new IllegalArgumentException(
              s"upsert into $dir: the batch holds $keyed rows with an id but " +
                s"$distinctKeyed distinct ids — an upsert batch must hold one " +
                "row per id (reduce to the latest row per id first); " +
                "nothing was committed")
          }
          Some(tombName -> tn)
        }
        val segOffset = tomb.size
        Some(Staged(
          seg +: tomb.map(t => s"$dir/tomb/${t._1}").toSeq,
          m => m.copy(segs = m.segs :+ Art(m.nextId + segOffset, n, segName),
            tombs = m.tombs ++ tomb.map { case (t, tn) => Art(m.nextId, tn, t) },
            hw = m.nextId + segOffset,
            shw = math.max(m.shw, dedupKey.getOrElse(m.shw)))))
      }
    }
  }

  /** Continuous CORRECTION ingest: [[upsertBatchIvfPq]] per micro-batch
    * with the foreachBatch id as the dedup key — the index-side twin of
    * [[UpsertSink.streamUpsert]]: last delivery per id wins, earlier
    * vectors are tombstone-masked and physically dropped by the next
    * [[compact]]. */
  def streamUpsert(updates: DataFrame, idCol: String, vecCol: String,
                   dir: String, checkpoint: String,
                   trigger: Trigger): StreamingQuery =
    streamBatches(updates, checkpoint, trigger)((batch, id) =>
      upsertBatchIvfPq(batch, idCol, vecCol, dir, dedupKey = Some(id)))

  /** Start `updates` with `each(batch, batchId)` per micro-batch. */
  private def streamBatches(updates: DataFrame, checkpoint: String,
                            trigger: Trigger)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        each(batch.toDF(), id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Tombstone `ids` (one column named `idCol`) out of the CURRENT
    * snapshot — the takedown/eviction verb: the id set lands as an
    * immutable `tomb/t-<n>` parquet and the next manifest generation
    * lists it; readers of that generation mask it out of every OLDER
    * segment's scan ([[visibleUnion]]'s sequence-number rule), so
    * a later re-append of the same id is visible again. Rows are
    * physically dropped — and the tombstone sets cleared — by the next
    * [[compact]]. Pinned pre-delete readers are untouched (their
    * manifest lists no such tombstone). Works on either index family
    * (IVF-PQ or SQ8) — only ids and the manifest are involved.
    * An empty id set is a no-op. An input of at most [[tombInlineMax]]
    * rows is collected (one `limit` collect) and its distinct ids
    * written on the driver, seeding the memo (MODEL MEMO on the object);
    * a larger input takes a distributed `distinct()` write. Either way a
    * NULL id is one row of the set and masks nothing. */
  def delete(ids: DataFrame, idCol: String, dir: String): Unit = {
    val f = fs(ids.sparkSession, dir)
    // a re-based delete applies AS OF ITS COMMIT: a fresh tombstone id
    // (> every committed segment) also masks matching rows a concurrent
    // append just landed — delete-after-append semantics, exactly what
    // commit ordering says happened. Tombstones are id-only, so a
    // concurrent retrain does not invalidate them (no model abort).
    commit(f, dir, dedupKey = None, abortOnModelChange = false,
        verb = "delete") { _ =>
      val tombName = freshName("t-")
      val tdir = s"$dir/tomb/$tombName"
      val rows = ids.select(col(idCol).cast("long").as("neighbor_id"))
      val head = rows.limit(tombInlineMax + 1).collect()
      val n =
        if (head.length > tombInlineMax) writeCounted(rows.distinct(), tdir)
        else writeTomb(f, tdir, head.toSeq.map(_.get(0)))
      if (n == 0) { f.delete(path(tdir), true); None }
      else Some(Staged(Seq(tdir),
        m => m.copy(tombs = m.tombs :+ Art(m.nextId, n, tombName),
          hw = m.nextId)))
    }
  }

  /** Compact the current snapshot into one segment (Iceberg
    * `rewriteDataFiles`, Lucene's merge): read the visible union —
    * tombstoned rows PHYSICALLY DROPPED here — rewrite it as a single
    * new segment (clustered by cell when the family has cells — IVF-PQ,
    * cell SQ8; flat otherwise), publish a manifest listing ONLY that segment, no
    * tombstones, and the advanced high-water mark (the id consumed here
    * is never handed to a later append — the collision that would
    * otherwise silently drop the first post-compact micro-batch).
    * Readers pinned on older manifests keep working — their batch dirs
    * are untouched until [[expire]]. No-op on a single-segment index
    * with no tombstones; refuses to compact an index whose visible
    * union is empty (a fully-tombstoned index should be rebuilt, not
    * compacted into an unreadable zero-row segment). A union that
    * [[fitsOneTask]] is rewritten by one task with no shuffle, as one
    * file; a larger one lands one file per write task. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    IndexLog.compact(f, dir) { md =>
      val segName = freshName("batch-")
      val union = visibleUnion(spark, f, dir, md, modelKey(f, dir, md))
      val n = writeCounted(union, s"$dir/data/$segName", fitsOneTask(union))
      if (n == 0) {
        f.delete(path(s"$dir/data/$segName"), true)
        throw new IllegalStateException(
          s"refusing to compact $dir: every row is tombstoned — rebuild")
      }
      (segName, n)
    }
  }

  /** SHARD FEDERATION (Faiss `merge_into`, Lucene `addIndexes`): land
    * `src`'s VISIBLE rows (its tombstones applied) as one new segment
    * of `dst`, WITHOUT re-encoding — at 100 TB the per-shard build is
    * the expensive encode pass, and the standard recipe is "train one
    * model, build a shard per partition in parallel, merge": this is
    * the merge. Both indexes must carry bit-equal models (the shards
    * were built from the same trained quantizer — codes are only
    * comparable under one model); a mismatch fails loudly rather than
    * corrupt distances. The copy is a by-cell shuffle of
    * already-compressed codes (8 B/row payloads, not vectors), one file
    * per write task, or one task and one file with no shuffle when they
    * [[fitsOneTask]]; the
    * commit is one optimistic-concurrency publish like [[appendIvfPq]]
    * (re-base on lost races, loud abort if a concurrent [[retrain]]
    * changes the model underneath). Rows are appended as-is — ids
    * duplicated across shards stay duplicated, exactly like append;
    * route overlapping corrections through [[upsertBatchIvfPq]]. `src`
    * is untouched (drop or [[expire]] it after the merge commits). */
  def merge(spark: SparkSession, dstDir: String, srcDir: String): Unit =
    mergeInto(PqCodec, spark, dstDir, srcDir)

  private def mergeInto[M <: AnyRef](codec: Codec[M], spark: SparkSession,
                                     dstDir: String, srcDir: String): Unit = {
    require(dstDir != srcDir, "cannot merge an index into itself")
    val f = fs(spark, dstDir)
    commit(f, dstDir, dedupKey = None, abortOnModelChange = true,
        verb = "merge") { md =>
      val dst = readModel(codec, spark, dstDir, md, modelKey(f, dstDir, md))
      val src = open(codec, spark, srcDir, asOf = None)
      require(codec.same(dst, src.model),
        s"model mismatch: $srcDir was not built with $dstDir's " +
          s"${codec.modelNames} — codes are not comparable across models")
      val segName = freshName("batch-")
      // the copied rows keep their cell column, so the segment is
      // clustered by cell like the destination's own
      val rows = src.codes.withColumnRenamed(codec.cellCol, "cell")
      val n = writeCounted(rows, s"$dstDir/data/$segName", fitsOneTask(rows))
      if (n == 0) { f.delete(path(s"$dstDir/data/$segName"), true); None }
      else Some(Staged(Seq(s"$dstDir/data/$segName"),
        m => m.copy(segs = m.segs :+ Art(m.nextId, n, segName),
          hw = m.nextId)))
    }
  }

  /** MODEL-DRIFT MIGRATION (Faiss's "retrain when the distribution
    * moves", Lucene's full re-index, done in place): re-encode the
    * current corpus against NEW centroids/codebooks and publish the
    * result as the next generation of the SAME manifest chain — the
    * index keeps its directory, its generation history, and its
    * stream dedup high-water, so time travel and checkpointed
    * ingestion survive the migration. Appends forever encode against
    * the model the index was BUILT with (correct for consistency,
    * but a corpus that drifts away from its generation-0 training
    * sample degrades recall with no remedy); retrain is the missing
    * lifecycle verb. The new model lands under a unique `model-<uniq>/`
    * directory and the manifest's `model` line points at it, so a
    * reader pinned on a pre-retrain generation KEEPS SCORING WITH THE
    * OLD MODEL — its segments were encoded with it — while post-retrain
    * readers and appends resolve the new one. `retrain(corpus')` is
    * hash-equivalent to `buildIvfPq(corpus')` (per-row encode is
    * deterministic — q160 gates it) without invalidating pinned
    * readers or the streaming checkpoint, which a rebuild-and-swap
    * does. The snapshot it replaces is the whole corpus: the caller
    * owns the raw vectors (the index stores only codes), so drain or
    * pause writers whose deltas are not in `corpus` — the race is
    * LOUD in BOTH orderings: a concurrent append that loses to the
    * retrain aborts on the model-version change, and a retrain that
    * loses to ANY concurrent commit aborts itself (its manifest would
    * list only its own segment, silently erasing the winner's rows —
    * and carrying the stream high-water forward would suppress their
    * checkpoint replay forever; re-run retrain with a corpus that
    * includes them). */
  def retrain(corpus: DataFrame, idCol: String, vecCol: String,
              dir: String, centroids: Array[Array[Double]],
              cbs: Array[Array[Array[Double]]]): Unit =
    retrainWith(PqCodec, corpus, idCol, vecCol, dir, (centroids, cbs))

  private def retrainWith[M <: AnyRef](codec: Codec[M], corpus: DataFrame,
                                       idCol: String, vecCol: String,
                                       dir: String, m: M): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    maybeKill(dir, "stage")
    val modelDir = freshName("model-")
    codec.writeModel(spark, s"$dir/$modelDir", m)
    val segName = freshName("batch-")
    val n = writeSegment(codec, corpus, idCol, vecCol, dir, segName, m)("n")
      .asInstanceOf[Long]
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (n == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"refusing to retrain $dir onto an empty corpus")
    }
    if (!publishStaged(f, dir, mid + 1, ManifestData(
        Seq(Art(md.nextId, n, segName)), Seq.empty,
        hw = md.nextId, shw = md.shw,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the retrain — its rows " +
          "are not in this retrain's corpus and must not be erased; " +
          "re-run retrain against a corpus that includes them")
    }
  }

  /** CELL-SKEW REMEDIATION (Faiss re-clusters, SPANN splits postings):
    * a real corpus CLUSTERS, so one coarse cell can grow until every
    * probe that routes to it scans a data-sized posting list —
    * [[cellStats]] reports the imbalance, `splitCell` acts on it.
    * The oversized cell's rows are re-assigned against `subCentroids`
    * (k ≥ 2, caller-derived — k-means over the cell's members in
    * production; any deterministic rule for replayable builds) and
    * re-encoded, the centroid table is REWRITTEN with the first
    * sub-centroid in the hot cell's slot and the rest appended as new
    * cells (existing cell ids never shift, so every other segment's
    * cell keys — and codes, whose residuals reference unchanged
    * centroids — stay bit-valid), and ONE manifest swap publishes:
    * a tombstone over the cell's old rows, the re-keyed segment, and
    * the bumped model version. Readers see the split entire or not at
    * all; pinned pre-split readers keep the old centroid table.
    *
    * Cost is CELL-sized, not corpus-sized: one encode pass over the
    * hot cell's rows (corpus/nlist at balance, the skewed fraction by
    * definition here) vs [[retrain]]'s full-corpus re-encode — the
    * remediation stays affordable exactly when the skew is worst.
    * Hot-cell rows re-assign against the FULL post-split centroid
    * list (nearest-at-encode, the same rule every build/append uses).
    *
    * Like [[retrain]], a concurrent commit aborts the split LOUDLY
    * (its member set and model were computed against this snapshot; a
    * racing append could land rows into the old cell encoded against
    * the retiring centroid) — re-run on the fresh snapshot. `corpus`
    * must contain the raw vectors of every row the index holds in
    * `cell` (the caller owns raw vectors — the index stores only
    * codes); a member id missing from `corpus`, or duplicated in it,
    * aborts before any manifest change. */
  def splitCell(corpus: DataFrame, idCol: String, vecCol: String,
                dir: String, cell: Int,
                subCentroids: Array[Array[Double]]): Unit =
    splitCellsImpl(corpus, idCol, vecCol, dir, Seq(cell -> subCentroids),
      expectMid = None, hotOverride = None)

  /** [[splitCell]] generalized to MANY cells under ONE manifest swap —
    * [[rebalance]]'s batched pass. Hot cells are disjoint (a row sits
    * in one cell), so their member unions never interact: one
    * tombstone over the union, one re-encoded segment (every member
    * re-assigns against the FULL grown centroid table — nearest-at-
    * encode, the same rule every build/append uses), one model bump.
    * `expectMid` pins the snapshot the caller derived its
    * sub-centroids from: a commit that landed since aborts loudly
    * BEFORE staging (the derivation is stale). `hotOverride` feeds the
    * policy's cached members frame (columns `idCol, vecCol`, exactly
    * the splitting cells' corpus rows) so the pass scans the corpus
    * once, not once per consumer — only valid with `expectMid`, which
    * guarantees it was derived from THIS snapshot's member set. */
  private[graft] def splitCellsImpl(corpus: DataFrame, idCol: String,
                             vecCol: String, dir: String,
                             splits: Seq[(Int, Array[Array[Double]])],
                             expectMid: Option[Long],
                             hotOverride: Option[DataFrame]): Unit =
    splitCells(PqCodec, corpus, idCol, vecCol, dir, splits, expectMid,
      hotOverride)

  private def splitCells[M <: AnyRef](codec: Codec[M], corpus: DataFrame,
                                      idCol: String, vecCol: String,
                                      dir: String,
                                      splits: Seq[(Int, Array[Array[Double]])],
                                      expectMid: Option[Long],
                                      hotOverride: Option[DataFrame]): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    expectMid.foreach { e =>
      if (mid != e) throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir after the policy derived its " +
          s"sub-centroids (snapshot $e -> $mid) — the derivation is " +
          s"stale; re-run rebalance${codec.tier} against the fresh snapshot")
    }
    maybeKill(dir, "stage")
    val idx = open(codec, spark, f, dir, md)
    val cents = cellsOf(codec.centroids(idx.model), s"splitCell${codec.tier}")
    require(splits.nonEmpty, "no cells to split")
    val cells = splits.map(_._1)
    require(cells.distinct.length == cells.length,
      s"duplicate cells in one split pass: ${cells.mkString(",")}")
    val dim = cents.head.length
    splits.foreach { case (cell, subs) =>
      require(cell >= 1 && cell <= cents.length,
        s"cell $cell out of range 1..${cents.length}")
      require(subs.length >= 2,
        s"a split needs >= 2 sub-centroids, got ${subs.length} (cell $cell)")
      require(subs.forall(_.length == dim),
        s"sub-centroid dim != index dim $dim (cell $cell)")
    }
    val cellsMsg = cells.mkString(",")

    // the INDEX's encode-time assignment is authoritative for
    // membership — never re-derived from the corpus, whose nearest
    // centroid can drift from what was frozen at encode. Distinct:
    // append allows duplicate ids, and the split collapses a
    // duplicated member to its single corpus row (the tombstone masks
    // every old copy; the same id cannot land twice in one segment)
    val memberIds = idx.codes
      .filter(col(codec.cellCol).isin(cells.map(Int.box): _*))
      .select(col("neighbor_id")).distinct()
    val hot = hotOverride.getOrElse(corpus
      .select(col(idCol), col(vecCol))
      .join(memberIds.withColumnRenamed("neighbor_id", "_split_mid"),
        col(idCol).cast("long") === col("_split_mid"))
      .drop("_split_mid"))

    // hottest-first fold: each split replaces its cell's slot with
    // sub-0 and appends the rest — existing cell ids never shift, and
    // the appended ids are pinned by the caller's split order
    val model = codec.withCentroids(idx.model, splits.foldLeft(cents) {
      case (cs, (cell, subs)) => cs.updated(cell - 1, subs.head) ++ subs.tail
    })
    val modelDir = freshName("model-")
    codec.writeModel(spark, s"$dir/$modelDir", model)
    val segName = freshName("batch-")
    val tombName = freshName("t-")
    val n = writeSegment(codec, hot, idCol, vecCol, dir, segName, model)("n")
      .asInstanceOf[Long]
    val tn = writeCounted(memberIds, s"$dir/tomb/$tombName")
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/tomb/$tombName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (tn == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"cell(s) $cellsMsg of $dir are empty — nothing to split (re-read " +
          s"cellStats${codec.tier}; the imbalance may have been compacted away)")
    }
    if (n != tn) {
      cleanup()
      throw new IllegalArgumentException(
        s"corpus does not cover cell(s) $cellsMsg exactly: the index " +
          s"holds $tn rows, the re-encode landed $n — a member id is " +
          "missing from (or duplicated in) the corpus; splitting would " +
          "drop or duplicate those rows")
    }
    if (!publishStaged(f, dir, mid + 1, md.copy(
        segs = md.segs :+ Art(md.nextId + 1, n, segName),
        tombs = md.tombs :+ Art(md.nextId, tn, tombName),
        hw = md.nextId + 1,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the split — its rows " +
          "may sit in the cell being split and would be stranded under a " +
          s"retired centroid; re-run splitCell${codec.tier} against the " +
          "fresh snapshot")
    }
  }

  /** What a policy run did: splits committed, stats→split passes paid
    * (a pass = one stats read + one members materialization + at most
    * one manifest swap), and the cells split in commit order. */
  final case class PolicyReport(splits: Int, passes: Int,
                                cellsSplit: Seq[Int])

  /** IMBALANCE-GATED SPLIT POLICY — decides WHEN [[splitCell]] runs
    * (the verb gates HOW; this is the maintenance brain Faiss calls
    * imbalance remediation and SPANN runs as posting-list splitting):
    * read [[cellStats]], find cells holding more than `maxImbalance` ×
    * the balanced share (corpus / nlist — recomputed each pass, since
    * every split grows nlist), split EVERY over-bar cell in that
    * snapshot (hottest-first, id-tiebroken, trimmed to the remaining
    * `maxSplits` budget) under ONE manifest swap, and iterate until
    * every cell is bounded or the budget is spent. Over-bar cells are
    * disjoint by construction (a row sits in exactly one cell), so a
    * corpus with k hot cells pays one stats/members pass instead of k.
    * Returns the number of splits committed.
    *
    * Sub-centroid derivation is a seeded 2-means over each hot cell's
    * NORMALIZED member vectors (the index's assignment metric is
    * cosine — see NearestCentroids), fully deterministic for
    * replayable builds: seed A = the minimum-id member, seed B = the
    * member least cosine-similar to A (min-id tiebreak), one
    * assignment pass, group means re-normalized. Every driver-side
    * collect is parameter-sized (nlist rows of stats, two seed rows
    * per hot cell, 2 × dim mean cells); the heavy work — the member
    * join and the cell re-encodes — runs over ONE cached cell-sized
    * members frame per pass (seed derivation, assignment sums and the
    * split re-encode all read it; the corpus is scanned once per
    * pass, not once per consumer).
    *
    * A cell whose members cannot be separated (all-identical vectors:
    * seed B equals seed A, a group lands empty, or the two means
    * coincide) is marked unsplittable and skipped — splitting cannot
    * help a cell of exact duplicates, and the mark keeps the loop from
    * spinning on it. A concurrent commit aborts the run loudly — and
    * the abort is ENFORCED, not best-effort: the pass's snapshot
    * generation is pinned into the split, which re-checks it before
    * staging (a commit landing after the stats read would otherwise be
    * silently absorbed with sub-centroids derived from a stale member
    * set); re-invoke on the fresh snapshot. */
  def rebalance(corpus: DataFrame, idCol: String, vecCol: String,
                dir: String, maxImbalance: Double = 4.0,
                maxSplits: Int = 8): Int =
    rebalanceReport(corpus, idCol, vecCol, dir, maxImbalance,
      maxSplits).splits

  /** [[rebalance]] returning the full [[PolicyReport]] (pass count and
    * split cells, for operability dashboards and the scale probes). */
  def rebalanceReport(corpus: DataFrame, idCol: String, vecCol: String,
                      dir: String, maxImbalance: Double = 4.0,
                      maxSplits: Int = 8): PolicyReport =
    rebalanceWith(PqCodec, corpus, idCol, vecCol, dir, maxImbalance,
      maxSplits)

  /** The policy loop of [[rebalance]]'s doc over either codec. Each pass
    * re-reads the per-cell counts from the CURRENT snapshot — every
    * split grows nlist, which tightens the bar — and materializes ONE
    * members frame covering all of the pass's hot cells (id, raw
    * vector, normalized vector, owning cell), cached for the pass's
    * lifetime: seed A / seed B / the assignment sums of every hot cell
    * AND the split re-encode read the cache instead of re-scanning the
    * corpus (~3 scans per cell + 1 per split before; 1 per pass now —
    * the fix that matters at 100 TB, where a corpus scan is the whole
    * cost). Unpersisted per pass, like Components' round frames. */
  private def rebalanceWith[M <: AnyRef](codec: Codec[M], corpus: DataFrame,
                                         idCol: String, vecCol: String,
                                         dir: String, maxImbalance: Double,
                                         maxSplits: Int): PolicyReport = {
    require(maxImbalance > 1.0,
      s"maxImbalance must exceed 1 (the balanced share), got $maxImbalance")
    require(maxSplits >= 1, s"maxSplits must be >= 1, got $maxSplits")
    import graft.functions.{VectorFunctions => VF}
    val spark = corpus.sparkSession
    val cellCol = codec.cellCol
    var splits = 0
    var passes = 0
    val cellsSplit = scala.collection.mutable.ArrayBuffer[Int]()
    val unsplittable = scala.collection.mutable.Set[Int]()
    var done = false
    while (!done && splits < maxSplits) {
      val f = fs(spark, dir)
      val (mid, md) = refresh(f, dir)
      val idx = open(codec, spark, f, dir, md)
      val nlist = cellsOf(codec.centroids(idx.model),
        s"rebalance${codec.tier}").length
      val counts = cellCounts(idx.codes, cellCol).collect()
        .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_vectors")))
      val total = counts.map(_._2).sum
      val bar = maxImbalance * total.toDouble / nlist
      val hotCells = counts
        .filter { case (c, n) => n > bar && !unsplittable(c) }
        .sortBy { case (c, n) => (-n, c) }
        .take(maxSplits - splits)
        .map(_._1)
      if (hotCells.isEmpty) done = true
      else {
        passes += 1
        val memberIds = idx.codes
          .filter(col(cellCol).isin(hotCells.map(Int.box): _*))
          .select(col("neighbor_id").as("_rid"),
            col(cellCol).cast("int").as("_mcell"))
          .distinct()
        val members = corpus
          .select(col(idCol), col(vecCol),
            col(idCol).cast("long").as("_rid"),
            VF.normalize(col(vecCol)).as("_v"))
          .join(memberIds, Seq("_rid"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          members.count(): Unit // materialize: the pass's ONE corpus scan
          val planned = hotCells.flatMap { cell =>
            deriveSubCentroids(
              members.filter(col("_mcell") === cell).select("_rid", "_v"),
              cell) match {
              case None => unsplittable += cell; None
              case Some(subs) => Some(cell -> subs)
            }
          }
          if (planned.nonEmpty) {
            // dropDuplicates collapses an id appended into two hot
            // cells to its single corpus row (content-identical copies
            // — the pick is value-deterministic), matching the
            // tombstone's distinct-id count
            val hot = members
              .filter(col("_mcell")
                .isin(planned.map(t => Int.box(t._1)): _*))
              .dropDuplicates("_rid")
              .select(col(idCol), col(vecCol))
            splitCells(codec, corpus, idCol, vecCol, dir, planned.toSeq,
              expectMid = Some(mid), hotOverride = Some(hot))
            splits += planned.size
            cellsSplit ++= planned.map(_._1)
          }
        } finally members.unpersist(): Unit
      }
    }
    PolicyReport(splits, passes, cellsSplit.toSeq)
  }

  /** The deterministic seeded 2-means of [[rebalance]]'s doc, over a
    * hot cell's members (`_rid: long`, `_v: array<double>` normalized):
    * seed A = the min-id member; seed B = the member least
    * cosine-similar to A (min-id tiebreak); one assignment pass by
    * nearer seed; group means rounded to 1e-6 HALF-EVEN before
    * re-normalizing — a distributed double sum is order-
    * nondeterministic in its last ulps, and the policy must derive
    * BIT-REPLAYABLE sub-centroids (the q169 oracle replays this
    * derivation in SQL; a last-ulp drift could flip a re-encode
    * assignment). 1e-6 sits far above summation noise and far below
    * any clustering-quality scale. Returns None when the cell cannot
    * be separated (identical seeds, an empty side, coinciding means —
    * an all-duplicate cell: splitting cannot help it). An EMPTY
    * members frame is not "unsplittable" — the index reports the cell
    * holds rows, so the corpus is missing them: fail with the same
    * loud corpus-coverage contract [[splitCell]] enforces, never an
    * ArrayIndexOutOfBounds. */
  private def deriveSubCentroids(members: DataFrame, cell: Int)
      : Option[Array[Array[Double]]] = {
    def dot(v: Column, c: Array[Double]): Column =
      aggregate(zip_with(v, typedLit(c.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val a = members.orderBy(col("_rid"))
      .limit(1).collect().headOption.getOrElse(
        throw new IllegalArgumentException(
          s"corpus does not cover cell $cell: the index holds its member " +
            "rows but the corpus join found none — a member id is missing " +
            "from the corpus; rebalance cannot derive sub-centroids"))
      .getSeq[Double](1).toArray
    val b = members
      .orderBy(dot(col("_v"), a).asc, col("_rid").asc)
      .limit(1).collect()(0).getSeq[Double](1).toArray
    if (java.util.Arrays.equals(a, b)) return None
    val dim = a.length
    val sums = Array.fill(2)(new Array[Double](dim))
    val cnts = new Array[Long](2)
    members
      .withColumn("_grp",
        when(dot(col("_v"), a) >= dot(col("_v"), b), 0).otherwise(1))
      .select(col("_grp"), posexplode(col("_v")))
      .groupBy("_grp", "pos")
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        val g = r.getAs[Int]("_grp")
        sums(g)(r.getAs[Int]("pos")) = r.getAs[Double]("s")
        cnts(g) = r.getAs[Long]("n")
      }
    if (cnts.exists(_ == 0L)) return None
    def meanNorm(g: Int): Array[Double] = {
      val m = sums(g).map(x => math.rint(x / cnts(g) * 1e6) / 1e6)
      val n = math.sqrt(m.map(x => x * x).sum)
      if (n == 0.0) m else m.map(_ / n)
    }
    val (cA, cB) = (meanNorm(0), meanNorm(1))
    if (java.util.Arrays.equals(cA, cB)) None else Some(Array(cA, cB))
  }

  // ------------------------------------------------------------- SQ8

  /** An opened SQ8 snapshot: the 2×dim affine model + the lazy segment
    * union (`neighbor_id, codes, recon_norm` — [[Sq.encode]]'s schema,
    * plus `cell` when the index was built with a coarse quantizer),
    * tombstones masked as in [[Loaded]]. Flat SQ segments are full
    * scans (the cheap tier's trade); a CELL-PARTITIONED SQ index keeps
    * the same full-scan default while also serving [[topKSq]]'s pruned
    * mode — one layout, both read paths. */
  final case class LoadedSq(model: Sq.Model,
                            centroids: Option[Array[Array[Double]]],
                            codes: DataFrame, nrows: Long,
                            batches: Seq[Long]) {
    def dim: Int = model.dim
    def nlist: Int = centroids.map(_.length).getOrElse(0)
  }

  /** Build and atomically publish a fresh SQ8 index at `dir` — same
    * staging/manifest protocol as [[buildIvfPq]], with the
    * parameter-sized model persisted as (i, mn, step, inv) rows.
    * Passing `centroids` (typically the IVF tier's coarse quantizer)
    * produces the CELL-PARTITIONED layout: segments carry a `cell`
    * column and are clustered by it, the centroids persist beside the model, and
    * [[topKSq]] gains the probe-pruned read path — while the default
    * full scan stays hash-identical to the flat layout (q155's gate). */
  def buildSq(corpus: DataFrame, idCol: String, vecCol: String,
              dir: String, m: Sq.Model,
              centroids: Option[Array[Array[Double]]] = None): Unit =
    build(SqCodec, corpus, idCol, vecCol, dir, (m, centroids))

  /** [[appendIvfPq]] on an SQ8 index. */
  def appendSq(delta: DataFrame, idCol: String, vecCol: String,
               dir: String, dedupKey: Option[Long] = None): Unit =
    ingest(SqCodec, delta, idCol, vecCol, dir, dedupKey, upsert = false)

  /** [[streamAppend]] into an SQ8 index. */
  def streamAppendSq(updates: DataFrame, idCol: String, vecCol: String,
                     dir: String, checkpoint: String,
                     trigger: Trigger): StreamingQuery =
    streamBatches(updates, checkpoint, trigger)((batch, id) =>
      appendSq(batch, idCol, vecCol, dir, dedupKey = Some(id)))

  /** [[upsertBatchIvfPq]] on an SQ8 index. */
  def upsertBatchSq(batch: DataFrame, idCol: String, vecCol: String,
                    dir: String, dedupKey: Option[Long] = None): Unit =
    ingest(SqCodec, batch, idCol, vecCol, dir, dedupKey, upsert = true)

  /** [[streamUpsert]] into an SQ8 index. */
  def streamUpsertSq(updates: DataFrame, idCol: String, vecCol: String,
                     dir: String, checkpoint: String,
                     trigger: Trigger): StreamingQuery =
    streamBatches(updates, checkpoint, trigger)((batch, id) =>
      upsertBatchSq(batch, idCol, vecCol, dir, dedupKey = Some(id)))

  /** [[merge]] of SQ8 shards: the affine models (and, when
    * cell-partitioned, the coarse quantizers) must be bit-equal. */
  def mergeSq(spark: SparkSession, dstDir: String, srcDir: String): Unit =
    mergeInto(SqCodec, spark, dstDir, srcDir)

  /** [[retrain]] of an SQ8 index onto a re-fitted affine model (and
    * optionally a new coarse quantizer); `retrainSq(corpus')` ≡
    * `buildSq(corpus')` (q164 gates it). */
  def retrainSq(corpus: DataFrame, idCol: String, vecCol: String,
                dir: String, m: Sq.Model,
                centroids: Option[Array[Array[Double]]] = None): Unit =
    retrainWith(SqCodec, corpus, idCol, vecCol, dir, (m, centroids))

  /** [[load]] of an SQ8 snapshot (coarse centroids loaded when the
    * index has the cell layout). */
  def loadSq(spark: SparkSession, dir: String,
             asOf: Option[Long] = None): LoadedSq = {
    val s = open(SqCodec, spark, dir, asOf)
    LoadedSq(s.model._1, s.model._2, s.codes, s.nrows, s.batches)
  }

  /** [[cellStats]] for the SQ8 tier's cell-partitioned layout. */
  def cellStatsSq(idx: LoadedSq): DataFrame = {
    cellsOf(idx.centroids, "cellStatsSq")
    cellCounts(idx.codes, SqCodec.cellCol)
  }

  /** [[splitCell]] for the SQ8 tier — same semantics (index membership
    * authoritative, centroid ids never shift, one manifest swap of
    * tombstone + re-keyed segment + bumped model) with one structural
    * simplification the cheap tier earns: SQ codes are a per-dimension
    * affine of the RAW vector, independent of the cell, so the
    * "re-encode" reproduces bit-identical codes — the split only moves
    * rows to new cell keys under the grown centroid table. The
    * corpus is still required: the index stores codes, and the NEW
    * assignment needs the raw vectors. */
  def splitCellSq(corpus: DataFrame, idCol: String, vecCol: String,
                  dir: String, cell: Int,
                  subCentroids: Array[Array[Double]]): Unit =
    splitCellsSqImpl(corpus, idCol, vecCol, dir, Seq(cell -> subCentroids),
      expectMid = None, hotOverride = None)

  private[graft] def splitCellsSqImpl(corpus: DataFrame, idCol: String,
                               vecCol: String, dir: String,
                               splits: Seq[(Int, Array[Array[Double]])],
                               expectMid: Option[Long],
                               hotOverride: Option[DataFrame]): Unit =
    splitCells(SqCodec, corpus, idCol, vecCol, dir, splits, expectMid,
      hotOverride)

  /** [[rebalance]] for a cell-partitioned SQ8 index. */
  def rebalanceSq(corpus: DataFrame, idCol: String, vecCol: String,
                  dir: String, maxImbalance: Double = 4.0,
                  maxSplits: Int = 8): Int =
    rebalanceSqReport(corpus, idCol, vecCol, dir, maxImbalance,
      maxSplits).splits

  /** [[rebalanceSq]] returning the full [[PolicyReport]]. */
  def rebalanceSqReport(corpus: DataFrame, idCol: String, vecCol: String,
                        dir: String, maxImbalance: Double = 4.0,
                        maxSplits: Int = 8): PolicyReport =
    rebalanceWith(SqCodec, corpus, idCol, vecCol, dir, maxImbalance,
      maxSplits)

  /** Query an opened SQ8 snapshot with [[Sq.topK]]'s factored-dot
    * scoring over the pinned segment union. The DEFAULT is the full
    * codes scan (the cheap tier's exact-over-compressed contract —
    * hash-identical whether the layout is flat or cell-partitioned).
    * `prune = true` on a cell-built index restricts candidates to the
    * rows in the batch's probed cells (each query's nprobe nearest
    * coarse cells), pushed into every segment scan as a parquet data
    * filter on `cell` (the IVF trade: row groups of unprobed cells are
    * skipped, for approximate recall). Pruning a flat index fails loudly rather than
    * silently full-scanning. A serving batch runs as ONE Spark job
    * either way (SERVING on the object); a batch above
    * [[snapshotCollectMax]] rows runs [[Sq.topK]], over the batch pinned
    * once ([[Pin.data]]) when `prune` probes cells. */
  def topKSq(idx: LoadedSq, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 10, nprobe: Int = 4,
             prune: Boolean = false): DataFrame =
    search(SqCodec, (idx.model, idx.centroids), idx.codes, queries, idCol,
      vecCol, k, nprobe,
      if (prune) Some(cellsOf(idx.centroids, "prune=true")) else None)

  /** Serving-batch snapshot cap: a search collects up to this many rows
    * of its batch into a driver local relation, the input of the one-job
    * serving kernel (≤ a few MB at embedding dims). A larger batch runs
    * the codec's operator plan. */
  private[graft] val snapshotCollectMax = 8192

  /** `df` as a driver local relation when it holds at most `cap` rows
    * (one `limit(cap + 1)` collect), else None. */
  private def collectUnder(df: DataFrame, cap: Int): Option[DataFrame] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None
    else Some(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** Snapshot retention + garbage collection (the Iceberg
    * `expire_snapshots(retain_last = N)` contract): keep the newest
    * `keepLast` manifest generations — every [[load]]`(asOf)` target
    * among them stays readable — and reclaim everything only OLDER
    * generations reference: their manifests, segments and tombstone
    * sets no retained generation lists, and [[retrain]] model
    * directories no retained generation pins. A handle pinned on a
    * dropped generation can no longer scan — run expiry only once
    * those readers have drained.
    *
    * WARNING — the default `keepLast = 1` is the AGGRESSIVE reclaim
    * (Iceberg's `retain_last` default): one argument-less maintenance
    * call destroys every [[load]]`(asOf)` time-travel target except
    * the current snapshot, and there is no undo — the dropped
    * manifests and the segments only they referenced are deleted.
    * Pass `keepLast` explicitly from any scheduled maintenance job
    * whose operators may rely on time travel (`keepLast = 7` for a
    * week of daily generations is the common production shape).
    *
    * ORPHANS — artifact directories in NO manifest at all (a writer
    * that died between staging and publish) — are reclaimed only when
    * older than `orphanGraceMs` (default 24 h, the Iceberg
    * remove-orphan-files `older_than` rule): a LIVE writer's staged-
    * but-unpublished segment looks exactly like an orphan, and
    * reaping it mid-commit would publish a manifest pointing at
    * nothing. */
  def expire(spark: SparkSession, dir: String, keepLast: Int = 1,
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit =
    IndexLog.expire(fs(spark, dir), dir, keepLast, orphanGraceMs)

  /** Open a snapshot: collect the parameter-sized model tables into
    * driver literals (validated against `meta`), pin a manifest, and
    * union its segment scans lazily (tombstones of THAT generation
    * masked — a handle opened before a [[delete]] still sees the
    * deleted rows). `asOf` time-travels to an OLDER manifest generation
    * (any committed id [[versionsOf]] lists — useful to reproduce a
    * search exactly as it ran before an append, the Iceberg/Delta
    * `VERSION AS OF` read); default is the current (highest) manifest.
    * Fails loudly on an expired or unknown id, and on one a [[repair]]
    * superseded, naming the superseding generation. */
  def load(spark: SparkSession, dir: String, asOf: Option[Long] = None): Loaded = {
    val s = open(PqCodec, spark, dir, asOf)
    Loaded(s.model._1, s.model._2, s.codes, s.nrows, s.batches)
  }

  /** Recover a chain WEDGED by a publisher that died mid-write (its
    * sentinel-less top manifest makes every reader and writer fail
    * loudly): if that manifest is older than `staleAfterMs`, republish
    * the last complete generation on top of it; the dead writer's staged
    * artifacts become orphans [[expire]] grace-reaps. True when something
    * was repaired, false on a healthy chain; a FRESH incomplete manifest
    * (an in-flight publish) is refused loudly. Safe under concurrent
    * repairers. `staleAfterMs` is a fencing lease: keep it above the
    * longest stall of a live publisher on this store (see
    * [[IndexLog.repair]]). */
  def repair(spark: SparkSession, dir: String,
             staleAfterMs: Long = 10L * 60 * 1000): Boolean =
    IndexLog.repair(fs(spark, dir), dir, staleAfterMs)

  /** Ops-side index metadata as a DataFrame — what an operator looks at
    * before deciding to compact, expire, or page someone: one row per
    * (manifest generation × artifact), artifact kind `segment` or
    * `tombstone`, with the generation's id high-water and stream
    * high-water repeated per row. Driver-side file metadata only (the
    * manifests are parameter-sized); no data files are opened, so
    * describing a 100 TB index costs a directory listing. */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // a generation named by a later supersede marker is VOID history
    // even when its manifest is complete (a writer stalled past the
    // fencing lease finished its body after the supersede, reported the
    // commit lost and re-based): without the `buried-` label an operator
    // would read it as a live snapshot. A torn corpse below the top is
    // REPORTED, not fatal — ops should see it awaiting its expiry; a
    // corpse at the top still fails loudly: repair first.
    IndexLog.history(fs(spark, dir), dir).flatMap { g =>
      val pre = if (g.buried) "buried-" else ""
      g.md match {
        case Some(md) =>
          md.segs.map(a =>
            (g.id, pre + "segment", a.id, a.n, md.hw, md.shw, md.model)) ++
            md.tombs.map(a =>
              (g.id, pre + "tombstone", a.id, a.n, md.hw, md.shw, md.model))
        case None =>
          Seq((g.id, "torn-corpse", -1L, -1L, -1L, -1L, -1L))
      }
    }.toDF("generation", "kind", "artifact_id", "n_rows",
      "id_high_water", "stream_high_water", "model_version")
  }

  /** Published manifest generations, oldest first ([[expire]] collapses
    * this to the current one). Every id a commit produced is a snapshot
    * [[load]]'s `asOf` accepts; the list also holds what a [[repair]]
    * superseded (a torn corpse, or a stalled writer's late body), which
    * `asOf` rejects and [[describe]] labels. */
  def versionsOf(spark: SparkSession, dir: String): Seq[Long] =
    IndexLog.generations(fs(spark, dir), dir)

  /** `codes` restricted to the distinct allowed ids, the mask re-planted
    * as a broadcast LITERAL when it fits under `smallMask` rows (the
    * tiny-allowlist hatch of [[topKWhere]]). */
  private def allowedOnly(codes: DataFrame, allowed: DataFrame,
                          allowedIdCol: String, smallMask: Int): DataFrame = {
    val mask = allowed.select(col(allowedIdCol).cast("long")
      .as("neighbor_id")).distinct()
    codes.join(collectUnder(mask, smallMask).fold(mask)(broadcast(_)),
      Seq("neighbor_id"), "left_semi")
  }

  /** FILTERED search — the metadata-predicate vector query every
    * production deployment serves ("nearest neighbors WHERE lang='en'"):
    * the allowed-id set is semi-joined into the codes scan BEFORE
    * ranking (pre-filter semantics — each query still returns up to k
    * ALLOWED neighbors; post-filtering a plain top-k would silently
    * return fewer), then the standard [[topK]] runs. The mask is
    * id-only and distinct, so AQE broadcasts selective filters; probe
    * pruning still pushes through the semi-join's streamed side as a
    * parquet `cell` filter. Because per-row encode is deterministic,
    * index-over-everything + mask ≡ an index built on only the allowed
    * rows — AnnIndexSpec pins that equivalence, q159 hash-gates it.
    *
    * TINY-ALLOWLIST ESCAPE HATCH: a highly selective filter (a
    * takedown review set, one tenant's documents) is a PARAMETER, not
    * a dataset — when the distinct mask fits under `smallMask` rows it
    * is collected once and re-planted as a broadcast LITERAL, so the
    * search join never re-executes the allowed-side subplan (which at
    * 100 TB may itself be a corpus scan) and the optimizer sees a
    * guaranteed-broadcast build side instead of an estimate. Ranking
    * semantics are IDENTICAL on both paths (`nprobe` governs the
    * candidate cells either way — the hatch changes plan shape only),
    * which is what keeps one oracle valid for both; q161 gates the
    * literal-mask plan, AnnIndexSpec asserts the probe's pushed `cell`
    * filter survives it. */
  def topKWhere(idx: Loaded, queries: DataFrame, idCol: String,
                vecCol: String, allowed: DataFrame, allowedIdCol: String,
                k: Int = 10, nprobe: Int = 4,
                prune: Boolean = true, smallMask: Int = 1024): DataFrame =
    topK(idx.copy(codes = allowedOnly(idx.codes, allowed, allowedIdCol,
      smallMask)), queries, idCol, vecCol, k, nprobe, prune)

  /** [[topKWhere]] over an SQ8 snapshot (full scan unless `prune`). The
    * SQ model is fitted on the WHOLE corpus at build time, so
    * mask-at-read scores each allowed row exactly as the unfiltered
    * scan would (q163 hash-gates it). */
  def topKWhereSq(idx: LoadedSq, queries: DataFrame, idCol: String,
                  vecCol: String, allowed: DataFrame, allowedIdCol: String,
                  k: Int = 10, nprobe: Int = 4,
                  prune: Boolean = false, smallMask: Int = 1024): DataFrame =
    topKSq(idx.copy(codes = allowedOnly(idx.codes, allowed, allowedIdCol,
      smallMask)), queries, idCol, vecCol, k, nprobe, prune)

  /** Per-cell population report over an opened snapshot — the ops-side
    * balance audit (an IVF list 100× the mean is a latency and recall
    * hazard: every query probing it scans 100× the codes; Faiss's
    * imbalance_factor). One nlist-bounded hash agg over the codes scan
    * plus a broadcast 1-row total — no sort, no collect. */
  def cellStats(idx: Loaded): DataFrame = cellCounts(idx.codes, PqCodec.cellCol)

  private def cellCounts(codes: DataFrame, cellCol: String): DataFrame = {
    // pinned (≤ nlist rows): the share projection AND the 1-row total
    // consume it — without the cut each re-scanned the visible codes
    val counts = Pin.param(codes.groupBy(col(cellCol))
      .agg(count(lit(1)).as("n_vectors")))
    val total = counts.agg(sum(col("n_vectors")).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(col(cellCol).cast("int").as("cell"),
        col("n_vectors"),
        bround(col("n_vectors") / col("_t"), 6).as("frac"))
  }

  /** Query an opened snapshot, probing each query's `nprobe` nearest
    * cells; the probed cells reach EVERY segment scan as a pushed
    * parquet filter on `cell`. A serving batch runs as ONE Spark job (SERVING on the
    * object) and comes back as a local relation; a batch above
    * [[snapshotCollectMax]] rows is pinned once ([[Pin.data]]) and
    * searched by [[Pq.ivfPqSearch]]. `prune = false` keeps [[Pq.ivfPqSearch]]'s
    * plain cell-join plan for the corpus-as-queries shape, where every
    * cell is probed anyway. Both paths return the same rows:
    * `(query_id, neighbor_id, adist, rank)`. */
  def topK(idx: Loaded, queries: DataFrame, idCol: String, vecCol: String,
           k: Int = 10, nprobe: Int = 4, prune: Boolean = true): DataFrame =
    if (!prune)
      Pq.ivfPqSearch(idx.codes, queries, idCol, vecCol, idx.centroids,
        idx.cbs, k, nprobe)
    else search(PqCodec, (idx.centroids, idx.cbs), idx.codes, queries,
      idCol, vecCol, k, nprobe, Some(idx.centroids))

  // ---- serving (see SERVING on the object) -------------------------

  /** The search of [[topK]] and [[topKSq]] over either codec; `cents`
    * is the coarse quantizer when the search probes cells. A batch that
    * fits under [[snapshotCollectMax]] runs the fused kernel: its state
    * is folded from the codec's Column expressions over the local
    * relation on the driver, and the probe set is known before the scan
    * is planned. A larger batch runs the codec's operator plan. */
  private def search[M <: AnyRef](codec: Codec[M], model: M,
      codes: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, cents: Option[Array[Array[Double]]]): DataFrame = {
    import graft.plans.SketchExpressions.nearestCentroids
    val probes = cents.map(c => nearestCentroids(col(vecCol), c, nprobe))
    def probed(cells: Array[Int]): DataFrame =
      if (cents.forall(cells.length >= _.length)) codes
      else codes.filter(col(codec.cellCol).isin(cells.sorted.map(Int.box): _*))
    collectUnder(queries.select(col(idCol), col(vecCol)),
        snapshotCollectMax) match {
      case Some(q) =>
        val rows = q.select(col(idCol), probes.getOrElse(lit(null)),
            struct(codec.queryState(model, col(vecCol), probes): _*))
          .collect()
        // a query with a NULL id scores nothing, but its probes still
        // widen the scan, as in the operator plan
        val cells = rows.flatMap(r =>
          Option(r.getSeq[Int](1)).getOrElse(Nil)).distinct
        serve(codec, model, probed(cells), q.schema(idCol).dataType,
          rows.filterNot(_.isNullAt(0)), k)
      case None =>
        // a batch the operator plan reads twice (probe, then search)
        // must be stable: one pinned evaluation, never the raw frame. A
        // flat search reads it once, so the raw frame serves; the
        // cap probe above read at most snapshotCollectMax + 1 of its
        // rows and discarded them.
        val q = if (probes.isEmpty) queries
          else Pin.data(queries.select(col(idCol), col(vecCol)))
        val cells = probes.map(p => q.select(explode(p)).distinct()
          .collect().map(_.getInt(0)))
        codec.reference(model, cells.fold(codes)(probed), q, idCol, vecCol,
          k, nprobe)
    }
  }

  /** The fused search over `codes` for the collected query `rows`
    * (`id, probes, state`): one job scans each partition once, scores
    * every row against the queries that probe its cell (all of them for
    * SQ8) and keeps a bounded heap per query id; the partial heaps merge
    * on the driver as tasks finish. The result is a local relation with
    * the operator plan's schema. */
  private def serve[M <: AnyRef](codec: Codec[M], model: M,
      codes: DataFrame, idType: DataType, rows: Array[Row],
      k: Int): DataFrame = {
    val spark = codes.sparkSession
    // one heap per distinct query id, in first-appearance order
    val qid = rows.map(_.getAs[Number](0).longValue)
    val ids = scala.collection.mutable.LinkedHashMap.empty[Long, Any]
    rows.zip(qid).foreach { case (r, id) => ids.getOrElseUpdate(id, r.get(0)) }
    val slot = ids.keys.zipWithIndex.toMap
    val scorer = codec.scorer(model, codes.schema, qid.map(slot), qid,
      rows.map(r => Option(r.getSeq[Int](1)).fold(Array.empty[Int])(_.toArray)),
      rows.map(_.getStruct(2)))
    val (n, desc) = (ids.size, codec.desc)
    val heaps =
      if (n == 0) new Heaps(k, 0, desc)
      else {
        val qe = codes.select(scorer.cols: _*).queryExecution
        try SQLExecution.withNewExecutionId(qe, Some("topK")) {
          val partial = qe.toRdd.mapPartitions { it =>
            val h = new Heaps(k, n, desc)
            it.foreach(scorer.task(h))
            Iterator.single(h)
          }
          if (partial.partitions.isEmpty) new Heaps(k, n, desc)
          else partial.reduce(_ merge _)
        } catch {
          // a malformed row fails the task; surface the kernel's own error
          case e: org.apache.spark.SparkException
              if e.getCause.isInstanceOf[IllegalArgumentException] =>
            throw e.getCause
        }
      }
    val out = ids.values.zipWithIndex.flatMap { case (id, j) =>
      heaps.ranked(j).zipWithIndex.map { case ((s, nid), r) =>
        Row(id, nid, s, r + 1) }
    }.toSeq
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
        StructField("query_id", idType), StructField("neighbor_id", LongType),
        StructField("_s", DoubleType), StructField("rank", IntegerType, false))))
      .select(col("query_id"),
        col("neighbor_id").cast(codes.schema("neighbor_id").dataType),
        bround(col("_s"), 6).as(codec.scoreCol), col("rank"))
  }

  /** One kept candidate; its score is NULL when `isNull`. */
  private final case class Hit(score: Double, isNull: Boolean, id: Long)

  /** The operator plans' window order: score ascending (descending
    * when `desc`), a NULL score after every number, then `neighbor_id`
    * ascending. */
  private final class HitOrder(desc: Boolean)
      extends java.util.Comparator[Hit] with Serializable {
    def compare(a: Hit, b: Hit): Int =
      if (a.isNull != b.isNull) (if (a.isNull) 1 else -1)
      else {
        val c = if (a.isNull) 0
          else SQLOrderingUtil.compareDoubles(a.score, b.score) * (if (desc) -1 else 1)
        if (c != 0) c else java.lang.Long.compare(a.id, b.id)
      }
  }

  /** Bounded top-k heaps, one per distinct query id, each holding its
    * WORST kept candidate at the head, so a better one replaces it in
    * O(log k). */
  private final class Heaps(k: Int, n: Int, desc: Boolean)
      extends Serializable {
    private val order = new HitOrder(desc)
    private val kept = Array.fill(n)(
      new java.util.PriorityQueue[Hit](java.util.Collections.reverseOrder(order)))

    /** Offer candidate `id` with score `s` (NULL when `isNull`) to query `q`. */
    def offer(q: Int, s: Double, isNull: Boolean, id: Long): Unit = {
      val h = kept(q)
      val hit = Hit(s, isNull, id)
      if (h.size < k) h.add(hit)
      else if (k > 0 && order.compare(hit, h.peek) < 0) { h.poll(); h.add(hit) }
    }

    def merge(o: Heaps): Heaps = {
      for (q <- 0 until n) o.kept(q).forEach(e => offer(q, e.score, e.isNull, e.id))
      this
    }

    /** Query `q`'s kept candidates, best first: (score or null, id). */
    def ranked(q: Int): Seq[(java.lang.Double, Long)] =
      kept(q).toArray(Array.empty[Hit]).sorted(Ordering.comparatorToOrdering(order))
        .map(e => (if (e.isNull) null else java.lang.Double.valueOf(e.score), e.id))
        .toSeq
  }

  /** One codec's scoring of scan rows against a collected query batch:
    * built on the driver, shipped in the task closure. Query row `j`
    * feeds heap `qi(j)` and never scores neighbour `qid(j)`. */
  private abstract class Scorer(qi: Array[Int], qid: Array[Long])
      extends Serializable {
    /** The scan columns [[task]] reads, in order. */
    def cols: Seq[Column]
    /** A per-task function offering each scan row to `h`. */
    def task(h: Heaps): InternalRow => Unit
    protected def heap(j: Int): Int = qi(j)
    protected def self(j: Int, nid: Long): Boolean = qid(j) == nid
  }

  /** IVF-PQ: a row scores against the queries that probe its cell, each
    * through its (query, cell) distance table — derived in the task from
    * the shipped residual, once per cell the task meets. Rows arrive
    * grouped by cell from the cell-clustered segment files, but interleaved
    * behind a shuffled (sort-merge) tombstone or mask join, so a task
    * keeps the tables of every cell it met, up to [[tableBudget]]
    * doubles; past that it drops them all and derives afresh. */
  private final class PqScorer(cbs: Array[Array[Array[Double]]],
      qi: Array[Int], qid: Array[Long],
      byCell: Map[Int, Array[(Int, Array[Double])]])
      extends Scorer(qi, qid) {
    def cols: Seq[Column] = Seq(col("neighbor_id").cast("long"),
      col(PqCodec.cellCol).cast("int"), col("codes"))
    def task(h: Heaps): InternalRow => Unit = {
      val perTable = cbs.map(_.length.toLong).sum
      val met = scala.collection.mutable.HashMap
        .empty[Int, (Array[Int], Array[Array[Array[Double]]])]
      var held = 0L
      def tablesOf(cell: Int) = met.getOrElse(cell, {
        val probing = byCell.getOrElse(cell, Array.empty)
        val size = probing.length * perTable
        if (held + size > tableBudget) { met.clear(); held = 0 }
        held += size
        val t = (probing.map(_._1), probing.map(p => PqDistTable.table(p._2, cbs)))
        met(cell) = t
        t
      })
      r => if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (qs, tables) = tablesOf(r.getInt(1))
        val nid = r.getLong(0)
        val codes = if (r.isNullAt(2)) null else r.getArray(2)
        var e = 0
        while (e < qs.length) {
          if (!self(qs(e), nid))
            h.offer(heap(qs(e)), Pq.adc(tables(e), codes, nid), false, nid)
          e += 1
        }
      }
    }
  }

  /** Distance-table doubles one [[PqScorer]] task keeps (32 MiB). */
  private final val tableBudget = 1L << 22

  /** SQ8: a row scores against every query — `(dot(codes, _w) + _bias)
    * / (_qn · recon_norm)`, [[Sq.topK]]'s expression with its NULLs
    * (and its zero-norm filter). */
  private final class SqScorer(qi: Array[Int], qid: Array[Long],
      w: Array[Array[Double]], bias: Array[java.lang.Double], qn: Array[Double],
      codesType: DataType) extends Scorer(qi, qid) {
    def cols: Seq[Column] = Seq(col("neighbor_id").cast("long"), col("codes"),
      col("recon_norm").cast("double"))
    def task(h: Heaps): InternalRow => Unit = r =>
      if (!r.isNullAt(0) && !r.isNullAt(2) && r.getDouble(2) != 0.0) {
        val nid = r.getLong(0)
        val codes = if (r.isNullAt(1)) null else r.getArray(1)
        val rn = r.getDouble(2)
        var j = 0
        while (j < qid.length) {
          if (!self(j, nid)) {
            val d = if (codes == null || w(j) == null) null
              else SqDotCodes.dot(codes, codesType, w(j))
            val den = qn(j) * rn
            if (d == null || bias(j) == null || den == 0.0)
              h.offer(heap(j), 0.0, true, nid)
            else h.offer(heap(j),
              (d.doubleValue + bias(j).doubleValue) / den, false, nid)
          }
          j += 1
        }
      }
  }
}
