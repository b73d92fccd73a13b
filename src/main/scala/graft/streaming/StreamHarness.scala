package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.TextDedup

/** Executes the streaming paths end-to-end on REAL file sources/sinks so
  * the driver's Verify run (and the q118 registered query) exercise the
  * same code a production stream runs — not just MemoryStream specs.
  *
  * All byproducts (landing dirs, checkpoints, sinks) live in fresh
  * JVM-temp scratch directories, NEVER inside the Verify output dir: the
  * correctness checker oracles every entry of that dir as a query
  * result, and a checkpoint or text landing dir there reads as an `err`
  * row (the round-7 `_stream_*` lesson). */
object StreamHarness {

  /** JVM-temp scratch dir, ONE per prefix, wiped at the start of each
    * run. Lifecycle, explicit: the returned DataFrames lazily READ
    * these dirs, so a run cannot delete its own scratch eagerly — but
    * by the time the SAME path runs again (next bench iteration, next
    * Verify sweep) the previous run's consumers have fully materialized,
    * so re-entry wipes the old bytes instead of leaking a fresh temp
    * dir per invocation (bench warmup+timed loops over q118/q120/q124
    * previously accumulated unbounded data in java.io.tmpdir). A JVM
    * shutdown hook removes the whole scratch root as a backstop; per-key
    * locking keeps concurrent suites on DIFFERENT prefixes safe (the
    * same prefix is never run concurrently — Verify and Bench are
    * sequential). The root is namespaced per JVM (pid suffix) so two
    * processes on one host (sbt test alongside Verify/Bench, parallel CI
    * jobs) can never wipe each other's live landing/checkpoint/sink
    * dirs; the shutdown hook still bounds the per-process leak. */
  private val scratchRoot =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current().pid()}")
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(scratchRoot)))
  }
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
  private[graft] def scratch(prefix: String): String = scratchRoot.synchronized {
    val d = new java.io.File(scratchRoot, prefix)
    deleteRecursively(d)
    if (!d.mkdirs() && !d.isDirectory)
      throw new java.io.IOException(s"cannot create scratch dir $d")
    d.toString
  }

  /** The q50-shaped deterministic inputs, derived from `orders`:
    * (messages, flights). Messages: one eligibility_check JSON per even
    * order key plus a non-JSON noise line every 50th (exercises the
    * parse fallback — audited, never dispatched). Flights: string keys
    * with the three actual-time shapes (empty / unparseable /
    * +k%300 minutes). Kept verbatim from the round-7 parity check so the
    * artifact history stays comparable. */
  def eligibilityFrames(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val k = col("o_orderkey")
    val flights = o.filter(k % 3 =!= 0).select(
      concat(lit("FL"), k.cast("string")).as("flight_number"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("scheduled_departure"),
      when(k % 11 === 0, lit(""))
        .when(k % 11 === 1, lit("not-a-timestamp"))
        .otherwise(date_format(
          timestamp_seconds(unix_timestamp(col("o_orderdate")) + (k % 300) * 60),
          "yyyy-MM-dd HH:mm:ss")).as("actual_departure"))
    val messages = o.filter(k % 2 === 0).select(
      when(k % 50 === 0, concat(lit("corrupt line "), k.cast("string")))
        .otherwise(to_json(struct(
          lit("eligibility_check").as("type"),
          lit("2024-01-01T00:00:00Z").as("requested_at"),
          struct(lit("Jane").as("firstName"), lit("Doe").as("lastName"),
            concat(lit("FL"), k.cast("string")).as("flightNumber"),
            concat(lit("P"), k.cast("string")).as("passengerId")).as("payload"))))
        .as("value"))
    (messages, flights)
  }

  /** Landing files → file-source STREAM → parseMessages → process
    * (stream-static join + reason cascade) → append parquet sink,
    * AvailableNow. Returns (sink read back, landing dir) — the landing
    * path lets the parity check run the batch twin over the SAME files.
    * `processed_at` is dropped (micro-batch wall clock, not data). */
  def eligibilitySinkRun(spark: SparkSession, sfDir: String): (DataFrame, String) = {
    val (messages, flights) = eligibilityFrames(spark, sfDir)
    val dir = scratch("graft_stream_elig")
    val landing = s"$dir/landing"
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    messages.coalesce(4).write.text(landing)
    val stream = spark.readStream.schema("value STRING").text(landing)
    val streamed = EligibilityStream.process(
      EligibilityStream.parseMessages(stream), flights)
      .drop("processed_at")
    val query = streamed.writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", sinkDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    (spark.read.parquet(sinkDir), landing)
  }

  /** The batch twin of [[eligibilitySinkRun]] over the same landing
    * files — identical transforms on a batch read. */
  def eligibilityBatch(spark: SparkSession, sfDir: String,
                       landing: String): DataFrame = {
    val (_, flights) = eligibilityFrames(spark, sfDir)
    EligibilityStream.process(
      EligibilityStream.parseMessages(spark.read.text(landing)), flights)
      .drop("processed_at")
  }

  /** documents ∪ shifted copy of every 5th doc (the QueriesText dup
    * injection, re-stated) with arrival order = doc_id, so every planted
    * copy arrives AFTER its original. */
  def dupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    d.unionByName(
        d.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      .withColumn("seq", col("doc_id"))
  }

  /** File-source STREAM → [[StreamingNearDup.hits]] → append parquet
    * sink, AvailableNow, over [[dupCorpus]]. Returns the distinct
    * normalized hit pairs (id_lo, id_hi, est_jaccard) — a pair sharing
    * n bands lands in the sink n times; distinct-at-read is the
    * documented contract. */
  def nearDupSinkRun(spark: SparkSession, sfDir: String): DataFrame =
    nearDupSinkRunWith(spark, sfDir, "graft_stream_neardup",
      TextDedup.minHashSignature, xxhash64(_))

  /** Oracle-mode twin of [[nearDupSinkRun]]: md5-derived 31-bit
    * signatures and md5 band hashes (graft.plans.OracleHashes) through
    * the SAME streaming pipeline, so the q120 DuckDB oracle replays the
    * stream's entire decision path — signatures, banding, bucket
    * co-occurrence, estimate threshold — hash-for-hash. (Under a
    * cap-overflowing bucket stream and batch-replay semantics diverge
    * by design: the stream retains the first `maxBucketSize` members,
    * the batch replay drops the bucket — both spec-pinned; no sf bucket
    * approaches the cap.) */
  def nearDupSinkRun31(spark: SparkSession, sfDir: String): DataFrame =
    nearDupSinkRunWith(spark, sfDir, "graft_stream_neardup31",
      graft.plans.OracleHashExpressions.minHashSig31, md5(_))

  /** The PRODUCTION PROFILE of the executed near-dup stream: state TTL
    * ARMED (10 min ProcessingTimeTimeout — the bound a long-running
    * crawl deployment defaults to, see StreamingNearDup.hits), same
    * production hashing as [[nearDupSinkRun]]. On this corpus every
    * planted duplicate arrives within the TTL (the whole AvailableNow
    * run takes seconds), so the sink must STILL hash-match the batch
    * twin — gated as `stream_neardup_ttl_parity`: arming the state
    * bound costs nothing until recency actually exceeds it, and the
    * eviction/re-first semantics past the TTL stay spec-pinned
    * (StreamingSpec / StreamingSoakSpec). */
  def nearDupSinkRunTtl(spark: SparkSession, sfDir: String): DataFrame =
    nearDupSinkRunWith(spark, sfDir, "graft_stream_neardup_ttl",
      TextDedup.minHashSignature, xxhash64(_),
      stateTtlMs = Some(10L * 60 * 1000))

  /** Spark's built-in WATERMARK-BOUNDED streaming exact dedup
    * (`dropDuplicatesWithinWatermark`) executed end-to-end — the
    * production idiom for "drop exact re-crawls inside a bounded
    * recency window" that complements [[StreamingNearDup]] (custom
    * near-dup state) and `IncrementalDedup` (batch-vs-history): state
    * is one entry per content key, evicted once the watermark passes
    * the key's event time + delay, so a perpetual crawl feed runs with
    * BOUNDED state at the cost of re-admitting a copy that arrives
    * after the window — the same recency trade the TTL-armed near-dup
    * profile documents.
    *
    * Determinism contract (what makes the sink oracle-able): batch 1 is
    * the DEDUP-FREE original set (one row per distinct text, min id —
    * "first" needs no intra-batch tie-break), batch 2 the planted
    * copies (every 5th original, id + 10e6, landed in LATER files under
    * `maxFilesPerTrigger`, so they arrive with the originals' keys
    * already in state). Copy event times equal their originals'
    * (id % 10e6), and the 2-day watermark delay exceeds the corpus
    * event span, so no state evicts mid-run — every copy must be
    * dropped and the sink must equal the original set exactly (q133's
    * DuckDB oracle replays that set). */
  def exactDedupSinkRun(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val originals = d.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    val copies = originals.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    val dir = scratch("graft_stream_exactdedup")
    val landing = s"$dir/landing"
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    // originals-then-copies arrival order, made EXPLICIT: sequential
    // write jobs usually produce increasing file mod times, but on a
    // filesystem with coarse timestamp granularity the two jobs can
    // land in the same tick — a copy then rides batch 1 alongside its
    // original, and which of the two dropDuplicatesWithinWatermark
    // keeps WITHIN one micro-batch is task-order-nondeterministic (an
    // intermittent q133 hash flip). Stamp every copy file strictly
    // later than the newest original file instead of assuming.
    originals.coalesce(4).write.mode("append").parquet(landing)
    def partFiles() = Option(new java.io.File(landing).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-"))
    val origFiles = partFiles().map(_.getPath).toSet
    val tOrig = partFiles().map(_.lastModified).max
    copies.coalesce(2).write.mode("append").parquet(landing)
    partFiles().filterNot(f => origFiles.contains(f.getPath)).foreach { f =>
      f.setLastModified(math.max(tOrig + 2000L, f.lastModified)): Unit
    }
    val deduped = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 4)
      .parquet(landing)
      .withColumn("event_time", timestamp_seconds(
        lit(1700000000L) + pmod(col("doc_id"), lit(10000000L))))
      .withColumn("content_key", md5(col("text")))
      .withWatermark("event_time", "2 days")
      .dropDuplicatesWithinWatermark("content_key")
      .select(col("doc_id"), col("content_key"))
    val query = deduped.writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", sinkDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(sinkDir)
  }

  /** Per-window CMS register stream EXECUTED end-to-end with a
    * checkpoint RESTART: phase 1 streams the events table's (ts,
    * event_type) rows through [[EventWindows.frequencyRegisters]] into
    * an append parquet sink (AvailableNow); then a far-future flush row
    * lands and phase 2 RESUMES FROM THE CHECKPOINT, whose first batch
    * runs under the persisted phase-1 watermark and emits every
    * still-open window below it. Returns (sink registers, batch twin) —
    * both filtered to windows safely below the phase-1 watermark (a
    * one-window margin dodges the end==watermark boundary), so the
    * comparison set is deterministic regardless of how AvailableNow
    * batched the files. The batch twin is the SAME frequencyRegisters
    * transform on a batch read (withWatermark is a no-op in batch).
    * This exercises watermark eviction, append-exactly-once emission,
    * AND checkpoint recovery on a real source/sink — the contracts the
    * MemoryStream specs pin per-batch. */
  def registerSinkRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
    // physical-type adaptivity (TESTDATA.md: ts was TIMESTAMP(NANOS)
    // through driver r4, MICROS after)
    val tsCol = evRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_seconds(ts DIV 1000000000)")
      case _ => col("ts").cast("timestamp")
    }
    val ev = evRaw.select(tsCol.as("ts"), col("event_type").as("v"))
    val dir = scratch("graft_stream_regs")
    val landing = s"$dir/landing"
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    ev.coalesce(4).write.parquet(landing)
    def runOnce(): Unit = {
      val stream = EventWindows.frequencyRegisters(
        spark.readStream.schema("ts TIMESTAMP, v STRING").parquet(landing),
        "ts", "v", width = "1 hour", lateness = "2 hours")
      val q = stream.writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", sinkDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // phase 1: ingest, watermark -> maxTs - lateness
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // flush row far in the future, in its own file -> guarantees phase 2
    // has a batch to run under the persisted watermark
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 86400L * 1000 * 30), "flush"))
      .toDF("ts", "v").write.mode("append").parquet(landing)
    runOnce() // phase 2: resume from checkpoint, emit closed windows
    // deterministic comparison set: windows ending at least one window
    // width below the phase-1 watermark
    val cutoff = lit(new java.sql.Timestamp(
      maxTs.getTime - (2L * 3600 + 3600) * 1000))
    val streamOut = spark.read.parquet(sinkDir)
      .filter(col("window_end") <= cutoff)
    val batchOut = EventWindows.frequencyRegisters(
        spark.read.parquet(landing), "ts", "v",
        width = "1 hour", lateness = "2 hours")
      .filter(col("window_end") <= cutoff)
    (streamOut, batchOut)
  }

  /** File-source STREAM → STATELESS DSIR scoring → append parquet sink
    * (AvailableNow). The model is fitted BATCH-side on the same corpus
    * (the deterministic q109 hashed-bigram counts) and collapses to a
    * literal array inside the scoring projection, so the stream needs
    * zero state and zero joins — the pattern a 100 TB pipeline uses to
    * score a crawl feed against a frozen quality model. The q124 oracle
    * replays the model fit AND the scoring in SQL, so the STREAM's sink
    * is held to the rows+schema+hash bar. */
  def dsirScoreSinkRun(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dsir
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val model = Dsir.fitLiteralModel(docs, "text", col("lang") === "en",
      nBuckets = 4096)
    val dir = scratch("graft_stream_dsir")
    val landing = s"$dir/landing"
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    // spread the landing files for micro-batch parallelism (see
    // nearDupSinkRunWith — same single-compact-file serialization)
    graft.operators.Spread.toCores(docs).write.parquet(landing)
    val stream = spark.readStream
      .schema("doc_id LONG, lang STRING, text STRING")
      .parquet(landing)
      .select(col("doc_id"), Dsir.scoreExpr(col("text"), model).as("s"))
      .select(col("doc_id"), col("s.n_bigrams").as("n_bigrams"),
        col("s.avg_logratio").as("avg_logratio"))
    val query = stream.writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", sinkDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(sinkDir)
  }

  /** JSONL ingest EXECUTED as a stream: the q137/q138 landing (real
    * JSONL files with the four planted corruption classes) read by
    * [[graft.sources.JsonlSource.streamParsed]] — one stateless parse
    * projection over a file-source text stream — fanned into the
    * S8/S14 pair of sinks: clean rows (parsed fields) to the clean
    * parquet sink, corrupt rows (raw line + reason) to the audit sink.
    * Two writeStream queries over the one source, each with its own
    * checkpoint, both AvailableNow. The CLEAN sink is the q139
    * registered result (hash-gated against the same DuckDB oracle as
    * the batch split — the executed micro-batch path must produce
    * exactly the batch-clean rows); the audit sink's reason histogram
    * is spec-asserted (StreamingSpec), the same split of duties as
    * q118's audit leg. Returns (clean sink, audit sink). */
  def jsonlSinkRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val landing = graft.QueriesClean.jsonlLanding(spark, sfDir,
      "jsonl_stream_landing")
    val dir = scratch("graft_stream_jsonl")
    val cleanSink = s"$dir/clean"
    val auditSink = s"$dir/audit"
    val parsed = graft.sources.JsonlSource.streamParsed(spark, landing,
      graft.QueriesClean.jsonlSchema, required = Seq("text"))
    val qClean = parsed.filter(col("_corrupt").isNull)
      .select(col("doc_id"), col("lang"), col("text"))
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt_clean")
      .option("path", cleanSink)
      .trigger(Trigger.AvailableNow())
      .start()
    val qAudit = parsed.filter(col("_corrupt").isNotNull)
      .select(col("value").as("raw_line"), col("_corrupt").as("reason"))
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt_audit")
      .option("path", auditSink)
      .trigger(Trigger.AvailableNow())
      .start()
    qClean.awaitTermination()
    qAudit.awaitTermination()
    (spark.read.parquet(cleanSink), spark.read.parquet(auditSink))
  }

  /** Continuous vector-index ingestion executed end-to-end: the index
    * is seeded by a batch build on the first 100 vectors (segment 0),
    * the REST of the corpus lands as five sequential files and streams
    * through [[graft.sources.AnnIndex.streamAppend]] one file per
    * micro-batch — five real idempotent segment appends, each visible
    * only with its atomic manifest publish — and the final snapshot's
    * pruned IVF-PQ search must hash-equal the same search on a ONE-SHOT
    * batch build of the full corpus (per-row encode is deterministic
    * and search is order-free, so segmentation must not matter).
    * Returns (streamed-index search, batch-build search). */
  def annIngestRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    streamedAnnRun(spark, sfDir, "graft_stream_ann", compactAfter = None)

  /** The FULL index lifecycle executed end-to-end under streaming
    * ingest: seed build (first 100 vectors) → three streamed
    * micro-batch appends → COMPACT (the production maintenance step,
    * which consumes a segment id from the shared high-water mark) →
    * stream RESUMED from the same checkpoint for two more micro-batches
    * → search the final snapshot. The search must hash-equal the same
    * search on a one-shot batch build of the full corpus — the gate
    * that a post-compact micro-batch is never mistaken for the
    * compacted segment and silently dropped (the segment-id-collision
    * data-loss regression). Returns (lifecycle search, batch search). */
  def annLifecycleRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    streamedAnnRun(spark, sfDir, "graft_stream_ann_lifecycle",
      compactAfter = Some(3))

  /** The body of [[annIngestRun]] and [[annLifecycleRun]]: seed build on
    * the first 100 vectors, the rest landed as five sequential files and
    * drained through `streamAppend` one file per micro-batch. With
    * `compactAfter = Some(n)` the stream drains after `n` files, the
    * index compacts, and the stream resumes from its checkpoint for the
    * rest. Returns (streamed-index search, one-shot build search). */
  private def streamedAnnRun(spark: SparkSession, sfDir: String,
                             name: String,
                             compactAfter: Option[Int]): (DataFrame, DataFrame) = {
    import graft.sources.AnnIndex
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cb, cbs) = graft.QueriesText.ivfPqModel(e)
    val dir = scratch(name)
    val landing = s"$dir/landing"
    val streamed = s"$dir/index_stream"
    val full = s"$dir/index_full"
    val ckpt = s"$dir/ckpt"
    AnnIndex.buildIvfPq(e.filter(col("vec_id") < 100), "vec_id",
      "embedding", streamed, cb, cbs)
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val span = (maxId - 100) / 5 + 1
    def landParts(parts: Range): Unit = parts.foreach { i =>
      e.filter(col("vec_id") >= 100 + i * span &&
          col("vec_id") < 100 + (i + 1) * span)
        .coalesce(1).write.mode("append").parquet(landing)
    }
    def drain(): Unit = {
      val stream = spark.readStream
        .schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
      AnnIndex.streamAppend(stream, "vec_id", "embedding", streamed, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    val first = compactAfter.getOrElse(5)
    landParts(0 until first); drain()
    compactAfter.foreach { _ =>
      AnnIndex.compact(spark, streamed)
      landParts(first until 5); drain()
    }
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cb, cbs)
    val q = e.filter(col("vec_id") % 50 === 0)
    (panelSearch(spark, streamed, q), panelSearch(spark, full, q))
  }

  /** The pruned IVF-PQ search (k = 3, nprobe = 4) of `q` on the index at
    * `dir` — the read every ANN parity check compares. */
  private def panelSearch(spark: SparkSession, dir: String,
                          q: DataFrame): DataFrame = {
    import graft.sources.AnnIndex
    AnnIndex.topK(AnnIndex.load(spark, dir), q, "vec_id", "embedding",
      k = 3, nprobe = 4)
  }

  /** Streamed CORRECTIONS against both stores at once: the index is
    * seeded with STALE vectors (first component shifted +5), then the
    * true vectors stream in five micro-batches through one foreachBatch
    * that (a) merges the batch into a [[graft.sources.UpsertSink]]
    * versioned table and (b) runs
    * [[graft.sources.AnnIndex.upsertBatchIvfPq]] — tombstone the stale
    * copy + append the corrected segment in one atomic manifest swap.
    * The final index search must hash-equal the same search on a
    * one-shot build of the TRUE corpus (every stale vector masked —
    * none may surface), and the versioned table must equal the batch
    * per-key-latest (asserted here; a drift throws into
    * verify_failures). Returns (corrected-index search, true-build
    * search). */
  def annUpsertRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.sources.{AnnIndex, UpsertSink}
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cb, cbs) = graft.QueriesText.ivfPqModel(e)
    val dir = scratch("graft_stream_ann_upsert")
    val landing = s"$dir/landing"
    val idxDir = s"$dir/index"
    val tableDir = s"$dir/table"
    val full = s"$dir/index_true"
    val ckpt = s"$dir/ckpt"
    val stale = e.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(5.0f)).otherwise(x)).as("embedding"))
    AnnIndex.buildIvfPq(stale, "vec_id", "embedding", idxDir, cb, cbs)
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    val span = maxId / 5 + 1
    (0 until 5).foreach { i =>
      e.filter(col("vec_id") >= i * span && col("vec_id") < (i + 1) * span)
        .coalesce(1).write.mode("append").parquet(landing)
    }
    val stream = spark.readStream
      .schema(e.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF()
        UpsertSink.applyBatch(b.withColumn("seq", lit(id)), id, tableDir,
          Seq("vec_id"), "seq")
        AnnIndex.upsertBatchIvfPq(b, "vec_id", "embedding", idxDir,
          dedupKey = Some(id))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the raw-table leg of the lockstep claim: versioned table == the
    // batch per-key-latest over the same feed
    val tbl = UpsertSink.readLatest(spark, tableDir)
      .select(col("vec_id"), col("embedding"))
    val expectTbl = e.select(col("vec_id"), col("embedding"))
    require(tbl.unionByName(expectTbl).distinct().count() == expectTbl.count()
        && tbl.count() == expectTbl.count(),
      "versioned table drifted from the batch per-key-latest")
    AnnIndex.buildIvfPq(e, "vec_id", "embedding", full, cb, cbs)
    val panel = e.filter(col("vec_id") % 50 === 0)
    (panelSearch(spark, idxDir, panel), panelSearch(spark, full, panel))
  }

  /** The S6/S7 STREAMING profile executed end-to-end: an ordered update
    * feed derived from `orders` (500 keys × ~30 versions each, version
    * seq = o_orderkey) lands as six sequential files, streams through
    * `foreachBatch` + [[graft.sources.UpsertSink.applyBatch]] one file
    * per micro-batch (maxFilesPerTrigger = 1 — six real merge rounds
    * against the versioned table), and the FINAL table must equal the
    * batch per-key-latest over the same feed. The landing files are
    * written sequentially in ascending seq ranges, so arrival order
    * respects version order per key and last-writer-wins composes to
    * the global max-seq row — the parity claim. Returns
    * (final streamed table, batch twin). */
  def upsertSinkRun(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.sources.UpsertSink
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val updates = o.select(
      (col("o_orderkey") % 500).as("k"),
      col("o_orderkey").cast("long").as("seq"),
      concat(lit("s"), (col("o_orderkey") % 7).cast("string")).as("status"))
    val dir = scratch("graft_stream_upsert")
    val landing = s"$dir/landing"
    val table = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    val maxSeq = updates.agg(max(col("seq"))).head().getLong(0)
    val span = maxSeq / 6 + 1
    (0 until 6).foreach { i =>
      updates.filter(col("seq") >= i * span && col("seq") < (i + 1) * span)
        .coalesce(1).write.mode("append").parquet(landing)
    }
    val stream = spark.readStream
      .schema("k LONG, seq LONG, status STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
    val q = UpsertSink.streamUpsert(stream, Seq("k"), "seq", table, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination()
    val all = spark.read.parquet(landing)
    (UpsertSink.readLatest(spark, table),
      UpsertSink.upsert(all.limit(0), all, Seq("k"), "seq"))
  }

  private def nearDupSinkRunWith(spark: SparkSession, sfDir: String,
                                 prefix: String,
                                 sigOf: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column,
                                 bandHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                                 stateTtlMs: Option[Long] = None)
      : DataFrame = {
    val dir = scratch(prefix)
    val landing = s"$dir/landing"
    val sinkDir = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    // spread the landing across files: the corpus arrives as ONE compact
    // parquet file, and a 1-file landing gives the micro-batch 1 scan
    // partition — serializing the per-doc signature work on one core
    // (measured: q120 15.6 s -> ~4 s at sf0.1)
    graft.operators.Spread.toCores(dupCorpus(spark, sfDir))
      .write.parquet(landing)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, seq LONG")
      .parquet(landing)
    val hits = StreamingNearDup.hits(stream, "text", "doc_id", "seq",
        stateTtlMs = stateTtlMs, sigOf = sigOf, bandHash = bandHash)
      .toDF("doc_id", "dup_of", "est_jaccard")
    val writer = hits.writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", sinkDir)
    if (stateTtlMs.isDefined) {
      // ProcessingTimeTimeout makes shouldRunAnotherBatch TRUE on every
      // batch (pending timeouts could always fire later), so with
      // no-data micro-batches enabled an AvailableNow run never
      // self-terminates — and processAllAvailable() never returns either
      // (MicroBatchExecution never reaches noNewData while empty
      // timeout-sweep batches keep scheduling). The drain profile
      // therefore DISABLES no-data micro-batches for this query: all
      // data batches run (state writes, dup emission, TTL arming are
      // untouched), timeout sweeps simply never fire during the drain —
      // irrelevant here, since every duplicate arrives within the TTL
      // and the parity claim is about the armed-state data path. The
      // conf is read once at query start, so restoring it afterwards
      // cannot affect the running query.
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val query = writer.trigger(Trigger.AvailableNow()).start()
        query.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } else {
      val query = writer.trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
    }
    spark.read.parquet(sinkDir)
      .select(least(col("doc_id"), col("dup_of")).as("id_a"),
        greatest(col("doc_id"), col("dup_of")).as("id_b"),
        col("est_jaccard"))
      .distinct()
  }

  /** The batch twin of [[nearDupSinkRun]]: the SAME decision statistic
    * (signature-estimated Jaccard over the same xxhash64 signatures and
    * banding) computed by the batch operator on the same corpus. */
  def nearDupBatch(spark: SparkSession, sfDir: String): DataFrame =
    TextDedup.minHashEstimatedDups(dupCorpus(spark, sfDir),
      "text", "doc_id")
}
