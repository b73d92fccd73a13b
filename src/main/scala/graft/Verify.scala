package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // comma-separated allowlist for spot-verifying a few queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd subset must FAIL LOUDLY, not run nothing and write an
    // empty verify_failures.json that reads as green (the ScaleStress
    // SPARK_GRAFT_SCALE_ONLY guard, mirrored)
    val knownNames = SparkEntry.queries.keySet ++ parityChecks.map(_._1)
    only.foreach { names =>
      val unknown = names -- knownNames
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries or the parity " +
          s"checks: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // A query that THROWS must be a loud, machine-readable event: a
    // skipped query silently VANISHES from the downstream correctness
    // compare (that is how a testdata schema change dropped three green
    // queries from one round's sweep without any red signal).
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // ---- streaming parity artifacts ([[parityChecks]]). A mismatch
    // THROWS and lands in verify_failures.json like any red query.
    parityChecks
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, run) =>
        try {
          val (streamOut, batchOut) = run(spark, sfDir)
          val artifact = parityJson(name, streamOut, batchOut)
          Files.writeString(Paths.get(s"$outDir/$name.json"), artifact)
          println(artifact)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      }
    val failJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    if (failed.nonEmpty) {
      // also on stdout so any tail-capture shows it next to the totals
      println(s"""{"verify_failures":${failed.size},"queries":${failed.keys
        .map(k => "\"" + k + "\"").mkString("[", ",", "]")}}""")
    }
    spark.stop()
  }

  // order-independent content hash: canonical row strings, sorted,
  // digested driver-side (parity frames are small — requests/2 or
  // found-pair-count rows)
  private def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000"))) // null marker
    val rows = df.select(concat_ws("\u0001", cols: _*).as("r"))
      .collect().map(_.getString(0)).sorted
    val d = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => d.update(r.getBytes("UTF-8")))
    (rows.length.toLong, d.digest().map("%02x".format(_)).mkString)
  }

  private def parityJson(check: String, streamOut: DataFrame,
                         batchOut: DataFrame): String = {
    val (nS, hS) = contentHash(streamOut)
    val (nB, hB) = contentHash(batchOut)
    val ok = nS == nB && hS == hB && nS > 0
    val json = s"""{"check":"$check","rows_stream":$nS,"rows_batch":$nB,""" +
      s""""hash_stream":"$hS","hash_batch":"$hB","match":$ok}"""
    if (!ok) throw new IllegalStateException(s"stream/batch divergence: $json")
    json
  }

  /** The streaming parity checks, by artifact name. Each runs a REAL
    * file-source stream end-to-end (landing dir -> readStream ->
    * transform -> parquet sink, byproducts in JVM-temp scratch, never in
    * outDir — the checker oracles every outDir entry) and returns
    * (stream output, batch twin of the same transform on the same
    * data); [[parityJson]] hash-compares the two. */
  private val parityChecks
      : Seq[(String, (SparkSession, String) => (DataFrame, DataFrame))] = {
    import graft.streaming.StreamHarness._
    Seq(
      // T1-T4 eligibility through a real file source and parquet sink;
      // the batch twin is q50's oracle-gated checkRaw, so a match proves
      // stream == batch oracle transitively. Deliberately a SECOND
      // independent stream run rather than a reuse of q118's sink:
      // sharing a memoized run would let one execution satisfy both
      // checks (masking nondeterminism between runs) and would hollow
      // out q118's benchmark timing.
      "stream_parity" -> { (s: SparkSession, dir: String) =>
        val (sink, landing) = eligibilitySinkRun(s, dir)
        (sink, eligibilityBatch(s, dir, landing))
      },
      // StreamingNearDup.hits vs the batch estimated-Jaccard pair set
      // (TextDedup.minHashEstimatedDups — the SAME decision statistic)
      "stream_neardup_parity" -> ((s: SparkSession, dir: String) =>
        (nearDupSinkRun(s, dir), nearDupBatch(s, dir))),
      // the same check in its production profile: state TTL ARMED
      // (10 min); every duplicate arrives within the TTL, so bounding
      // the one unbounded-by-default stateful op must cost nothing
      "stream_neardup_ttl_parity" -> ((s: SparkSession, dir: String) =>
        (nearDupSinkRunTtl(s, dir), nearDupBatch(s, dir))),
      // the per-window CMS register table, with a CHECKPOINT RESTART
      // mid-run
      "stream_register_parity" -> registerSinkRun,
      // S6/S7 upsert: foreachBatch + UpsertSink.applyBatch merge rounds
      // vs the batch per-key-latest over the same feed
      "stream_upsert_parity" -> upsertSinkRun,
      // five idempotent micro-batch segment appends into a seeded
      // AnnIndex vs a one-shot build of the full corpus
      "stream_ann_index_parity" -> annIngestRun,
      // streamed appends, a mid-stream COMPACTION, then the stream
      // resumed from its checkpoint: compaction must never collide with
      // a later micro-batch's segment allocation
      "stream_ann_lifecycle_parity" -> annLifecycleRun,
      // streamed corrections into a STALE-seeded index and a versioned
      // table in one foreachBatch: no stale vector may surface
      "stream_index_upsert_parity" -> annUpsertRun)
  }
}
