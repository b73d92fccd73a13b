package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Pq

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
  *   - `data/batch-<uniq>/cell=X/…parquet` — immutable code segments
  *     (`neighbor_id, codes`), staged under unique directory names and
  *     mapped to their logical ids by the manifest, each PARTITIONED
  *     BY `cell`. Partitioning
  *     by cell is the scale lever: a query batch probes a bounded set
  *     of cells (≤ nlist, usually ≪), and the probe filter becomes a
  *     parquet PartitionFilter in EVERY segment scan — at 100 TB the
  *     difference between reading nprobe/nlist of the index and all
  *     of it.
  *   - `tomb/t-<n>` — immutable tombstone sets (`neighbor_id`), written
  *     by [[delete]]. Segment and tombstone ids share ONE monotonic
  *     namespace, and a tombstone masks exactly the segments with a
  *     LOWER id (the Lucene/Iceberg sequence-number rule) — so a row
  *     re-appended after a delete is visible again, and a streamed
  *     correction can tombstone the stale vector and append the new one
  *     in a single commit.
  *   - `manifest/m-<n>` — the index state as of generation n: a `v2`
  *     header line, a `model <v>` line (which model version encodes
  *     this snapshot's segments — 0 is the build's root-level
  *     `centroids/`/`codebooks/`/`meta/`, higher versions live under
  *     `model-v<v>/` and are written by [[retrain]]), a `hw <id>`
  *     high-water line (the highest segment/tombstone id EVER
  *     allocated — never reused, even after a compaction drops the
  *     segment that carried it), a `shw <key>` line (the highest
  *     committed stream dedup key, see [[appendIvfPq]]), one
  *     `batch-<id> <nrows>` line per live segment, one
  *     `tomb-<id> <nrows>` line per live tombstone set, and a final
  *     `commit` sentinel (a reader that opens the file mid-write sees
  *     a missing sentinel and retries — the create-exclusive publish
  *     below is atomic for WRITERS but not for a racing read of the
  *     few-hundred-byte body). A segment not listed in any manifest
  *     does not exist to readers.
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
  * CONCURRENT WRITERS are safe via optimistic concurrency (the
  * Iceberg/Delta commit loop, reduced to one primitive): manifest
  * generation n+1 is published with `create(path, overwrite = false)`
  * — atomic create-exclusive, the put-if-absent every HDFS-like and
  * object-store FS exposes — so of two writers that both read m-n,
  * exactly ONE wins m-n+1. The loser re-reads the new current
  * manifest, RE-BASES (its artifacts were staged under UNIQUE names,
  * so the retry only re-assigns their logical ids from the fresh
  * high-water mark in the manifest line — no data moves, and two
  * in-flight writers can never overwrite each other's staging), and
  * retries against m-n+2. A
  * [[compact]] that loses rewrites from the fresh snapshot instead
  * (its output depends on the base it read — the Iceberg
  * rewrite-data-files validation rule); a writer that observes the
  * MODEL VERSION changed underneath it (a concurrent [[retrain]])
  * aborts loudly rather than commit codes encoded with a stale model.
  * At 100 TB this is the difference between "the streaming ingester
  * and the nightly compactor are one process" and letting them race.
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
  * too. So every open reads the validated model literals and the first
  * segment's schema through one bounded, driver-side memo. The model
  * key is the qualified model root plus the name and length of every
  * data file in each model table (a filesystem listing, no Spark job);
  * the schema key is the first segment's qualified path plus that model
  * key. Spark names part files after the write job's UUID, so any
  * rewrite of a model table (a rebuild in place, even within the same
  * second) changes the key and misses. The manifest is still listed and
  * parsed on every open.
  *
  * MIGRATION (pre-high-water manifests): a manifest written before the
  * `shw` line existed came from the era whose streamed micro-batch `id`
  * landed as segment id `id + 1` (build owned segment 0, the stream
  * owned 1…N sequentially) with manifest-membership as the dedup rule —
  * so the committed stream high-water is RECOVERABLE as
  * `max segment id − 1`, and [[readManifest]] normalizes a legacy
  * manifest to exactly that at parse time. Resuming an old streaming
  * checkpoint against an old-format index therefore deduplicates its
  * crash-window replay correctly with NO manual migration step, and the
  * first new-format commit stamps the real `shw` going forward. The one
  * unrecoverable case is inherited, not introduced: an index COMPACTED
  * by the pre-high-water code had already entangled segment and batch
  * ids (the collision its era was known for) — checkpoints that predate
  * such a compact were unsafe under the old code too and must be
  * discarded. */
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

  /** One committed artifact: its LOGICAL id (the sequence number that
    * orders tombstones against segments), row count, and the PHYSICAL
    * directory name under `data/` or `tomb/`. The two are decoupled
    * because ids are allocated optimistically: a writer stages its
    * data under a unique name, and a lost publish race re-assigns only
    * the id in the retried manifest line — no data moves, and two
    * in-flight writers can never overwrite each other's staging (the
    * Iceberg unique-file-name + metadata-pointer rule). Legacy
    * manifests (2-token lines) imply dirName = `batch-<id>`/`t-<id>`. */
  private final case class Art(id: Long, n: Long, dirName: String)

  /** One manifest generation, parsed. `hw` is the segment/tombstone id
    * high-water mark: every id ≤ hw has been allocated by SOME
    * committed generation (possibly since compacted away) and is never
    * allocated again — the invariant that makes compaction safe under
    * concurrent-in-time stream replays. `shw` is the highest committed
    * stream dedup key (−1 before any keyed append). `model` is the
    * model version this generation's segments are encoded with (0 =
    * the build's root artifacts; a [[retrain]] bumps it). */
  private final case class ManifestData(segs: Seq[Art],
                                        tombs: Seq[Art],
                                        hw: Long, shw: Long,
                                        model: Long = 0L,
                                        modelDir: String = "") {
    def nextId: Long = hw + 1
  }

  /** Unique staging name for a new artifact directory — what lets two
    * writers stage concurrently without ever colliding on a path. */
  private def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  /** Committed manifest ids, oldest first (empty on a fresh/absent
    * index). */
  private def generations(f: org.apache.hadoop.fs.FileSystem,
                          dir: String): Seq[Long] = {
    val mdir = path(s"$dir/manifest")
    if (!f.exists(mdir)) Seq.empty
    else f.listStatus(mdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("m-"))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(2).toLong).toOption)
      .sorted
  }

  /** Highest committed manifest id, or None on a fresh/absent index. */
  private def currentManifestId(f: org.apache.hadoop.fs.FileSystem,
                                dir: String): Option[Long] =
    generations(f, dir).lastOption

  /** Reader retry budget for a sentinel-less manifest (25 ms apart —
    * 3 s at the default): long enough that a LIVE publisher's
    * few-hundred-byte body write always lands within it, short enough
    * that a wedged chain fails fast. */
  private[graft] val manifestRetryAttempts = 120

  /** Per-index-dir override of the reader retry budget (keyed like
    * [[testKillPoint]]). The crash/concurrency specs wedge THEIR
    * index's chain hundreds of times and must not sleep 3 s per read —
    * but a process-wide knob (the previous design) would make an
    * unrelated suite's reader, racing a live publish on a slow FS
    * under parallel execution, fail spuriously as truncated, and a
    * spec that crashed before restoring it would poison the rest of
    * the run. Scoped per dir, neither can happen. */
  private[graft] val manifestRetryOverride =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  private val legacyShwWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Parse manifest `id`. A `v2` manifest (create-exclusive-published)
    * must end with its `commit` sentinel — a reader racing the
    * few-hundred-byte body write sees a truncated file and RETRIES
    * briefly before failing loudly (never silently parses a partial
    * snapshot). A non-`v2` file is accepted as a LEGACY manifest
    * (rename-published, hence content-atomic) only when it contains at
    * least one recognized manifest line — a torn read whose visible
    * prefix is shorter than the `v2` header must retry like any other
    * truncation, never parse as an empty index. Legacy manifests
    * default hw = max listed id, and their stream high-water is
    * NORMALIZED to `max segment id − 1` — the committed high-water
    * their era's sequential `segment id = batch id + 1` scheme implies
    * (see the MIGRATION doc on the object) — so every downstream dedup
    * check, carry-forward and publish handles old-format indexes with
    * no special casing. */
  private def readManifest(f: org.apache.hadoop.fs.FileSystem, dir: String,
                           id: Long): ManifestData = {
    val retryBudget = Option(manifestRetryOverride.get(dir))
      .fold(manifestRetryAttempts)(_.intValue)
    var attempt = 0
    var lastIncomplete = "no commit sentinel"
    while (true) {
      // On a checksummed store (ChecksumFileSystem wraps every local
      // dir) a publish torn between the data flush and the CRC flush —
      // or a repair-delete racing a re-publish, which can leave a stale
      // .crc against fresh bytes (delete/create of the data+crc pair is
      // not atomic on ChecksumFileSystem) — surfaces as a CRC or EOF
      // error, NOT as a short sentinel-less read. Protocol-wise these
      // are the SAME state as a missing commit sentinel: an incomplete
      // publish. They consume the same retry budget (a live publisher's
      // few-hundred-byte body + checksum land within it) and then fail
      // with the SAME loud truncated-manifest error [[repair]]
      // classifies — never escape as a raw ChecksumException.
      val txtOpt: Option[String] =
        try {
          val in = f.open(path(s"$dir/manifest/m-$id"))
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
          finally in.close()
        } catch {
          case _: org.apache.hadoop.fs.ChecksumException =>
            lastIncomplete = "checksum mismatch on a checksummed store"
            None
          case _: java.io.EOFException =>
            lastIncomplete = "short read past the checksum frame"
            None
        }
      if (txtOpt.isEmpty) {
        attempt += 1
        if (attempt > retryBudget)
          throw new java.io.IOException(
            s"manifest m-$id under $dir is truncated ($lastIncomplete) — " +
              "its writer is either mid-publish on a slow FS or died; run " +
              "AnnIndex.repair, which supersedes the corpse only once it is " +
              "older than the stale window (never a live publish)")
        Thread.sleep(25)
      } else {
      val txt = txtOpt.get
      val lines = txt.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      val v2 = lines.headOption.contains("v2")
      val legacyOk = !v2 && lines.exists(l =>
        l.startsWith("batch-") || l.startsWith("tomb-") ||
          l.startsWith("hw ") || l.startsWith("shw ") ||
          l.startsWith("model "))
      if ((v2 && lines.last == "commit") || legacyOk) {
        var hw = -1L
        var shwOpt = Option.empty[Long]
        var model = 0L
        var modelDir = ""
        val segs = Seq.newBuilder[Art]
        val tombs = Seq.newBuilder[Art]
        lines.foreach { line =>
          line.split("\\s+") match {
            case Array("hw", v) => hw = v.toLong
            case Array("shw", v) => shwOpt = Some(v.toLong)
            case Array("model", v) => model = v.toLong
            case Array("model", v, d) => model = v.toLong; modelDir = d
            case Array(k, v) if k.startsWith("batch-") =>
              segs += Art(k.drop(6).toLong, v.toLong, k)
            case Array(k, v, d) if k.startsWith("batch-") =>
              segs += Art(k.drop(6).toLong, v.toLong, d)
            case Array(k, v) if k.startsWith("tomb-") =>
              tombs += Art(k.drop(5).toLong, v.toLong, "t-" + k.drop(5))
            case Array(k, v, d) if k.startsWith("tomb-") =>
              tombs += Art(k.drop(5).toLong, v.toLong, d)
            case _ => // v2 / commit sentinels / `supersedes N` (repair's
                      // burial marker — deliberately NOT parsed into
                      // ManifestData, so a verb re-basing on a supersede
                      // can never carry the marker forward)
          }
        }
        val s = segs.result()
        val t = tombs.result()
        val maxListed = (s.map(_.id) ++ t.map(_.id)).maxOption.getOrElse(-1L)
        // legacy normalization: no shw line ⇒ the old sequential scheme,
        // whose committed stream high-water is max segment id − 1.
        // Warned once per dir: on a legacy index that ALSO took keyless
        // appends or an old-code compact, that floor can OVER-estimate
        // the committed stream batch, and a resumed checkpoint would
        // silently skip batches ≤ the floor — an operator must be able
        // to SEE the recovered value before trusting a resume.
        val shw = shwOpt.getOrElse {
          val floor = s.map(_.id).maxOption.getOrElse(0L) - 1L
          if (legacyShwWarned.add(dir))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"legacy (pre-shw) manifest at $dir: stream high-water " +
                s"recovered as $floor (max segment id - 1). If this index " +
                "ever took keyless appends or an old-code compact, that " +
                "floor can over-estimate the committed stream batch and a " +
                "resumed checkpoint would silently skip batches <= it — " +
                "verify the checkpoint's last committed batch against the " +
                "index before resuming")
          floor
        }
        return ManifestData(s, t, math.max(hw, maxListed), shw, model,
          modelDir)
      }
      lastIncomplete = "no commit sentinel"
      attempt += 1
      if (attempt > retryBudget)
        throw new java.io.IOException(
          s"manifest m-$id under $dir is truncated ($lastIncomplete) — " +
            "its writer is either mid-publish on a slow FS or died; run " +
            "AnnIndex.repair, which supersedes the corpse only once it is " +
            "older than the stale window (never a live publish)")
      Thread.sleep(25)
      }
    }
    sys.error("unreachable")
  }

  /** Resolve the generation a reader pins: the caller's `asOf`
    * verbatim (failing loudly on an expired or unknown id — the caller
    * asked for a SPECIFIC snapshot), else the latest listed generation
    * via [[refresh]], which already tolerates a peer [[repair]]
    * reclaiming the listed top between list and read. */
  private def resolveReadManifest(f: org.apache.hadoop.fs.FileSystem,
                                  dir: String,
                                  asOf: Option[Long]): (Long, ManifestData) =
    asOf match {
      case Some(mid) =>
        require(f.exists(path(s"$dir/manifest/m-$mid")),
          s"manifest m-$mid does not exist under $dir (expired or never " +
            "published)")
        (mid, readManifest(f, dir, mid))
      case None => refresh(f, dir)
    }

  /** One-shot, per-index test hook fired immediately before a publish
    * attempt — lets a spec inject a COMPETING commit deterministically
    * into the race window (read-manifest → publish) that a wall-clock
    * interleaving could only hit probabilistically. Keyed by index dir
    * and removed atomically before it runs, so the competing commit
    * itself does not recurse and concurrent suites cannot steal each
    * other's hooks. */
  private[graft] val testBeforePublish =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
  private def fireTestHook(dir: String): Unit =
    Option(testBeforePublish.remove(dir)).foreach(_())

  /** Crash-injection seam: arming `testKillPoint(dir) = point` makes
    * the NEXT time the named point is reached on that index throw
    * [[InjectedCrash]] — simulating a writer that died exactly there.
    * Points, in verb order: `stage` (before any artifact is written),
    * `staged` (artifacts complete, manifest not yet attempted),
    * `publish-torn` (destination reserved, body NOT written — the only
    * crash that wedges the chain, loudly, until [[repair]]),
    * `published` (the commit is durable; the caller just never heard).
    * One-shot and keyed by index dir (atomic conditional remove), so
    * parallel suites cannot steal each other's crashes. The soak spec
    * drives these from a seeded RNG across every verb on both tiers —
    * the difference between "the interleavings we thought of" and "the
    * protocol holds under arbitrary death". */
  private[graft] final class InjectedCrash(val point: String)
    extends RuntimeException(s"injected crash at $point")
  private[graft] val testKillPoint =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def maybeKill(dir: String, point: String): Unit =
    if (testKillPoint.remove(dir, point)) throw new InjectedCrash(point)

  /** The one primitive the whole commit protocol rests on: atomically
    * create `dest` holding `body` iff nothing exists there
    * (put-if-absent), returning false when the destination is already
    * taken (a concurrent writer won that generation). Pluggable because
    * the atomicity is a PER-STORE property, not a given:
    *   - HDFS: `create(overwrite = false)` is atomic at the NameNode —
    *     the default committer is production-correct as-is.
    *   - S3: plain create-then-write is NOT conditional; route this
    *     seam through a conditional PUT (`If-None-Match: *`), which is
    *     atomic WITH the body — such a store has no torn-publish window
    *     at all and may ignore `beforeBody`.
    *   - GCS: same via an `ifGenerationMatch(0)` precondition.
    *   - Local FS (the test substrate): Hadoop's RawLocalFileSystem
    *     implements the flag as exists-then-open — a check-then-act
    *     window the multi-writer storm caught LIVE losing whole
    *     batches (~1/3 of runs), so the default committer reserves
    *     local slots through O_CREAT|O_EXCL (atomic at the kernel)
    *     and only then writes the body through the checksummed FS.
    * The FIRST publish through any FileSystem runs [[probeCommitter]] —
    * a store whose committer silently overwrites (losing the winner's
    * commit) fails LOUDLY before it ever carries a real manifest.
    * `beforeBody` runs between reserving the destination and writing
    * the body — the crash-injection seam for create-then-write stores
    * (a writer that dies there leaves the sentinel-less manifest
    * [[repair]] recovers). */
  private[graft] trait ManifestCommitter {
    def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                    dest: org.apache.hadoop.fs.Path,
                    body: Array[Byte], beforeBody: () => Unit): Boolean
  }

  private[graft] object CreateExclusiveCommitter extends ManifestCommitter {
    def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                    dest: org.apache.hadoop.fs.Path,
                    body: Array[Byte], beforeBody: () => Unit): Boolean = {
      val scheme = Option(dest.toUri.getScheme)
        .getOrElse(f.getUri.getScheme)
      if (scheme == "file") {
        // Hadoop's RawLocalFileSystem implements create(overwrite =
        // false) as exists-then-open — a check-then-act window in
        // which two RACING writers both pass the exists check, both
        // get streams, and one body silently overwrites the other:
        // both callers report "won generation N" and the loser's-
        // overwritten commit vanishes wholesale. Not theoretical: the
        // multi-writer storm reproduced it at ~1/3 per run (two
        // writers logging `won m-1`, one batch missing at the
        // barrier). Reserve the slot through O_CREAT|O_EXCL instead —
        // atomic at the kernel — then write the body through the
        // checksummed FS so the .crc sidecar machinery stays live.
        // The torn window (reserved, body unwritten) remains, by
        // design: that is [[repair]]'s substrate.
        val p = java.nio.file.Paths.get(dest.toUri.getPath)
        Option(p.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        try java.nio.file.Files
          .newByteChannel(p, java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          .close()
        catch {
          case _: java.nio.file.FileAlreadyExistsException => return false
        }
        val out = f.create(dest, true) // the slot is ours (O_EXCL won)
        try { beforeBody(); out.write(body) }
        finally out.close()
        true
      } else {
        // HDFS: create(overwrite = false) is atomic at the NameNode
        val out =
          try f.create(dest, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              return false
            case _: java.io.IOException if f.exists(dest) => return false
          }
        try { beforeBody(); out.write(body) }
        finally out.close()
        true
      }
    }
  }

  @volatile private[graft] var committer: ManifestCommitter =
    CreateExclusiveCommitter

  /** Once per FileSystem per JVM, before the first real publish:
    * create a uniquely-named probe file twice through the committer —
    * the second attempt MUST report the destination taken. A store
    * that passes both (an overwrite-happy FS behind a naive committer)
    * would silently lose one of two racing commits, so it fails loudly
    * here instead. Probe files are unique-named (two processes probing
    * concurrently never interfere) and deleted afterwards. */
  private val probedFs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def probeCommitter(f: org.apache.hadoop.fs.FileSystem,
                                    dir: String): Unit = {
    val probe = path(s"$dir/manifest/" + freshName("_probe-"))
    val body = "probe\n".getBytes("UTF-8")
    try {
      if (!committer.putIfAbsent(f, probe, body, () => ()))
        throw new java.io.IOException(
          s"committer capability probe could not create $probe")
      if (committer.putIfAbsent(f, probe, body, () => ()))
        throw new IllegalStateException(
          s"the manifest committer on ${f.getUri} is NOT put-if-absent: " +
            "re-creating an existing path succeeded, so two racing " +
            "writers would both 'win' a generation and one commit would " +
            "be silently lost. Configure a conditional-write committer " +
            "for this store (AnnIndex.committer) — S3: conditional PUT " +
            "If-None-Match; GCS: ifGenerationMatch(0)")
    } finally f.delete(probe, true): Unit
  }
  private def probeCommitterOnce(f: org.apache.hadoop.fs.FileSystem,
                                 dir: String): Unit =
    probedFs.computeIfAbsent(f.getUri.toString, { _ =>
      probeCommitter(f, dir); java.lang.Boolean.TRUE
    }): Unit

  /** One unretried look at manifest slot `id` — the [[burialCheck]]
    * and [[repair]] classification primitive. `SlotComplete` carries
    * the slot's `supersedes` marker when it is a [[repair]] supersede
    * (the marker a buried writer detects itself by). */
  private sealed trait SlotProbe
  private case object SlotAbsent extends SlotProbe
  private case object SlotTorn extends SlotProbe
  private final case class SlotComplete(supersedes: Option[Long])
    extends SlotProbe

  private def probeSlot(f: org.apache.hadoop.fs.FileSystem, dir: String,
                        id: Long): SlotProbe =
    try {
      val in = f.open(path(s"$dir/manifest/m-$id"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val lines = txt.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      val v2 = lines.headOption.contains("v2")
      val legacyOk = !v2 && lines.exists(l =>
        l.startsWith("batch-") || l.startsWith("tomb-") ||
          l.startsWith("hw ") || l.startsWith("shw ") ||
          l.startsWith("model "))
      if ((v2 && lines.lastOption.contains("commit")) || legacyOk)
        SlotComplete(lines.collectFirst {
          case l if l.startsWith("supersedes ") =>
            l.drop("supersedes ".length).trim.toLong
        })
      else SlotTorn
    } catch {
      case _: java.io.FileNotFoundException => SlotAbsent
      case _: org.apache.hadoop.fs.ChecksumException => SlotTorn
      case _: java.io.EOFException => SlotTorn
    }

  /** WRITER-SIDE BURIAL DETECTION — run after every successful
    * put-if-absent, it closes (to a vanishing corner) the fencing-
    * lease hole documented on [[repair]]: a publisher stalled between
    * reserving slot `id` and writing the body looks like a corpse, and
    * a repair running in that gap supersedes it at `id + 1`; without
    * this check the late writer's body lands in a buried generation it
    * reports as committed (silent whole-batch loss). Supersede
    * manifests DECLARE their corpse (`supersedes N`), so the writer
    * checks slot `id + 1` once its body is durable:
    *   - absent → sealed: any future repair re-reads slot `id`
    *     complete and never supersedes it;
    *   - complete successor → built on us (it read `id` complete);
    *   - complete supersede OF US → buried: report the publish LOST —
    *     the caller re-bases exactly like a lost race and the batch
    *     lands exactly once in a live generation;
    *   - torn → a mid-write publisher: wait within the reader budget.
    *     If it completes, classify as above. If it STAYS torn it is
    *     itself a corpse, and its future repair picks the HIGHEST
    *     complete generation below it — us — as the donor, so
    *     reporting committed is consistent either way.
    * The remaining corner — a repair that pauses between its staleness
    * verdict and its supersede publish for longer than our body write
    * plus this check's budget — is the irreducible lease assumption on
    * [[repair]]; this check removes every timing in which the
    * supersede lands before or during our publish. */
  private def burialCheck(f: org.apache.hadoop.fs.FileSystem, dir: String,
                          id: Long): Boolean = {
    val retryBudget = Option(manifestRetryOverride.get(dir))
      .fold(manifestRetryAttempts)(_.intValue)
    var attempt = 0
    while (true) {
      probeSlot(f, dir, id + 1) match {
        case SlotAbsent => return true
        case SlotComplete(sup) => return !sup.contains(id)
        case SlotTorn =>
          attempt += 1
          if (attempt > retryBudget) return true
          Thread.sleep(25)
      }
    }
    sys.error("unreachable")
  }

  /** Attempt to publish manifest `id` through the [[ManifestCommitter]]
    * seam (put-if-absent — see its doc for the per-store atomicity
    * mapping and the first-publish capability probe): returns false
    * when generation `id` already exists, i.e. a concurrent writer won
    * the race and the caller must re-base and retry. This is the
    * primitive rename-over could not give us: on RawLocalFileSystem and
    * several object-store FS impls a rename onto an existing
    * destination silently REPLACES it, dropping the winner's commit.
    * A writer that dies between reserving the destination and writing
    * the body leaves a sentinel-less manifest that wedges the chain
    * LOUDLY — [[repair]] is the recovery verb. */
  private def tryPublish(f: org.apache.hadoop.fs.FileSystem, dir: String,
                         id: Long, md: ManifestData,
                         supersedes: Option[Long] = None): Boolean = {
    f.mkdirs(path(s"$dir/manifest"))
    probeCommitterOnce(f, dir)
    val dest = path(s"$dir/manifest/m-$id")
    val modelLine =
      if (md.modelDir.isEmpty) s"model ${md.model}"
      else s"model ${md.model} ${md.modelDir}"
    // `supersedes N` marks a [[repair]] supersede and is written ONLY
    // from repair's own publish (readManifest skips it; it never
    // propagates into ManifestData, so a later verb re-basing on the
    // supersede cannot accidentally carry the marker forward) — it is
    // what [[burialCheck]] reads to tell "successor built on me" from
    // "my slot was judged a corpse"
    val body = (Seq("v2", modelLine, s"hw ${md.hw}",
        s"shw ${md.shw}") ++
      supersedes.map(s => s"supersedes $s").toSeq ++
      md.segs.map(a => s"batch-${a.id} ${a.n} ${a.dirName}") ++
      md.tombs.map(a => s"tomb-${a.id} ${a.n} ${a.dirName}") ++
      Seq("commit"))
      .mkString("", "\n", "\n")
    committer.putIfAbsent(f, dest, body.getBytes("UTF-8"),
      () => maybeKill(dir, "publish-torn")) &&
      burialCheck(f, dir, id)
  }

  /** Publish manifest `id`, failing loudly on a conflict — for the
    * builds, whose staging tree cannot be contended. */
  private def writeManifest(f: org.apache.hadoop.fs.FileSystem, dir: String,
                            id: Long, md: ManifestData): Unit =
    if (!tryPublish(f, dir, id, md))
      throw new java.io.IOException(s"manifest m-$id publish failed")

  /** The freshest committed (generation id, manifest) — what a loser
    * of a publish race re-bases onto. Under the current protocol no
    * verb deletes a top manifest ([[repair]] SUPERSEDES a torn corpse
    * rather than deleting it, and [[expire]] never drops the top), so
    * the FileNotFoundException retry below is DEFENSIVE legacy
    * tolerance: an operator-deleted file, or a pre-supersede peer,
    * should re-list rather than leak a raw FNFE to the caller. */
  private def refresh(f: org.apache.hadoop.fs.FileSystem,
                      dir: String): (Long, ManifestData) = {
    var attempt = 0
    while (true) {
      val mid = currentManifestId(f, dir).getOrElse(
        throw new IllegalArgumentException(s"no committed manifest under $dir"))
      try return (mid, readManifest(f, dir, mid))
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 16) throw e
      }
    }
    sys.error("unreachable")
  }

  private val maxCommitAttempts = 64

  /** The ONE optimistic-concurrency commit loop every in-chain verb
    * shares (append/upsert/delete/merge on both tiers): attempt to
    * publish `make(md)` as the next generation; on a lost race,
    * re-read the winner's manifest and RE-BASE (the staged artifacts
    * have unique names, so only the ids inside `make`'s output move).
    * `dedupKey` re-checks the stream high-water after every refresh (a
    * replica may have committed this very batch — then the staged
    * artifacts are deleted and the call is a no-op); a model-version
    * change underneath a writer whose artifacts were ENCODED with the
    * base model aborts loudly rather than commit stale codes
    * (`abortOnModelChange` — id-only verbs like delete pass false).
    * Factored to one place because the eight hand-rolled copies of
    * this loop had already drifted apart once. */
  private def commitWithRetry(f: org.apache.hadoop.fs.FileSystem,
                              dir: String, base: (Long, ManifestData),
                              make: ManifestData => ManifestData,
                              dedupKey: Option[Long],
                              staged: Seq[String],
                              abortOnModelChange: Boolean,
                              verb: String): Unit = {
    var (mid, md) = base
    var attempts = 0
    maybeKill(dir, "staged")
    while (true) {
      fireTestHook(dir)
      if (tryPublish(f, dir, mid + 1, make(md))) {
        maybeKill(dir, "published"); return
      }
      attempts += 1
      if (attempts >= maxCommitAttempts)
        throw new java.io.IOException(
          s"$verb on $dir lost $attempts publish races — giving up")
      val (nmid, nmd) = refresh(f, dir)
      if (dedupKey.exists(_ <= nmd.shw)) { // a replica committed this batch
        staged.foreach(p => f.delete(path(p), true): Unit)
        return
      }
      if (abortOnModelChange && nmd.model != md.model) {
        staged.foreach(p => f.delete(path(p), true): Unit)
        throw new java.util.ConcurrentModificationException(
          s"concurrent retrain of $dir (model ${md.model} -> " +
            s"${nmd.model}) — this commit's codes carry the old model; " +
            s"re-run the $verb")
      }
      mid = nmid; md = nmd
    }
  }

  /** Write `df` as a parquet segment (optionally cell-partitioned) and
    * return its row count, observed DURING the write job
    * (`Dataset.observe` — a CollectMetrics node rides the written
    * plan): the read-back count job and its directory re-listing per
    * verb (the previous `countSegment`) are gone. Equal to counting
    * the landed files for any successful write — segment/tombstone names are
    * fresh per verb, so nothing else ever writes the path; on a failed
    * write the caller never reaches the count. */
  private def writeCounted(df: DataFrame, dest: String,
                           cellPartitioned: Boolean): Long = {
    val obs = new org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite")
    (if (cellPartitioned) w.partitionBy("cell") else w).parquet(dest)
    obs.get("n").asInstanceOf[Long]
  }

  /** Encode `delta` with the index model and land it as segment
    * `batch-<id>` (complete before the caller publishes a manifest).
    * The encode input is spread across cores first (a compact delta
    * arrives as ONE file → one scan split → the whole encode serializes
    * on one task — the landing-dir trap), and the ENCODED rows are
    * shuffled by cell before the partitioned write so each segment
    * holds ≤ nlist files (one per populated cell) instead of
    * tasks × cells small files — the file-count term that otherwise
    * dominates manifest-union listings as segments accumulate. The
    * shuffle moves (id, cell, codes) — post-compression bytes, not
    * vectors — and at production nlist (thousands, [[graft.operators
    * .Similarity.autoNlist]]) it is as parallel as the cluster. */
  private def writeSegment(delta: DataFrame, idCol: String, vecCol: String,
                           dir: String, segName: String,
                           centroids: Array[Array[Double]],
                           cbs: Array[Array[Array[Double]]]): Long = {
    val spark = delta.sparkSession
    val seg = s"$dir/data/$segName"
    val enc = Pq.ivfPqEncode(graft.operators.Spread.toCores(delta), idCol,
        vecCol, centroids, cbs)
      .withColumnRenamed("_cell", "cell")
    writeCounted(enc.repartition(col("cell")), seg, cellPartitioned = true)
  }

  /** The snapshot's visible code union: each live segment masked by the
    * tombstone sets with a HIGHER id (sequence-number rule — a
    * tombstone never masks a segment appended after it, so
    * delete-then-reinsert works). Tombstone sets are takedown-sized
    * relative to the corpus, so AQE plans the anti-joins as broadcasts;
    * a tombstone set that has grown large is the signal to [[compact]],
    * which physically drops the rows and clears the sets. */
  private def visibleUnion(spark: SparkSession, dir: String,
                           md: ManifestData,
                           mkey: Seq[String]): DataFrame = {
    // tombstone sets share the fixed writer schema — explicit schema
    // keeps the read inference-free (one footer job per tombstone per
    // snapshot open otherwise; same class as the model-table reads)
    val tombFrames = md.tombs.map { t =>
      t.id -> spark.read.schema(tombSchema).parquet(s"$dir/tomb/${t.dirName}") }.toMap
    // all segments of one index share a schema by protocol (append
    // re-encodes with the index's own model) — infer it ONCE from the
    // first segment and reuse, so opening an N-segment snapshot costs
    // one footer-inference job instead of N, and a re-open of the same
    // first segment under the same model costs none
    val first = s"$dir/data/${md.segs.head.dirName}"
    val segSchema = memoized(Seq("schema",
        fs(spark, dir).makeQualified(path(first)).toString) ++ mkey)(
      spark.read.parquet(first).schema)
    md.segs.map { b =>
      val base = spark.read.schema(segSchema)
        .parquet(s"$dir/data/${b.dirName}")
      val masks = md.tombs.collect { case t if t.id > b.id => tombFrames(t.id) }
      if (masks.isEmpty) base
      else base.join(
        masks.reduce(_ unionByName _).select(col("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_anti")
    }.reduce(_ unionByName _)
  }

  /** Land the parameter-sized IVF-PQ model tables (centroids,
    * codebooks, meta) under `root` — the build writes them at the
    * index root (model version 0), [[retrain]] under a fresh
    * `model-<uniq>/` directory. */
  private def writeModelArtifacts(spark: SparkSession, root: String,
                                  centroids: Array[Array[Double]],
                                  cbs: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (v, i) => (i + 1, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$root/centroids")
    cbs.zipWithIndex
      .flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (v, j) => (s, j + 1, v.toSeq) } }.toSeq
      .toDF("s", "code", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$root/codebooks")
    Seq((centroids.head.length, centroids.length, cbs.length,
        cbs.head.length))
      .toDF("dim", "nlist", "m", "ncode")
      .repartition(1).write.mode("overwrite").parquet(s"$root/meta")
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
    * literals and its first segment's schema); entries a compaction or
    * retrain left behind age out least-recently-used first. A model
    * entry is parameter-sized, so the cap bounds driver memory at a few
    * dozen models. */
  private val memoCap = 32

  /** Validated model literals and first-segment schemas, least recently
    * used evicted first. Keys start with a kind tag, so the codecs'
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

  /** Read ONLY the IVF-PQ model tables of a pinned manifest — the
    * writer verbs (append/upsert/merge-dst) need the encode model and
    * nothing else; a full [[load]] would also open every live segment
    * (one schema read each) to assemble a visible union the writer
    * never evaluates. Memoized under `"ivf" +: mkey`; every call gets
    * its own copy of the arrays. */
  private def readIvfModel(spark: SparkSession, dir: String,
                           md: ManifestData, mkey: Seq[String])
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (cents, cbs) = memoized("ivf" +: mkey)(readIvfTables(spark, dir, md))
    (cents.map(_.clone), cbs.map(_.map(_.clone)))
  }

  private def readIvfTables(spark: SparkSession, dir: String,
                            md: ManifestData)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val mroot = modelRoot(dir, md)
    val meta = spark.read.schema(ivfMetaSchema)
      .parquet(s"$mroot/meta").collect().head
    require(meta.getAs[String]("kind") == null,
      s"$dir is not an IVF-PQ index (meta kind=${meta.getAs[String]("kind")})")
    val (dim, nlist, m, ncode) =
      (meta.getAs[Int]("dim"), meta.getAs[Int]("nlist"),
        meta.getAs[Int]("m"), meta.getAs[Int]("ncode"))
    val cents = spark.read.schema(centroidsSchema)
      .parquet(s"$mroot/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    require(cents.length == nlist && cents.forall(_.length == dim),
      s"centroids table does not match meta ($nlist x $dim)")
    val cbRows = spark.read.schema(codebooksSchema)
      .parquet(s"$mroot/codebooks")
      .orderBy("s", "code").collect()
    require(cbRows.length == m * ncode,
      s"codebooks table does not match meta ($m x $ncode)")
    val cbs = cbRows.grouped(ncode)
      .map(_.map(_.getSeq[Double](2).toArray).toArray).toArray
    (cents, cbs)
  }

  /** [[readIvfModel]]'s SQ8 twin: affine model + optional coarse
    * quantizer, nothing else, memoized under `"sq" +: mkey`. */
  private def readSqModel(spark: SparkSession, dir: String,
                          md: ManifestData, mkey: Seq[String])
      : (graft.operators.Sq.Model, Option[Array[Array[Double]]]) = {
    val (m, cents) = memoized("sq" +: mkey)(readSqTables(spark, dir, md))
    (graft.operators.Sq.Model(m.mins.clone, m.steps.clone, m.invSteps.clone),
      cents.map(_.map(_.clone)))
  }

  private def readSqTables(spark: SparkSession, dir: String,
                           md: ManifestData)
      : (graft.operators.Sq.Model, Option[Array[Array[Double]]]) = {
    val f = fs(spark, dir)
    val mroot = modelRoot(dir, md)
    val meta = spark.read.schema(sqMetaSchema)
      .parquet(s"$mroot/meta").collect().head
    require(meta.getAs[String]("kind") == "sq8", s"$dir is not an sq8 index")
    val dim = meta.getAs[Int]("dim")
    val rows = spark.read.schema(sqModelSchema)
      .parquet(s"$mroot/model").orderBy("i").collect()
    require(rows.length == dim, s"model table does not match meta ($dim dims)")
    val m = graft.operators.Sq.Model(
      rows.map(_.getAs[Double]("mn")),
      rows.map(_.getAs[Double]("step")),
      rows.map(_.getAs[Double]("inv")))
    val cents =
      if (!f.exists(path(s"$mroot/centroids"))) None
      else Some(spark.read.schema(centroidsSchema)
        .parquet(s"$mroot/centroids")
        .orderBy("cell").collect()
        .map(_.getSeq[Double](1).toArray))
    cents.foreach(c => require(c.forall(_.length == dim),
      s"centroids table does not match meta (dim $dim)"))
    (m, cents)
  }

  /** Build and atomically publish a FRESH index at `dir` (replacing any
    * index already there). The corpus pass is [[Pq.ivfPqEncode]] —
    * assignment + residual + PQ encode fused into one map-only
    * projection — plus the partitioned segment write. The replace is a
    * whole-directory swap: unlike every in-chain verb (append, delete,
    * compact, [[retrain]] — all safe under concurrent writers), a
    * rebuild-over-live-index requires writers and readers of the OLD
    * directory to be stopped first; for an in-place model migration
    * that keeps them running, use [[retrain]]. */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 dir: String, centroids: Array[Array[Double]],
                 cbs: Array[Array[Array[Double]]]): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val target = path(dir)
    val parent = Option(target.getParent).getOrElse(path("."))
    f.mkdirs(parent)
    val tmp = path(parent.toString + s"/_tmp.${target.getName}")
    f.delete(tmp, true)

    writeModelArtifacts(spark, tmp.toString, centroids, cbs)
    val segName = freshName("batch-")
    val n = writeSegment(corpus, idCol, vecCol, tmp.toString, segName,
      centroids, cbs)
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
                  dir: String, dedupKey: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    if (dedupKey.exists(_ <= md.shw)) return // committed duplicate delivery
    maybeKill(dir, "stage")
    val (cents, cbs) = readIvfModel(spark, dir, md, modelKey(f, dir, md))
    val segName = freshName("batch-")
    val n = writeSegment(delta, idCol, vecCol, dir, segName, cents, cbs)
    if (n == 0) { f.delete(path(s"$dir/data/$segName"), true); return }
    commitWithRetry(f, dir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId, n, segName),
        hw = m.nextId, shw = math.max(m.shw, dedupKey.getOrElse(m.shw))),
      dedupKey, Seq(s"$dir/data/$segName"),
      abortOnModelChange = true, verb = "append")
  }

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
                   trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendIvfPq(batch.toDF(), idCol, vecCol, dir, dedupKey = Some(id))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

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
    * to latest-per-key first, [[UpsertSink.upsert]]'s convention).
    * Pair with [[UpsertSink.applyBatch]] in the same foreachBatch to
    * keep the versioned raw table and the index in lockstep (the
    * `stream_index_upsert_parity` harness runs exactly that). */
  def upsertBatchIvfPq(batch: DataFrame, idCol: String, vecCol: String,
                       dir: String, dedupKey: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    if (dedupKey.exists(_ <= md.shw)) return // committed duplicate delivery
    maybeKill(dir, "stage")
    val (cents, cbs) = readIvfModel(spark, dir, md, modelKey(f, dir, md))
    val segName = freshName("batch-")
    val tombName = freshName("t-")
    val n = writeSegment(batch, idCol, vecCol, dir, segName, cents, cbs)
    if (n == 0) { f.delete(path(s"$dir/data/$segName"), true); return }
    val tn = writeCounted(
      batch.select(col(idCol).cast("long").as("neighbor_id")).distinct(),
      s"$dir/tomb/$tombName", cellPartitioned = false)
    commitWithRetry(f, dir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId + 1, n, segName),
        tombs = m.tombs :+ Art(m.nextId, tn, tombName),
        hw = m.nextId + 1,
        shw = math.max(m.shw, dedupKey.getOrElse(m.shw))),
      dedupKey, Seq(s"$dir/data/$segName", s"$dir/tomb/$tombName"),
      abortOnModelChange = true, verb = "upsert")
  }

  /** Continuous CORRECTION ingest: [[upsertBatchIvfPq]] per micro-batch
    * with the foreachBatch id as the dedup key — the index-side twin of
    * [[UpsertSink.streamUpsert]]: last delivery per id wins, earlier
    * vectors are tombstone-masked and physically dropped by the next
    * [[compact]]. */
  def streamUpsert(updates: DataFrame, idCol: String, vecCol: String,
                   dir: String, checkpoint: String,
                   trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatchIvfPq(batch.toDF(), idCol, vecCol, dir, dedupKey = Some(id))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Tombstone `ids` (one column named `idCol`) out of the CURRENT
    * snapshot — the takedown/eviction verb: the id set lands as an
    * immutable `tomb/t-<n>` parquet and the next manifest generation
    * lists it; readers of that generation anti-join it out of every
    * OLDER segment's scan ([[visibleUnion]]'s sequence-number rule), so
    * a later re-append of the same id is visible again. Rows are
    * physically dropped — and the tombstone sets cleared — by the next
    * [[compact]]. Pinned pre-delete readers are untouched (their
    * manifest lists no such tombstone). Works on either index family
    * (IVF-PQ or SQ8) — only ids and the manifest are involved.
    * An empty id set is a no-op. */
  def delete(ids: DataFrame, idCol: String, dir: String): Unit = {
    val spark = ids.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    maybeKill(dir, "stage")
    val tombName = freshName("t-")
    val n = writeCounted(
      ids.select(col(idCol).cast("long").as("neighbor_id")).distinct(),
      s"$dir/tomb/$tombName", cellPartitioned = false)
    if (n == 0) { f.delete(path(s"$dir/tomb/$tombName"), true); return }
    // a re-based delete applies AS OF ITS COMMIT: a fresh tombstone id
    // (> every committed segment) also masks matching rows a concurrent
    // append just landed — delete-after-append semantics, exactly what
    // commit ordering says happened. Tombstones are id-only, so a
    // concurrent retrain does not invalidate them (no model abort).
    commitWithRetry(f, dir, (mid, md),
      m => m.copy(tombs = m.tombs :+ Art(m.nextId, n, tombName),
        hw = m.nextId),
      dedupKey = None, staged = Seq(s"$dir/tomb/$tombName"),
      abortOnModelChange = false, verb = "delete")
  }

  /** Compact the current snapshot into one segment (Iceberg
    * `rewriteDataFiles`, Lucene's merge): read the visible union —
    * tombstoned rows PHYSICALLY DROPPED here — rewrite it as a single
    * new segment (cell-partitioned when the family has cells — IVF-PQ;
    * flat for SQ8), publish a manifest listing ONLY that segment, no
    * tombstones, and the advanced high-water mark (the id consumed here
    * is never handed to a later append — the collision that would
    * otherwise silently drop the first post-compact micro-batch).
    * Readers pinned on older manifests keep working — their batch dirs
    * are untouched until [[expire]]. No-op on a single-segment index
    * with no tombstones; refuses to compact an index whose visible
    * union is empty (a fully-tombstoned index should be rebuilt, not
    * compacted into an unreadable zero-row segment). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    var attempts = 0
    while (true) {
      val (mid, md) = refresh(f, dir)
      maybeKill(dir, "stage")
      if (md.segs.length <= 1 && md.tombs.isEmpty) return
      val segName = freshName("batch-")
      val union = visibleUnion(spark, dir, md, modelKey(f, dir, md))
      val n =
        if (union.columns.contains("cell"))
          writeCounted(union.repartition(col("cell")),
            s"$dir/data/$segName", cellPartitioned = true)
        else writeCounted(union, s"$dir/data/$segName",
          cellPartitioned = false)
      if (n == 0) {
        f.delete(path(s"$dir/data/$segName"), true)
        throw new IllegalStateException(
          s"refusing to compact $dir: every row is tombstoned — rebuild")
      }
      maybeKill(dir, "staged")
      fireTestHook(dir)
      if (tryPublish(f, dir, mid + 1, ManifestData(
          Seq(Art(md.nextId, n, segName)), Seq.empty,
          hw = md.nextId, shw = md.shw,
          // carry BOTH model fields: dropping modelDir would silently
          // repoint post-retrain readers at the version-0 root model
          // while the compacted codes carry the retrained one
          model = md.model, modelDir = md.modelDir))) {
        maybeKill(dir, "published"); return
      }
      // Lost the race: the compacted segment reflects a base that is no
      // longer current (an append's rows would vanish, a delete's rows
      // would resurrect if the stale rewrite were published anyway) —
      // drop it and rewrite from the fresh snapshot, the Iceberg
      // rewrite-data-files validation rule.
      f.delete(path(s"$dir/data/$segName"), true)
      attempts += 1
      if (attempts >= maxCommitAttempts)
        throw new java.io.IOException(
          s"compact of $dir lost $attempts publish races — giving up")
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
    * corrupt distances. The copy is a cell-partitioned shuffle of
    * already-compressed codes (8 B/row payloads, not vectors), the
    * commit is one optimistic-concurrency publish like [[appendIvfPq]]
    * (re-base on lost races, loud abort if a concurrent [[retrain]]
    * changes the model underneath). Rows are appended as-is — ids
    * duplicated across shards stay duplicated, exactly like append;
    * route overlapping corrections through [[upsertBatchIvfPq]]. `src`
    * is untouched (drop or [[expire]] it after the merge commits). */
  def merge(spark: SparkSession, dstDir: String, srcDir: String): Unit = {
    require(dstDir != srcDir, "cannot merge an index into itself")
    val f = fs(spark, dstDir)
    val (mid, md) = refresh(f, dstDir)
    maybeKill(dstDir, "stage")
    val (dstCents, dstCbs) = readIvfModel(spark, dstDir, md,
      modelKey(f, dstDir, md))
    val src = load(spark, srcDir)
    require(dstCents.map(_.toSeq).toSeq == src.centroids.map(_.toSeq).toSeq &&
        dstCbs.map(_.map(_.toSeq).toSeq).toSeq == src.cbs.map(_.map(_.toSeq).toSeq).toSeq,
      s"model mismatch: $srcDir was not built with $dstDir's " +
        "centroids/codebooks — codes are not comparable across models")
    val segName = freshName("batch-")
    val copied = src.codes
      .select(col("neighbor_id"), col("_cell").as("cell"), col("codes"))
    val n = writeCounted(copied.repartition(col("cell")),
      s"$dstDir/data/$segName", cellPartitioned = true)
    if (n == 0) { f.delete(path(s"$dstDir/data/$segName"), true); return }
    commitWithRetry(f, dstDir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId, n, segName),
        hw = m.nextId),
      dedupKey = None, staged = Seq(s"$dstDir/data/$segName"),
      abortOnModelChange = true, verb = "merge")
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
              cbs: Array[Array[Array[Double]]]): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    maybeKill(dir, "stage")
    val modelDir = freshName("model-")
    writeModelArtifacts(spark, s"$dir/$modelDir", centroids, cbs)
    val segName = freshName("batch-")
    val n = writeSegment(corpus, idCol, vecCol, dir, segName, centroids, cbs)
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (n == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"refusing to retrain $dir onto an empty corpus")
    }
    maybeKill(dir, "staged")
    fireTestHook(dir)
    if (!tryPublish(f, dir, mid + 1, ManifestData(
        Seq(Art(md.nextId, n, segName)), Seq.empty,
        hw = md.nextId, shw = md.shw,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the retrain — its rows " +
          "are not in this retrain's corpus and must not be erased; " +
          "re-run retrain against a corpus that includes them")
    }
    maybeKill(dir, "published")
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
    * partition keys — and codes, whose residuals reference unchanged
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
                             hotOverride: Option[DataFrame]): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    expectMid.foreach { e =>
      if (mid != e) throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir after the policy derived its " +
          s"sub-centroids (snapshot $e -> $mid) — the derivation is " +
          "stale; re-run rebalance against the fresh snapshot")
    }
    maybeKill(dir, "stage")
    val idx = load(spark, dir, asOf = Some(mid))
    require(splits.nonEmpty, "no cells to split")
    val cells = splits.map(_._1)
    require(cells.distinct.length == cells.length,
      s"duplicate cells in one split pass: ${cells.mkString(",")}")
    val dim = idx.centroids.head.length
    splits.foreach { case (cell, subs) =>
      require(cell >= 1 && cell <= idx.nlist,
        s"cell $cell out of range 1..${idx.nlist}")
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
      .filter(col("_cell").isin(cells.map(Int.box): _*))
      .select(col("neighbor_id")).distinct()
    val hot = hotOverride.getOrElse(corpus
      .select(col(idCol), col(vecCol))
      .join(memberIds.withColumnRenamed("neighbor_id", "_split_mid"),
        col(idCol).cast("long") === col("_split_mid"))
      .drop("_split_mid"))

    // hottest-first fold: each split replaces its cell's slot with
    // sub-0 and appends the rest — existing cell ids never shift, and
    // the appended ids are pinned by the caller's split order
    val newCents = splits.foldLeft(idx.centroids) {
      case (cs, (cell, subs)) => cs.updated(cell - 1, subs.head) ++ subs.tail
    }
    val modelDir = freshName("model-")
    writeModelArtifacts(spark, s"$dir/$modelDir", newCents, idx.cbs)
    val segName = freshName("batch-")
    val tombName = freshName("t-")
    val n = writeSegment(hot, idCol, vecCol, dir, segName, newCents, idx.cbs)
    val tn = writeCounted(memberIds, s"$dir/tomb/$tombName",
      cellPartitioned = false)
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/tomb/$tombName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (tn == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"cell(s) $cellsMsg of $dir are empty — nothing to split (re-read " +
          "cellStats; the imbalance may have been compacted away)")
    }
    if (n != tn) {
      cleanup()
      throw new IllegalArgumentException(
        s"corpus does not cover cell(s) $cellsMsg exactly: the index " +
          s"holds $tn rows, the re-encode landed $n — a member id is " +
          "missing from (or duplicated in) the corpus; splitting would " +
          "drop or duplicate those rows")
    }
    maybeKill(dir, "staged")
    fireTestHook(dir)
    if (!tryPublish(f, dir, mid + 1, md.copy(
        segs = md.segs :+ Art(md.nextId + 1, n, segName),
        tombs = md.tombs :+ Art(md.nextId, tn, tombName),
        hw = md.nextId + 1,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the split — its rows " +
          "may sit in the cell being split and would be stranded under a " +
          "retired centroid; re-run splitCell against the fresh snapshot")
    }
    maybeKill(dir, "published")
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
    policyLoop(corpus, idCol, vecCol, maxImbalance, maxSplits,
      stats = () => {
        val (mid, _) = refresh(fs(corpus.sparkSession, dir), dir)
        val idx = load(corpus.sparkSession, dir, asOf = Some(mid))
        (cellStats(idx).collect()
          .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_vectors"))),
          idx.nlist, idx.codes, "_cell", mid)
      },
      split = (planned, hot, mid) =>
        splitCellsImpl(corpus, idCol, vecCol, dir, planned,
          expectMid = Some(mid), hotOverride = Some(hot)))

  /** [[rebalance]] for the SQ8 tier — same policy, same deterministic
    * derivation, over [[cellStatsSq]] and [[splitCellSq]]. Requires a
    * cell-partitioned SQ index (buildSq with centroids). */
  def rebalanceSq(corpus: DataFrame, idCol: String, vecCol: String,
                  dir: String, maxImbalance: Double = 4.0,
                  maxSplits: Int = 8): Int =
    rebalanceSqReport(corpus, idCol, vecCol, dir, maxImbalance,
      maxSplits).splits

  /** [[rebalanceSq]] returning the full [[PolicyReport]]. */
  def rebalanceSqReport(corpus: DataFrame, idCol: String, vecCol: String,
                        dir: String, maxImbalance: Double = 4.0,
                        maxSplits: Int = 8): PolicyReport =
    policyLoop(corpus, idCol, vecCol, maxImbalance, maxSplits,
      stats = () => {
        val (mid, _) = refresh(fs(corpus.sparkSession, dir), dir)
        val idx = loadSq(corpus.sparkSession, dir, asOf = Some(mid))
        require(idx.centroids.nonEmpty,
          "rebalanceSq needs a cell-partitioned SQ index (buildSq with " +
            "centroids)")
        (cellStatsSq(idx).collect()
          .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n_vectors"))),
          idx.nlist, idx.codes, "cell", mid)
      },
      split = (planned, hot, mid) =>
        splitCellsSqImpl(corpus, idCol, vecCol, dir, planned,
          expectMid = Some(mid), hotOverride = Some(hot)))

  /** The tier-shared policy loop (see [[rebalance]]'s doc): `stats`
    * re-reads (per-cell counts, nlist, the codes frame, its cell
    * column, the snapshot generation) from the CURRENT snapshot each
    * pass — every split grows nlist, which tightens the bar. Each pass
    * materializes ONE members frame covering all of the pass's hot
    * cells (id, raw vector, normalized vector, owning cell) and caches
    * it for the pass's lifetime: seed A / seed B / the assignment sums
    * of every hot cell AND the split re-encode read the cache instead
    * of re-scanning the corpus (~3 scans per cell + 1 per split
    * before; 1 per pass now — the fix that matters at 100 TB, where a
    * corpus scan is the whole cost). Unpersisted per pass, like
    * Components' round frames. */
  private def policyLoop(corpus: DataFrame, idCol: String, vecCol: String,
                         maxImbalance: Double, maxSplits: Int,
                         stats: () => (Array[(Int, Long)], Int, DataFrame,
                           String, Long),
                         split: (Seq[(Int, Array[Array[Double]])],
                           DataFrame, Long) => Unit): PolicyReport = {
    require(maxImbalance > 1.0,
      s"maxImbalance must exceed 1 (the balanced share), got $maxImbalance")
    require(maxSplits >= 1, s"maxSplits must be >= 1, got $maxSplits")
    import graft.functions.{VectorFunctions => VF}
    var splits = 0
    var passes = 0
    val cellsSplit = scala.collection.mutable.ArrayBuffer[Int]()
    val unsplittable = scala.collection.mutable.Set[Int]()
    var done = false
    while (!done && splits < maxSplits) {
      val (counts, nlist, codes, cellCol, mid) = stats()
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
        val memberIds = codes
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
            split(planned.toSeq, hot, mid)
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
  final case class LoadedSq(model: graft.operators.Sq.Model,
                            centroids: Option[Array[Array[Double]]],
                            codes: DataFrame, nrows: Long,
                            batches: Seq[Long]) {
    def dim: Int = model.dim
    def nlist: Int = centroids.map(_.length).getOrElse(0)
  }

  /** Land one SQ segment. With a coarse quantizer the encoded rows gain
    * a `cell` column (nearest centroid of the RAW vector — the same
    * assignment the IVF-PQ tier makes) and the segment is PARTITIONED
    * BY it, exactly like [[writeSegment]] — so the probe filter can
    * become a parquet PartitionFilter in pruned reads. */
  private def writeSqSegment(delta: DataFrame, idCol: String,
                             vecCol: String, dir: String, segName: String,
                             m: graft.operators.Sq.Model,
                             centroids: Option[Array[Array[Double]]]): Long = {
    import graft.operators.Sq
    val seg = s"$dir/data/$segName"
    val spread = graft.operators.Spread.toCores(delta)
    centroids match {
      case None =>
        writeCounted(Sq.encode(spread, idCol, vecCol, m), seg,
          cellPartitioned = false)
      case Some(cents) =>
        import graft.plans.SketchExpressions.nearestCentroids
        val e = spread.select(col(idCol).as("neighbor_id"),
            Sq.encodeExpr(col(vecCol), m).as("codes"),
            element_at(nearestCentroids(col(vecCol), cents, 1), 1).as("cell"))
          .withColumn("recon_norm", Sq.reconNormExpr(col("codes"), m))
        writeCounted(e.repartition(col("cell")), seg, cellPartitioned = true)
    }
  }

  /** Land the parameter-sized SQ model tables (affine model, meta,
    * optional coarse centroids) under `root` — the build writes them
    * at the index root (model version 0), [[retrainSq]] under a fresh
    * `model-<uniq>/` directory. */
  private def writeSqModelArtifacts(spark: SparkSession, root: String,
                                    m: graft.operators.Sq.Model,
                                    centroids: Option[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    (0 until m.dim).map(i => (i, m.mins(i), m.steps(i), m.invSteps(i)))
      .toDF("i", "mn", "step", "inv")
      .repartition(1).write.mode("overwrite").parquet(s"$root/model")
    Seq((m.dim, "sq8")).toDF("dim", "kind")
      .repartition(1).write.mode("overwrite").parquet(s"$root/meta")
    centroids.foreach { cents =>
      cents.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }.toSeq
        .toDF("cell", "vec")
        .repartition(1).write.mode("overwrite").parquet(s"$root/centroids")
    }
  }

  /** Build and atomically publish a fresh SQ8 index at `dir` — same
    * staging/manifest protocol as [[buildIvfPq]], with the
    * parameter-sized model persisted as (i, mn, step, inv) rows.
    * Passing `centroids` (typically the IVF tier's coarse quantizer)
    * produces the CELL-PARTITIONED layout: segments carry a `cell`
    * partition column, the centroids persist beside the model, and
    * [[topKSq]] gains the probe-pruned read path — while the default
    * full scan stays hash-identical to the flat layout (q155's gate). */
  def buildSq(corpus: DataFrame, idCol: String, vecCol: String,
              dir: String, m: graft.operators.Sq.Model,
              centroids: Option[Array[Array[Double]]] = None): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val target = path(dir)
    val parent = Option(target.getParent).getOrElse(path("."))
    f.mkdirs(parent)
    val tmp = path(parent.toString + s"/_tmp.${target.getName}")
    f.delete(tmp, true)

    writeSqModelArtifacts(spark, tmp.toString, m, centroids)
    val segName = freshName("batch-")
    val n = writeSqSegment(corpus, idCol, vecCol, tmp.toString, segName, m,
      centroids)
    writeManifest(f, tmp.toString, 0L,
      ManifestData(Seq(Art(0L, n, segName)), Seq.empty, hw = 0L, shw = -1L))

    f.delete(target, true)
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** Append a new immutable SQ8 segment — model (and coarse quantizer,
    * when present) read FROM the index, same high-water allocation,
    * idempotent `dedupKey` contract and empty-delta short-circuit as
    * [[appendIvfPq]]. */
  def appendSq(delta: DataFrame, idCol: String, vecCol: String,
               dir: String, dedupKey: Option[Long] = None): Unit = {
    val spark = delta.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    if (dedupKey.exists(_ <= md.shw)) return // committed duplicate delivery
    maybeKill(dir, "stage")
    val (model, cents) = readSqModel(spark, dir, md, modelKey(f, dir, md))
    val segName = freshName("batch-")
    val n = writeSqSegment(delta, idCol, vecCol, dir, segName, model, cents)
    if (n == 0) { f.delete(path(s"$dir/data/$segName"), true); return }
    commitWithRetry(f, dir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId, n, segName),
        hw = m.nextId, shw = math.max(m.shw, dedupKey.getOrElse(m.shw))),
      dedupKey, Seq(s"$dir/data/$segName"),
      abortOnModelChange = true, verb = "append")
  }

  /** [[streamAppend]]'s cheap-tier twin: continuous SQ8 index
    * ingestion, one idempotent [[appendSq]] segment per micro-batch
    * with the foreachBatch id as the dedup key — the same at-least-once
    * replay and compaction-survival contract. */
  def streamAppendSq(updates: DataFrame, idCol: String, vecCol: String,
                     dir: String, checkpoint: String,
                     trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendSq(batch.toDF(), idCol, vecCol, dir, dedupKey = Some(id))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** [[upsertBatchIvfPq]]'s cheap-tier twin: one streamed-CORRECTION
    * batch on an SQ8 index — the batch's ids are tombstoned at id `t`
    * (masking every older segment's copy) and the re-encoded batch
    * lands as segment `t+1`, both published by one atomic manifest
    * swap. Same `dedupKey` replay contract, empty-batch short-circuit,
    * re-base on lost races, and loud abort under a concurrent
    * [[retrainSq]]. */
  def upsertBatchSq(batch: DataFrame, idCol: String, vecCol: String,
                    dir: String, dedupKey: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    if (dedupKey.exists(_ <= md.shw)) return // committed duplicate delivery
    maybeKill(dir, "stage")
    val (model, cents) = readSqModel(spark, dir, md, modelKey(f, dir, md))
    val segName = freshName("batch-")
    val tombName = freshName("t-")
    val n = writeSqSegment(batch, idCol, vecCol, dir, segName, model, cents)
    if (n == 0) { f.delete(path(s"$dir/data/$segName"), true); return }
    val tn = writeCounted(
      batch.select(col(idCol).cast("long").as("neighbor_id")).distinct(),
      s"$dir/tomb/$tombName", cellPartitioned = false)
    commitWithRetry(f, dir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId + 1, n, segName),
        tombs = m.tombs :+ Art(m.nextId, tn, tombName),
        hw = m.nextId + 1,
        shw = math.max(m.shw, dedupKey.getOrElse(m.shw))),
      dedupKey, Seq(s"$dir/data/$segName", s"$dir/tomb/$tombName"),
      abortOnModelChange = true, verb = "upsert")
  }

  /** [[streamUpsert]]'s cheap-tier twin: continuous CORRECTION ingest
    * into an SQ8 index, [[upsertBatchSq]] per micro-batch with the
    * foreachBatch id as the dedup key. */
  def streamUpsertSq(updates: DataFrame, idCol: String, vecCol: String,
                     dir: String, checkpoint: String,
                     trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatchSq(batch.toDF(), idCol, vecCol, dir, dedupKey = Some(id))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** [[merge]]'s cheap-tier twin: land `src`'s visible SQ rows
    * (tombstones applied) as one new segment of `dst` without
    * re-encoding — the shard-federation verb over the SQ8 tier. Both
    * indexes must carry bit-equal affine models (and, when
    * cell-partitioned, bit-equal coarse quantizers); the copied
    * segment keeps the destination's layout because the rows already
    * carry their `cell` column when one exists. Same optimistic-
    * concurrency publish and concurrent-retrain abort as [[merge]]. */
  def mergeSq(spark: SparkSession, dstDir: String, srcDir: String): Unit = {
    require(dstDir != srcDir, "cannot merge an index into itself")
    val f = fs(spark, dstDir)
    val (mid, md) = refresh(f, dstDir)
    maybeKill(dstDir, "stage")
    val (dstModel, dstCents) = readSqModel(spark, dstDir, md,
      modelKey(f, dstDir, md))
    val src = loadSq(spark, srcDir)
    require(dstModel.mins.toSeq == src.model.mins.toSeq &&
        dstModel.steps.toSeq == src.model.steps.toSeq &&
        dstCents.map(_.map(_.toSeq).toSeq) ==
          src.centroids.map(_.map(_.toSeq).toSeq),
      s"model mismatch: $srcDir was not built with $dstDir's affine " +
        "model/quantizer — codes are not comparable across models")
    val segName = freshName("batch-")
    val seg = s"$dstDir/data/$segName"
    val n =
      if (src.codes.columns.contains("cell"))
        writeCounted(src.codes.repartition(col("cell")), seg,
          cellPartitioned = true)
      else writeCounted(src.codes, seg, cellPartitioned = false)
    if (n == 0) { f.delete(path(seg), true); return }
    commitWithRetry(f, dstDir, (mid, md),
      m => m.copy(segs = m.segs :+ Art(m.nextId, n, segName),
        hw = m.nextId),
      dedupKey = None, staged = Seq(seg),
      abortOnModelChange = true, verb = "merge")
  }

  /** [[retrain]]'s cheap-tier twin: re-fit the affine model (and
    * optionally the coarse quantizer) on the current corpus and
    * re-encode it as the next generation of the SAME manifest chain.
    * Identical contract: `retrainSq(corpus')` ≡ `buildSq(corpus')`
    * (q164 gates it), pinned pre-retrain readers keep the old model
    * through the manifest's model pointer, post-retrain appends
    * resolve the new one, and a concurrent [[appendSq]] aborts loudly
    * on the model-version change. An SQ model drifts exactly like an
    * IVF one — the per-dimension min/max ranges fitted at build time
    * clip vectors a moved distribution produces. */
  def retrainSq(corpus: DataFrame, idCol: String, vecCol: String,
                dir: String, m: graft.operators.Sq.Model,
                centroids: Option[Array[Array[Double]]] = None): Unit = {
    val spark = corpus.sparkSession
    val f = fs(spark, dir)
    val (mid, md) = refresh(f, dir)
    maybeKill(dir, "stage")
    val modelDir = freshName("model-")
    writeSqModelArtifacts(spark, s"$dir/$modelDir", m, centroids)
    val segName = freshName("batch-")
    val n = writeSqSegment(corpus, idCol, vecCol, dir, segName, m, centroids)
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (n == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"refusing to retrain $dir onto an empty corpus")
    }
    // like [[retrain]]: a lost race means someone committed rows this
    // retrain's corpus may not include — abort loudly, never erase
    maybeKill(dir, "staged")
    fireTestHook(dir)
    if (!tryPublish(f, dir, mid + 1, ManifestData(
        Seq(Art(md.nextId, n, segName)), Seq.empty,
        hw = md.nextId, shw = md.shw,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the retrain — its rows " +
          "are not in this retrain's corpus and must not be erased; " +
          "re-run retrain against a corpus that includes them")
    }
    maybeKill(dir, "published")
  }

  /** Open an SQ8 snapshot (model validated against meta; coarse
    * centroids loaded when the index has the cell layout). `asOf`
    * time-travels to an older manifest generation exactly as
    * [[load]]'s does — the manifest machinery is shared across both
    * index families, so retention ([[expire]]`(keepLast)`) and pinned
    * reads behave identically on the cheap tier. */
  def loadSq(spark: SparkSession, dir: String,
             asOf: Option[Long] = None): LoadedSq = {
    val f = fs(spark, dir)
    val (_, md) = resolveReadManifest(f, dir, asOf)
    // model artifacts resolve THROUGH the pinned manifest (see [[load]])
    val mkey = modelKey(f, dir, md)
    val (m, cents) = readSqModel(spark, dir, md, mkey)
    LoadedSq(m, cents, visibleUnion(spark, dir, md, mkey),
      md.segs.map(_.n).sum, md.segs.map(_.id))
  }

  /** Serving-batch snapshot cap: a pruned search runs the queries plan
    * twice (probe-cell collect, then the scoring join), so the batch
    * is SNAPSHOTTED first. Up to this many rows it becomes a driver
    * local relation (the probe collect already pays one pass — ≤ a few
    * MB at embedding dims); larger batches land once to a scratch
    * parquet and are read back. Both are stable across re-execution —
    * stronger than the previous MEMORY_AND_DISK persist, whose blocks
    * could be EVICTED and silently recompute a nondeterministic source
    * — and neither leaves anything in the cache manager behind (the
    * round-13 serving-path leak: every pruned search pinned its query
    * frame forever). Scratch landings are ROTATED: only the newest
    * [[scratchRetain]] survive, the oldest is deleted as each new one
    * lands, so a long-lived driver issuing many large pruned batches
    * holds bounded scratch disk instead of accumulating until JVM exit
    * (the shutdown hook remains the final backstop). The contract that
    * rotation imposes is mild and stated: a search RESULT built from an
    * above-cap batch must be consumed before `scratchRetain` further
    * above-cap searches land — serving batches sit under the collect
    * cap (zero-disk local relation, no rotation involved) and batch
    * jobs consume each result as it is produced. */
  private val snapshotCollectMax = 8192

  /** Above-cap query-batch landings retained before the oldest becomes
    * reclaim-ELIGIBLE. Eligibility also requires the landing be older
    * than [[scratchMinAgeMs]] — so a burst of large batches can exceed
    * the retain count briefly, but a landing is never yanked from
    * under a result the caller is actively consuming: steady-state
    * disk is bounded by the newest `scratchRetain`, burst disk by what
    * lands within one grace window. */
  private[graft] val scratchRetain = 32

  /** Minimum age before a rotated-out landing is deleted (15 min — far
    * beyond any active consumption). Specs pass an explicit `minAgeMs`
    * to [[snapshotQueries]] instead of mutating process-wide state. */
  private[graft] val scratchMinAgeMs: Long = 15L * 60 * 1000

  private val snapshotCounter = new java.util.concurrent.atomic.AtomicLong
  private val scratchLandings =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private[graft] def snapshotQueries(queries: DataFrame, idCol: String,
                                     vecCol: String,
                                     minAgeMs: Long = scratchMinAgeMs)
      : DataFrame = {
    val spark = queries.sparkSession
    val proj = queries.select(col(idCol), col(vecCol))
    val rows = proj.limit(snapshotCollectMax + 1).collect()
    if (rows.length <= snapshotCollectMax)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), proj.schema)
    else {
      val dir = graft.streaming.StreamHarness.scratch(
        s"ann_query_snapshot_${snapshotCounter.incrementAndGet()}")
      proj.write.mode("overwrite").parquet(dir)
      // check-and-remove must be ATOMIC: with a bare peek→poll, a
      // concurrent above-cap snapshot can poll between the two and the
      // age check then authorizes deleting a DIFFERENT (younger)
      // landing — yanking it from under a caller mid-query. The lock
      // is cheap and rare (above-cap landings only).
      scratchLandings.synchronized {
        scratchLandings.add(dir)
        val cutoff = System.currentTimeMillis() - minAgeMs
        while (scratchLandings.size > scratchRetain &&
            Option(scratchLandings.peek()).exists(
              new java.io.File(_).lastModified() < cutoff)) {
          val old = scratchLandings.poll()
          if (old != null)
            graft.streaming.StreamHarness.deleteRecursively(
              new java.io.File(old))
        }
      }
      spark.read.schema(proj.schema).parquet(dir)
    }
  }

  /** [[cellStats]] for the SQ8 tier's cell-partitioned layout — the
    * same per-cell balance audit over the `cell` partition column. */
  def cellStatsSq(idx: LoadedSq): DataFrame = {
    require(idx.centroids.nonEmpty,
      "cellStatsSq needs a cell-partitioned SQ index (buildSq with centroids)")
    // pinned (≤ nlist rows): the share projection AND the 1-row total
    // consume it — without the cut each re-scanned the visible codes
    val counts = graft.operators.Pin.param(idx.codes.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors")))
    val total = counts.agg(sum(col("n_vectors")).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(col("cell").cast("int").as("cell"),
        col("n_vectors"),
        bround(col("n_vectors") / col("_t"), 6).as("frac"))
  }

  /** [[splitCell]] for the SQ8 tier — same semantics (index membership
    * authoritative, centroid ids never shift, one manifest swap of
    * tombstone + re-keyed segment + bumped model) with one structural
    * simplification the cheap tier earns: SQ codes are a per-dimension
    * affine of the RAW vector, independent of the cell, so the
    * "re-encode" reproduces bit-identical codes — the split only moves
    * rows to new partition keys under the grown centroid table. The
    * corpus is still required: the index stores codes, and the NEW
    * assignment needs the raw vectors. */
  def splitCellSq(corpus: DataFrame, idCol: String, vecCol: String,
                  dir: String, cell: Int,
                  subCentroids: Array[Array[Double]]): Unit =
    splitCellsSqImpl(corpus, idCol, vecCol, dir, Seq(cell -> subCentroids),
      expectMid = None, hotOverride = None)

  /** [[splitCellsImpl]] for the SQ8 tier — the same batched,
    * snapshot-pinned, one-swap split over [[cellStatsSq]]'s layout
    * (see the IVF twin's doc for `expectMid` / `hotOverride`). */
  private[graft] def splitCellsSqImpl(corpus: DataFrame, idCol: String,
                               vecCol: String, dir: String,
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
          "stale; re-run rebalanceSq against the fresh snapshot")
    }
    maybeKill(dir, "stage")
    val idx = loadSq(spark, dir, asOf = Some(mid))
    val cents = idx.centroids.getOrElse(throw new IllegalArgumentException(
      "splitCellSq needs a cell-partitioned SQ index (buildSq with " +
        "centroids)"))
    require(splits.nonEmpty, "no cells to split")
    val cells = splits.map(_._1)
    require(cells.distinct.length == cells.length,
      s"duplicate cells in one split pass: ${cells.mkString(",")}")
    val dim = idx.dim
    splits.foreach { case (cell, subs) =>
      require(cell >= 1 && cell <= cents.length,
        s"cell $cell out of range 1..${cents.length}")
      require(subs.length >= 2,
        s"a split needs >= 2 sub-centroids, got ${subs.length} (cell $cell)")
      require(subs.forall(_.length == dim),
        s"sub-centroid dim != index dim $dim (cell $cell)")
    }
    val cellsMsg = cells.mkString(",")
    val memberIds = idx.codes
      .filter(col("cell").isin(cells.map(Int.box): _*))
      .select(col("neighbor_id")).distinct()
    val hot = hotOverride.getOrElse(corpus
      .select(col(idCol), col(vecCol))
      .join(memberIds.withColumnRenamed("neighbor_id", "_split_mid"),
        col(idCol).cast("long") === col("_split_mid"))
      .drop("_split_mid"))
    val newCents = splits.foldLeft(cents) {
      case (cs, (cell, subs)) => cs.updated(cell - 1, subs.head) ++ subs.tail
    }
    val modelDir = freshName("model-")
    writeSqModelArtifacts(spark, s"$dir/$modelDir", idx.model, Some(newCents))
    val segName = freshName("batch-")
    val tombName = freshName("t-")
    val n = writeSqSegment(hot, idCol, vecCol, dir, segName, idx.model,
      Some(newCents))
    val tn = writeCounted(memberIds, s"$dir/tomb/$tombName",
      cellPartitioned = false)
    def cleanup(): Unit = {
      f.delete(path(s"$dir/data/$segName"), true)
      f.delete(path(s"$dir/tomb/$tombName"), true)
      f.delete(path(s"$dir/$modelDir"), true)
    }
    if (tn == 0) {
      cleanup()
      throw new IllegalArgumentException(
        s"cell(s) $cellsMsg of $dir are empty — nothing to split (re-read " +
          "cellStatsSq; the imbalance may have been compacted away)")
    }
    if (n != tn) {
      cleanup()
      throw new IllegalArgumentException(
        s"corpus does not cover cell(s) $cellsMsg exactly: the index " +
          s"holds $tn rows, the re-key landed $n — a member id is " +
          "missing from (or duplicated in) the corpus; splitting would " +
          "drop or duplicate those rows")
    }
    maybeKill(dir, "staged")
    fireTestHook(dir)
    if (!tryPublish(f, dir, mid + 1, md.copy(
        segs = md.segs :+ Art(md.nextId + 1, n, segName),
        tombs = md.tombs :+ Art(md.nextId, tn, tombName),
        hw = md.nextId + 1,
        model = md.model + 1, modelDir = modelDir))) {
      cleanup()
      throw new java.util.ConcurrentModificationException(
        s"another writer committed to $dir during the split — its rows " +
          "may sit in the cell being split and would be stranded under a " +
          "retired centroid; re-run splitCellSq against the fresh snapshot")
    }
    maybeKill(dir, "published")
  }

  /** Query an opened SQ8 snapshot — [[Sq.topK]]'s factored-dot scan
    * over the pinned segment union. The DEFAULT is the full codes scan
    * (the cheap tier's exact-over-compressed contract — hash-identical
    * whether the layout is flat or cell-partitioned). `prune = true` on
    * a cell-built index restricts candidates to the queries' nprobe
    * nearest coarse cells, pushed into every segment scan as a parquet
    * PartitionFilter (the IVF trade: nprobe/nlist of the scan I/O for
    * approximate recall — [[topK]]'s plan with SQ scoring). Pruning a
    * flat index fails loudly rather than silently full-scanning. */
  def topKSq(idx: LoadedSq, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 10, nprobe: Int = 4,
             prune: Boolean = false): DataFrame = {
    import graft.plans.SketchExpressions.nearestCentroids
    if (!prune)
      graft.operators.Sq.topK(queries, idx.codes, idCol, vecCol, idx.model, k)
    else {
      val cents = idx.centroids.getOrElse(throw new IllegalArgumentException(
        "prune=true needs a cell-partitioned SQ index (buildSq with centroids)"))
      val q = snapshotQueries(queries, idCol, vecCol)
      val probed = q
        .select(explode(nearestCentroids(col(vecCol), cents, nprobe))
          .as("_cell"))
        .distinct().collect().map(_.getInt(0)).sorted
      val codes =
        if (probed.length >= cents.length) idx.codes
        else idx.codes.filter(col("cell").isin(probed.map(Int.box): _*))
      graft.operators.Sq.topK(q, codes, idCol, vecCol, idx.model, k)
    }
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
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, dir)
    // Three read outcomes per listed generation, each handled:
    //  - a generation that VANISHES between list and read (a peer
    //    expire's delete) → re-list and re-split, never a raw FNFE;
    //  - a BURIED corpse (a [[repair]]-superseded torn publish — left
    //    in place by design, see repair's doc) → contributes no live
    //    artifacts (it committed nothing; its creator's staged files
    //    are orphans under the grace reap) and is DELETED with the
    //    dropped range once it ages out of retention — this expiry is
    //    how buried corpses leave the chain. Freeing such an ancient
    //    slot is safe: writers target `top + 1` off a refresh taken
    //    microseconds earlier, never a slot `keepLast` generations
    //    deep. A corpse AT THE TOP still aborts loudly (the truncated
    //    error): the chain is wedged — repair first.
    var relist = 0
    var snapshot: (Seq[Long], Seq[Long], Seq[Option[ManifestData]],
      Seq[Option[ManifestData]]) = null
    def readOrCorpse(gens: Seq[Long], g: Long): Option[ManifestData] =
      try Some(readManifest(f, dir, g))
      catch {
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("truncated") =>
          if (g == gens.last) throw e // wedged top: repair first
          None // buried corpse: no content, reclaimed with its range
      }
    while (snapshot == null) {
      val gens = versionsOf(spark, dir)
      if (gens.isEmpty)
        throw new IllegalArgumentException(s"no committed manifest under $dir")
      val (dropped, kept) = gens.splitAt(math.max(0, gens.length - keepLast))
      try snapshot = (dropped, kept,
        dropped.map(readOrCorpse(gens, _)), kept.map(readOrCorpse(gens, _)))
      catch {
        case e: java.io.FileNotFoundException =>
          relist += 1
          if (relist > 16) throw e
      }
    }
    val (dropped, kept, droppedOpts, keptOpts) = snapshot
    val droppedMds = droppedOpts.flatten
    val keptMds = keptOpts.flatten
    val liveData = keptMds.flatMap(_.segs.map(_.dirName)).toSet
    val liveTombs = keptMds.flatMap(_.tombs.map(_.dirName)).toSet
    val liveModelDirs = keptMds.map(_.modelDir).filter(_.nonEmpty).toSet
    // MANIFESTS GO FIRST (crash-ordering invariant): once a dropped
    // generation's manifest is gone, a late time-travel reader fails
    // loudly with "does not exist" — never opens a manifest whose
    // segments this expire already deleted (a scan failure that looks
    // like corruption). An expire that dies between the two phases
    // leaves the dropped generations' artifacts referenced by NOTHING,
    // which is exactly the orphan class the grace-windowed reap below
    // (or the next expire) reclaims — re-running expire completes the
    // job, nothing is ever half-readable.
    dropped.foreach(g => f.delete(path(s"$dir/manifest/m-$g"), true): Unit)
    maybeKill(dir, "expire-torn")
    // committed-but-dropped artifacts: no writer can be mid-commit on
    // them (they were published), reclaim immediately
    (droppedMds.flatMap(_.segs.map(_.dirName)).toSet -- liveData)
      .foreach(d => f.delete(path(s"$dir/data/$d"), true): Unit)
    (droppedMds.flatMap(_.tombs.map(_.dirName)).toSet -- liveTombs)
      .foreach(d => f.delete(path(s"$dir/tomb/$d"), true): Unit)
    (droppedMds.map(_.modelDir).filter(_.nonEmpty).toSet -- liveModelDirs)
      .foreach(d => f.delete(path(s"$dir/$d"), true): Unit)
    // true orphans: referenced by NOTHING — grace-windowed reap
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    def reapOrphans(sub: String, prefix: String, live: Set[String]): Unit = {
      val d = path(s"$dir/$sub")
      if (f.exists(d)) f.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix) && !live(name) &&
            st.getModificationTime < cutoff)
          f.delete(st.getPath, true): Unit
      }
    }
    reapOrphans("data", "batch-", liveData)
    reapOrphans("tomb", "t-", liveTombs)
    // capability-probe files stranded by a JVM that died mid-probe
    // (no manifest ever lists them; m- readers already skip them)
    reapOrphans("manifest", "_probe-", Set.empty)
    // model dirs staged by a retrain that died (or aborted) before its
    // publish live at the index root under the "model-" prefix — same
    // orphan rule (never referenced by any manifest, grace-windowed)
    f.listStatus(path(dir)).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("model-") &&
          !liveModelDirs(name) && st.getModificationTime < cutoff)
        f.delete(st.getPath, true): Unit
    }
  }

  /** Open a snapshot: collect the parameter-sized model tables into
    * driver literals (validated against `meta`), pin a manifest, and
    * union its segment scans lazily (tombstones of THAT generation
    * masked — a handle opened before a [[delete]] still sees the
    * deleted rows). `asOf` time-travels to an OLDER manifest generation
    * (any id [[versionsOf]] lists — useful to reproduce a search
    * exactly as it ran before an append, the Iceberg/Delta
    * `VERSION AS OF` read); default is the current (highest) manifest.
    * Fails loudly on an expired or unknown id. */
  def load(spark: SparkSession, dir: String, asOf: Option[Long] = None): Loaded = {
    val f = fs(spark, dir)
    val (_, md) = resolveReadManifest(f, dir, asOf)
    // model artifacts resolve THROUGH the pinned manifest: a reader
    // pinned before a [[retrain]] keeps scoring with the model its
    // segments were encoded with (version 0 = the build's root dirs)
    val mkey = modelKey(f, dir, md)
    val (cents, cbs) = readIvfModel(spark, dir, md, mkey)
    val codes = visibleUnion(spark, dir, md, mkey)
      .select(col("neighbor_id"), col("cell").as("_cell"), col("codes"))
    Loaded(cents, cbs, codes, md.segs.map(_.n).sum, md.segs.map(_.id))
  }

  /** Recover a chain WEDGED by a publisher that died mid-write: a
    * writer that crashed between create-exclusive and close leaves a
    * sentinel-less manifest at the highest generation, which makes
    * every reader and writer fail loudly (truncated-manifest error) —
    * correct, but stuck until the file goes away. `repair` deletes
    * that manifest IF it is stale (older than `staleAfterMs` — a live
    * publisher finishes its few-hundred-byte body in milliseconds, so
    * age separates dead from slow), falling the chain back to the last
    * complete generation; the dead writer's staged artifacts become
    * orphans that [[expire]] grace-reaps. Returns true when something
    * was repaired, false when the chain was already healthy. Refuses
    * (loudly) to touch a FRESH incomplete manifest — that is an
    * in-flight publish, not a corpse.
    *
    * SAFE UNDER CONCURRENT REPAIRERS — BY SUPERSEDE, NEVER DELETE:
    * takedown job, compactor and ingester are separate processes and
    * may all call repair on the same wedge with no shared lock. Any
    * delete-based recovery is unfixably racy there, in two ways the
    * multi-writer soak caught live: (1) between one repairer's stale
    * verdict and its delete, a peer can reclaim the corpse and a
    * wedged writer re-publish the SAME slot healthy — an arbitrarily
    * suspended repairer then wakes and deletes a live commit;
    * (2) deleting the corpse at all FREES its slot, and a writer
    * suspended between its refresh (which read `corpse − 1`) and its
    * put-if-absent at `corpse` can then WIN the freed slot — its
    * "successful" commit lands in a buried, never-read generation.
    * So repair touches no contended slot. It SUPERSEDES: publish
    * `m-(corpse+1)` carrying the last complete generation's manifest
    * through the same put-if-absent [[ManifestCommitter]] every real
    * commit uses — atomic arbitration, one winner; a loser (or a
    * repairer finding peer progress) just re-evaluates the chain. The
    * corpse file stays in place, buried and inert — every reader
    * resolves past it, no writer can ever target its slot again — and
    * [[expire]] reclaims it once it ages out of the retention window.
    * "Torn" includes CRC-mismatch and EOF corpses on checksummed
    * stores (see [[readManifest]]'s classification).
    *
    * `staleAfterMs` IS A FENCING LEASE, and the one assumption this
    * protocol shares with every lease-based recovery scheme: it must
    * exceed the maximum reserve→close stall of any LIVE publisher on
    * this store. A publisher suspended longer than the window between
    * reserving its slot and writing the body looks exactly like a
    * corpse, and a repair running in that gap supersedes it. The late
    * writer is NOT silently lost: supersede manifests declare their
    * corpse (`supersedes N`), and every publish runs a writer-side
    * [[burialCheck]] once its body is durable — a buried writer reads
    * the marker at slot+1 and reports its commit LOST (re-base and
    * retry, exactly like a lost race), so the loss becomes loud in
    * every timing where the supersede lands before or during the
    * writer's publish. The irreducible corner is a repair pausing
    * between its staleness verdict and its supersede publish for
    * longer than the writer's body write plus its check budget — that
    * is what the lease bounds. The production default (10 min) dwarfs
    * any real publish of a few-hundred-byte body; soaks that shrink
    * the window for wall-clock reasons must keep it above the test
    * host's worst scheduling stall. Stores whose reserve is atomic
    * WITH the body (S3 conditional PUT, GCS generation-match) have no
    * such window at all — plug them in via [[ManifestCommitter]]. */
  def repair(spark: SparkSession, dir: String,
             staleAfterMs: Long = 10L * 60 * 1000): Boolean = {
    val f = fs(spark, dir)
    val gens = versionsOf(spark, dir)
    if (gens.isEmpty) return false
    val top = gens.last
    def reEvaluate(): Boolean = repair(spark, dir, staleAfterMs)
    // one UNRETRIED read, classified three ways: complete / incomplete
    // (sentinel-less, CRC-mismatched, or short) / vanished (a peer
    // repairer got there first) — [[probeSlot]], the same primitive
    // the writer-side burial check uses
    def completeNow(id: Long): Option[Boolean] =
      probeSlot(f, dir, id) match {
        case SlotAbsent => None
        case SlotTorn => Some(false)
        case SlotComplete(_) => Some(true)
      }
    val complete =
      try { readManifest(f, dir, top); true }
      catch {
        // the torn-publish classification: a sentinel-less body, a CRC
        // mismatch and a short read past the checksum frame all exit
        // readManifest's retry budget as this one loud error
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.contains("truncated") => false
        // defensive: these cannot escape readManifest's own
        // classification, but if a future read path leaks one it IS an
        // incomplete publish, not a reader bug
        case _: org.apache.hadoop.fs.ChecksumException => false
        case _: java.io.EOFException => false
        case _: java.io.FileNotFoundException => return reEvaluate()
      }
    if (complete) return false
    val st =
      try f.getFileStatus(path(s"$dir/manifest/m-$top"))
      catch { case _: java.io.FileNotFoundException => return reEvaluate() }
    val age = System.currentTimeMillis() - st.getModificationTime
    if (age < staleAfterMs)
      throw new IllegalStateException(
        s"manifest m-$top under $dir is incomplete but only ${age} ms old " +
          "— likely an IN-FLIGHT publish, not a dead writer; retry repair " +
          "after the stale window")
    require(gens.length > 1,
      s"the only manifest under $dir is truncated — the index never " +
        "completed a build; rebuild it")
    // SUPERSEDE, NEVER DELETE (see the method doc): republish the last
    // complete generation's manifest at `top + 1` through the
    // put-if-absent committer. Writers cannot contend for that slot (a
    // writer only publishes at `g + 1` after READING a complete `g`,
    // and m-top was never complete), so the only contenders are peer
    // repairers — and put-if-absent picks exactly one winner. An
    // arbitrarily suspended repairer that wakes after a peer's
    // supersede simply loses the publish and re-evaluates.
    //
    // The corpse file is LEFT IN PLACE, buried: deleting it would FREE
    // its slot, and a writer suspended between its refresh (which read
    // m-(top-1)) and its put-if-absent at `top` could then WIN the
    // freed slot below the supersede — a commit that "succeeds" into a
    // non-top generation is silently invisible (the multi-writer soak
    // caught exactly this as whole-batch losses). A buried corpse is
    // inert — every reader resolves past it — and [[expire]] reclaims
    // its file once it ages out of the retention window, when no
    // staged writer can still be targeting its slot.
    val donor = gens.init.reverse
      .find(g => completeNow(g).contains(true))
      .getOrElse(throw new IllegalStateException(
        s"no complete manifest below corpse m-$top under $dir — the " +
          "index has no recoverable generation; rebuild it"))
    val donorMd = readManifest(f, dir, donor)
    // the `supersedes` marker is the burial check's signal: a writer
    // whose slot this supersede buries (its body landed AFTER our
    // staleness sample) reads it at publish time and reports its own
    // commit LOST instead of phantom-succeeding into a buried
    // generation. A lost supersede race (false here) includes the case
    // where a peer superseded OUR mid-write supersede — reEvaluate
    // re-reads the chain and converges either way.
    if (!tryPublish(f, dir, top + 1, donorMd, supersedes = Some(top)))
      return reEvaluate()
    true
  }

  /** Ops-side index metadata as a DataFrame — what an operator looks at
    * before deciding to compact, expire, or page someone: one row per
    * (manifest generation × artifact), artifact kind `segment` or
    * `tombstone`, with the generation's id high-water and stream
    * high-water repeated per row. Driver-side file metadata only (the
    * manifests are parameter-sized); no data files are opened, so
    * describing a 100 TB index costs a directory listing. */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, dir)
    val gens = versionsOf(spark, dir)
    // a generation named by a later supersede marker is VOID history
    // even when its manifest is complete (a writer stalled past the
    // fencing lease, finished its body after the supersede, detected
    // the burial and re-based — see burialCheck): without the label an
    // operator would read it as a live snapshot. Markers are in the
    // parameter-sized manifests, so this stays a directory-listing-
    // cost report.
    val buried = gens.flatMap(g => probeSlot(f, dir, g) match {
      case SlotComplete(sup) => sup
      case _ => None
    }).toSet
    gens.flatMap { gen =>
      // a buried corpse (repair-superseded torn publish, non-top) is
      // REPORTED, not fatal — ops should see it awaiting its expiry;
      // a corpse at the top still fails loudly: repair first
      val mdOpt =
        try Some(readManifest(f, dir, gen))
        catch {
          case e: java.io.IOException if e.getMessage != null &&
              e.getMessage.contains("truncated") && gen != gens.last => None
        }
      val pre = if (buried(gen)) "buried-" else ""
      mdOpt match {
        case Some(md) =>
          md.segs.map(a =>
            (gen, pre + "segment", a.id, a.n, md.hw, md.shw, md.model)) ++
            md.tombs.map(a =>
              (gen, pre + "tombstone", a.id, a.n, md.hw, md.shw, md.model))
        case None =>
          Seq((gen, "torn-corpse", -1L, -1L, -1L, -1L, -1L))
      }
    }.toDF("generation", "kind", "artifact_id", "n_rows",
      "id_high_water", "stream_high_water", "model_version")
  }

  /** Published manifest generations — the snapshot ids [[load]]'s
    * `asOf` accepts (oldest first; [[expire]] collapses this to the
    * current one). */
  def versionsOf(spark: SparkSession, dir: String): Seq[Long] =
    generations(fs(spark, dir), dir)

  /** The distinct allowed-id mask, re-planted as a broadcast LITERAL
    * when it fits under `smallMask` rows (the tiny-allowlist hatch
    * shared by [[topKWhere]] and [[topKWhereSq]]). */
  private def allowedMask(spark: SparkSession, allowed: DataFrame,
                          allowedIdCol: String, smallMask: Int): DataFrame = {
    val mask = allowed.select(col(allowedIdCol).cast("long")
      .as("neighbor_id")).distinct()
    val small = mask.limit(smallMask + 1).collect()
    if (small.length <= smallMask)
      broadcast(spark.createDataFrame(
        java.util.Arrays.asList(small: _*), mask.schema))
    else mask
  }

  /** FILTERED search — the metadata-predicate vector query every
    * production deployment serves ("nearest neighbors WHERE lang='en'"):
    * the allowed-id set is semi-joined into the codes scan BEFORE
    * ranking (pre-filter semantics — each query still returns up to k
    * ALLOWED neighbors; post-filtering a plain top-k would silently
    * return fewer), then the standard [[topK]] runs. The mask is
    * id-only and distinct, so AQE broadcasts selective filters; probe
    * pruning still pushes through the semi-join's streamed side as a
    * PartitionFilter. Because per-row encode is deterministic,
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
    * literal-mask plan, AnnIndexSpec asserts the probe PartitionFilter
    * survives it. */
  def topKWhere(idx: Loaded, queries: DataFrame, idCol: String,
                vecCol: String, allowed: DataFrame, allowedIdCol: String,
                k: Int = 10, nprobe: Int = 4,
                prune: Boolean = true, smallMask: Int = 1024): DataFrame = {
    val mask = allowedMask(queries.sparkSession, allowed, allowedIdCol,
      smallMask)
    topK(idx.copy(codes = idx.codes.join(mask, Seq("neighbor_id"),
        "left_semi")),
      queries, idCol, vecCol, k, nprobe, prune)
  }

  /** [[topKWhere]]'s cheap-tier twin: filtered search over an SQ8
    * snapshot with the same PRE-FILTER semantics (the allowed-id set is
    * semi-joined into the codes scan BEFORE ranking, so each query
    * still returns up to k ALLOWED neighbors) and the same
    * tiny-allowlist literal hatch. The SQ model is fitted on the WHOLE
    * corpus at build time, so mask-at-read scores each allowed row
    * exactly as the unfiltered scan would — the restriction changes
    * which rows are ranked, never how (q163 hash-gates it). Works on
    * flat and cell-partitioned layouts; `prune = true` composes the
    * probe PartitionFilter with the mask exactly as [[topKSq]] does. */
  def topKWhereSq(idx: LoadedSq, queries: DataFrame, idCol: String,
                  vecCol: String, allowed: DataFrame, allowedIdCol: String,
                  k: Int = 10, nprobe: Int = 4,
                  prune: Boolean = false, smallMask: Int = 1024): DataFrame = {
    val mask = allowedMask(queries.sparkSession, allowed, allowedIdCol,
      smallMask)
    topKSq(idx.copy(codes = idx.codes.join(mask, Seq("neighbor_id"),
        "left_semi")),
      queries, idCol, vecCol, k, nprobe, prune)
  }

  /** Per-cell population report over an opened snapshot — the ops-side
    * balance audit (an IVF list 100× the mean is a latency and recall
    * hazard: every query probing it scans 100× the codes; Faiss's
    * imbalance_factor). One nlist-bounded hash agg over the codes scan
    * plus a broadcast 1-row total — no sort, no collect. */
  def cellStats(idx: Loaded): DataFrame = {
    // pinned (≤ nlist rows): the share projection AND the 1-row total
    // consume it — without the cut each re-scanned the visible codes
    val counts = graft.operators.Pin.param(idx.codes.groupBy(col("_cell"))
      .agg(count(lit(1)).as("n_vectors")))
    val total = counts.agg(sum(col("n_vectors")).as("_t"))
    counts.crossJoin(broadcast(total))
      .select(col("_cell").cast("int").as("cell"),
        col("n_vectors"),
        bround(col("n_vectors") / col("_t"), 6).as("frac"))
  }

  /** Query an opened snapshot: [[Pq.ivfPqSearch]] over the pinned
    * segment union, with the probe set pushed into EVERY segment scan
    * as a partition filter. The probed-cell collect is bounded by nlist
    * REGARDLESS of query count (distinct over the exploded probe list),
    * so pruning is always parameter-sized; `prune = false` keeps the
    * plain cell-join plan for the corpus-as-queries shape where every
    * cell is probed anyway. The prune path executes the queries plan
    * TWICE (probe-cell collect, then the search join), so it SNAPSHOTS
    * the batch first ([[snapshotQueries]] — a nondeterministic queries
    * frame would otherwise probe a different cell set than the search
    * scores), leaving nothing behind in the cache manager. */
  def topK(idx: Loaded, queries: DataFrame, idCol: String, vecCol: String,
           k: Int = 10, nprobe: Int = 4, prune: Boolean = true): DataFrame = {
    import graft.plans.SketchExpressions.nearestCentroids
    if (!prune)
      Pq.ivfPqSearch(idx.codes, queries, idCol, vecCol, idx.centroids,
        idx.cbs, k, nprobe)
    else {
      val q = snapshotQueries(queries, idCol, vecCol)
      val probed = q
        .select(explode(nearestCentroids(col(vecCol), idx.centroids,
          nprobe)).as("_cell"))
        .distinct().collect().map(_.getInt(0)).sorted
      val codes =
        if (probed.length >= idx.nlist) idx.codes
        else idx.codes.filter(col("_cell").isin(probed.map(Int.box): _*))
      Pq.ivfPqSearch(codes, q, idCol, vecCol, idx.centroids, idx.cbs,
        k, nprobe)
    }
  }
}
