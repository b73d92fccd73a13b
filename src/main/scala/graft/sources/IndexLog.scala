package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit log of a persisted vector index ([[AnnIndex]]): the
  * manifest format, the put-if-absent publish, the optimistic commit
  * loop, repair and expiry, written over a Hadoop `FileSystem` and an
  * index directory and nothing of Spark. Artifacts (segments under
  * `data/`, tombstone sets under `tomb/`, retrained models under
  * `model-<uniq>/`) are names with row counts here; [[AnnIndex]] writes
  * and reads their contents. Delta Lake (Armbrust et al., VLDB 2020)
  * specifies its log the same way, apart from the reader and writer
  * over it.
  *
  * FORMAT: `manifest/m-<n>` is the index state as of generation n: a
  * `v2` header line, a `model <v> [<dir>]` line (which model version
  * encodes this snapshot's segments — 0 is the build's root-level
  * model tables, higher versions live under the named `model-<uniq>/`
  * and are written by a retrain or a split), a `hw <id>` high-water
  * line (the highest segment/tombstone id EVER allocated — never
  * reused, even after a compaction drops the segment that carried
  * it), a `shw <key>` line (the highest committed stream dedup key),
  * a `supersedes <n>` line on a [[repair]] supersede only, one
  * `batch-<id> <nrows> <dirName>` line per live segment, one
  * `tomb-<id> <nrows> <dirName>` line per live tombstone set, and a
  * final `commit` sentinel (a reader that opens the file mid-write sees
  * a missing sentinel and retries — the create-exclusive publish is
  * atomic for WRITERS but not for a racing read of the few-hundred-byte
  * body). An artifact not listed in any manifest does not exist to
  * readers.
  *
  * CONCURRENT WRITERS: generation n+1 is published through the
  * [[ManifestCommitter]]'s put-if-absent, so of two writers that both
  * read m-n exactly ONE wins m-n+1; the loser re-bases
  * ([[commitWithRetry]]) or, for a [[compact]], rewrites.
  *
  * MIGRATION (pre-high-water manifests): a manifest written before the
  * `shw` line existed came from the era whose streamed micro-batch `id`
  * landed as segment id `id + 1` (build owned segment 0, the stream
  * owned 1…N sequentially) with manifest-membership as the dedup rule —
  * so the committed stream high-water is RECOVERABLE as
  * `max segment id − 1`, and [[readSlot]] normalizes a legacy manifest
  * to exactly that at parse time. Resuming an old streaming checkpoint
  * against an old-format index therefore deduplicates its crash-window
  * replay correctly with NO manual migration step, and the first
  * new-format commit stamps the real `shw` going forward. The one
  * unrecoverable case is inherited, not introduced: an index COMPACTED
  * by the pre-high-water code had already entangled segment and batch
  * ids (the collision its era was known for) — checkpoints that predate
  * such a compact were unsafe under the old code too and must be
  * discarded. */
private[graft] object IndexLog {

  private def path(s: String) = new Path(s)

  /** One committed artifact: its LOGICAL id (the sequence number that
    * orders tombstones against segments), row count, and the PHYSICAL
    * directory name under `data/` or `tomb/`. The two are decoupled
    * because ids are allocated optimistically: a writer stages its
    * data under a unique name, and a lost publish race re-assigns only
    * the id in the retried manifest line — no data moves, and two
    * in-flight writers can never overwrite each other's staging (the
    * Iceberg unique-file-name + metadata-pointer rule). Legacy
    * manifests (2-token lines) imply dirName = `batch-<id>`/`t-<id>`. */
  final case class Art(id: Long, n: Long, dirName: String)

  /** One manifest generation, parsed. `hw` is the segment/tombstone id
    * high-water mark: every id ≤ hw has been allocated by SOME
    * committed generation (possibly since compacted away) and is never
    * allocated again — the invariant that makes compaction safe under
    * concurrent-in-time stream replays. `shw` is the highest committed
    * stream dedup key (−1 before any keyed append). `model` is the
    * model version this generation's segments are encoded with (0 =
    * the build's root artifacts; a retrain bumps it). */
  final case class ManifestData(segs: Seq[Art], tombs: Seq[Art],
                                hw: Long, shw: Long, model: Long = 0L,
                                modelDir: String = "") {
    def nextId: Long = hw + 1
  }

  /** Unique staging name for a new artifact directory — what lets two
    * writers stage concurrently without ever colliding on a path. */
  def freshName(prefix: String): String =
    prefix + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  /** Committed manifest ids, oldest first (empty on a fresh/absent
    * index). */
  def generations(f: FileSystem, dir: String): Seq[Long] = {
    val mdir = path(s"$dir/manifest")
    if (!f.exists(mdir)) Seq.empty
    else f.listStatus(mdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("m-"))
      .flatMap(st => scala.util.Try(st.getPath.getName.drop(2).toLong).toOption)
      .sorted
  }

  /** Reader retry budget for a torn slot (25 ms apart — 3 s at the
    * default): long enough that a LIVE publisher's few-hundred-byte body
    * write always lands within it, short enough that a wedged chain
    * fails fast. */
  private val manifestRetryAttempts = 120

  /** Per-index-dir override of the reader retry budget (keyed like
    * [[testKillPoint]]). The crash/concurrency specs wedge THEIR
    * index's chain hundreds of times and must not sleep 3 s per read —
    * but a process-wide knob would make an unrelated suite's reader,
    * racing a live publish on a slow FS under parallel execution, fail
    * spuriously as truncated, and a spec that crashed before restoring
    * it would poison the rest of the run. Scoped per dir, neither can
    * happen. */
  val manifestRetryOverride =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  private def retryBudget(dir: String): Int =
    Option(manifestRetryOverride.get(dir)).fold(manifestRetryAttempts)(_.intValue)

  private val legacyShwWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** What one read of a manifest slot finds: nothing, a torn publish
    * (`reason` says how it tore), or a complete manifest with the
    * generation it supersedes when it is a [[repair]] supersede. */
  sealed trait Slot
  case object Absent extends Slot
  final case class Torn(reason: String) extends Slot
  final case class Complete(md: ManifestData, supersedes: Option[Long])
    extends Slot

  /** One unretried read of slot `id` — the classification every reader
    * of the log shares. A `v2` manifest is complete only with its
    * `commit` sentinel. A non-`v2` file is a LEGACY manifest
    * (rename-published, hence content-atomic) only when it holds at
    * least one recognized manifest line — a torn read whose visible
    * prefix is shorter than the `v2` header is torn, never an empty
    * index. On a checksummed store (ChecksumFileSystem wraps every local
    * dir) a publish torn between the data flush and the CRC flush, or a
    * stale .crc against fresh bytes, surfaces as a CRC or EOF error:
    * protocol-wise the same state as a missing sentinel, so it reads as
    * torn too and never escapes as a raw ChecksumException. */
  def readSlot(f: FileSystem, dir: String, id: Long): Slot = {
    val txt =
      try {
        val in = f.open(path(s"$dir/manifest/m-$id"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException => return Absent
        case _: org.apache.hadoop.fs.ChecksumException =>
          return Torn("checksum mismatch on a checksummed store")
        case _: java.io.EOFException =>
          return Torn("short read past the checksum frame")
      }
    val lines = txt.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val v2 = lines.headOption.contains("v2")
    val legacyOk = !v2 && lines.exists(l =>
      l.startsWith("batch-") || l.startsWith("tomb-") ||
        l.startsWith("hw ") || l.startsWith("shw ") ||
        l.startsWith("model "))
    if ((v2 && lines.last == "commit") || legacyOk)
      Complete(parse(dir, lines), lines.collectFirst {
        case l if l.startsWith("supersedes ") =>
          l.drop("supersedes ".length).trim.toLong
      })
    else Torn("no commit sentinel")
  }

  /** The lines of a complete manifest. Legacy manifests default hw =
    * max listed id, and their stream high-water is NORMALIZED to
    * `max segment id − 1` (see MIGRATION on the object), so every
    * downstream dedup check, carry-forward and publish handles
    * old-format indexes with no special casing. */
  private def parse(dir: String, lines: Seq[String]): ManifestData = {
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
    // Warned once per dir: on a legacy index that ALSO took keyless
    // appends or an old-code compact, the recovered floor can
    // OVER-estimate the committed stream batch, and a resumed checkpoint
    // would silently skip batches ≤ the floor — an operator must be able
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
    ManifestData(s, t, math.max(hw, maxListed), shw, model, modelDir)
  }

  /** Slot `id` once it settles: [[readSlot]] retried 25 ms apart while
    * it reads torn, within the reader budget. A slot still torn after
    * the budget is returned torn: its writer died, or is mid-publish on
    * a slow FS. */
  private def settle(f: FileSystem, dir: String, id: Long): Slot = {
    val budget = retryBudget(dir)
    var attempt = 0
    var slot = readSlot(f, dir, id)
    while (slot.isInstanceOf[Torn] && attempt < budget) {
      Thread.sleep(25)
      attempt += 1
      slot = readSlot(f, dir, id)
    }
    slot
  }

  /** The manifest of a settled slot. An absent slot is a
    * FileNotFoundException (readers re-list on it); a torn one is the
    * loud truncated-manifest error [[repair]] answers. */
  private def manifestOf(dir: String, id: Long, slot: Slot): ManifestData =
    slot match {
      case Complete(md, _) => md
      case Absent =>
        throw new java.io.FileNotFoundException(
          s"manifest m-$id does not exist under $dir")
      case Torn(reason) =>
        throw new java.io.IOException(
          s"manifest m-$id under $dir is truncated ($reason) — " +
            "its writer is either mid-publish on a slow FS or died; run " +
            "AnnIndex.repair, which supersedes the corpse only once it is " +
            "older than the stale window (never a live publish)")
    }

  /** Parse manifest `id`, retrying a torn read briefly before failing
    * loudly (never silently parses a partial snapshot). */
  private def readManifest(f: FileSystem, dir: String, id: Long): ManifestData =
    manifestOf(dir, id, settle(f, dir, id))

  /** Resolve the generation a reader pins: the caller's `asOf` verbatim,
    * else the latest listed generation via [[refresh]]. An `asOf` fails
    * loudly when its manifest is expired or unknown, and when a
    * [[repair]] superseded it — a torn corpse, or a body its stalled
    * writer finished after the supersede (that writer reported the
    * commit lost and re-landed it): neither is a snapshot any commit
    * produced. */
  def resolve(f: FileSystem, dir: String,
              asOf: Option[Long]): (Long, ManifestData) =
    asOf match {
      case None => refresh(f, dir)
      case Some(g) =>
        val slot = readSlot(f, dir, g)
        require(slot != Absent, s"manifest m-$g does not exist under $dir " +
          "(expired or never published)")
        readSlot(f, dir, g + 1) match {
          case Complete(_, Some(s)) if s == g =>
            throw new IllegalArgumentException(
              s"manifest m-$g under $dir was superseded by m-${g + 1} " +
                "(AnnIndex.repair judged it a dead writer's publish) — it " +
                "is not a committed snapshot")
          case _ =>
        }
        (g, slot match {
          case Complete(md, _) => md
          case _ => readManifest(f, dir, g)
        })
    }

  /** One-shot, per-index test hook fired immediately before a publish
    * attempt — lets a spec inject a COMPETING commit deterministically
    * into the race window (read-manifest → publish) that a wall-clock
    * interleaving could only hit probabilistically. Keyed by index dir
    * and removed atomically before it runs, so the competing commit
    * itself does not recurse and concurrent suites cannot steal each
    * other's hooks. */
  val testBeforePublish =
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
    * `published` (the commit is durable; the caller just never heard),
    * and `expire-torn` (between [[expire]]'s manifest and artifact
    * deletes). One-shot and keyed by index dir (atomic conditional
    * remove), so parallel suites cannot steal each other's crashes. */
  final class InjectedCrash(val point: String)
    extends RuntimeException(s"injected crash at $point")
  val testKillPoint =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def maybeKill(dir: String, point: String): Unit =
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
  trait ManifestCommitter {
    def putIfAbsent(f: FileSystem, dest: Path, body: Array[Byte],
                    beforeBody: () => Unit): Boolean
  }

  object CreateExclusiveCommitter extends ManifestCommitter {
    def putIfAbsent(f: FileSystem, dest: Path, body: Array[Byte],
                    beforeBody: () => Unit): Boolean = {
      val scheme = Option(dest.toUri.getScheme)
        .getOrElse(f.getUri.getScheme)
      val out =
        if (scheme == "file") {
          // RawLocalFileSystem's create(overwrite = false) is
          // exists-then-open: two racing writers could both get streams
          // and one body silently overwrite the other (the storm caught
          // two writers both winning m-1). Reserve through O_CREAT|O_EXCL
          // (atomic at the kernel), then write the body through the
          // checksummed FS so the .crc sidecar stays live. The torn
          // window (reserved, body unwritten) remains: [[repair]]'s
          // substrate.
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
          f.create(dest, true) // the slot is ours (O_EXCL won)
        } else
          try f.create(dest, false) // atomic at an HDFS NameNode
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

  @volatile var committer: ManifestCommitter = CreateExclusiveCommitter

  /** Once per FileSystem per JVM, before the first real publish:
    * create a uniquely-named probe file twice through the committer —
    * the second attempt MUST report the destination taken. A store
    * that passes both (an overwrite-happy FS behind a naive committer)
    * would silently lose one of two racing commits, so it fails loudly
    * here instead. Probe files are unique-named (two processes probing
    * concurrently never interfere) and deleted afterwards. */
  private val probedFs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def probeCommitter(f: FileSystem, dir: String): Unit = {
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
            "for this store (IndexLog.committer) — S3: conditional PUT " +
            "If-None-Match; GCS: ifGenerationMatch(0)")
    } finally f.delete(probe, true): Unit
  }
  private def probeCommitterOnce(f: FileSystem, dir: String): Unit =
    probedFs.computeIfAbsent(f.getUri.toString, { _ =>
      probeCommitter(f, dir); java.lang.Boolean.TRUE
    }): Unit

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
    *   - torn → a mid-write publisher: wait within the reader budget
    *     ([[settle]]). If it completes, classify as above. If it STAYS
    *     torn it is itself a corpse, and its future repair picks the
    *     HIGHEST complete generation below it — us — as the donor, so
    *     reporting committed is consistent either way.
    * The remaining corner — a repair that pauses between its staleness
    * verdict and its supersede publish for longer than our body write
    * plus this check's budget — is the irreducible lease assumption on
    * [[repair]]; this check removes every timing in which the
    * supersede lands before or during our publish. */
  private def burialCheck(f: FileSystem, dir: String, id: Long): Boolean =
    settle(f, dir, id + 1) match {
      case Complete(_, sup) => !sup.contains(id)
      case _ => true
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
  private def tryPublish(f: FileSystem, dir: String, id: Long,
                         md: ManifestData,
                         supersedes: Option[Long] = None): Boolean = {
    f.mkdirs(path(s"$dir/manifest"))
    probeCommitterOnce(f, dir)
    val dest = path(s"$dir/manifest/m-$id")
    val modelLine =
      if (md.modelDir.isEmpty) s"model ${md.model}"
      else s"model ${md.model} ${md.modelDir}"
    // `supersedes N` marks a [[repair]] supersede and is written ONLY
    // from repair's own publish (parse skips it; it never propagates
    // into ManifestData, so a later verb re-basing on the supersede
    // cannot accidentally carry the marker forward) — it is what
    // [[burialCheck]] reads to tell "successor built on me" from "my
    // slot was judged a corpse"
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
  def writeManifest(f: FileSystem, dir: String, id: Long,
                    md: ManifestData): Unit =
    if (!tryPublish(f, dir, id, md))
      throw new java.io.IOException(s"manifest m-$id publish failed")

  /** One publish of a staged commit as generation `id`, between the
    * `staged` and `published` kill points: false on a lost race. */
  def publishStaged(f: FileSystem, dir: String, id: Long,
                    md: ManifestData): Boolean = {
    maybeKill(dir, "staged")
    fireTestHook(dir)
    tryPublish(f, dir, id, md) && { maybeKill(dir, "published"); true }
  }

  /** The freshest committed (generation id, manifest) — what a loser
    * of a publish race re-bases onto. Under the current protocol no
    * verb deletes a top manifest ([[repair]] SUPERSEDES a torn corpse
    * rather than deleting it, and [[expire]] never drops the top), so
    * the FileNotFoundException retry below is DEFENSIVE legacy
    * tolerance: an operator-deleted file, or a pre-supersede peer,
    * should re-list rather than leak a raw FNFE to the caller. */
  def refresh(f: FileSystem, dir: String): (Long, ManifestData) = {
    var attempt = 0
    while (true) {
      val mid = generations(f, dir).lastOption.getOrElse(
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

  /** A staged in-chain edit: the staged artifacts' paths (deleted when
    * the commit turns out to be a replica's duplicate or aborts) and
    * the edit, applied afresh to every base the commit re-bases onto. */
  final case class Staged(paths: Seq[String],
                          make: ManifestData => ManifestData)

  /** The in-chain verb (append, upsert, delete, merge): read the
    * current generation, skip a `dedupKey` it already committed, pass
    * the `stage` kill point, let `stage` land the artifacts against
    * that base (None: nothing to commit), then [[commitWithRetry]]. */
  def commit(f: FileSystem, dir: String, dedupKey: Option[Long],
             abortOnModelChange: Boolean, verb: String)(
      stage: ManifestData => Option[Staged]): Unit = {
    val (mid, md) = refresh(f, dir)
    if (dedupKey.exists(_ <= md.shw)) return // committed duplicate delivery
    maybeKill(dir, "stage")
    stage(md).foreach(s => commitWithRetry(f, dir, (mid, md), s.make,
      dedupKey, s.paths, abortOnModelChange, verb))
  }

  /** The ONE optimistic-concurrency commit loop every in-chain verb
    * shares: attempt to publish `make(md)` as the next generation; on a
    * lost race, re-read the winner's manifest and RE-BASE (the staged
    * artifacts have unique names, so only the ids inside `make`'s
    * output move). `dedupKey` re-checks the stream high-water after
    * every refresh (a replica may have committed this very batch — then
    * the staged artifacts are deleted and the call is a no-op); a
    * model-version change underneath a writer whose artifacts were
    * ENCODED with the base model aborts loudly rather than commit stale
    * codes (`abortOnModelChange` — id-only verbs like delete pass
    * false). */
  private def commitWithRetry(f: FileSystem, dir: String,
                              base: (Long, ManifestData),
                              make: ManifestData => ManifestData,
                              dedupKey: Option[Long], staged: Seq[String],
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

  /** Compaction's commit: read the current generation (no-op on a
    * single segment without tombstones), let `rewrite` stage the
    * replacement segment from that base and return its (dirName, rows),
    * and publish a generation listing ONLY it, no tombstones, the
    * advanced high-water mark and both model fields (dropping modelDir
    * would repoint post-retrain readers at the version-0 model while the
    * compacted codes carry the retrained one). A lost race deletes the
    * rewrite and starts over from the fresh snapshot: the rewrite
    * reflects a base that is no longer current (an append's rows would
    * vanish, a delete's rows would resurrect) — the Iceberg
    * rewrite-data-files validation rule. */
  def compact(f: FileSystem, dir: String)(
      rewrite: ManifestData => (String, Long)): Unit = {
    var attempts = 0
    while (true) {
      val (mid, md) = refresh(f, dir)
      maybeKill(dir, "stage")
      if (md.segs.length <= 1 && md.tombs.isEmpty) return
      val (segName, n) = rewrite(md)
      if (publishStaged(f, dir, mid + 1, ManifestData(
          Seq(Art(md.nextId, n, segName)), Seq.empty, hw = md.nextId,
          shw = md.shw, model = md.model, modelDir = md.modelDir))) return
      f.delete(path(s"$dir/data/$segName"), true)
      attempts += 1
      if (attempts >= maxCommitAttempts)
        throw new java.io.IOException(
          s"compact of $dir lost $attempts publish races — giving up")
    }
  }

  /** Keep the newest `keepLast` generations and reclaim what only older
    * ones reference (the public contract is on [[AnnIndex.expire]]).
    * Three read outcomes per listed generation, each handled:
    *  - a generation that VANISHES between list and read (a peer
    *    expire's delete) → re-list and re-split, never a raw FNFE;
    *  - a BURIED corpse (a [[repair]]-superseded torn publish — left in
    *    place by design, see repair's doc) → contributes no live
    *    artifacts (it committed nothing; its creator's staged files are
    *    orphans under the grace reap) and is DELETED with the dropped
    *    range once it ages out of retention — this expiry is how buried
    *    corpses leave the chain. Freeing such an ancient slot is safe:
    *    writers target `top + 1` off a refresh taken microseconds
    *    earlier, never a slot `keepLast` generations deep;
    *  - a corpse AT THE TOP still aborts loudly (the truncated error):
    *    the chain is wedged — repair first. */
  def expire(f: FileSystem, dir: String, keepLast: Int,
             orphanGraceMs: Long): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    def readOrCorpse(top: Long, g: Long): Option[ManifestData] =
      settle(f, dir, g) match {
        case Torn(_) if g != top => None // buried corpse
        case s => Some(manifestOf(dir, g, s))
      }
    var relist = 0
    var snapshot: (Seq[Long], Seq[ManifestData], Seq[ManifestData]) = null
    while (snapshot == null) {
      val gens = generations(f, dir)
      if (gens.isEmpty)
        throw new IllegalArgumentException(s"no committed manifest under $dir")
      val (dropped, kept) = gens.splitAt(math.max(0, gens.length - keepLast))
      try snapshot = (dropped,
        dropped.flatMap(readOrCorpse(gens.last, _)),
        kept.flatMap(readOrCorpse(gens.last, _)))
      catch {
        case e: java.io.FileNotFoundException =>
          relist += 1
          if (relist > 16) throw e
      }
    }
    val (dropped, droppedMds, keptMds) = snapshot
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

  /** Unwedge a chain whose top generation is a dead writer's torn
    * publish (the public contract is on [[AnnIndex.repair]]): returns
    * true when it superseded a corpse, false when the chain was
    * healthy, and refuses (IllegalStateException) a torn top younger
    * than `staleAfterMs` — an in-flight publish, not a corpse.
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
    * stores (see [[readSlot]]).
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
    * is what the lease bounds. Stores whose reserve is atomic WITH the
    * body (S3 conditional PUT, GCS generation-match) have no such
    * window at all — plug them in via [[ManifestCommitter]]. */
  def repair(f: FileSystem, dir: String, staleAfterMs: Long): Boolean = {
    val gens = generations(f, dir)
    if (gens.isEmpty) return false
    val top = gens.last
    def reEvaluate(): Boolean = repair(f, dir, staleAfterMs)
    settle(f, dir, top) match {
      case Complete(_, _) => return false
      case Absent => return reEvaluate() // a peer got there first
      case Torn(_) =>
    }
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
    // SUPERSEDE, NEVER DELETE: republish the last complete generation's
    // manifest at `top + 1`. Writers cannot contend for that slot (a
    // writer only publishes at `g + 1` after READING a complete `g`,
    // and m-top was never complete), so the only contenders are peer
    // repairers — and put-if-absent picks exactly one winner. An
    // arbitrarily suspended repairer that wakes after a peer's
    // supersede simply loses the publish and re-evaluates. The corpse
    // file is LEFT IN PLACE, buried: deleting it would FREE its slot
    // (case (2) above).
    val donor = gens.init.reverseIterator.map(readSlot(f, dir, _))
      .collectFirst { case Complete(md, _) => md }
      .getOrElse(throw new IllegalStateException(
        s"no complete manifest below corpse m-$top under $dir — the " +
          "index has no recoverable generation; rebuild it"))
    // the `supersedes` marker is the burial check's signal: a writer
    // whose slot this supersede buries (its body landed AFTER our
    // staleness sample) reads it at publish time and reports its own
    // commit LOST instead of phantom-succeeding into a buried
    // generation. A lost supersede race (false here) includes the case
    // where a peer superseded OUR mid-write supersede — reEvaluate
    // re-reads the chain and converges either way.
    if (!tryPublish(f, dir, top + 1, donor, supersedes = Some(top)))
      return reEvaluate()
    true
  }

  /** One listed generation as an operator sees it: its manifest (None
    * for a torn corpse below the top) and whether a later supersede
    * names it (void history even when its manifest is complete). */
  final case class Generation(id: Long, md: Option[ManifestData],
                              buried: Boolean)

  /** Every listed generation, each slot read once. A torn top fails
    * loudly (repair first); a torn generation below it is a buried
    * corpse awaiting its expiry, reported rather than fatal. */
  def history(f: FileSystem, dir: String): Seq[Generation] = {
    val gens = generations(f, dir)
    val slots = gens.map(g => g -> settle(f, dir, g))
    val buried = slots.collect { case (_, Complete(_, Some(s))) => s }.toSet
    slots.map {
      case (g, Torn(_)) if g != gens.last => Generation(g, None, buried(g))
      case (g, s) => Generation(g, Some(manifestOf(dir, g, s)), buried(g))
    }
  }
}
