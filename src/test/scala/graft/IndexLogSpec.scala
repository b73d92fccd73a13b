package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexLog
import graft.sources.IndexLog._

/** The ANN index's commit log ([[IndexLog]]) driven directly, with no
  * Spark: artifacts are stub text files of `id gen` rows under unique
  * staging names, so each artifact's row count is known and a
  * generation's visible rows (every segment row not masked by a
  * tombstone set with a higher id) read back in microseconds. The verbs
  * have the soaks' shapes and go through the same protocol calls as
  * [[graft.sources.AnnIndex]]'s: append and upsert through
  * [[IndexLog.commit]] with a dedup key (upsert = a tombstone at id t
  * plus its segment at t+1), delete as a tombstone, compact as a
  * segment replacement through [[IndexLog.compact]], a keyed replay of
  * an already committed key, and [[IndexLog.expire]]. The same seeded
  * kill points fire (`stage`, `staged`, `publish-torn`, `published`,
  * `expire-torn`); a torn corpse is aged past [[IndexLog.repair]]'s
  * stale window with `FileSystem.setTimes`, never by sleeping. After
  * every step of the single-writer walks, and after every round of the
  * three-writer storm, the visible rows must equal the driver-side
  * ground truth and every listed artifact must hold its listed row
  * count. */
class IndexLogSpec extends AnyFunSuite {
  private val f = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  /** Stale window of every repair here: far above any real stall, so
    * only a corpse aged with setTimes is ever superseded. */
  private val window = 60000L

  private def manifest(dir: String, g: Long) = new Path(s"$dir/manifest/m-$g")

  private def age(p: Path): Unit =
    f.setTimes(p, System.currentTimeMillis() - 2 * window, -1)

  /** A stub index under `dir`: its artifacts, its verbs and its
    * visible rows. */
  private final class Stub(val dir: String) {
    def write(sub: String, prefix: String, rows: Seq[(Long, Int)]): String = {
      val name = freshName(prefix)
      val p = Paths.get(s"$dir/$sub/$name")
      Files.createDirectories(p.getParent)
      Files.write(p, rows.map { case (i, g) => s"$i $g\n" }.mkString.getBytes(UTF_8))
      name
    }

    def rows(sub: String, name: String): Seq[(Long, Int)] =
      new String(Files.readAllBytes(Paths.get(s"$dir/$sub/$name")), UTF_8)
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(i, g) = l.split(" "); (i.toLong, g.toInt)
        }.toSeq

    /** The rows `md` makes visible, checking each artifact's row count. */
    def visible(md: ManifestData): Seq[(Long, Int)] = {
      def counted(sub: String, a: Art) = {
        val r = rows(sub, a.dirName)
        assert(r.length == a.n, s"$sub/${a.dirName} holds ${r.length} rows, listed ${a.n}")
        r
      }
      val masks = md.tombs.map(t => t.id -> counted("tomb", t).map(_._1).toSet)
      md.segs.flatMap { s =>
        counted("data", s).filterNot { case (i, _) =>
          masks.exists { case (t, ids) => t > s.id && ids(i) } }
      }
    }

    def build(rows: Seq[(Long, Int)]): Unit =
      writeManifest(f, dir, 0L, ManifestData(
        Seq(Art(0L, rows.length, write("data", "batch-", rows))), Seq.empty,
        hw = 0L, shw = -1L))

    def append(rows: Seq[(Long, Int)], key: Option[Long]): Unit =
      commit(f, dir, key, abortOnModelChange = true, verb = "append") { _ =>
        val seg = write("data", "batch-", rows)
        Some(Staged(Seq(s"$dir/data/$seg"), m => m.copy(
          segs = m.segs :+ Art(m.nextId, rows.length, seg), hw = m.nextId,
          shw = math.max(m.shw, key.getOrElse(m.shw)))))
      }

    def upsert(rows: Seq[(Long, Int)], key: Option[Long]): Unit =
      commit(f, dir, key, abortOnModelChange = true, verb = "upsert") { _ =>
        val seg = write("data", "batch-", rows)
        val tomb = write("tomb", "t-", rows)
        Some(Staged(Seq(s"$dir/data/$seg", s"$dir/tomb/$tomb"), m => m.copy(
          segs = m.segs :+ Art(m.nextId + 1, rows.length, seg),
          tombs = m.tombs :+ Art(m.nextId, rows.length, tomb),
          hw = m.nextId + 1, shw = math.max(m.shw, key.getOrElse(m.shw)))))
      }

    def delete(ids: Seq[Long]): Unit =
      commit(f, dir, None, abortOnModelChange = false, verb = "delete") { _ =>
        val tomb = write("tomb", "t-", ids.map(_ -> 0))
        Some(Staged(Seq(s"$dir/tomb/$tomb"), m => m.copy(
          tombs = m.tombs :+ Art(m.nextId, ids.length, tomb), hw = m.nextId)))
      }

    def compact(): Unit =
      IndexLog.compact(f, dir) { md =>
        val live = visible(md)
        (write("data", "batch-", live), live.length.toLong)
      }

    def current(): Seq[(Long, Int)] = visible(refresh(f, dir)._2)
  }

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"indexlog_$tag").toString + "/idx"

  /** Driver-side check: visible rows equal `truth` (id -> generation). */
  private def checkVisible(s: Stub, truth: collection.Map[Long, Int],
                           at: String): Unit = {
    val got = s.current().sorted
    val want = truth.toSeq.sorted
    assert(got == want, s"[$at] visible rows diverged from ground truth: " +
      s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
  }

  /** Every listed generation either resolves as a snapshot or, exactly
    * when a supersede names it, fails naming that supersede. */
  private def checkHistory(dir: String, at: String): Unit =
    IndexLog.history(f, dir).foreach { g =>
      if (g.buried) {
        val ex = intercept[IllegalArgumentException](resolve(f, dir, Some(g.id)))
        assert(ex.getMessage.contains(s"superseded by m-${g.id + 1}"),
          s"[$at] ${ex.getMessage}")
      } else {
        assert(g.md.nonEmpty, s"[$at] torn generation ${g.id} not buried")
        assert(resolve(f, dir, Some(g.id))._2 == g.md.get, s"[$at] m-${g.id}")
      }
    }

  test("a slot reads as absent, torn (by its reason) or complete with its supersede marker") {
    val dir = newDir("slots")
    val s = new Stub(dir)
    assert(readSlot(f, dir, 0L) == Absent)
    s.build(Seq(1L -> 0, 2L -> 0))
    readSlot(f, dir, 0L) match {
      case Complete(md, None) =>
        assert(md.segs.map(_.n) == Seq(2L) && md.hw == 0L && md.shw == -1L)
      case other => fail(s"m-0 read as $other")
    }
    def plant(g: Long, body: String): Unit = {
      val out = f.create(manifest(dir, g), true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
    // a torn v2 body, and a visible prefix shorter than the v2 header
    plant(1L, "v2\nmodel 0\nhw 1\n")
    assert(readSlot(f, dir, 1L) == Torn("no commit sentinel"))
    plant(1L, "v")
    assert(readSlot(f, dir, 1L) == Torn("no commit sentinel"))
    // a legacy manifest: stream high-water recovered as max segment - 1
    plant(1L, "batch-0 2\nbatch-3 4\ntomb-2 1\n")
    readSlot(f, dir, 1L) match {
      case Complete(md, None) =>
        assert(md.segs.map(_.dirName) == Seq("batch-0", "batch-3") &&
          md.tombs.map(_.dirName) == Seq("t-2") && md.hw == 3L && md.shw == 2L)
      case other => fail(s"legacy m-1 read as $other")
    }
    plant(2L, "v2\nmodel 0\nhw 3\nshw 2\nsupersedes 1\ncommit\n")
    assert(readSlot(f, dir, 2L) == Complete(
      ManifestData(Seq.empty, Seq.empty, hw = 3L, shw = 2L), Some(1L)))
  }

  test("load(asOf) of a generation a repair superseded fails at once, naming the supersede") {
    val dir = newDir("asof")
    val s = new Stub(dir)
    manifestRetryOverride.put(dir, 0)
    try asOfImpl(dir, s)
    finally manifestRetryOverride.remove(dir)
  }

  private def asOfImpl(dir: String, s: Stub): Unit = {
    s.build(Seq(1L -> 0))
    s.append(Seq(2L -> 0), None) // m-1
    // a torn corpse at m-2, aged past the window and superseded at m-3
    testKillPoint.put(dir, "publish-torn")
    intercept[InjectedCrash](s.append(Seq(3L -> 0), None))
    age(manifest(dir, 2L))
    assert(IndexLog.repair(f, dir, window))
    // under the production reader budget a torn read would wait it out
    // (3 s) before blaming a repair that has already run
    manifestRetryOverride.remove(dir)
    val t0 = System.nanoTime()
    val torn = intercept[IllegalArgumentException](resolve(f, dir, Some(2L)))
    assert((System.nanoTime() - t0) / 1000000 < 1000,
      "the buried corpse waited out the reader budget")
    assert(torn.getMessage.contains("superseded by m-3"), torn.getMessage)
    manifestRetryOverride.put(dir, 0)
    // a VOID generation: a writer stalled between reserving m-4 and its
    // body while a repair superseded it at m-5; its body lands complete,
    // its burial check reports the publish lost, and it re-lands at m-6
    val real = committer
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    committer = new ManifestCommitter {
      def putIfAbsent(fs: FileSystem, dest: Path, body: Array[Byte],
                      beforeBody: () => Unit): Boolean =
        real.putIfAbsent(fs, dest, body, () => {
          beforeBody()
          if (dest.getName == "m-4" && armed.getAndSet(false)) {
            age(dest)
            assert(IndexLog.repair(f, dir, window))
          }
        })
    }
    try s.append(Seq(4L -> 0), None)
    finally committer = real
    assert(generations(f, dir) == (0L to 6L))
    assert(readSlot(f, dir, 4L).isInstanceOf[Complete])
    val void = intercept[IllegalArgumentException](resolve(f, dir, Some(4L)))
    assert(void.getMessage.contains("superseded by m-5"), void.getMessage)
    assert(IndexLog.history(f, dir).filter(_.buried).map(_.id) == Seq(2L, 4L))
    checkHistory(dir, "asof")
    checkVisible(s, Map(1L -> 0, 2L -> 0, 4L -> 0), "asof")
  }

  test("crash walk: 2 x 1,000 seeded kill steps of one writer, visible rows equal the ground truth after every step") {
    Seq(91001L, 91002L).foreach(seed => walk(seed, steps = 1000))
  }

  private def walk(seed: Long, steps: Int): Unit = {
    val dir = newDir(s"walk$seed")
    manifestRetryOverride.put(dir, 0)
    try walkImpl(seed, steps, dir)
    finally {
      manifestRetryOverride.remove(dir)
      testKillPoint.remove(dir)
    }
  }

  private def walkImpl(seed: Long, steps: Int, dir: String): Unit = {
    val rng = new scala.util.Random(seed)
    val s = new Stub(dir)
    val truth = scala.collection.mutable.Map[Long, Int]()
    var nextId = 0L
    def freshRows(n: Int, gen: Int) = {
      val r = (nextId until nextId + n).map(_ -> gen); nextId += n; r
    }
    val base = freshRows(10, 0)
    s.build(base)
    truth ++= base
    var key = 0L
    val fired = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

    for (step <- 1 to steps) {
      val v = rng.nextDouble()
      var verb =
        if (v < 0.25) "append" else if (v < 0.45) "upsert"
        else if (v < 0.60) "delete" else if (v < 0.72) "compact"
        else if (v < 0.80) "replay" else "expire"
      if ((verb == "upsert" || verb == "delete") && truth.size < 8)
        verb = "append"
      if (verb == "replay" && key == 0L) verb = "append"
      val live = truth.keys.toVector.sorted
      val rows = verb match {
        case "append" | "replay" => freshRows(3, step)
        case "upsert" => rng.shuffle(live).take(3).map(_ -> step)
        case _ => Seq.empty
      }
      val delIds = if (verb == "delete") rng.shuffle(live).take(2) else Seq.empty
      val stepKey = verb match {
        case "append" | "upsert" => key += 1; Some(key)
        case "replay" => Some(1L + rng.nextInt(key.toInt).toLong)
        case _ => None
      }
      val keepLast = 1 + rng.nextInt(3)
      def runVerb(): Unit = verb match {
        case "append" | "replay" => s.append(rows, stepKey)
        case "upsert" => s.upsert(rows, stepKey)
        case "delete" => s.delete(delIds)
        case "compact" => s.compact()
        case "expire" =>
          IndexLog.expire(f, dir, keepLast, orphanGraceMs = 24L * 3600 * 1000)
      }

      val k = rng.nextDouble()
      val kill =
        if (verb == "expire") { if (k < 0.5) "" else "expire-torn" }
        else if (k < 0.40) "" else if (k < 0.55) "stage"
        else if (k < 0.70) "staged" else if (k < 0.85) "publish-torn"
        else "published"
      if (kill.nonEmpty) testKillPoint.put(dir, kill)

      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        assert(attempts <= 4, s"[$seed/$step] $verb did not converge")
        try { runVerb(); done = true }
        catch {
          case c: InjectedCrash =>
            fired(c.point) += 1
            if (c.point == "publish-torn") {
              // the wedge is LOUD for every reader and writer ...
              val top = generations(f, dir).last
              val ex = intercept[java.io.IOException](refresh(f, dir))
              assert(ex.getMessage.contains("truncated"), ex.getMessage)
              // ... a fresh corpse is refused as a live publish ...
              intercept[IllegalStateException](IndexLog.repair(f, dir, window))
              // ... and an aged one is superseded
              age(manifest(dir, top))
              assert(IndexLog.repair(f, dir, window))
              assert(!IndexLog.repair(f, dir, window))
            }
            // a keyed verb always replays (its key makes a durable
            // commit's replay a no-op); a durable keyless one stops
            if (c.point == "published" && stepKey.isEmpty) done = true
        }
      }
      // an arm the verb never reached (a no-op compact, a replay)
      testKillPoint.remove(dir)

      verb match {
        case "append" | "upsert" => truth ++= rows
        case "delete" => truth --= delIds
        case _ => // compact, expire and a replay change no visible row
      }
      checkVisible(s, truth, s"$seed/$step $verb")
      if (step % 10 == 0) checkHistory(dir, s"$seed/$step")
    }

    Seq("stage", "staged", "publish-torn", "published").foreach { p =>
      assert(fired(p) >= 50, s"[$seed] kill point '$p' fired only ${fired(p)} times")
    }
    assert(fired("expire-torn") >= 20, s"[$seed] expire-torn fired ${fired("expire-torn")} times")

    // one expire past every grace window leaves exactly the live set
    IndexLog.expire(f, dir, keepLast = 1, orphanGraceMs = -1000)
    val (_, md) = refresh(f, dir)
    def names(sub: String) =
      Option(new java.io.File(s"$dir/$sub").list()).toSeq.flatten
        .filterNot(_.startsWith(".")).toSet
    assert(names("data") == md.segs.map(_.dirName).toSet)
    assert(names("tomb") == md.tombs.map(_.dirName).toSet)
    assert(generations(f, dir).length == 1)
    checkVisible(s, truth, s"$seed/end")
  }

  test("writer storm: 3 threads x 150 rounds of seeded verbs and kill points against one log, repaired by un-serialized peers") {
    val dir = newDir("storm")
    manifestRetryOverride.put(dir, 1)
    // the committer records each slot whose writer died before its
    // body: the only slots a repairer may age past the stale window
    val corpses = ConcurrentHashMap.newKeySet[Path]()
    val real = committer
    committer = new ManifestCommitter {
      def putIfAbsent(fs: FileSystem, dest: Path, body: Array[Byte],
                      beforeBody: () => Unit): Boolean =
        real.putIfAbsent(fs, dest, body, () =>
          try beforeBody()
          catch { case c: InjectedCrash => corpses.add(dest); throw c })
    }
    val pool = Executors.newFixedThreadPool(3)
    try storm(dir, nWriters = 3, rounds = 150, seed = 92001L, corpses, pool)
    finally {
      pool.shutdownNow()
      committer = real
      manifestRetryOverride.remove(dir)
      testKillPoint.remove(dir)
    }
  }

  private def storm(dir: String, nWriters: Int, rounds: Int, seed: Long,
                    corpses: java.util.Set[Path],
                    pool: java.util.concurrent.ExecutorService): Unit = {
    val s = new Stub(dir)
    val base = (0L until 10L).map(_ -> 0)
    s.build(base)
    val ledgers = Array.fill(nWriters)(scala.collection.mutable.Map[Long, Int]())
    val rngs = Array.tabulate(nWriters)(w => new scala.util.Random(seed + w))
    val nextIds = Array.tabulate(nWriters)(w => 1000000L * (w + 1))
    val fired = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

    def unwedge(): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        assert(attempts <= 5000, "unwedge did not converge")
        corpses.forEach { p =>
          try age(p) catch { case _: java.io.FileNotFoundException => }
        }
        try { IndexLog.repair(f, dir, window); done = true }
        catch {
          // a fresh torn top: a live publish, or a corpse its dying
          // writer has not recorded yet
          case _: IllegalStateException => Thread.sleep(1)
          // a peer's kill fired inside this repairer's own supersede
          // publish: another dead writer, recorded; repair again
          case _: InjectedCrash =>
        }
      }
    }

    def writerStep(w: Int, round: Int): Unit = {
      val rng = rngs(w)
      val ledger = ledgers(w)
      val v = rng.nextDouble()
      var verb =
        if (v < 0.30) "append" else if (v < 0.50) "upsert"
        else if (v < 0.65) "delete" else if (v < 0.80) "compact" else "expire"
      if ((verb == "upsert" || verb == "delete") && ledger.size < 5)
        verb = "append"
      val rows = verb match {
        case "append" =>
          val r = (nextIds(w) until nextIds(w) + 3).map(_ -> round)
          nextIds(w) += 3; r
        case "upsert" => rng.shuffle(ledger.keys.toVector.sorted).take(3).map(_ -> round)
        case _ => Seq.empty
      }
      val delIds =
        if (verb == "delete") rng.shuffle(ledger.keys.toVector.sorted).take(2)
        else Seq.empty
      def runVerb(): Unit = verb match {
        case "append" => s.append(rows, None)
        case "upsert" => s.upsert(rows, None)
        case "delete" => s.delete(delIds)
        case "compact" => s.compact()
        case "expire" =>
          IndexLog.expire(f, dir, keepLast = 6, orphanGraceMs = 24L * 3600 * 1000)
      }
      // armed into the SHARED dir: whoever reaches the point next dies
      val k = rng.nextDouble()
      val kill =
        if (verb == "expire") { if (k < 0.6) "" else "expire-torn" }
        else if (k < 0.45) "" else if (k < 0.58) "stage"
        else if (k < 0.71) "staged" else if (k < 0.86) "publish-torn"
        else "published"
      if (kill.nonEmpty) testKillPoint.put(dir, kill)

      var done = false
      var committed = false
      var attempts = 0
      while (!done) {
        attempts += 1
        assert(attempts <= 20, s"[w$w/$round] $verb did not converge")
        try { runVerb(); done = true; committed = true }
        catch {
          case c: InjectedCrash =>
            fired.computeIfAbsent(c.point,
              _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
            c.point match {
              case "published" => done = true; committed = true
              case "publish-torn" => unwedge()
              case _ =>
            }
          case e: java.io.IOException
              if e.getMessage != null && e.getMessage.contains("truncated") =>
            unwedge() // a peer's wedge, or a live publish read mid-body
          case _: java.nio.file.NoSuchFileException =>
            // a compact whose base a peer's expire dropped: re-run
        }
      }
      if (committed) verb match {
        case "append" | "upsert" => ledger ++= rows
        case "delete" => ledger --= delIds
        case _ =>
      }
    }

    for (round <- 1 to rounds) {
      val futures = (0 until nWriters).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = writerStep(w, round)
        })
      }
      futures.foreach(_.get(120, TimeUnit.SECONDS))
      testKillPoint.remove(dir) // a lingering arm nobody reached
      val truth = base.toMap ++ ledgers.flatMap(_.toSeq)
      checkVisible(s, truth, s"storm/$round")
      if (round % 10 == 0) checkHistory(dir, s"storm/$round")
    }
    Seq("stage", "staged", "publish-torn", "published", "expire-torn").foreach { p =>
      val n = Option(fired.get(p)).fold(0)(_.get)
      assert(n >= 5, s"kill point '$p' fired only $n times in the storm")
    }
  }

  test("the manifest protocol lives in IndexLog.scala alone") {
    // split so this file does not match itself; a plain putIfAbsent is
    // java.util.Map's, so the guard matches the committer's call and type
    val needles = Seq("manifest" + "/m-", "\"supersedes" + " ", "\"v" + "2\"",
      "\"com" + "mit\"", "committer" + ".putIfAbsent", "Manifest" + "Committer")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root is missing: run the suite from the project root")
    import scala.jdk.CollectionConverters._
    val files = {
      val w = Files.walk(root)
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val hits = files.filterNot(_.getFileName.toString == "IndexLog.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if {
              val code = line.trim
              !code.startsWith("*") && !code.startsWith("/*") &&
                !code.startsWith("//") && needles.exists(line.contains)
            } => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, s"manifest protocol outside IndexLog: ${hits.mkString(", ")}")
  }
}
