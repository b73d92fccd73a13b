package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sq
import graft.sources.{AnnIndex, IndexLog}

/** [[AnnIndex.repair]] under CONCURRENT repairers racing a LIVE
  * publish — the production shape the round-16 soak could only pass by
  * serializing repairs through a test-side mutex (takedown job,
  * compactor and ingester are separate processes; no shared JVM lock
  * exists). Each seeded round plants a stale sentinel-less corpse at
  * generation top+1, then releases simultaneously:
  *
  *   - THREE un-serialized repairers (each calling repair several
  *     times with seeded jitter), and
  *   - ONE writer appending through the standard wedged-writer runbook
  *     (retry past the truncated-manifest error until the chain heals)
  *     — its eventual publish lands ABOVE the winning supersede.
  *
  * Asserted per round and at the end:
  *   - no repairer ever throws a raw FileNotFoundException or any
  *     error other than the benign in-flight IllegalStateException;
  *   - exactly-one-winner supersede: the corpse is superseded (the
  *     appender converges — it cannot publish while the corpse tops
  *     the chain) and ≥ 1 repair call per round reports true;
  *   - NO commit is ever lost to the recovery: every committed append
  *     stays visible (a deleted healthy re-publish, or a commit buried
  *     under a freed slot, would drop rows), and the chain ends
  *     healthy (repair = no-op, full visible-set equality). */
class AnnIndexRepairRaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def vec(id: Long): Seq[Float] = {
    val rng = new scala.util.Random(id * 6271L)
    Seq.tabulate(dim)(j =>
      (if (j == (id % 4).toInt * 2) 10.0f else 0.0f) +
        rng.nextGaussian().toFloat * 0.2f)
  }

  test("3 un-serialized repairers race a live publish over seeded rounds: corpse reclaimed, no healthy manifest lost, no raw FNFE") {
    val root = java.nio.file.Files
      .createTempDirectory("ann_repair_race").toString
    val dir = s"$root/idx"
    val baseIds = (0L until 24L).toSeq
    AnnIndex.buildSq(
      baseIds.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir,
      Sq.fit(baseIds.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        "embedding"))
    IndexLog.manifestRetryOverride.put(dir, 2)

    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val repaired = new java.util.concurrent.atomic.AtomicInteger
    val ledger = scala.collection.mutable.ArrayBuffer[Long]()
    val pool = Executors.newFixedThreadPool(4)
    try {
      for (round <- 1 to 6) {
        // stale sentinel-less corpse at top+1 (aged past every window)
        val top = AnnIndex.versionsOf(spark, dir).last
        val corpse = top + 1
        val p = new org.apache.hadoop.fs.Path(s"$dir/manifest/m-$corpse")
        val out = f.create(p, false)
        try out.write("v2\nmodel 0\n".getBytes("UTF-8")) finally out.close()
        assert(new java.io.File(s"$dir/manifest/m-$corpse")
          .setLastModified(System.currentTimeMillis() - 20L * 60 * 1000))

        val newIds = (1000L * round until 1000L * round + 3).toSeq
        val start = new CountDownLatch(1)
        val tasks = (0 until 3).map { r =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val rng = new scala.util.Random(round * 31L + r)
              start.await()
              for (_ <- 1 to 3) {
                Thread.sleep(rng.nextInt(30).toLong)
                try {
                  if (AnnIndex.repair(spark, dir, staleAfterMs = 60000))
                    repaired.incrementAndGet(): Unit
                } catch {
                  // benign: the writer's OWN publish caught mid-flight
                  case _: IllegalStateException => ()
                  case t: Throwable => errors.add(t): Unit
                }
              }
            }
          })
        } :+ pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            var attempts = 0
            var done = false
            while (!done) {
              attempts += 1
              assert(attempts <= 200, "appender did not converge")
              try {
                AnnIndex.appendSq(
                  newIds.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
                  "vec_id", "embedding", dir)
                done = true
              } catch {
                case e: java.io.IOException if e.getMessage != null &&
                    e.getMessage.contains("truncated") => Thread.sleep(20)
              }
            }
          }
        })
        start.countDown()
        tasks.foreach(_.get(120, TimeUnit.SECONDS))
        ledger ++= newIds

        assert(errors.isEmpty, s"round $round: repairers threw " +
          s"${errors.peek()} — expected FNFE-free concurrent repair")
        // every committed append (this round's and all prior) visible:
        // a healthy manifest deleted on a stale verdict would drop rows
        val visible = AnnIndex.loadSq(spark, dir).codes
          .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(visible == (baseIds ++ ledger).sorted,
          s"round $round: visible set diverged — a commit was lost")
      }
      assert(repaired.get >= 6,
        s"only ${repaired.get} repairs reclaimed a corpse across 6 rounds")
      assert(!AnnIndex.repair(spark, dir), "chain should end healthy")
    } finally {
      pool.shutdownNow()
      IndexLog.manifestRetryOverride.remove(dir)
    }
  }
}
