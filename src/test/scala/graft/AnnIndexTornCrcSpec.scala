package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.Sq
import graft.sources.{AnnIndex, IndexLog}

/** Deterministic regression for the round-16 multi-writer-soak catch:
  * on a CHECKSUMMED store (Hadoop's `ChecksumFileSystem` wraps every
  * local dir; object stores verify etags) a publish torn between the
  * data flush and the CRC flush — or a repair-delete racing a
  * re-publish, leaving a stale `.crc` against fresh bytes — surfaces
  * as `ChecksumException` / `EOFException`, NOT as a clean
  * sentinel-less read. The soak caught exactly that escaping the
  * reader's retry budget (a raw `ChecksumException` on `m-35`). The
  * contract under test:
  *
  *  1. readers classify CRC-mismatch and short-read-inside-the-frame
  *     corpses as INCOMPLETE PUBLISHES — retry within the budget, then
  *     fail with the same loud truncated-manifest `IOException` every
  *     other torn publish gets (never a raw `ChecksumException`);
  *  2. [[AnnIndex.repair]] refuses such a corpse inside the stale
  *     window (it could be a live publish mid-flush) and reclaims it
  *     after, falling the chain back to the last complete generation.
  *
  * The corpses are PLANTED deterministically: a complete manifest body
  * is written through the Hadoop FS (which writes its `.crc`), then
  * the data file is mutated behind Hadoop's back so the checksum goes
  * stale — the exact on-disk state a torn data/CRC publish leaves. */
class AnnIndexTornCrcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def vec(id: Long): Seq[Float] = {
    val rng = new scala.util.Random(id * 7919L)
    Seq.tabulate(dim)(j =>
      (if (j == (id % 4).toInt * 2) 10.0f else 0.0f) +
        rng.nextGaussian().toFloat * 0.2f)
  }

  private def hadoopFs() =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def freshIndex(tag: String): (String, Seq[Long]) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"ann_crc_$tag").toString
    val dir = s"$root/idx"
    val ids = 0L until 24L
    AnnIndex.buildSq(ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir,
      Sq.fit(ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        "embedding"))
    (dir, ids)
  }

  /** Plant a manifest at generation top+1 whose body is COMPLETE when
    * written (so Hadoop computes and stores a matching `.crc`), then
    * corrupt the data file through raw java.io — the `.crc` goes
    * stale, and every subsequent checksummed read must fail. Returns
    * the planted generation id. */
  private def plantCorrupt(dir: String,
                           corrupt: java.io.RandomAccessFile => Unit): Long = {
    val f = hadoopFs()
    val id = AnnIndex.versionsOf(spark, dir).last + 1
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest/m-$id")
    val body = "v2\nmodel 0\nhw 99\nshw -1\nbatch-99 4 batch-phantom\ncommit\n"
    val out = f.create(p, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val raf = new java.io.RandomAccessFile(s"$dir/manifest/m-$id", "rw")
    try corrupt(raf) finally raf.close()
    id
  }

  private def ageToCorpse(dir: String, id: Long): Unit = {
    val old = System.currentTimeMillis() - 20L * 60 * 1000
    assert(new java.io.File(s"$dir/manifest/m-$id").setLastModified(old))
  }

  private def checkContract(tag: String,
                            corrupt: java.io.RandomAccessFile => Unit): Unit = {
    val (dir, ids) = freshIndex(tag)
    IndexLog.manifestRetryOverride.put(dir, 2)
    try {
      val planted = plantCorrupt(dir, corrupt)

      // 1. readers: the corpse reads as TRUNCATED after the retry
      // budget — the classified IOException, never a raw CRC error
      val e = intercept[java.io.IOException] {
        AnnIndex.loadSq(spark, dir).codes.count()
      }
      assert(!e.isInstanceOf[org.apache.hadoop.fs.ChecksumException],
        s"a raw ChecksumException escaped the reader classification: $e")
      assert(e.getMessage.contains("truncated"),
        s"corpse did not classify as a torn publish: ${e.getMessage}")

      // 2. repair inside the stale window refuses: indistinguishable
      // from a live publisher mid data/CRC flush
      val ise = intercept[IllegalStateException] {
        AnnIndex.repair(spark, dir)
      }
      assert(ise.getMessage.contains("IN-FLIGHT"))

      // ... and SUPERSEDES it once it ages out: the last complete
      // generation is republished at planted+1 through the
      // put-if-absent committer; the corpse file stays BURIED in place
      // (deleting it would free its slot for a suspended writer's
      // late put-if-absent — see repair's doc)
      ageToCorpse(dir, planted)
      assert(AnnIndex.repair(spark, dir),
        "repair did not supersede the aged CRC-torn corpse")
      val gens = AnnIndex.versionsOf(spark, dir)
      assert(gens.contains(planted), "buried corpse should stay listed")
      assert(gens.max == planted + 1, s"supersede not at top: $gens")

      // the chain serves the last complete generation's content
      val visible = AnnIndex.loadSq(spark, dir).codes
        .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(visible == ids.sorted.toSeq)
      // healthy chain: a second repair is a no-op
      assert(!AnnIndex.repair(spark, dir))
      // ops can SEE the buried corpse awaiting expiry
      assert(AnnIndex.describe(spark, dir)
        .filter(col("kind") === "torn-corpse" &&
          col("generation") === planted).count() == 1)
      // ... and expire is how it leaves the chain: aging out of the
      // retention window deletes its file with the dropped range
      AnnIndex.expire(spark, dir, keepLast = 1, orphanGraceMs = -1000)
      assert(AnnIndex.versionsOf(spark, dir) == Seq(planted + 1))
      val visible2 = AnnIndex.loadSq(spark, dir).codes
        .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(visible2 == ids.sorted.toSeq)
    } finally IndexLog.manifestRetryOverride.remove(dir)
  }

  test("CRC-mismatch corpse (stale .crc over mutated bytes): reader classifies as torn, repair reclaims after the stale window") {
    checkContract("flip", raf => { raf.seek(0); raf.writeByte('X') })
  }

  test("short-read corpse (data truncated inside the checksum frame): reader classifies as torn, repair reclaims after the stale window") {
    checkContract("trunc", raf => raf.setLength(raf.length() / 2))
  }
}
