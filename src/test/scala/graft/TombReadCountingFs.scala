package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** The local filesystem under its own scheme, `tombcount:`, counting
  * the files opened under a `tomb/` directory. A spec registers it
  * (`fs.tombcount.impl`) and keeps an index under a `tombcount:///` path
  * to see whether an open reads tombstone files. */
class TombReadCountingFs extends RawLocalFileSystem {
  override def getScheme: String = TombReadCountingFs.Scheme
  override def getUri: URI = URI.create(s"${TombReadCountingFs.Scheme}:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toUri.getPath.contains("/tomb/")) TombReadCountingFs.tombOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object TombReadCountingFs {
  val Scheme = "tombcount"
  val tombOpens = new AtomicLong(0)

  /** Registers the scheme with the test session's Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[TombReadCountingFs].getName)
}
