package graft

import org.apache.spark.sql.SparkSession

/** The one place that composes session settings: every main, the test
  * suite and the repo benchmark build their session here, and a library
  * user starts from the same contract:
  *
  *  - non-ANSI casts (pandas `errors='coerce'` parity: bad input → NULL,
  *    never an exception mid-pipeline);
  *  - UTC session timezone (all date/timestamp parity depends on it);
  *  - micros parquet timestamps + nanos-as-long reads (the physical
  *    types external engines and the reference data carry);
  *  - AQE on (runtime skew-join splitting and partition coalescing);
  *  - the graft SQL function library, injected by
  *    `plans/GraftExtensions` into every session of the builder;
  *  - a generated-code cache of [[CodegenCacheEntries]] classes.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for graft-built sessions. Spark's
    * default of 100 is smaller than the engine's working set: one upload
    * batch (five clean-file calls, the warehouse layers, batch and stream
    * eligibility) compiles about 200 distinct generated classes, so with
    * 100 entries the LRU evicts classes before their next use, and a
    * repeated batch recompiled 236 of them (`perfbench` `etl_batches`,
    * seed 1, 4-core VM). With 1024 it recompiles 82, all outside the
    * cache's reach: the warehouse plans seen for the first time, stream
    * eligibility, and flights classes whose whole-stage number AQE assigns
    * in the order concurrent stages finish. The cache is JVM-wide and
    * sized when the first class is compiled: it is a static conf, so it
    * belongs to [[builder]], and [[attach]] cannot apply it. */
  private[graft] val CodegenCacheEntries = 1024

  /** Pre-configured builder; compose master/app settings and call
    * `getOrCreate()`. Extensions and the codegen cache size only take
    * effect when the builder CREATES the session — on an already-running
    * session use [[attach]] instead. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Workstation-sized local session: `local[cores]` with shuffle
    * partitions = cores (not the 200 default — 32 threads shuffling 200
    * partitions is pure overhead). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    attach(s)
  }

  /** Apply the runtime-settable part of the contract to an EXISTING
    * session (cluster deployments build their own session): runtime
    * confs + the temp-function registry. The builder-time-only settings —
    * the extensions and `spark.sql.codegen.cache.maxEntries` (static
    * confs; see [[CodegenCacheEntries]]) — must be set by the cluster
    * config when the session is not graft-built. */
  def attach(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.plans.GraftFunctions.registerAll(s)
    s
  }
}
