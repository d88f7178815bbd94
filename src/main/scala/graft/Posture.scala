package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session posture: every main (Bench, Verify, the job mains, the
  * tools) and the test session build their SparkSession here, so the
  * benched, verified and deployed plans come from the same config.
  *
  * Knobs, each read once with one default:
  *   - `SPARK_GRAFT_CPUS` (4): `local[cores]`, shuffle partitions = cores.
  *     The reference pinned parallelism=1 only to dodge an idle-shard
  *     watermark stall (tumbling_window.py:50-60); Spark's per-source
  *     watermark tracking has no such constraint.
  *   - `SPARK_GRAFT_CODEGEN_CACHE` (4096): whole-stage-codegen compile
  *     cache entries (static conf, Spark default 100). A 217-query bench
  *     pass generates thousands of distinct codegen units, so at 100
  *     every rep re-compiles its whole plan; entries are keyed by
  *     generated source, so the size is scale-independent. `=100`
  *     restores the Spark default for A/B; results are unaffected.
  *   - `SPARK_GRAFT_STATS` (on): see [[statsOn]]; `=0` opts out.
  */
object Posture {

  /** RocksDB state store (ships with Spark). The default HDFS-backed
    * store keeps every key's state on the executor heap, the first
    * streaming scale-killer once keyed state (windows, dedup sets,
    * per-key EWMA) outgrows memory; RocksDB keeps it on local disk
    * behind a block cache. transformWithState also needs its column
    * families.
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  lazy val codegenCacheEntries: Int =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096").toInt

  lazy val statsRequested: Boolean =
    !sys.env.get("SPARK_GRAFT_STATS").contains("0")

  /** The shared config on a `local[localCores]` master. UTC session zone:
    * the engine's time semantics are instant-based UTC (see
    * [[Tables.load]]). INT64 micros parquet timestamps (not INT96), so
    * DuckDB reads written results as the same type and values its oracle
    * produces.
    */
  def builder(localCores: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$localCores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", localCores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** The mains' session: the shared config plus the RocksDB state store. */
  def session(): SparkSession = {
    val spark = builder()
      .config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stats-ON posture: ANALYZE'd catalog tables for every non-events
    * table ([[graft.plans.Cbo.ensureStatsAll]]) behind the
    * [[Tables.statsCatalogConf]] redirect, plus CBO with join reorder, so
    * Verify checks and Bench times the statistics-fed plans a deployment
    * runs (SURVEY §8.17 sweep, §8.19 default flip).
    *
    * Returns "on", "off" (`SPARK_GRAFT_STATS=0`, the stats-less A/B
    * lever) or "degraded". A failed ANALYZE degrades to the stats-less
    * posture instead of zeroing a round's artifact: half-made tables were
    * dropped by ensureStatsAll, the catalog conf stays unset so every
    * load falls back to path reads, and the CBO confs are reset (CBO
    * over empty stats is not the stats-less plans). NonFatal only: an
    * OOM or interrupt kills the run instead of reading as degraded.
    */
  def statsOn(spark: SparkSession, sfDir: String): String =
    if (!statsRequested) "off"
    else try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      graft.plans.Cbo.ensureStatsAll(spark, sfDir)
      spark.conf.set(Tables.statsCatalogConf, sfDir)
      "on"
    } catch { case NonFatal(e) =>
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      System.err.println(
        s"[posture] stats-ON setup failed, running stats-less: ${e.getMessage}")
      "degraded"
    }
}
