package graft

import java.net.URI

import org.apache.hadoop.fs.AbstractFileSystem
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
  *
  * The streaming confs ([[streamingConfs]]) are constants, not knobs.
  * [[builder]] sets them at session creation and
  * [[graft.streaming.TickSink.start]] sets them on the query's own session
  * too, so a session built elsewhere (a harness, a notebook) runs its
  * queries the same way. Two costs they remove:
  *   - Local file I/O ([[streamingConfs]], plus `fs.file.impl` in
  *     [[builder]]). Without the native `libhadoop`, Hadoop's `file:`
  *     filesystem forks `chmod` on every file it creates and `readlink` on
  *     every `FileContext` rename. On a 4-CPU host a JFR recording of one
  *     live tick benchmark run logged 3,101 process spawns (129 per
  *     trigger), and a `FileContext` create+rename of a 200-byte file took
  *     30-33 ms against 0.4-0.8 ms on [[NioLocalFs]]. [[NioLocalFs]] /
  *     [[NioLocalFileSystem]] do those two calls through `java.nio` and keep
  *     Hadoop's checksums and rename semantics.
  *   - Codegen recompiles per query start. Every streaming query runs on a
  *     clone of its session, and with artifact isolation on (Spark's
  *     default) every session gets its own executor class loader. The
  *     codegen cache is keyed on (context class loader, generated source),
  *     so each new query, whether a drain, a restart or a benchmark rep,
  *     compiled all of its task-side code again: 14-15 Janino compiles and
  *     163-601 ms of compile time per reference-job drain on a 4-CPU host,
  *     with a stage's tasks queued on the same compile lock. Isolation only
  *     separates session artifacts (`addArtifact` jars and classes, a Spark
  *     Connect feature), and this engine adds none, so it is off: every
  *     session's tasks share the executor's one loader, and a repeated or
  *     restarted query compiles nothing. Generated classes that are reused
  *     also keep their JIT-compiled code: over 10 alternating benchmark
  *     pairs, tick-drain throughput went from 72.6k to 112.2k ticks/s.
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

  val CheckpointFsConf = "fs.AbstractFileSystem.file.impl"
  val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  val ArtifactIsolationConf = "spark.sql.artifact.isolation.enabled"

  /** Session confs every streaming query starts with:
    *   - `fs.AbstractFileSystem.file.impl` → [[NioLocalFs]], the `file:`
    *     stack behind Spark's `FileContext` checkpoint manager (offset WAL,
    *     commit log, file-source log, state-store files). Session confs
    *     are overlaid onto every `newHadoopConf`, and `AbstractFileSystem`
    *     instances are not cached, so the next `FileContext` picks it up.
    *   - RocksDB changelog checkpointing: a state-store commit writes one
    *     small changelog file per partition; the SST copy + zip snapshot
    *     (copied through the JVM-cached `FileSystem`, which a session not
    *     built here leaves forking) moves to background maintenance every
    *     `minDeltasForSnapshot` versions.
    *   - Artifact isolation off: the query's tasks run under the
    *     executor's shared class loader, so generated classes cached by an
    *     earlier query are hits. The conf is not static, and a query's
    *     cloned session reads it when its first job runs, so setting it on
    *     a running session is enough.
    */
  val streamingConfs: Seq[(String, String)] = Seq(
    CheckpointFsConf -> classOf[NioLocalFs].getName,
    ChangelogConf -> "true",
    ArtifactIsolationConf -> "false")

  /** The streaming posture in force on `spark`, for a run's own output:
    * `checkpoint_fs`, the `AbstractFileSystem` class its `file:`
    * `FileContext` resolves to, `rocksdb_changelog`, and
    * `artifact_isolation` (Spark's default is `true`).
    */
  def streamingEnv(spark: SparkSession): Seq[(String, String)] = Seq(
    "checkpoint_fs" -> AbstractFileSystem.get(
      URI.create("file:///"), spark.sessionState.newHadoopConf()).getClass.getName,
    "rocksdb_changelog" -> spark.conf.get(ChangelogConf, "false"),
    "artifact_isolation" -> spark.conf.get(ArtifactIsolationConf, "true"))

  lazy val cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  lazy val codegenCacheEntries: Int =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096").toInt

  lazy val statsRequested: Boolean =
    !sys.env.get("SPARK_GRAFT_STATS").contains("0")

  /** The shared config on a `local[localCores]` master. UTC session zone:
    * the engine's time semantics are instant-based UTC (see
    * [[Tables.load]]). INT64 micros parquet timestamps (not INT96), so
    * DuckDB reads written results as the same type and values its oracle
    * produces. Streaming: [[streamingConfs]], plus the fork-free
    * `FileSystem` [[NioLocalFileSystem]] for parquet, CDC and stats
    * writes; `FileSystem` instances are cached per JVM, so that one is set
    * here, where the session and its first `FileSystem` are built.
    */
  def builder(localCores: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .config(streamingConfs.toMap)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
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
