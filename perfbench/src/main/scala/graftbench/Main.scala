package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The run description perfbench/run.py writes: workload, seed, run
  * length, trace flag, directories, and the workload's parameters from
  * perfbench/workloads.json.
  */
final case class Job(node: JsonNode) {
  def workload: String = node.get("workload").asText()
  def seed: Long = node.get("seed").asLong()
  def seconds: Double = node.get("seconds").asDouble()
  def trace: Boolean = node.get("trace").asBoolean()
  def cores: Int = node.get("cores").asInt()
  def workDir: String = node.get("work_dir").asText()
  def repoRoot: String = node.get("repo_root").asText()
  def params: JsonNode = node.get("params")
  def int(k: String): Int = params.get(k).asInt()
  def long(k: String): Long = params.get(k).asLong()
  def double(k: String): Double = params.get(k).asDouble()
}

/** Attempted/failed counts per operation kind, plus the per-operation
  * records the metrics are computed from. Non-fatal errors count as a
  * failed operation and the run goes on; fatal ones (OOM, interrupt,
  * linkage) propagate and abort the run.
  */
final class Ops {
  val attempted: mutable.Map[String, Long] = mutable.LinkedHashMap.empty
  val failed: mutable.Map[String, Long] = mutable.LinkedHashMap.empty
  val records: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def count(kind: String, n: Long = 1L, bad: Long = 0L): Unit = synchronized {
    attempted(kind) = attempted.getOrElse(kind, 0L) + n
    failed(kind) = failed.getOrElse(kind, 0L) + bad
  }

  def attempt[T](kind: String, label: String)(body: => T): Option[T] =
    try { val r = body; count(kind); Some(r) }
    catch {
      case NonFatal(e) =>
        count(kind, 1L, 1L)
        synchronized { errors += s"$kind $label: ${e.getClass.getName}: ${e.getMessage}" }
        None
    }

  /** A correctness check: counted as an operation, failed when false. */
  def check(label: String, ok: Boolean, detail: String = ""): Unit = {
    count("check", 1L, if (ok) 0L else 1L)
    if (!ok) synchronized { errors += s"check $label: $detail" }
  }

  def record(r: Map[String, Any]): Unit = synchronized { records += r }
}

/** What every workload gets: the session, run description, tracer and
  * the operation ledger.
  */
final class Ctx(val spark: SparkSession, val job: Job, val tracer: Tracer, val ops: Ops) {
  val work: Path = Paths.get(job.workDir)
  val setup: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Time one set-up step (seconds, recorded under `name`). */
  def setupStep[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"setup.$name")(_ => body)
    finally setup(name) = setup.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def path(rel: String): String = work.resolve(rel).toString

  /** Load average, the JVM's view (-1 where unavailable). */
  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
}

object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The job mains' session posture (graft.streaming.JobRunner.session):
    * local[cores], shuffle partitions = cores, UTC, no-data micro-batches,
    * RocksDB state store; plus the codegen cache size Bench and Verify
    * run with, and harness-owned paths inside the work directory.
    */
  def session(job: Job): SparkSession =
    SparkSession.builder()
      .master(s"local[${job.cores}]")
      .appName(s"graftbench-${job.workload}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", job.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.checkpointLocation", s"${job.workDir}/ckpt")
      .config("spark.sql.warehouse.dir", s"${job.workDir}/warehouse")
      .config("spark.local.dir", s"${job.workDir}/spark-local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val mainStartUs = Clock.nowUs
    val job = Job(mapper.readTree(new File(args(0))))
    val out = Paths.get(args(1))
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    val spark = session(job)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(job.trace, spark.sparkContext)
    tracer.setActive(job.trace)
    val listener = tracer.listener
    val ops = new Ops
    val ctx = new Ctx(spark, job, tracer, ops)
    ctx.setup("session") = sessionS
    try {
      tracer.span("run") { _ =>
        job.workload match {
          case "ticks_drain" => new Drain(ctx).run()
          case "ticks_live" => new Live(ctx).run()
          case "batch_mix" => new BatchMix(ctx).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      }
      tracer.setActive(false)
      val raw = Map[String, Any](
        "main_start_us" -> mainStartUs,
        "settings" -> Map(
          "cores" -> job.cores,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "codegen_cache_max_entries" ->
            spark.conf.get("spark.sql.codegen.cache.maxEntries"),
          "state_store_provider" ->
            spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
          "cbo" -> spark.conf.get("spark.sql.cbo.enabled"),
          "join_reorder" -> spark.conf.get("spark.sql.cbo.joinReorder.enabled"),
          "session_time_zone" -> spark.conf.get("spark.sql.session.timeZone"),
          "spark_version" -> spark.version,
          "jvm_version" -> System.getProperty("java.vm.version"),
          "jvm_max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
          "load_avg_start" -> loadStart,
          "load_avg_end" -> ctx.loadAvg),
        "setup_s" -> ctx.setup.toMap,
        "attempted" -> ops.attempted.toMap,
        "failed" -> ops.failed.toMap,
        "errors" -> ops.errors.toSeq,
        "ops" -> ops.records.toSeq,
        "workload" -> ctx.extra.toMap,
        "spans" -> tracer.all.map(_.toMap),
        "jobs" -> listener.toSeq.flatMap(_.jobs.values().asScala.toSeq.map { j => Map(
            "job_id" -> j.jobId, "span" -> j.span, "query" -> j.query,
            "batch" -> j.batch, "start_ms" -> j.startMs, "end_ms" -> j.endMs)
        }),
        "stages" -> listener.toSeq.flatMap(_.stages.asScala.toSeq.map { s => Map(
            "stage_id" -> s.stageId, "attempt" -> s.attempt, "job_id" -> s.jobId,
            "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs,
            "attrs" -> s.attrs)
        }))
      mapper.writeValue(out.toFile, raw)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
    }
  }

  /** Recursively delete `p` if it exists. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** (files, bytes) under `p`. */
  def treeSize(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      var (n, b) = (0L, 0L)
      s.filter(f => Files.isRegularFile(f)).forEach { f => n += 1; b += Files.size(f) }
      (n, b)
    } finally s.close()
  }
}
