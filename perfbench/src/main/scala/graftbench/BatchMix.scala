package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.{QuerySpec, Registry, Tables}
import graft.plans.Cbo

/** `batch_mix`: a fixed list of Registry queries over seeded tables, run
  * one at a time — one cold pass in the fresh session, then steady passes
  * until the run length is used. Lifecycle queries rebuild their store on
  * every pass (the store scratch is cleared between passes, so
  * `QuerySpec.setup` builds again), and each build is timed on its own.
  */
final class BatchMix(ctx: Ctx) {
  private val spark = ctx.spark
  private val job = ctx.job
  private val dataDir = ctx.path("data")
  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  private val names: Seq[String] =
    job.params.get("queries").elements().asScala.map(_.get("name").asText()).toSeq
  private val specs: Map[String, QuerySpec] = Registry.all.map(q => q.name -> q).toMap
  private var firstDigest = Map.empty[String, String]

  /** Store directories the lifecycle queries keep under java.io.tmpdir. */
  private def stores: Seq[Path] = {
    val s = Files.list(tmpDir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).toSeq
    finally s.close()
  }
  private def storeSize: (Long, Long) = stores.map(Main.treeSize)
    .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The result as parquet for the DuckDB oracle, with instants written as
    * plain timestamps (session zone UTC), as graft.Verify writes them.
    */
  private def writeResult(name: String, df: DataFrame, rows: Array[Row]): Unit = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }
    spark.createDataFrame(rows.toSeq.asJava, df.schema).select(cols.toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(ctx.path(s"results/$name"))
  }

  private def runQuery(pass: Int, phase: String, name: String): Double = {
    val spec = specs(name)
    var wall = 0.0
    ctx.ops.attempt("query", name) {
      ctx.tracer.span(s"query.$name", Map("query" -> name, "pass" -> pass)) { sid =>
        val (cg0, cgSum0) = Codegen.snapshot
        val (files0, bytes0) = storeSize
        var buildS = 0.0
        spec.setup.foreach { build =>
          ctx.ops.attempt("cdc_build", name) {
            val t = System.nanoTime()
            ctx.tracer.span("Cdc.build")(_ => build(spark, dataDir))
            buildS = (System.nanoTime() - t) / 1e9
          }.getOrElse(throw new IllegalStateException(s"store build failed for $name"))
        }
        val (files1, bytes1) = storeSize
        val t1 = System.nanoTime()
        val df = ctx.tracer.span("Registry.construct")(_ => spec.run(spark, dataDir))
        val t2 = System.nanoTime()
        val rows = ctx.tracer.span("exec.action")(_ => df.collect())
        val t3 = System.nanoTime()
        val (cg1, cgSum1) = Codegen.snapshot
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        wall = buildS + (t3 - t1) / 1e9
        ctx.tracer.annotate(sid, Map("compiles" -> (cg1 - cg0)))
        val d = digest(rows)
        if (pass == 0) { firstDigest += name -> d; writeResult(name, df, rows) }
        else ctx.ops.check(s"$name pass $pass result equals pass 0",
          firstDigest.get(name).contains(d), "result digest changed between passes")
        ctx.ops.record(Map(
          "kind" -> "query", "query" -> name, "pass" -> pass, "phase" -> phase,
          "traced" -> ctx.tracer.recording, "span" -> sid,
          "wall_s" -> wall, "build_s" -> buildS, "lifecycle" -> spec.setup.isDefined,
          "construct_s" -> (t2 - t1) / 1e9, "action_s" -> (t3 - t2) / 1e9,
          "rows" -> rows.length, "digest" -> d,
          "store_files_written" -> (files1 - files0), "store_bytes_written" -> (bytes1 - bytes0),
          "codegen_compiles" -> (cg1 - cg0), "codegen_compile_ms" -> (cgSum1 - cgSum0),
          "codegen_reservoir_exact" -> (cg1 <= 1028L),
          "plan_phases_ms" -> phases))
      }
    }
    wall
  }

  private def runPass(pass: Int, phase: String, traced: Boolean): Double = {
    stores.foreach(Main.deleteTree)
    ctx.tracer.setActive(traced)
    val wall = ctx.tracer.span("pass", Map("pass" -> pass, "phase" -> phase)) { _ =>
      names.map(n => runQuery(pass, phase, n)).sum
    }
    ctx.ops.record(Map("kind" -> "pass", "pass" -> pass, "phase" -> phase,
      "traced" -> traced, "wall_s" -> wall))
    wall
  }

  def run(): Unit = {
    names.foreach(n => require(specs.contains(n), s"unknown registry query $n"))
    ctx.setupStep("stats") {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      Cbo.ensureStatsAll(spark, dataDir)
      spark.conf.set(Tables.statsCatalogConf, dataDir)
    }
    runPass(0, "cold", traced = job.trace)
    // Steady passes until the run length is used; a traced run
    // alternates traced and untraced passes to price the tracing.
    val t0 = System.nanoTime()
    var pass = 1
    val minPasses = if (job.trace) 2 else 1
    while (pass <= minPasses || (System.nanoTime() - t0) / 1e9 < job.seconds) {
      runPass(pass, "steady", traced = job.trace && pass % 2 == 0)
      pass += 1
    }
    ctx.extra("measure_s") = (System.nanoTime() - t0) / 1e9
    ctx.extra("oracle_sql") = names.flatMap(n => Registry.oracleSql.get(n).map(n -> _)).toMap
    ctx.extra("data_dir") = dataDir
  }
}
