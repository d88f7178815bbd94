package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.Windows
import graft.streaming.{JobConfig, StreamingQueries, Tick, TickSink, TickSource}

/** Shared streaming helpers. */
object Streams {
  def config(ctx: Ctx): JobConfig =
    JobConfig.load(Paths.get(ctx.job.repoRoot, "conf", "application_properties.json").toString)

  /** Progress reports as JSON trees (the artifact keeps them verbatim). */
  def progressJson(ps: Seq[StreamingQueryProgress]): Seq[Any] =
    ps.map(p => Main.mapper.readTree(p.json))

  def watermarkMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark"))
      .map(s => java.time.Instant.parse(s).toEpochMilli)

  /** The reference job transforms, wired as the job mains wire them. */
  def jobs(conf: JobConfig): Seq[(String, DataFrame => DataFrame)] = Seq(
    "candlestick" -> (df => StreamingQueries.candlestick(df)),
    "sliding_min" -> (df => StreamingQueries.slidingMin(
      df, over = conf.windowOver, every = conf.windowEvery)))

  /** Their batch twins over the same ticks, as graft.operators.Windows
    * computes them, with the window-end column each job emits on.
    */
  def twin(name: String, conf: JobConfig, ticks: DataFrame): (DataFrame, String) = name match {
    case "candlestick" => (Windows.candlestick(ticks, tsCol = "utc", keyCol = "ticker",
      valCol = "price"), "window_end")
    case "sliding_min" => (Windows.slidingMin(ticks, tsCol = "utc", keyCol = "ticker",
      valCol = "price", over = conf.windowOver, every = conf.windowEvery), "t")
  }

  /** Rows of `a` and `b` are equal as multisets (exact value equality). */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    val (na, nb) = (a.count(), b.count())
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    (na == nb && onlyA == 0 && onlyB == 0,
      s"rows $na vs $nb, $onlyA only in streamed, $onlyB only in batch")
  }
}

/** `ticks_drain`: a seeded backlog of producer-shaped tick files, drained
  * by each reference job in turn with Trigger.AvailableNow into the
  * blackhole sink. Closed loop, one query at a time.
  */
final class Drain(ctx: Ctx) {
  private val spark = ctx.spark
  private val job = ctx.job
  private val dir = ctx.path("ticks")
  private val n = job.long("ticks")

  /** Producer-shaped ticks (8 fields, reference datagen shape). Event
    * times are distinct and increasing by `step_ms`, so every window's
    * first/last price is well defined; ticker and price are seeded.
    */
  private def generate(): Unit = {
    val tickers = job.int("tickers")
    val base = job.long("base_epoch_ms")
    spark.range(0L, n, 1L, job.int("files"))
      .select(
        timestamp_millis(lit(base) + col("id") * job.long("step_ms")).as("utc"),
        lit("stock-tick").as("type"),
        lit("datagen").as("source"),
        concat(lit("T"), lpad(pmod(xxhash64(col("id"), lit(job.seed)), lit(tickers))
          .cast("string"), 4, "0")).as("ticker"),
        lit("synthetic").as("name"),
        lit("tech").as("sector"),
        lit("software").as("industry"),
        (floor(rand(job.seed) * 10000) / 100).as("price"))
      .write.mode("overwrite")
      .option("timestampFormat", Tick.TsFormatSql)
      .json(dir)
  }

  private def drain(fn: DataFrame => DataFrame,
      sink: TickSink.Sink): (Double, Seq[StreamingQueryProgress], StreamingQuery) = {
    val conf = Streams.config(ctx)
    val t0 = System.nanoTime()
    val q = TickSink.start(fn(TickSource.fileJson(spark, dir,
      timestampStandard = conf.timestampStandard)), sink, availableNow = true)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, q.recentProgress.toSeq, q)
  }

  /** One drain into the blackhole sink, recorded as an operation. */
  private def timedDrain(name: String, fn: DataFrame => DataFrame, traced: Boolean): Unit = {
    ctx.ops.attempt("drain", name) {
      ctx.tracer.span(s"drain.$name", Map("job" -> name)) { sid =>
        val (cg0, cgMs0) = Codegen.snapshot
        val (wall, ps, q) = drain(fn, TickSink.Noop)
        val (cg1, cgMs1) = Codegen.snapshot
        ctx.tracer.annotate(sid, Map("query_id" -> q.id.toString))
        ctx.ops.count("trigger", ps.size.toLong)
        ctx.ops.record(Map(
          "kind" -> "drain", "job" -> name, "phase" -> "measure", "traced" -> traced,
          "span" -> sid, "wall_s" -> wall, "ticks" -> n,
          "query_id" -> q.id.toString,
          "rows_out" -> ps.map(_.sink.numOutputRows).sum,
          "codegen_compiles" -> (cg1 - cg0), "codegen_compile_ms" -> (cgMs1 - cgMs0),
          "progress" -> Streams.progressJson(ps)))
      }
    }
    Main.deleteTree(Paths.get(ctx.path("ckpt")))
  }

  def run(): Unit = {
    val conf = Streams.config(ctx)
    val jobs = Streams.jobs(conf)
    ctx.setupStep("generate")(generate())
    // Warm-up: one round that drains into memory tables (the check reads
    // them).
    val verified = ctx.setupStep("warmup") {
      jobs.map { case (name, fn) => name -> verifyDrain(name, fn) }.toMap
    }
    // Measure whole rounds (each job once) until the run length is used.
    // A traced run orders rounds untraced, traced, traced, untraced (and
    // repeats), so a steady drift in speed cancels out of the overhead.
    val t0 = System.nanoTime()
    val minRounds = if (job.trace) math.max(4, job.int("min_rounds")) else job.int("min_rounds")
    var round = 0
    while (round < minRounds || (System.nanoTime() - t0) / 1e9 < job.seconds) {
      val traced = job.trace && (round % 4 == 1 || round % 4 == 2)
      ctx.tracer.setActive(traced)
      ctx.tracer.span("round") { _ =>
        jobs.foreach { case (name, fn) => timedDrain(name, fn, traced) }
      }
      round += 1
    }
    ctx.extra("measure_s") = (System.nanoTime() - t0) / 1e9
    ctx.tracer.setActive(job.trace)
    ctx.tracer.span("check")(_ => check(conf, verified))
  }

  /** A drain into a memory table; returns (table, final watermark). */
  private def verifyDrain(name: String, fn: DataFrame => DataFrame): Option[(String, Long)] = {
    val table = s"verify_$name"
    val wm = ctx.ops.attempt("drain", s"$name into memory") {
      val (_, ps, _) = drain(fn, TickSink.Memory(table))
      ctx.ops.count("trigger", ps.size.toLong)
      ps.flatMap(Streams.watermarkMs).max
    }
    Main.deleteTree(Paths.get(ctx.path("ckpt")))
    wm.map(table -> _)
  }

  /** Outside the timed region: every window the memory drain's final
    * watermark closed must equal the batch twin over the same files, and
    * every timed drain must have emitted exactly that many rows.
    */
  private def check(conf: JobConfig, verified: Map[String, Option[(String, Long)]]): Unit = {
    val batchTicks = TickSource.fileJsonBatch(spark, dir, conf.timestampStandard).cache()
    val read = batchTicks.count()
    ctx.ops.check("backlog ticks readable", read == n, s"read $read of $n")
    val expected = verified.map { case (name, v) =>
      name -> v.map { case (table, wm) =>
        val (twin, endCol) = Streams.twin(name, conf, batchTicks)
        val closed = twin.where(col(endCol) <= lit(new java.sql.Timestamp(wm)))
        val (ok, detail) = Streams.sameRows(spark.table(table), closed)
        ctx.ops.check(s"$name closed windows equal batch twin", ok, detail)
        ctx.extra(s"${name}_final_watermark_ms") = wm
        closed.count()
      }
    }
    ctx.extra("expected_rows_out") = expected.map { case (k, v) => k -> v.getOrElse(-1L) }
    ctx.ops.records.filter(_("kind") == "drain").foreach { r =>
      val want = expected(r("job").toString)
      ctx.ops.check(s"${r("job")} drain rows_out",
        want.contains(r("rows_out").asInstanceOf[Long]),
        s"drain emitted ${r("rows_out")}, expected ${want.getOrElse("?")}")
    }
    batchTicks.unpersist()
  }
}
