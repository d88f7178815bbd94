package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import graft.operators.Windows
import graft.streaming.{StreamingQueries, Tick, TickSink, TickSource}

/** The Kinesis-shaped sink's `send` stand-in: stamps the emission time of
  * every record it is handed. Runs on the executors, which in local mode
  * share this JVM.
  */
object Emissions {
  final case class Emission(ticker: String, windowStartMs: Long, windowEndMs: Long,
      first: Double, last: Double, min: Double, max: Double, emitUs: Long)
  final case class Send(records: Int, startUs: Long, endUs: Long)

  val rows = new ConcurrentLinkedQueue[Emission]()
  val sends = new ConcurrentLinkedQueue[Send]()

  def send(key: String, batch: Seq[Row]): Unit = {
    val t0 = Clock.nowUs
    batch.foreach { r =>
      rows.add(Emission(r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), t0))
    }
    sends.add(Send(batch.size, t0, Clock.nowUs))
  }
}

/** Writes tick files on a fixed schedule (open loop). File i is due at
  * t0 + (i+1)·flush and holds the ticks scheduled in
  * [t0 + i·flush, t0 + (i+1)·flush); a tick's event time is its scheduled
  * creation time, so a stall of this thread shows up as latency.
  * A seeded share of ticks is out of order (event time moved back by
  * less than the watermark delay) and, once [[enableLate]] was called, a
  * seeded share is late: stamped into a window that closed well before
  * (by `late_margin_ms`), each late tick in a (ticker, window) no other
  * late tick uses, so the stateful operator's dropped-row count equals
  * the number of late ticks.
  */
final class TickGenerator(dir: Path, seed: Long, rate: Double, flushMs: Long,
    tickers: Int, widthMs: Long, delayMs: Long, oooShare: Double, lateShare: Double,
    lateMarginMs: Long) extends Thread("tick-generator") {
  setDaemon(true)
  @volatile private var stopAtMs = Long.MaxValue
  @volatile private var late = false
  import TickGenerator.FileRec
  val t0: Long = (System.currentTimeMillis() / 1000L + 1L) * 1000L
  val files = new ConcurrentLinkedQueue[FileRec]()
  val lateTicks = new ConcurrentLinkedQueue[(String, Long)]()
  @volatile var ticks = 0L
  @volatile var outOfOrder = 0L
  @volatile var failure: Option[Throwable] = None

  private val rng = new java.util.SplittableRandom(seed)
  private val used = mutable.HashSet.empty[(Int, Long)]
  private val usedOrder = mutable.Queue.empty[(Int, Long)]
  private val lateUsed = mutable.HashSet.empty[(Int, Long)]
  private val fmt = java.time.format.DateTimeFormatter.ofPattern(Tick.TsFormatSql)
    .withZone(java.time.ZoneOffset.UTC)

  private def tickerName(i: Int): String = f"T$i%04d"

  /** Writing stops with the first file due after `ms`. */
  def stopAfter(ms: Long): Unit = stopAtMs = ms

  /** Start stamping late ticks (call once the query has a watermark that
    * late-row filtering uses, i.e. after its second batch).
    */
  def enableLate(): Unit = late = true

  private def claim(ticker: Int, ms: Long): Int = {
    var t = ticker
    while (used.contains((t, ms))) t = (t + 1) % tickers
    used += ((t, ms)); usedOrder.enqueue((t, ms))
    while (usedOrder.size > rate * 60) used -= usedOrder.dequeue()
    t
  }

  private def line(ticker: Int, ms: Long, price: Double): String =
    s"""{"utc": "${fmt.format(java.time.Instant.ofEpochMilli(ms))}", "type": "stock-tick", """ +
      s""""source": "datagen", "ticker": "${tickerName(ticker)}", "name": "synthetic", """ +
      s""""sector": "tech", "industry": "software", "price": $price}"""

  override def run(): Unit = try {
    val perMs = rate / 1000.0
    var i = 0
    var k = 0L
    while (t0 + (i + 1) * flushMs <= stopAtMs) {
      val due = t0 + (i + 1) * flushMs
      val sleep = due - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(sleep)
      val sb = new StringBuilder
      var (nTicks, nLate) = (0, 0)
      while (t0 + (k / perMs).toLong < due) {
        val sched = t0 + (k / perMs).toLong
        val price = math.round(rng.nextDouble() * 10000) / 100.0
        val u = rng.nextDouble()
        if (u < lateShare && late) {
          val ms = sched - delayMs - widthMs - lateMarginMs - rng.nextLong(widthMs)
          val window = Math.floorDiv(ms, widthMs)
          var t = rng.nextInt(tickers)
          var tries = 0
          while ((lateUsed.contains((t, window)) || used.contains((t, ms))) && tries < tickers) {
            t = (t + 1) % tickers; tries += 1
          }
          if (tries < tickers) {
            lateUsed += ((t, window))
            claim(t, ms)
            lateTicks.add((tickerName(t), ms))
            sb.append(line(t, ms, price)).append('\n'); nLate += 1; nTicks += 1
          }
        } else {
          val back = if (u < lateShare + oooShare) 1L + rng.nextLong(delayMs * 4 / 5) else 0L
          if (back > 0) outOfOrder += 1
          val ms = sched - back
          val t = claim(rng.nextInt(tickers), ms)
          sb.append(line(t, ms, price)).append('\n'); nTicks += 1
        }
        k += 1
      }
      val tmp = dir.resolve(f".ticks-$i%06d.json.tmp")
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(f"ticks-$i%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      files.add(FileRec(i, due, System.currentTimeMillis(), nTicks, nLate))
      ticks += nTicks
      i += 1
    }
  } catch {
    case _: InterruptedException => ()
    case e: Throwable => failure = Some(e)
  }
}

object TickGenerator {
  final case class FileRec(index: Int, dueMs: Long, writtenMs: Long, ticks: Int, late: Int)
}

/** `ticks_live`: the reference tumbling job on the job mains' default
  * trigger, reading the generator's files through TickSource.fileJson and
  * writing to the Kinesis-shaped keyed, batched sink. Window width and
  * watermark are narrowed so one run closes enough windows for the tail.
  */
final class Live(ctx: Ctx) {
  private val spark = ctx.spark
  private val job = ctx.job

  def run(): Unit = {
    val conf = Streams.config(ctx)
    val dir = Paths.get(ctx.path("live"))
    Files.createDirectories(dir)
    val (widthMs, delayMs) = (job.long("width_ms"), job.long("watermark_ms"))
    val gen = new TickGenerator(dir, job.seed, job.double("rate_per_s"), job.long("flush_ms"),
      job.int("tickers"), widthMs, delayMs, job.double("out_of_order_share"),
      job.double("late_share"), job.long("late_margin_ms"))
    Emissions.rows.clear(); Emissions.sends.clear()

    val q = ctx.setupStep("start") {
      gen.start()
      val ticks = TickSource.fileJson(spark, dir.toString,
        timestampStandard = conf.timestampStandard,
        initposLatest = conf.initpos == "LATEST")
      val out = StreamingQueries.candlestick(ticks,
        watermarkDelay = s"$delayMs milliseconds", width = s"$widthMs milliseconds")
      TickSink.start(out, TickSink.KeyedBatched(job.int("sink_max_count"), Seq("ticker"),
        ";", (k: String, rows: Seq[Row]) => Emissions.send(k, rows)))
    }
    ctx.setupStep("warmup") {
      Thread.sleep(job.long("warmup_ms"))
      // Late-row filtering uses the previous batch's watermark: wait for
      // two batches that carry one before any tick is stamped late.
      val deadline = System.currentTimeMillis() + 30000L
      while (q.recentProgress.count(p => Streams.watermarkMs(p).exists(_ > 0L)) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      gen.enableLate()
    }
    // One continuous query, so a traced run prices its tracing inside the
    // run: it measures twice as long, untraced, traced, untraced, and the
    // per-layer metrics come from the traced segment.
    val ms = (job.seconds * 1000).toLong
    val plan = if (job.trace) Seq(false -> ms / 2, true -> ms, false -> ms / 2) else Seq(false -> ms)
    val segments = plan.map { case (traced, len) =>
      ctx.tracer.setActive(traced, quiet = false)
      val (cg0, cgMs0) = Codegen.snapshot
      val start = System.currentTimeMillis()
      ctx.tracer.span("live.measure", Map("query_id" -> q.id.toString)) { _ => Thread.sleep(len) }
      val end = System.currentTimeMillis()
      val (cg1, cgMs1) = Codegen.snapshot
      Map("traced" -> traced, "start_ms" -> start, "end_ms" -> end,
        "codegen_compiles" -> (cg1 - cg0), "codegen_compile_ms" -> (cgMs1 - cgMs0))
    }
    val measured = segments.find(_("traced") == true).getOrElse(segments.head)
    val measureEnd = segments.last("end_ms").asInstanceOf[Long]
    gen.stopAfter(measureEnd)
    gen.join(30000L)
    // Drain what was written, then let the no-data batch that follows the
    // last watermark advance finish before stopping.
    ctx.ops.attempt("drain", "live tail") {
      q.processAllAvailable()
      var last = q.recentProgress.length
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() - quietSince < 1500L) {
        Thread.sleep(100)
        val now = q.recentProgress.length
        if (now != last) { last = now; quietSince = System.currentTimeMillis() }
      }
    }
    q.stop()
    q.exception.foreach(e => ctx.ops.check("live query terminated cleanly", ok = false, e.toString))
    val ps = q.recentProgress.toSeq
    ctx.ops.count("trigger", ps.size.toLong)
    val emissions = Emissions.rows.asScala.toSeq
    val sends = Emissions.sends.asScala.toSeq
    ctx.ops.count("send", sends.size.toLong)
    gen.failure.foreach(e => ctx.ops.check("generator", ok = false, e.toString))
    val files = gen.files.asScala.toSeq
    ctx.extra ++= Map(
      "query_id" -> q.id.toString,
      "t0_ms" -> gen.t0,
      "measure_start_ms" -> measured("start_ms"),
      "measure_end_ms" -> measured("end_ms"),
      "segments" -> segments,
      "width_ms" -> widthMs, "watermark_ms" -> delayMs,
      "codegen_compiles" -> measured("codegen_compiles"),
      "codegen_compile_ms" -> measured("codegen_compile_ms"),
      "generator" -> Map(
        "ticks" -> gen.ticks, "late_ticks" -> gen.lateTicks.size,
        "out_of_order_ticks" -> gen.outOfOrder, "files" -> files.size,
        "file_due_ms" -> files.map(_.dueMs), "file_written_ms" -> files.map(_.writtenMs),
        "file_ticks" -> files.map(_.ticks)),
      "emissions" -> emissions.map(e => Seq(e.windowEndMs, e.emitUs)),
      "sends" -> sends.map(s => Seq(s.startUs, s.endUs, s.records)),
      "progress" -> Streams.progressJson(ps))
    ctx.tracer.span("check")(_ => check(conf, dir, gen, emissions, ps, widthMs))
  }

  /** Outside the timed region: the emitted windows must equal a batch
    * recomputation over the on-time ticks (every window the final
    * watermark closed, each exactly once), and the rows the stateful
    * operator dropped as late must be exactly the generator's late ticks.
    */
  private def check(conf: graft.streaming.JobConfig, dir: Path, gen: TickGenerator,
      emissions: Seq[Emissions.Emission],
      ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], widthMs: Long): Unit = {
    val wm = ps.flatMap(Streams.watermarkMs).maxOption.getOrElse(Long.MinValue)
    ctx.extra("final_watermark_ms") = wm
    val lateSchema = StructType(Seq(StructField("ticker", StringType), StructField("utc", TimestampType)))
    val late = spark.createDataFrame(gen.lateTicks.asScala.toSeq
      .map { case (t, ms) => Row(t, new java.sql.Timestamp(ms)) }.asJava, lateSchema)
    val onTime = TickSource.fileJsonBatch(spark, dir.toString, conf.timestampStandard)
      .join(late, Seq("ticker", "utc"), "left_anti")
    val expected = Windows.candlestick(onTime, tsCol = "utc", keyCol = "ticker",
      valCol = "price", width = s"$widthMs milliseconds")
      .where(col("window_end") <= lit(new java.sql.Timestamp(wm)))
    val emSchema = StructType(Seq("ticker", "window_start", "window_end").zipWithIndex.map {
      case (n, 0) => StructField(n, StringType)
      case (n, _) => StructField(n, TimestampType)
    } ++ Seq("first_price", "last_price", "min_price", "max_price")
      .map(StructField(_, org.apache.spark.sql.types.DoubleType)))
    val got = spark.createDataFrame(emissions.map(e => Row(e.ticker,
      new java.sql.Timestamp(e.windowStartMs), new java.sql.Timestamp(e.windowEndMs),
      e.first, e.last, e.min, e.max)).asJava, emSchema)
    val (ok, detail) = Streams.sameRows(got, expected)
    ctx.ops.check("emitted windows equal batch recomputation over on-time ticks", ok, detail)
    val dropped = ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    ctx.extra("rows_dropped_by_watermark") = dropped
    ctx.ops.check("rows dropped by watermark equal late ticks",
      dropped == gen.lateTicks.size, s"dropped $dropped, late ${gen.lateTicks.size}")
    val readBack = TickSource.fileJsonBatch(spark, dir.toString, conf.timestampStandard).count()
    ctx.ops.check("every generated tick readable", readBack == gen.ticks,
      s"read $readBack of ${gen.ticks}")
  }
}
