package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** S13 job-status surface: the reference's non-local branch reports job
  * status instead of blocking (tumbling_window.py:293-296,
  * `get_job_client().get_job_status()`); Spark's equivalents are
  * `query.status` and the progress feed.
  */
object JobStatus {

  /** One-line status readout, the `print(job_status)` analogue. */
  def statusLine(q: StreamingQuery): String = {
    val s = q.status
    s"job ${Option(q.name).getOrElse(q.id.toString)}: active=${q.isActive} " +
      s"dataAvailable=${s.isDataAvailable} triggerActive=${s.isTriggerActive} " +
      s"""message="${s.message}""""
  }

  /** Last micro-batch progress, if any has completed yet. */
  def progressLine(q: StreamingQuery): Option[String] =
    Option(q.lastProgress).map { p =>
      s"job ${Option(p.name).getOrElse(p.id.toString)}: batch=${p.batchId} " +
        s"inputRows=${p.numInputRows} rows/s=${p.processedRowsPerSecond}"
    }
}

/** Job runners reproducing the reference's two applications end-to-end
  * (SURVEY.md §3.1/§3.2 lifecycle: config → source DDL → query → view →
  * sink → await), minus its quirks Q1/Q2 (§7.6).
  *
  * Usage: runMain graft.streaming.TumblingWindowJob <configPath> <inputDir>
  *          [console|changelog|noop|parquet:<out>:<ckpt>] [--once] [--detach]
  * `--once` uses Trigger.AvailableNow — drain the input directory, then
  * stop (how the tests and any batch-ish replay run it). `--detach`
  * mirrors the reference's non-local branch: print the job status and
  * return instead of blocking.
  */
private[streaming] object JobRunner {

  def parseSink(spec: String): TickSink.Sink = spec.split(":", 3) match {
    case Array("console") => TickSink.Console
    // the reference's print sink renders `+I[...]` changelog rows
    // (README golden logs) — this spec reproduces that framing exactly
    case Array("changelog") => TickSink.ConsoleChangelog()
    case Array("noop") => TickSink.Noop
    case Array("parquet", out, ckpt) => TickSink.PartitionedParquet(out, ckpt)
    // manifest-committed exactly-once file sink (restart-safe)
    case Array("parquet-once", out, ckpt) => TickSink.ExactlyOnceParquet(out, ckpt)
    case other => sys.error(s"unknown sink spec: ${other.mkString(":")}")
  }

  def run(args: Array[String])(query: (JobConfig, org.apache.spark.sql.DataFrame)
      => org.apache.spark.sql.DataFrame): Unit = {
    val configPath = args(0)
    val inputDir = args(1)
    val sink = parseSink(if (args.length > 2 && !args(2).startsWith("--")) args(2) else "console")
    val once = args.contains("--once")

    val conf = JobConfig.load(configPath)
    val spark = graft.Posture.session()

    // Source: JSON tick stream, schema-on-read, config-driven timestamp
    // standard + init position (reference DDL tumbling_window.py:115-131).
    val ticks = TickSource.fileJson(
      spark, inputDir,
      timestampStandard = conf.timestampStandard,
      initposLatest = conf.initpos == "LATEST" && !once)

    val out = query(conf, ticks)
    // S11: register the derived table like create_temporary_view
    // (tumbling_window.py:281) so spark.sql can reference it.
    out.createOrReplaceTempView("windowed_table")

    val q = TickSink.start(out, sink, availableNow = once)
    if (args.contains("--detach")) {
      // the reference's non-local branch: report status, leave the job
      // running (tumbling_window.py:293-296) instead of blocking on wait().
      println(JobStatus.statusLine(q))
      JobStatus.progressLine(q).foreach(println)
      // A --once drain is finite: block through it and exit, otherwise
      // Spark's non-daemon threads would pin an idle JVM forever.
      if (once) { q.awaitTermination(); spark.stop() }
    } else {
      q.awaitTermination()
      if (once) spark.stop()
    }
  }
}

/** Reference `flink/tumbling_window.py`: per-ticker 1-minute candlestick,
  * 20-second watermark.
  */
object TumblingWindowJob {
  def main(args: Array[String]): Unit =
    JobRunner.run(args) { (_, ticks) => StreamingQueries.candlestick(ticks) }
}

/** Reference `flink/sliding_window.py`: per-ticker hopping-window MIN,
  * over/every from config (`flink.sliding_window.*`), 5-second watermark.
  */
object SlidingWindowJob {
  def main(args: Array[String]): Unit =
    JobRunner.run(args) { (conf, ticks) =>
      StreamingQueries.slidingMin(ticks, over = conf.windowOver, every = conf.windowEvery)
    }
}
