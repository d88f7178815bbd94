package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** S13 job-status surface: the reference's non-local branch reports job
  * status instead of blocking (tumbling_window.py:293-296,
  * `get_job_client().get_job_status()`); Spark's equivalents are
  * `query.status` and the progress feed.
  */
object JobStatus {

  /** One-line status readout, the `print(job_status)` analogue, ending
    * with the session's checkpoint I/O posture ([[graft.Posture.ioEnv]]).
    */
  def statusLine(q: StreamingQuery): String = {
    val s = q.status
    s"job ${Option(q.name).getOrElse(q.id.toString)}: active=${q.isActive} " +
      s"dataAvailable=${s.isDataAvailable} triggerActive=${s.isTriggerActive} " +
      s"""message="${s.message}" """ +
      graft.Posture.ioEnv(q.sparkSession).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** Last micro-batch progress, if any has completed yet. */
  def progressLine(q: StreamingQuery): Option[String] =
    Option(q.lastProgress).map { p =>
      s"job ${Option(p.name).getOrElse(p.id.toString)}: batch=${p.batchId} " +
        s"inputRows=${p.numInputRows} rows/s=${p.processedRowsPerSecond}"
    }
}

/** The one job lifecycle every streaming main runs (SURVEY.md §3.1/§3.2:
  * config → source DDL → query → view → sink → await), minus the
  * reference's quirks Q1/Q2 (§7.6). A main is a [[JobRunner.Job]]: its
  * command-line shape, its temp-view name, its parquet partition columns
  * and the query it builds.
  *
  * Command line: `<positional>... [sink] [--once] [--detach] [--name=value]...`
  * where sink is `console` (default), `changelog`, `noop`,
  * `parquet:<out>:<ckpt>` or `parquet-once:<out>:<ckpt>`. `--once` uses
  * Trigger.AvailableNow — drain the input, then stop (how the tests and
  * any batch-ish replay run it). `--detach` mirrors the reference's
  * non-local branch: print the job status and return instead of blocking.
  */
private[streaming] object JobRunner {

  /** One main: `positional` names its required arguments, `flags` its own
    * `--name=value` options, `view` the temp view the query registers
    * under (the reference's `create_temporary_view`), `partitionBy` the
    * columns a `parquet:` sink partitions by.
    */
  final case class Job(
      main: String,
      positional: Seq[String],
      flags: Seq[String],
      view: String,
      partitionBy: Seq[String])(val build: (SparkSession, Args) => DataFrame) {
    def usage: String =
      s"usage: runMain graft.streaming.$main " +
        positional.map(p => s"<$p> ").mkString +
        "[console|changelog|noop|parquet:<out>:<ckpt>|parquet-once:<out>:<ckpt>] " +
        "[--once] [--detach]" + flags.map(f => s" [--$f=<value>]").mkString
  }

  /** A parsed command line; `flags` holds only the options given. */
  final case class Args(
      positional: Seq[String],
      sink: TickSink.Sink,
      once: Boolean,
      detach: Boolean,
      flags: Map[String, String])

  private val Bare = Set("--once", "--detach")

  /** Parse `args` against `job`, rejecting an unknown option, a missing or
    * extra argument and an unknown sink spec with an
    * IllegalArgumentException that names the main and its usage.
    */
  private def parse(job: Job, args: Array[String]): Args = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"${job.main}: $why\n${job.usage}")
    val (opts, pos) = args.toSeq.partition(_.startsWith("--"))
    val flags = opts.filterNot(Bare).map { o =>
      o.stripPrefix("--").split("=", 2) match {
        case Array(k, v) if job.flags.contains(k) => k -> v
        case _ => fail(s"unknown option $o")
      }
    }.toMap
    val n = job.positional.size
    if (pos.size < n) fail(s"missing <${job.positional(pos.size)}>")
    if (pos.size > n + 1) fail(s"unexpected argument ${pos(n + 1)}")
    val spec = pos.lift(n).getOrElse("console")
    val sink = parseSink(spec, job.partitionBy).getOrElse(fail(s"unknown sink spec $spec"))
    Args(pos.take(n), sink, opts.contains("--once"), opts.contains("--detach"), flags)
  }

  private def parseSink(spec: String, partitionBy: Seq[String]): Option[TickSink.Sink] =
    spec.split(":", 3) match {
      case Array("console") => Some(TickSink.Console)
      // the reference's print sink renders `+I[...]` changelog rows
      // (README golden logs) — this spec reproduces that framing exactly
      case Array("changelog") => Some(TickSink.ConsoleChangelog())
      case Array("noop") => Some(TickSink.Noop)
      case Array("parquet", out, ckpt) => Some(TickSink.PartitionedParquet(out, ckpt, partitionBy))
      // manifest-committed exactly-once file sink (restart-safe)
      case Array("parquet-once", out, ckpt) => Some(TickSink.ExactlyOnceParquet(out, ckpt))
      case _ => None
    }

  /** Build `job`'s query on `spark`, register its view (S11, like
    * create_temporary_view, tumbling_window.py:281, so spark.sql can
    * reference it) and start its sink. Leaves the session running.
    */
  def start(spark: SparkSession, job: Job, args: Array[String]): StreamingQuery =
    start(spark, job, parse(job, args))

  private def start(spark: SparkSession, job: Job, a: Args): StreamingQuery = {
    val out = job.build(spark, a)
    out.createOrReplaceTempView(job.view)
    TickSink.start(out, a.sink, availableNow = a.once)
  }

  /** The main: parse (failing before any session exists), then the
    * posture's session, [[start]], and the wait-or-report tail.
    */
  def run(job: Job, args: Array[String]): Unit = {
    val a = parse(job, args)
    val spark = graft.Posture.session()
    val q = start(spark, job, a)
    if (a.detach) {
      // the reference's non-local branch: report status, leave the job
      // running (tumbling_window.py:293-296) instead of blocking on wait().
      println(JobStatus.statusLine(q))
      JobStatus.progressLine(q).foreach(println)
    }
    // A --once drain is finite: block through it and exit, otherwise
    // Spark's non-daemon threads would pin an idle JVM forever.
    if (a.once || !a.detach) q.awaitTermination()
    if (a.once) spark.stop()
  }

  /** A reference tick job: the JSON tick source (schema-on-read,
    * config-driven timestamp standard and init position; reference DDL
    * tumbling_window.py:115-131) under `query`.
    */
  def tickJob(main: String, view: String, partitionBy: Seq[String])(
      query: (JobConfig, DataFrame) => DataFrame): Job =
    Job(main, Seq("configPath", "inputDir"), Nil, view, partitionBy) { (spark, a) =>
      val conf = JobConfig.load(a.positional(0))
      query(conf, TickSource.fileJson(
        spark, a.positional(1),
        timestampStandard = conf.timestampStandard,
        initposLatest = conf.initpos == "LATEST" && !a.once))
    }
}

/** Reference `flink/tumbling_window.py`: per-ticker 1-minute candlestick,
  * 20-second watermark.
  */
object TumblingWindowJob {
  private[streaming] val job: JobRunner.Job = JobRunner.tickJob(
    "TumblingWindowJob", view = "windowed_table", partitionBy = Seq("ticker")) {
    (_, ticks) => StreamingQueries.candlestick(ticks)
  }
  def main(args: Array[String]): Unit = JobRunner.run(job, args)
}

/** Reference `flink/sliding_window.py`: per-ticker hopping-window MIN,
  * over/every from config (`flink.sliding_window.*`), 5-second watermark.
  */
object SlidingWindowJob {
  private[streaming] val job: JobRunner.Job = JobRunner.tickJob(
    "SlidingWindowJob", view = "windowed_table", partitionBy = Seq("ticker")) {
    (conf, ticks) =>
      StreamingQueries.slidingMin(ticks, over = conf.windowOver, every = conf.windowEvery)
  }
  def main(args: Array[String]): Unit = JobRunner.run(job, args)
}
