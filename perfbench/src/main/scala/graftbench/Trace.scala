package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch microseconds at nanoTime resolution: one time base
  * for the harness's own spans and Spark's epoch-millisecond event stamps.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L
}

/** Whole-stage codegen compilations so far: (count, summed milliseconds).
  * The sum comes from the histogram's reservoir, so it is exact only
  * while fewer than 1028 compilations have been recorded.
  */
object Codegen {
  def snapshot: (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
}

/** One traced interval. `parent` is 0 for the root. */
final case class Span(
    id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name,
    "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs)
}

/** In-memory span store. Spans are only recorded while active; the
  * harness switches it per operation so a traced run can interleave
  * traced and untraced operations and price the tracing overhead.
  * Spark jobs started inside a recorded span carry its id in the local
  * property [[Tracer.SpanKey]], which [[TraceListener]] reads back.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val listener: Option[TraceListener] = if (enabled) Some(new TraceListener) else None
  @volatile private var active = false
  @volatile private var attached = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val extra = new ConcurrentHashMap[Long, Map[String, Any]]().asScala

  /** Record spans and Spark jobs from now on (`on`) or stop. The listener
    * is on the bus only while recording, so untraced operations run
    * without it. Taking it off first waits until the bus has delivered
    * the events of the jobs already run, unless `quiet` is false (a
    * continuous query never goes quiet; its open jobs are dropped).
    */
  def setActive(on: Boolean, quiet: Boolean = true): Unit = if (enabled) {
    active = on
    listener.foreach { l =>
      if (on && !attached) { sc.addSparkListener(l); attached = true }
      else if (!on && attached) {
        if (quiet) l.awaitQuiet()
        sc.removeSparkListener(l)
        attached = false
      }
    }
  }

  def current: Long = stack.get.headOption.getOrElse(0L)
  def recording: Boolean = enabled && active
  def all: Seq[Span] = spans.asScala.toSeq

  /** Attach attributes to an open span (merged when it closes). */
  def annotate(id: Long, kv: Map[String, Any]): Unit =
    if (id != 0L) extra.put(id, extra.getOrElse(id, Map.empty) ++ kv)

  /** Run `body` inside a span named `name` (child of the innermost open
    * span on this thread). `body` receives the span id (0 when not
    * recording) and can attach attributes with [[annotate]].
    */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    if (!recording) body(0L)
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = Clock.nowUs
      try body(id)
      finally {
        val t1 = Clock.nowUs
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        spans.add(Span(id, parent, name, t0, t1, attrs ++ extra.remove(id).getOrElse(Map.empty)))
      }
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  // Local properties Structured Streaming puts on every job it starts.
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
}

/** Spark job and stage records, attributed to the harness span (or the
  * streaming trigger) that started them. Only jobs carrying one of the
  * attribution properties are kept.
  */
final class TraceListener extends SparkListener {
  import TraceListener._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val started = new AtomicInteger(0)
  val ended = new AtomicInteger(0)
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(Tracer.SpanKey).filter(_.nonEmpty).map(_.toLong)
    val query = prop(Tracer.QueryIdKey)
    if (span.isDefined || query.isDefined) {
      started.incrementAndGet()
      jobs.put(e.jobId, JobRec(e.jobId, span, query,
        prop(Tracer.BatchIdKey).map(_.toLong), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(jobs.get(e.jobId)).foreach { j => j.endMs = e.time; ended.incrementAndGet() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { job =>
      val m = i.taskMetrics
      val attrs: Map[String, Any] =
        if (m == null) Map("tasks" -> i.numTasks)
        else Map(
          "tasks" -> i.numTasks,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "run_ms" -> m.executorRunTime,
          "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "failed" -> i.failureReason.isDefined)
      stages.add(StageRec(i.stageId, i.attemptNumber(), job,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), attrs))
    }
  }

  /** Wait until every attributed job has ended and the bus has been quiet
    * for `quietMs` (events arrive asynchronously after the action returns).
    */
  def awaitQuiet(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (started.get != ended.get ||
        System.currentTimeMillis() - lastEventMs < quietMs))
      Thread.sleep(20)
  }
}

object TraceListener {
  final case class JobRec(jobId: Int, span: Option[Long], query: Option[String],
      batch: Option[Long], startMs: Long, var endMs: Long = -1L)
  final case class StageRec(stageId: Int, attempt: Int, jobId: Int,
      submitMs: Long, completeMs: Long, attrs: Map[String, Any])
}
