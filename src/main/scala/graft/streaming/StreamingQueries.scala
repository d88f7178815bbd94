package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Windows

/** Streaming forms of the engine's queries: the SAME DataFrame transforms
  * as the batch registry (graft.operators), wrapped with watermarks —
  * the Structured Streaming design point (SURVEY.md §1.3). Batch/stream
  * parity is asserted in StreamingSpec.
  */
object StreamingQueries {

  /** Event time in FULL microseconds. `Timestamp.getTime` returns millis
    * (including the nanos' integral-millisecond part); the sub-millisecond
    * microseconds live only in `getNanos`. A bare `getTime * 1000` drops
    * them, so strict boundaries (click > t1, quote <= probe, window right
    * edges) could diverge stream-vs-batch on microsecond-resolution data —
    * the batch twins compare full-precision timestamps.
    */
  private[streaming] def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Inverse of [[micros]]: a Timestamp carrying the full microsecond
    * precision (sub-ms micros restored via setNanos).
    */
  private[streaming] def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Tumbling candlestick with bounded lateness (reference
    * `flink/tumbling_window.py`: 1-minute tumble, 20 s watermark).
    * Append mode: a window emits once the watermark passes its end —
    * the reference's `+I`-only changelog.
    */
  def candlestick(
      ticks: DataFrame,
      watermarkDelay: String = "20 seconds",
      width: String = "1 minute"): DataFrame =
    Windows.candlestick(
      ticks.withWatermark("utc", watermarkDelay),
      tsCol = "utc", keyCol = "ticker", valCol = "price", width = width)

  /** Hopping-window MIN (reference `flink/sliding_window.py`: 5 s
    * watermark on the source).
    */
  def slidingMin(
      ticks: DataFrame,
      watermarkDelay: String = "5 seconds",
      over: String = "2 minutes",
      every: String = "1 minute"): DataFrame =
    Windows.slidingMin(
      ticks.withWatermark("utc", watermarkDelay),
      tsCol = "utc", keyCol = "ticker", valCol = "price",
      over = over, every = every)

  /** Two-level streaming sliding MIN (SURVEY.md §2 note (b) scale path):
    * a tumbling `every`-pane partial MIN feeds a chained hopping-window
    * rollup via `window_time` — two stateful aggregations in one append
    * query. The raw stream is reduced to one row per (key, pane) BEFORE
    * the over/every expansion, so the expand factor applies to panes, not
    * events.
    */
  def slidingMinTwoLevel(
      ticks: DataFrame,
      watermarkDelay: String = "5 seconds",
      over: String = "2 minutes",
      every: String = "1 minute"): DataFrame =
    ticks
      .withWatermark("utc", watermarkDelay)
      .groupBy(window(col("utc"), every), col("ticker"))
      .agg(min(col("price")).as("pane_min"))
      .groupBy(window(window_time(col("window")), over, every), col("ticker"))
      .agg(min(col("pane_min")).as("p"))
      .select(col("ticker"), col("p"), col("window.end").as("t"))

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * horizon is evicted (SURVEY.md §2-B streaming dedup). At scale this is
    * the only dedup with bounded memory on an unbounded stream.
    */
  def dedupWithinWatermark(
      ticks: DataFrame,
      keys: Seq[String] = Seq("ticker", "utc"),
      watermarkDelay: String = "20 seconds"): DataFrame =
    ticks.withWatermark("utc", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  // ---- custom stateful operator: running EWMA ------------------------------

  final case class EwmaEvent(
      user_id: Long, event_id: Long, utc: java.sql.Timestamp, value: Double)
  final case class EwmaState(ewma: Double, n: Long)
  final case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming running EWMA per key on the Spark 4.x `transformWithState`
    * API — the stream form of [[graft.operators.TimeSeries.ewma]]'s
    * sequential fold. Each micro-batch folds its events in (event time,
    * id) order into the key's constant-size state and emits the updated
    * value (update output mode). With in-order input the result is
    * bit-identical to the batch fold; cross-batch OUT-of-order events fold
    * at arrival position — a sequential reduction cannot retro-fold
    * without replaying, which is the documented streaming-EWMA tradeoff.
    *
    * Beyond the fold, the API brings two things a 100 TB keyed stream
    * needs: STATE TTL (`ttl` — idle keys expire from the store instead of
    * living forever; processing-time TimeMode is what arms it) and named
    * state variables with schema evolution (the `"ewma"` ValueState can
    * gain fields across restarts). Requires the RocksDB state store —
    * the job mains' default ([[graft.Posture.session]]).
    *
    * Caveat (verified in StreamingSpec): with a TTL the query runs in
    * ProcessingTime TimeMode, under which the operator requests another
    * micro-batch after EVERY batch so TTL/timers can fire on the wall
    * clock. The stream therefore never reports "drained":
    * `processAllAvailable()` never returns and even `Trigger.AvailableNow`
    * loops empty epochs indefinitely. Drive TTL'd queries as continuous
    * jobs and stop them explicitly; the spec's restart test shows the
    * poll-then-stop pattern.
    */
  def runningEwmaTws(
      spark: SparkSession,
      events: Dataset[EwmaEvent],
      alpha: Double = 0.2,
      ttl: Option[java.time.Duration] = None): Dataset[EwmaOut] = {
    import spark.implicits._
    // TTL needs processing-time semantics in the store; without a TTL the
    // query declares TimeMode.None (no timer machinery at all).
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new EwmaProcessor(alpha, ttl), timeMode, OutputMode.Update())
  }

  /** The [[runningEwmaTws]] StatefulProcessor: one `ValueState[EwmaState]`
    * per key, folded in (event time, id) order per micro-batch.
    */
  final class EwmaProcessor(alpha: Double, ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EwmaEvent, EwmaOut] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[EwmaState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[EwmaState](
        "ewma",
        org.apache.spark.sql.Encoders.product[EwmaState],
        ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))

    override def handleInputRows(
        user: Long,
        rows: Iterator[EwmaEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[EwmaOut] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.utc), e.event_id))
      var s = if (state.exists()) state.get() else EwmaState(0.0, 0L)
      sorted.foreach { e =>
        s = if (s.n == 0L) EwmaState(e.value, 1L)
        else EwmaState(alpha * e.value + (1 - alpha) * s.ewma, s.n + 1L)
      }
      state.update(s)
      Iterator.single(EwmaOut(user, s.n, s.ewma))
    }
  }

  // ---- custom stateful operator: gap sessionization ------------------------

  final case class SessionEvent(user_id: Long, event_id: Long, utc: java.sql.Timestamp)
  final case class SessionState(start_us: Long, last_us: Long, n_events: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Custom stateful sessionization on the Spark 4.x `transformWithState`
    * API (SURVEY.md §2 "categories with no instance" — the
    * mapGroupsWithState-style op the engine provides beyond the
    * reference). A session closes when no event arrives within
    * `gapSeconds` of event time: inline when a same-key event lands beyond
    * the gap, else on an event-time timer at last event + gap that fires
    * when the WATERMARK passes it (`TimeMode.EventTime`), emitting from
    * `handleExpiredTimer`. Output is append-only and state is bounded by
    * (live keys × one session record). Event-time timers only fire when
    * data advances the watermark, so this query drains normally under
    * `processAllAvailable` (unlike the TTL'd EWMA's processing-time ticks).
    *
    * The batch twin is TimeSeries.sessionize (two window functions); tests
    * assert they agree on session boundaries.
    */
  def sessionizeTws(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessor(gapSeconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[sessionizeTws]] StatefulProcessor: one `ValueState[SessionState]`
    * + one live event-time timer per key (constant state per key).
    */
  final class SessionProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, SessionOut] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionState] = _
    private val gapUs = gapSeconds * 1000000L

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.utc), e.event_id))
      var closed = List.empty[SessionOut]
      var cur = if (state.exists()) Some(state.get()) else None
      sorted.foreach { e =>
        val us = micros(e.utc)
        cur match {
          // within gap of either session edge: merge, extending both
          // edges (covers cross-batch late events inside the horizon)
          case Some(s) if us >= s.start_us - gapUs && us <= s.last_us + gapUs =>
            cur = Some(SessionState(
              s.start_us min us, s.last_us max us, s.n_events + 1))
          // beyond gap after the session: close it, start a new one
          case Some(s) if us > s.last_us + gapUs =>
            closed ::= SessionOut(user, s.start_us, s.last_us, s.n_events)
            cur = Some(SessionState(us, us, 1))
          // more than gap BEFORE the open session: a straggler from an
          // earlier, already-gone session — emit standalone
          case Some(_) =>
            closed ::= SessionOut(user, us, us, 1)
          case None =>
            cur = Some(SessionState(us, us, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // One live timer per key: replace whatever was registered before.
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.last_us / 1000L + gapSeconds * 1000L)
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(SessionOut(user, s.start_us, s.last_us, s.n_events))
      } else Iterator.empty
  }

  /** Spark's NATIVE session windows on a stream — the built-in
    * merging-window twin of the custom [[sessionizeTws]]: one
    * `groupBy(session_window(ts, gap))` agg under a watermark, state and
    * window merging managed by the engine. Semantics differences vs the
    * custom sessionizer, documented because they matter at the edges:
    * (1) the native window's `end` is `last event + gap` (a session's
    * reach), not the last event itself — the custom op emits the raw
    * [start_us, last_us] edges; (2) a straggler older than
    * `watermark − delay` is DROPPED by the native operator (standard
    * late-data policy), while the custom op still folds any straggler
    * the watermark lets through as a standalone session; (3) sessions
    * emit only when the watermark passes `end` (append mode) — the
    * custom op can also close a session inline the moment a same-key
    * event lands beyond the gap. StreamingSpec pins an out-of-order
    * replay ≡ the BATCH native [[graft.operators.TimeSeries
    * .sessionWindows]] on the same rows — the same ≡-batch contract
    * every stateful operator here carries.
    */
  def sessionWindowsNative(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gap: String = "30 minutes",
      watermarkDelay: String = "10 seconds"): DataFrame =
    events.toDF()
      .withWatermark("utc", watermarkDelay)
      .groupBy(session_window(col("utc"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  // ---- custom stateful operator: streaming dedup-index maintenance ---------

  final case class DedupDoc(doc_id: Long, text: String)
  final case class BucketProbe(
      band: Long, bucket_key: String, doc_id: Long, in_artifact: Boolean)
  final case class BucketHit(doc_id: Long, band: Long, hit: Boolean)

  /** Streaming dedup-index maintenance — the LIVE twin of
    * [[graft.operators.Dedup.incrementalDedupPersisted]]'s daily
    * read-check-update loop (the 18th custom stateful operator): each
    * arriving doc's MinHash band buckets probe the persisted band
    * artifact (a stream-static join — the standing index as of stream
    * start) AND the buckets of every EARLIER micro-batch (the ratchet),
    * held as one boolean ValueState per (band, bucket_key) in
    * `transformWithState`; after probing, the batch's own buckets enter
    * the state, so micro-batch N+1 sees batch N — exactly the batch
    * loop's append, at micro-batch granularity. Docs sharing a NEW
    * bucket within one micro-batch don't flag each other (the batch
    * loop's whole-delta semantics, preserved).
    *
    * Emits one (doc_id, band, hit) row per probe; per-doc verdicts are a
    * stateless fold of these. StreamingSpec pins the folded verdicts ≡
    * N sequential [[graft.operators.Dedup.incrementalDedupPersisted]]
    * runs over the same micro-batches — ARRIVAL order is the contract,
    * exactly as it is for the daily loop it twins.
    *
    * State is O(distinct buckets seen in-stream) — the artifact's own
    * growth rate; a production deployment flushes closed state into the
    * artifact on a cadence (the ExactlyOnceParquet manifest pattern)
    * instead of holding it forever.
    */
  def dedupIndexStream(
      spark: SparkSession,
      docs: Dataset[DedupDoc],
      indexPath: String,
      k: Int = 8, rowsPerBand: Int = 2): Dataset[BucketHit] = {
    import spark.implicits._
    val index = spark.read.parquet(indexPath)
      .select(col("band"), col("bucket_key")).distinct()
      .withColumn("in_art", lit(true))
    graft.operators.Dedup.minhashBuckets(
        docs.toDF().select(col("doc_id"), col("text")), k, rowsPerBand)
      .join(index, Seq("band", "bucket_key"), "left")
      .select(col("band"), col("bucket_key"), col("doc_id"),
        coalesce(col("in_art"), lit(false)).as("in_artifact"))
      .as[BucketProbe]
      .groupByKey(p => (p.band, p.bucket_key))
      .transformWithState(new DedupIndexProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** The [[dedupIndexStream]] StatefulProcessor: one boolean ValueState
    * per bucket — "seen in a prior micro-batch". A probe hits iff the
    * bucket was in the artifact or in prior-batch state; the batch's own
    * probes never see each other (prior is read once, before update).
    */
  final class DedupIndexProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, String), BucketProbe, BucketHit] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean](
        "seen", org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: (Long, String),
        rows: Iterator[BucketProbe],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[BucketHit] = {
      val prior = seen.exists()
      val out = rows.map(p =>
        BucketHit(p.doc_id, p.band, hit = prior || p.in_artifact)).toList
      seen.update(true)
      out.iterator
    }
  }

  /** [[dedupIndexStream]] with the state FLUSHED into the artifact
    * itself (the r15 ledger note): instead of every in-stream bucket
    * living in the state store forever, each micro-batch probes the
    * index AS OF ITS PARENT — the base artifact plus the stream
    * partitions `batch < N` — and then lands its own buckets as
    * partition `batch=N`. The parquet artifact IS the state: the Spark
    * state store holds nothing, so state is bounded by ZERO rows at any
    * stream length, and the next process (a restarted stream, the daily
    * batch loop, an ad-hoc probe) sees the ratchet without replaying.
    *
    * Replay-idempotent by the same slot discipline as
    * [[graft.operators.Cdc.streamIngestStore]]: a re-delivered batch id
    * reads the same parent partitions — its OWN earlier write is
    * excluded by the `batch < N` prune, so a crash between the two
    * writes cannot make the retry see itself — and overwrites its own
    * bucket partition and verdict slot. Verdicts are per-doc any-band
    * hits, ≡ [[dedupIndexStream]]'s folded verdicts on the same replay
    * (StreamingSpec pins it): the flush moves where the knowledge
    * lives, not what it says.
    */
  def dedupIndexMaintained(
      spark: SparkSession, docs: Dataset[DedupDoc],
      baseIndex: String, streamRoot: String, outRoot: String,
      k: Int = 8, rowsPerBand: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[DedupDoc] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[DedupDoc], batchId: Long) =>
        maintainDedupBatch(batch.sparkSession, batch.toDF(), batchId,
          baseIndex, streamRoot, outRoot, k, rowsPerBand)
      }

  /** One maintenance slot of [[dedupIndexMaintained]]: probe against
    * parent state, publish verdicts and buckets into batch-id-keyed
    * partitions (both mode=overwrite — the replay slot).
    */
  def maintainDedupBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long,
      baseIndex: String, streamRoot: String, outRoot: String,
      k: Int = 8, rowsPerBand: Int = 2): Unit = {
    val buckets = graft.operators.Dedup.minhashBuckets(
        batch.select(col("doc_id"), col("text")), k, rowsPerBand)
      .localCheckpoint() // one signature scan, shared by probe + append
    val base = spark.read.parquet(baseIndex)
      .select(col("band"), col("bucket_key"))
    val streamed = {
      val p = new org.apache.hadoop.fs.Path(streamRoot)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p))
        spark.read.option("basePath", streamRoot).parquet(streamRoot)
          .where(col("batch") < batchId)
          .select(col("band"), col("bucket_key"))
      else base.limit(0)
    }
    val parent = base.unionByName(streamed).distinct()
      .withColumn("in_idx", lit(true))
    buckets
      .join(parent, Seq("band", "bucket_key"), "left")
      .groupBy(col("doc_id"))
      .agg(max(coalesce(col("in_idx"), lit(false))).as("is_dup"))
      .write.mode("overwrite").parquet(s"$outRoot/batch=$batchId")
    buckets.select(col("doc_id"), col("bucket_key"), col("band"))
      .write.mode("overwrite").parquet(s"$streamRoot/batch=$batchId")
  }

  final case class AnnVec(vec_id: Long, embedding: Seq[Float])

  /** STREAM-MAINTAINED ANN index (r18) — the dedup-index maintenance
    * cadence ([[dedupIndexMaintained]]) applied to the IVFADC posting
    * artifact: each arriving micro-batch of vectors assigns cells + PQ
    * codes against the FROZEN persisted codebooks (a pure per-row
    * projection — nothing retrains) and externalizes them as a
    * batch-id-keyed partition under `streamRoot`; the periodic
    * [[graft.operators.Similarity.foldStreamPostings]] folds the window
    * into the artifact every persisted search serves from. Exactly-once
    * by the replay-slot discipline: `batch=N` is mode=overwrite and
    * assignment is deterministic, so a crash-replayed batch rewrites
    * the identical rows, and the fold's set-merge absorbs any
    * window/fold overlap.
    */
  def annIndexMaintained(
      spark: SparkSession, vecs: Dataset[AnnVec],
      indexDir: String, streamRoot: String, m: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[AnnVec] =
    vecs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[AnnVec], batchId: Long) =>
        maintainAnnBatch(batch.toDF(), batchId, indexDir, streamRoot, m)
      }

  /** One maintenance slot of [[annIndexMaintained]]: assign against the
    * frozen codebooks, publish into the batch-id-keyed replay slot.
    */
  def maintainAnnBatch(
      batch: DataFrame, batchId: Long,
      indexDir: String, streamRoot: String, m: Int = 8): Unit =
    graft.operators.Similarity.assignPostings(batch, indexDir, m)
      .write.mode("overwrite").parquet(s"$streamRoot/batch=$batchId")

  // ---- custom stateful operator: streaming SCD2 dimension maintenance ------

  final case class Scd2Event(
      custkey: Long, utc: java.sql.Timestamp, orderkey: Long, tier: String)
  final case class Scd2Open(tier: String, eff_from_day: Long, version_no: Int)
  final case class Scd2DayBest(orderkey: Long, tier: String)
  final case class Scd2Closed(
      custkey: Long, version_no: Int, tier: String,
      eff_from: java.sql.Date, eff_to: java.sql.Date)

  /** Streaming SCD Type-2 maintenance — the incremental twin of
    * [[graft.operators.Dimensions.scd2Dim]]: a change-event stream
    * (same-day collapse by max order key, no-op-update suppression,
    * effective dating) maintained per key as events arrive OUT OF ORDER,
    * emitting each dimension version the moment it CLOSES (its
    * successor's day finalizes). The still-open current version lives in
    * state, never emitted — so the output stream is exactly the batch
    * build's `eff_to IS NOT NULL` rows (StreamingSpec pins the
    * equality on an out-of-order replay).
    *
    * Finalization is watermark-driven: a day's collapsed winner can only
    * be compared against its predecessor once no more events for that
    * day can arrive, i.e. when the watermark passes the day's END. Until
    * then the day sits in a MapState keyed by epoch day (state per key =
    * open version + days still inside the lateness horizon — bounded by
    * horizon/day, not by history). One live event-time timer per key at
    * the earliest pending day's end; each firing drains every ready day
    * in order and re-arms for the next pending one.
    */
  def scd2Stream(
      spark: SparkSession,
      events: Dataset[Scd2Event],
      watermarkDelay: String = "10 seconds"): Dataset[Scd2Closed] = {
    import spark.implicits._
    events
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.custkey)
      .transformWithState(
        new Scd2Processor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[scd2Stream]] StatefulProcessor: `ValueState` for the open
    * version, `MapState[epochDay, best-event]` for days not yet past the
    * watermark, one live timer at the earliest pending day's end.
    */
  final class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Scd2Event, Scd2Closed] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[Scd2Open] = _
    @transient private var pending: org.apache.spark.sql.streaming.MapState[Long, Scd2DayBest] = _
    private val dayMs = 86400000L

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getValueState[Scd2Open](
        "open", org.apache.spark.sql.Encoders.product[Scd2Open],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      pending = getHandle.getMapState[Long, Scd2DayBest](
        "pending", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[Scd2DayBest],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def rearm(): Unit = {
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      val days = pending.keys().toSeq
      if (days.nonEmpty) getHandle.registerTimer((days.min + 1L) * dayMs)
    }

    override def handleInputRows(
        custkey: Long,
        rows: Iterator[Scd2Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Scd2Closed] = {
      rows.foreach { e =>
        val day = micros(e.utc) / (dayMs * 1000L)
        val keep = if (pending.containsKey(day)) {
          val cur = pending.getValue(day)
          if (e.orderkey > cur.orderkey) Scd2DayBest(e.orderkey, e.tier)
          else cur
        } else Scd2DayBest(e.orderkey, e.tier)
        pending.updateValue(day, keep)
      }
      rearm()
      Iterator.empty
    }

    override def handleExpiredTimer(
        custkey: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Scd2Closed] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val ready = pending.keys().toSeq.filter(d => (d + 1L) * dayMs <= wm).sorted
      var out = List.empty[Scd2Closed]
      ready.foreach { day =>
        val best = pending.getValue(day)
        pending.removeKey(day)
        val cur = if (open.exists()) Some(open.get()) else None
        cur match {
          case None =>
            open.update(Scd2Open(best.tier, day, 1))
          case Some(o) if o.tier == best.tier => // no-op update: suppressed
          case Some(o) =>
            out ::= Scd2Closed(custkey, o.version_no, o.tier,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(o.eff_from_day)),
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)))
            open.update(Scd2Open(best.tier, day, o.version_no + 1))
        }
      }
      rearm()
      out.reverseIterator
    }
  }

  // ---- custom stateful operator: stream-stream as-of enrichment ------------

  final case class AsofSideEvent(
      user_id: Long, event_id: Long, utc: java.sql.Timestamp, value: Double)
  final case class AsofTagged(
      user_id: Long, side: String, event_id: Long, utc: java.sql.Timestamp, value: Double)
  final case class AsofQuote(us: Long, event_id: Long, value: Double)
  final case class AsofProbe(us: Long, event_id: Long)
  final case class AsofMatched(
      event_id: Long, user_id: Long, us: Long, asof_event_id: Long, asof_value: Double)

  /** Stream-stream as-of join via `transformWithState` — the streaming twin
    * of [[graft.operators.Joins.asofJoin]] (each probe matched to the most
    * recent quote of the same key with quote.ts <= probe.ts; probes with no
    * prior quote drop; quote ties on ts break to max event_id). The
    * curation-pipeline use: enrich a document stream with the latest
    * quality-model version as of each doc's event time.
    *
    * This is the multi-state exercise the old `mapGroupsWithState` API
    * couldn't express cleanly: TWO named state variables per key — the
    * quote book (ListState) and the pending-probe buffer (ListState) — plus
    * an event-time timer that flushes probes once the watermark guarantees
    * no earlier quote can still arrive. Out-of-order arrival within the
    * watermark horizon is therefore handled EXACTLY (unlike the running
    * EWMA, which folds at arrival position): a probe only emits when its
    * event time is final.
    *
    * State bounds (100 TB stance): the probe buffer holds at most one
    * watermark horizon of probes per key; the quote book is pruned on every
    * timer to quotes newer than the watermark plus ONE floor quote (the
    * latest at-or-below — the only older quote any future probe can match).
    */
  def asofJoinStream(
      spark: SparkSession,
      probes: Dataset[AsofSideEvent],
      quotes: Dataset[AsofSideEvent],
      watermarkDelay: String = "10 seconds"): Dataset[AsofMatched] = {
    import spark.implicits._
    probes.map(e => AsofTagged(e.user_id, "p", e.event_id, e.utc, e.value))
      .unionByName(quotes.map(e => AsofTagged(e.user_id, "q", e.event_id, e.utc, e.value)))
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(
        new AsofProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[asofJoinStream]] StatefulProcessor. Emission rule: a probe is
    * final once the watermark passes it STRICTLY (equal-ts quotes are
    * still admissible while watermark == ts, so the flush timer registers
    * at probe time + 1 ms).
    */
  final class AsofProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AsofTagged, AsofMatched] {
    @transient private var quotes: org.apache.spark.sql.streaming.ListState[AsofQuote] = _
    @transient private var probes: org.apache.spark.sql.streaming.ListState[AsofProbe] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      quotes = getHandle.getListState[AsofQuote](
        "quotes", org.apache.spark.sql.Encoders.product[AsofQuote],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      probes = getHandle.getListState[AsofProbe](
        "probes", org.apache.spark.sql.Encoders.product[AsofProbe],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Latest quote at-or-before `us` — (us, event_id) max, mirroring the
      * batch union ordering (right rows sort before left at equal ts, ties
      * to max event_id).
      */
    private def matchProbe(p: AsofProbe, book: Seq[AsofQuote]): Option[AsofMatched] = {
      val eligible = book.filter(_.us <= p.us)
      if (eligible.isEmpty) None
      else {
        val q = eligible.maxBy(q => (q.us, q.event_id))
        Some(AsofMatched(p.event_id, -1L, p.us, q.event_id, q.value))
      }
    }

    private def emitReady(
        user: Long, wmMs: Long): Iterator[AsofMatched] = {
      val book = quotes.get().toSeq
      val pending = probes.get().toSeq
      // strict: a probe at exactly the watermark could still gain an
      // equal-ts quote in a later batch
      val (ready, rest) = pending.partition(_.us / 1000L < wmMs)
      val out = ready.sortBy(p => (p.us, p.event_id))
        .flatMap(p => matchProbe(p, book).map(_.copy(user_id = user)))
      probes.clear()
      if (rest.nonEmpty) {
        probes.put(rest.toArray)
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(rest.map(_.us).min / 1000L + 1L)
      }
      // prune the quote book: everything below the watermark is dominated
      // by the latest at-or-below quote (the floor) — keep floor + future
      val (below, above) = book.partition(_.us / 1000L <= wmMs)
      if (below.nonEmpty) {
        val floor = below.maxBy(q => (q.us, q.event_id))
        quotes.clear()
        quotes.put((floor +: above).toArray)
      }
      out.iterator
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[AsofTagged],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AsofMatched] = {
      rows.foreach { e =>
        val us = micros(e.utc)
        if (e.side == "q") quotes.appendValue(AsofQuote(us, e.event_id, e.value))
        else probes.appendValue(AsofProbe(us, e.event_id))
      }
      emitReady(user, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsofMatched] =
      emitReady(user, timerValues.getCurrentWatermarkInMs())
  }

  // ---- custom stateful operator: streaming CUSUM drift alarm ---------------

  final case class DriftEvent(
      key: String, event_id: Long, utc: java.sql.Timestamp, value: Double)
  final case class DriftAlarm(
      key: String, event_id: Long, us: Long, side: String, stat: Long)
  private[streaming] final case class PendingQ(us: Long, event_id: Long, qv: Long)
  private[streaming] final case class DriftAcc(sHi: Long, sLo: Long)

  /** Streaming CUSUM drift alarm — the ingest-time twin of the batch
    * [[graft.operators.TimeSeries.cusumTopDrift]] screen. The batch scan
    * is retrospective (drift against the key's GLOBAL mean, which only
    * exists after the scan); the streaming form is the classic one-sided
    * Page test against a SHIPPED reference mean: per key,
    * `S⁺ = max(0, S⁺ + q − ref − slack)` and
    * `S⁻ = max(0, S⁻ + ref − q − slack)`, alarm and reset when either
    * exceeds the threshold. The reference comes from a batch computation
    * and bakes in as a literal — the same batch-calibrates/stream-gates
    * composition as the calibrated quality gate.
    *
    * Exactness: values quantize exactly like the batch op
    * (q = ⌊100·v + ½⌋) and the statistic is exact BIGINT arithmetic, so
    * alarms are bit-deterministic. Out-of-order arrival is handled
    * EXACTLY (the [[AsofProcessor]] discipline, because CUSUM is
    * order-sensitive): rows buffer until the watermark passes them
    * strictly, then fold in (ts, event_id) order.
    *
    * State per key: the watermark-horizon row buffer plus ONE (S⁺, S⁻)
    * accumulator pair — constant beyond the lateness bound.
    */
  def cusumAlarmStream(
      spark: SparkSession,
      events: Dataset[DriftEvent],
      refMean: Double,
      slack: Double,
      threshold: Double,
      watermarkDelay: String = "10 seconds"): Dataset[DriftAlarm] = {
    import spark.implicits._
    events
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(
        new CusumProcessor(
          math.floor(100 * refMean + 0.5).toLong,
          math.floor(100 * slack + 0.5).toLong,
          math.floor(100 * threshold + 0.5).toLong),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  final class CusumProcessor(refQ: Long, slackQ: Long, hQ: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DriftEvent, DriftAlarm] {
    @transient private var pending: org.apache.spark.sql.streaming.ListState[PendingQ] = _
    @transient private var acc: org.apache.spark.sql.streaming.ValueState[DriftAcc] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      pending = getHandle.getListState[PendingQ](
        "pending", org.apache.spark.sql.Encoders.product[PendingQ],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      acc = getHandle.getValueState[DriftAcc](
        "acc", org.apache.spark.sql.Encoders.product[DriftAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def emitReady(key: String, wmMs: Long): Iterator[DriftAlarm] = {
      val all = pending.get().toSeq
      // strict: a row at exactly the watermark could still be preceded by
      // an equal-ts late arrival with a smaller event_id
      val (ready, rest) = all.partition(_.us / 1000L < wmMs)
      var a = Option(acc.get()).getOrElse(DriftAcc(0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[DriftAlarm]
      ready.sortBy(p => (p.us, p.event_id)).foreach { p =>
        var sHi = math.max(0L, a.sHi + p.qv - refQ - slackQ)
        var sLo = math.max(0L, a.sLo + refQ - p.qv - slackQ)
        if (sHi > hQ) { out += DriftAlarm(key, p.event_id, p.us, "hi", sHi); sHi = 0L }
        if (sLo > hQ) { out += DriftAlarm(key, p.event_id, p.us, "lo", sLo); sLo = 0L }
        a = DriftAcc(sHi, sLo)
      }
      acc.update(a)
      pending.clear()
      if (rest.nonEmpty) {
        pending.put(rest.toArray)
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(rest.map(_.us).min / 1000L + 1L)
      }
      out.iterator
    }

    override def handleInputRows(
        key: String,
        rows: Iterator[DriftEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DriftAlarm] = {
      rows.foreach { e =>
        pending.appendValue(PendingQ(micros(e.utc), e.event_id,
          math.floor(100 * e.value + 0.5).toLong))
      }
      emitReady(key, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[DriftAlarm] =
      emitReady(key, timerValues.getCurrentWatermarkInMs())
  }

  // ---- built-in stream-stream interval join --------------------------------

  final case class IntervalMatched(
      event_id: Long, user_id: Long, us: Long, match_event_id: Long,
      match_value: Double)

  /** Stream-stream INTERVAL join on Spark's built-in watermarked join —
    * every quote within `[probe.utc − windowSec, probe.utc]` per key (the
    * all-matches-in-window semantics; [[asofJoinStream]] is the
    * latest-only variant and needed a custom processor because "latest"
    * is an order-sensitive reduction — plain containment is exactly what
    * the native symmetric hash join expresses, so here the engine's own
    * state management does the work: no `transformWithState`, no custom
    * eviction code).
    *
    * Both sides carry the same event-time watermark and the join
    * condition bounds each side's event time by the other's, which is
    * precisely the condition Spark's StreamingSymmetricHashJoin needs to
    * derive state eviction for BOTH buffers: each side retains one
    * watermark-plus-window horizon per key, shuffled by the key — state
    * scales with key cardinality × horizon density, not stream length.
    * That bound plus the shuffle-by-key layout is the whole 100 TB
    * story, and it comes from the declarative form for free.
    */
  def intervalJoinStream(
      spark: SparkSession,
      probes: Dataset[AsofSideEvent],
      quotes: Dataset[AsofSideEvent],
      watermarkDelay: String = "10 seconds",
      windowSec: Int = 5): Dataset[IntervalMatched] = {
    import spark.implicits._
    intervalJoin(probes, quotes, watermarkDelay, windowSec, "inner").as[IntervalMatched]
  }

  /** LEFT OUTER [[intervalJoinStream]]: probes with no quote in their
    * window still emit, with null match columns — but only once the
    * watermark proves the window can no longer fill (the engine holds
    * the probe in the join buffer until its event-time bound passes,
    * then emits the null-padded row; matched rows still emit eagerly).
    * That deferred-null emission is exactly the semantics a "which
    * ingest events never got enriched" audit stream needs, and it falls
    * out of the built-in join — no custom state. Returns a DataFrame
    * because the match columns are genuinely nullable here.
    */
  def intervalJoinStreamOuter(
      spark: SparkSession,
      probes: Dataset[AsofSideEvent],
      quotes: Dataset[AsofSideEvent],
      watermarkDelay: String = "10 seconds",
      windowSec: Int = 5): DataFrame =
    intervalJoin(probes, quotes, watermarkDelay, windowSec, "leftOuter")

  /** The one interval-join body behind both forms; `joinType` is Spark's. */
  private def intervalJoin(
      probes: Dataset[AsofSideEvent],
      quotes: Dataset[AsofSideEvent],
      watermarkDelay: String,
      windowSec: Int,
      joinType: String): DataFrame = {
    val p = probes
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("utc").as("p_utc"))
      .withWatermark("p_utc", watermarkDelay)
    val q = quotes
      .select(col("event_id").as("q_event_id"), col("user_id").as("q_user_id"),
        col("utc").as("q_utc"), col("value"))
      .withWatermark("q_utc", watermarkDelay)
    p.join(q, expr(
        s"""user_id = q_user_id AND
            q_utc >= p_utc - INTERVAL $windowSec SECONDS AND
            q_utc <= p_utc"""), joinType)
      .select(col("p_event_id").as("event_id"), col("user_id"),
        unix_micros(col("p_utc")).as("us"),
        col("q_event_id").as("match_event_id"),
        col("value").as("match_value"))
  }

  // ---- custom stateful operator: streaming subsequence matcher -------------

  final case class SubseqRing(buses: Seq[Long], totals: Seq[Long])
  final case class SubseqOut(event_type: String, bus: Long, dist2: Long)

  /** Streaming subsequence similarity matcher — the streaming form of
    * [[graft.operators.TimeSeries.subseqTopK]] (EDBT 2019's actual
    * setting): the query window is a PRECOMPUTED artifact (length-L
    * vector of scaled bucket totals, e.g. the batch operator's own query
    * window), and as the watermark closes each bucket the operator forms
    * the window ENDING at it from the last L closed totals and emits its
    * exact integer distance. Downstream keeps a running top-k or
    * thresholds — the match stream is one row per closed bucket, grid-
    * sized, never corpus-sized.
    *
    * State per type: the open-bucket aggregate map (lateness-bounded,
    * same as [[GridFillProcessor]]) plus a ring of the last L−1 closed
    * totals — constant space. Windows span the last L OBSERVED buckets
    * in bus order (row-frame semantics), exactly like the batch twin, so
    * stream ≡ batch distance-for-distance on the closed prefix
    * (StreamingSpec-pinned).
    */
  def subseqMatchTws(
      spark: SparkSession,
      events: Dataset[FillEvent],
      queryWin: Seq[Long],
      widthMinutes: Int = 15,
      watermarkDelay: String = "10 seconds"): Dataset[SubseqOut] = {
    import spark.implicits._
    events
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.event_type)
      .transformWithState(
        new SubseqMatchProcessor(widthMinutes, queryWin),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[subseqMatchTws]] StatefulProcessor: open-bucket MapState + a
    * ValueState ring of the last L−1 closed (bus, total) pairs.
    */
  final class SubseqMatchProcessor(widthMinutes: Int, queryWin: Seq[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, FillEvent, SubseqOut] {
    private val widthUs = widthMinutes * 60L * 1000000L
    private val L = queryWin.length
    @transient private var open: org.apache.spark.sql.streaming.MapState[Long, FillBucket] = _
    @transient private var ring: org.apache.spark.sql.streaming.ValueState[SubseqRing] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getMapState[Long, FillBucket](
        "open",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[FillBucket],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      ring = getHandle.getValueState[SubseqRing](
        "ring",
        org.apache.spark.sql.Encoders.product[SubseqRing],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def resetTimer(): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val ends = open.keys().map(_ + widthUs).toSeq
      if (ends.nonEmpty) getHandle.registerTimer(ends.min / 1000L)
    }

    override def handleInputRows(
        tpe: String,
        rows: Iterator[FillEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SubseqOut] = {
      val closedPast = if (ring.exists()) ring.get().buses.lastOption.getOrElse(Long.MinValue)
        else Long.MinValue
      rows.foreach { e =>
        val bus = math.floorDiv(micros(e.utc), widthUs) * widthUs
        if (bus > closedPast) {
          val cur = if (open.containsKey(bus)) open.getValue(bus) else FillBucket(0L, 0L)
          open.updateValue(bus, FillBucket(
            cur.n + 1, cur.sq + math.floor(e.value * 100 + 0.5).toLong))
        }
      }
      resetTimer()
      Iterator.empty
    }

    override def handleExpiredTimer(
        tpe: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SubseqOut] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val closed = open.keys().filter(_ + widthUs <= wmUs).toSeq.sorted
      var r = if (ring.exists()) ring.get() else SubseqRing(Nil, Nil)
      var out = Vector.empty[SubseqOut]
      closed.foreach { bus =>
        val b = open.getValue(bus)
        open.removeKey(bus)
        val buses = (r.buses :+ bus).takeRight(L)
        val totals = (r.totals :+ b.sq).takeRight(L)
        r = SubseqRing(buses, totals)
        if (totals.length == L) {
          val d = totals.zip(queryWin)
            .map { case (a, q) => (a - q) * (a - q) }.sum
          out :+= SubseqOut(tpe, buses.head, d)
        }
      }
      ring.update(r)
      resetTimer()
      out.iterator
    }
  }

  // ---- custom stateful operator: streaming heavy hitters -------------------

  final case class HHEvent(shard: Int, token: String)
  final case class HHEntry(count: Long, err: Long)
  final case class HHOut(shard: Int, token: String, est: Long, err: Long, n_shard: Long)

  /** Streaming heavy hitters — the SpaceSaving summary (Metwally et al.
    * 2005, the algorithm behind every production top-k-over-stream) as a
    * `transformWithState` operator: per hash shard, at most `capacity`
    * counters; a miss on a full summary evicts the minimum counter and
    * inherits its count as the newcomer's error bound. Guarantees (the
    * spec asserts all three against exact replay counts):
    *   - est >= true count (never undercounts),
    *   - est - err <= true count (the error is bounded and tracked),
    *   - any token with true count > N_shard/capacity IS in the summary.
    *
    * State per shard is EXACTLY `capacity` map entries regardless of
    * vocabulary or stream length — the constant-space complement of the
    * batch `sketch_frequent_items`. Sharding by token hash keeps the
    * per-key summary small and the operator parallel: shards never
    * exchange data, and a global top-k is the union of shard summaries
    * (each shard holds its own heavy tokens exclusively). Update-mode
    * emission: each micro-batch re-emits the shard's current summary
    * with the running shard total, so the sink's latest rows per shard
    * ARE the sketch.
    */
  def heavyHittersTws(
      spark: SparkSession,
      tokens: Dataset[String],
      capacity: Int = 64,
      nShards: Int = 8): Dataset[HHOut] = {
    import spark.implicits._
    tokens
      .map(t => HHEvent(math.floorMod(t.hashCode, nShards), t))
      .groupByKey(_.shard)
      .transformWithState(
        new HeavyHitterProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** The [[heavyHittersTws]] StatefulProcessor: one MapState bounded at
    * `capacity` entries + one running-total ValueState per shard.
    */
  final class HeavyHitterProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, HHEvent, HHOut] {
    @transient private var summary: org.apache.spark.sql.streaming.MapState[String, HHEntry] = _
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      summary = getHandle.getMapState[String, HHEntry](
        "summary",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[HHEntry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      total = getHandle.getValueState[Long](
        "total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        shard: Int,
        rows: Iterator[HHEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[HHOut] = {
      // work on an in-memory copy: SpaceSaving reads the argmin on every
      // miss, and one state-store round-trip per token would dominate
      val m = scala.collection.mutable.Map.empty[String, HHEntry]
      summary.iterator().foreach { case (t, c) => m(t) = c }
      var n = if (total.exists()) total.get() else 0L
      rows.foreach { e =>
        n += 1
        m.get(e.token) match {
          case Some(c) => m(e.token) = HHEntry(c.count + 1, c.err)
          case None if m.size < capacity => m(e.token) = HHEntry(1L, 0L)
          case None =>
            val (minTok, minE) = m.minBy { case (t, c) => (c.count, t) }
            m.remove(minTok)
            summary.removeKey(minTok)
            m(e.token) = HHEntry(minE.count + 1, minE.count)
        }
      }
      m.foreach { case (t, c) => summary.updateValue(t, c) }
      total.update(n)
      m.toVector.map { case (t, c) => HHOut(shard, t, c.count, c.err, n) }
        .iterator
    }
  }

  // ---- custom stateful operator: streaming grid forward-fill ---------------

  final case class FillEvent(
      event_type: String, utc: java.sql.Timestamp, value: Double)
  final case class FillBucket(n: Long, sq: Long)
  final case class FillCarry(last_bus: Long, last_val: Double)
  final case class FillOut(
      event_type: String, bus: Long, n_events: Long,
      value_filled: Double, filled: Boolean)

  /** Streaming grid forward-fill — the streaming twin of
    * [[graft.operators.TimeSeries.gapfillForwardFill]]: regularize each
    * event type onto the fixed bucket grid AT INGEST, emitting every grid
    * bucket in order as the watermark closes it — observed buckets with
    * their exact average, empty buckets carrying the last observed value.
    * (The interpolating fill is batch-only by nature: a gap's
    * interpolation needs the NEXT observation, which hasn't arrived when
    * the gap's bucket closes.)
    *
    * State per event type: the open (not-yet-watermark-closed) buckets'
    * (n, Σ scaled value) map — bounded by lateness/width buckets, NOT by
    * stream length — plus one carry pair and ONE live timer at the
    * earliest open bucket's end. Timers fire as the watermark passes
    * bucket ends; each firing drains EVERY closed bucket in order,
    * emitting carry rows for the gaps between observations (grid spans
    * min..max OBSERVED bucket exactly like the batch twin — no emission
    * runs ahead of data). Bucket averages use the same floor-scaled
    * integer sum as batch, so stream ≡ batch bit-for-bit per bucket
    * (StreamingSpec-pinned on out-of-order input).
    */
  def gridForwardFillTws(
      spark: SparkSession,
      events: Dataset[FillEvent],
      widthMinutes: Int = 15,
      watermarkDelay: String = "10 seconds"): Dataset[FillOut] = {
    import spark.implicits._
    events
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.event_type)
      .transformWithState(
        new GridFillProcessor(widthMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[gridForwardFillTws]] StatefulProcessor: a MapState of open
    * buckets + a ValueState carry + a single live event-time timer.
    */
  final class GridFillProcessor(widthMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, FillEvent, FillOut] {
    private val widthUs = widthMinutes * 60L * 1000000L
    @transient private var open: org.apache.spark.sql.streaming.MapState[Long, FillBucket] = _
    @transient private var carry: org.apache.spark.sql.streaming.ValueState[FillCarry] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      open = getHandle.getMapState[Long, FillBucket](
        "open",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[FillBucket],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      carry = getHandle.getValueState[FillCarry](
        "carry",
        org.apache.spark.sql.Encoders.product[FillCarry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def resetTimer(): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      val ends = open.keys().map(_ + widthUs).toSeq
      if (ends.nonEmpty) getHandle.registerTimer(ends.min / 1000L)
    }

    override def handleInputRows(
        tpe: String,
        rows: Iterator[FillEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FillOut] = {
      val emittedPast = if (carry.exists()) carry.get().last_bus else Long.MinValue
      rows.foreach { e =>
        val bus = math.floorDiv(micros(e.utc), widthUs) * widthUs
        // a bucket already emitted can't be amended (watermark closed it);
        // the upstream watermark drops such rows, this is the backstop
        if (bus > emittedPast) {
          val cur = if (open.containsKey(bus)) open.getValue(bus) else FillBucket(0L, 0L)
          open.updateValue(bus, FillBucket(
            cur.n + 1, cur.sq + math.floor(e.value * 10000 + 0.5).toLong))
        }
      }
      resetTimer()
      Iterator.empty
    }

    override def handleExpiredTimer(
        tpe: String,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[FillOut] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val closed = open.keys().filter(_ + widthUs <= wmUs).toSeq.sorted
      var out = Vector.empty[FillOut]
      closed.foreach { bus =>
        val b = open.getValue(bus)
        open.removeKey(bus)
        // carry rows for the gap since the previous observed bucket —
        // the grid never runs ahead of the first observation
        if (carry.exists()) {
          val c = carry.get()
          var g = c.last_bus + widthUs
          while (g < bus) {
            out :+= FillOut(tpe, g, 0L, c.last_val, filled = true)
            g += widthUs
          }
        }
        val av = b.sq.toDouble / 10000.0 / b.n.toDouble
        out :+= FillOut(tpe, bus, b.n, av, filled = false)
        carry.update(FillCarry(bus, av))
      }
      resetTimer()
      out.iterator
    }
  }

  // ---- custom stateful operator: conversion-window funnel -------------------

  final case class FunnelEvent(user_id: Long, event_type: String, utc: java.sql.Timestamp)
  final case class FunnelBuffered(us: Long, tpe: String)
  final case class FunnelStages(
      user_id: Long, t1: java.sql.Timestamp,
      t2: Option[java.sql.Timestamp], t3: Option[java.sql.Timestamp])

  /** Streaming conversion-window funnel — the streaming twin of
    * [[graft.operators.TimeSeries.funnelUserStages]]: per user, the first
    * `view` anchors the window; the first click strictly after it and the
    * first purchase strictly after that click count if inside
    * (t1, t1 + horizon]. A user's row emits exactly once, when the
    * watermark strictly passes t1 + horizon (every event that could still
    * change any stage has then arrived — including a late view lowering
    * t1 itself, which is why finalization waits on t1's horizon rather
    * than emitting stages eagerly).
    *
    * State bounds (per user): the min view timestamp, one done flag, and
    * a click/purchase buffer that keeps ONLY (a) events inside the
    * current window and (b) above-watermark orphans that an even-earlier
    * late view could still claim — everything at-or-below the watermark
    * that no admissible view can precede is pruned on every batch and
    * timer. Buffer size is therefore bounded by the user's events in one
    * horizon + one watermark delay, never the full history. The `done`
    * flag is a DELIBERATE permanent tombstone (one boolean per emitted
    * user): the funnel's contract is one row per user ever, so the flag
    * must outlive the window to block a fresh above-horizon view from
    * re-opening the user and emitting a second row (the batch twin
    * anchors at the GLOBAL first view). TTL can't expire it here —
    * event-time TimeMode has no TTL — and a production deployment over an
    * unbounded user space would bound it by partitioning the job per
    * retention epoch (new checkpoint per epoch), not by per-key state.
    */
  def funnelStream(
      spark: SparkSession,
      events: Dataset[FunnelEvent],
      horizonSeconds: Long = 86400L,
      watermarkDelay: String = "10 seconds"): Dataset[FunnelStages] = {
    import spark.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor(horizonSeconds * 1000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[funnelStream]] StatefulProcessor (horizon in milliseconds). */
  final class FunnelProcessor(horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelEvent, FunnelStages] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[FunnelBuffered] = _
    @transient private var minViewUs: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var done: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[FunnelBuffered](
        "buf", org.apache.spark.sql.Encoders.product[FunnelBuffered],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      minViewUs = getHandle.getValueState[Long](
        "minView", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      done = getHandle.getValueState[Boolean](
        "done", org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def horizonUs: Long = horizonMs * 1000L

    /** Drop buffered events no admissible view can ever claim. An event
      * counts only with some view strictly before it inside the window;
      * views at-or-below the watermark can no longer arrive, so a
      * buffered event is dead once (a) it sits at-or-below BOTH the
      * watermark and the current min view (no earlier view is coming) or
      * (b) a min view exists and the event is past its horizon (t1 only
      * ever DECREASES, so the window's right edge only moves earlier).
      */
    private def prune(wmMs: Long): Unit = {
      val mv = if (minViewUs.exists()) Some(minViewUs.get()) else None
      val kept = buf.get().toSeq.filter { e =>
        val deadBelow = e.us / 1000L <= wmMs && mv.forall(e.us <= _)
        val deadAbove = mv.exists(v => e.us > v + horizonUs)
        !deadBelow && !deadAbove
      }
      buf.clear()
      if (kept.nonEmpty) buf.put(kept.toArray)
    }

    private def finalizeIfReady(user: Long, wmMs: Long): Iterator[FunnelStages] = {
      if (done.exists() && done.get()) return Iterator.empty
      if (!minViewUs.exists()) {
        prune(wmMs)
        // orphans above the watermark survive the prune; make sure a
        // timer exists to revisit (and eventually free) them
        if (buf.get().nonEmpty && !getHandle.listTimers().hasNext) {
          val minUs = buf.get().map(_.us).min
          getHandle.registerTimer(minUs / 1000L + 1L)
        }
        return Iterator.empty
      }
      val t1 = minViewUs.get()
      // strict: an event AT t1 + horizon is admissible while wm == its ts
      if (wmMs <= (t1 + horizonUs) / 1000L) { prune(wmMs); return Iterator.empty }
      val events = buf.get().toSeq
      val inWin = events.filter(e => e.us > t1 && e.us <= t1 + horizonUs)
      val t2 = inWin.filter(_.tpe == "click").map(_.us).minOption
      val t3 = t2.flatMap(c =>
        inWin.filter(e => e.tpe == "purchase" && e.us > c).map(_.us).minOption)
      buf.clear(); minViewUs.clear(); done.update(true)
      Iterator.single(FunnelStages(
        user, microsToTs(t1), t2.map(microsToTs), t3.map(microsToTs)))
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[FunnelEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[FunnelStages] = {
      if (done.exists() && done.get()) { rows.foreach(_ => ()); return Iterator.empty }
      var viewLowered = false
      rows.foreach { e =>
        val us = micros(e.utc)
        if (e.event_type == "view") {
          if (!minViewUs.exists() || us < minViewUs.get()) {
            minViewUs.update(us); viewLowered = true
          }
        } else buf.appendValue(FunnelBuffered(us, e.event_type))
      }
      if (viewLowered) {
        // one live timer per user: finalize when wm strictly passes t1+H
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer((minViewUs.get() + horizonUs) / 1000L + 1L)
      }
      // (orphan buffers with no view get their revisit timer inside
      // finalizeIfReady, after the prune)
      finalizeIfReady(user, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[FunnelStages] =
      finalizeIfReady(user, timerValues.getCurrentWatermarkInMs())
  }

  // ---- custom stateful operator: streaming SimHash near-dup detection ------

  final case class SimhashDoc(doc_id: Long, text: String, utc: java.sql.Timestamp)
  final case class SimhashKeyed(
      bkey: Long, exact: Boolean, doc_id: Long, simhash: Long, utc: java.sql.Timestamp)
  final case class SimhashEntry(exact: Boolean, doc_id: Long, simhash: Long, us: Long)
  final case class SimhashPairOut(
      doc_a: Long, doc_b: Long, hamming: Long, pair_ts: java.sql.Timestamp)

  /** Scala twin of [[graft.operators.Dedup.simhash]]'s SQL expression:
    * identical tokenization (trim → lowercase → `\s+` split), identical
    * per-word hash (first 8 hex chars of md5 as an unsigned 32-bit int),
    * identical sign-sum fingerprint. StreamingSpec pins the parity by
    * comparing the stream's pairs against the batch operator's on the
    * same documents — a drift here is a test failure, not a silent skew.
    */
  private[streaming] def simhash32(text: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Long](32)
    text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { w =>
      val hex = digest.digest(w.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      digest.reset()
      val h = java.lang.Long.parseLong(hex, 16)
      var i = 0
      while (i < 32) { sums(i) += ((h >> i) & 1L) * 2L - 1L; i += 1 }
    }
    (0 until 32).map(i => if (sums(i) > 0) 1L << i else 0L).sum
  }

  /** Streaming near-duplicate detection — the `transformWithState` twin of
    * [[graft.operators.Dedup.simhashNearDupPairs]], for the ingestion
    * pipeline that must flag near-dups AS DOCUMENTS ARRIVE instead of in a
    * nightly batch. Same pigeonhole blocking: each doc's 32-bit SimHash
    * splits into two 16-bit halves, and every doc posts 2 exact
    * (half, value) keys plus 34 single-bit-probe keys; ≤3 flipped bits
    * leave ≤1 in some half, so every true pair collides on some key —
    * perfect recall by the same pigeonhole guarantee as the batch join,
    * now as STATE KEYS (the bucket space partitions the stream 2^17 ways,
    * the same fine-grained distribution the batch plan was chosen for).
    * The exact `bitCount(xor) <= maxHamming` check verifies in-bucket
    * before anything emits, and a downstream
    * `dropDuplicatesWithinWatermark` collapses the multi-key duplicates
    * (all emissions of a pair fire in the arrival micro-batch of its
    * second doc, with one deterministic pair_ts = max of the two event
    * times, so the dedup state never races the watermark).
    *
    * State bounds (per bucket key): entries live one `horizonSeconds`
    * past their event time — an event-time timer prunes expired entries,
    * so state is the docs of one horizon, not the stream's history. The
    * streaming semantics is therefore "pairs among docs within one
    * horizon of each other" — the bounded-state restriction of the batch
    * operator's corpus-wide pairs (StreamingSpec pins stream ≡ batch on
    * a corpus inside one horizon, out-of-order arrival included).
    */
  def simhashPairsStream(
      spark: SparkSession,
      docs: Dataset[SimhashDoc],
      maxHamming: Int = 3,
      watermarkDelay: String = "10 seconds",
      horizonSeconds: Long = 3600L): Dataset[SimhashPairOut] = {
    import spark.implicits._
    require(maxHamming <= 3,
      "two-half single-bit probing only guarantees recall for maxHamming <= 3")
    val keyed = docs.flatMap { d =>
      val sh = simhash32(d.text)
      val halves = Seq(0L -> (sh & 0xffffL), 1L -> ((sh >> 16) & 0xffffL))
      val masks = 0L +: (0 until 16).map(1L << _).toSeq
      halves.flatMap { case (half, hv) =>
        SimhashKeyed((half << 17) | hv, exact = true, d.doc_id, sh, d.utc) +:
          masks.map(m =>
            SimhashKeyed((half << 17) | (hv ^ m), exact = false, d.doc_id, sh, d.utc))
      }
    }
    keyed
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.bkey)
      // the 3-arg overload DECLARES pair_ts as the output's event-time
      // column, so the watermark propagates into the chained dedup below
      // (re-declaring one via withWatermark on a stateful output is
      // disallowed)
      .transformWithState(
        new SimhashPairProcessor(maxHamming, horizonSeconds * 1000L),
        "pair_ts",
        OutputMode.Append())
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** Scala twin of [[graft.operators.Multimodal.aHash]]'s decode-and-hash
    * chain for the streaming path: same synthesized P6 plane (UTF-8 text
    * bytes zero-padded to 8×h×3, h = ⌈n/24⌉ min 1), same 8×8 grid by
    * ⌊y·8/h⌋ assignment, same integer BT.601 luma numerators and
    * cross-multiplied mean compares. MultimodalStreamingSpec-pinned
    * equal to the batch operator's fingerprints on the same docs.
    */
  private[streaming] def ahash64(text: String): Long = {
    val payload = text.getBytes("UTF-8")
    val h = math.max(1L, math.ceil(payload.length / 24.0).toLong).toInt
    def byteAt(i: Int): Int = if (i < payload.length) payload(i) & 0xff else 0
    val cs = new Array[Long](64); val cc = new Array[Long](64)
    var total = 0L
    var p = 0
    while (p < h * 8) {
      val l = 299L * byteAt(p * 3) + 587L * byteAt(p * 3 + 1) +
        114L * byteAt(p * 3 + 2)
      val k = (p / 8 * 8 / h) * 8 + p % 8
      cs(k) += l; cc(k) += 1; total += l
      p += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (cs(k) * (8L * h) > total * cc(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Per-source running governance totals — the ingest-monitoring twin of
    * [[graft.operators.TextAnalysis.sourceStats]]: unwindowed per-source
    * doc and token counters as a plain streaming aggregation. State is
    * |sources| rows — bounded by the number of ingest feeds, not the
    * corpus — so no watermark is needed; run in update/complete mode.
    * (The batch twin's distinct-fp dup ratio needs corpus-wide distinct
    * state and stays batch-side; the stream keeps the volume counters a
    * feed monitor actually polls.) The token count is the SAME scan-side
    * fold as the batch op, so totals equal the batch aggregate exactly —
    * spec-pinned stream ≡ batch.
    */
  def sourceStatsStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** Live release manifest — the streaming twin of
    * [[graft.operators.Governance.releaseManifest]]: per-source doc/char
    * totals and the order-free bit_xor fingerprint checksum, maintained
    * as docs land. Everything xor/count/sum is associative and
    * commutative, so the running checksum after the last batch equals
    * the batch manifest of the same rows EXACTLY (spec-pinned) — an
    * ingest can publish the manifest the moment the release closes, no
    * final corpus pass. State is |sources| rows; same no-watermark
    * update/complete discipline as [[sourceStatsStream]].
    */
  def releaseManifestStream(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"),
      col("n_chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(cast(conv(substring(fp, 1, 15), 16, 10) as bigint))")
          .as("fp_xor"))

  /** Streaming snapshot governance — the live half of
    * [[graft.operators.Governance.snapshotDiff]]: as the NEXT corpus
    * version streams in at ingest, every arriving doc is diffed against
    * a broadcast fingerprint table of the BASE snapshot ((doc_id,
    * fp) — 40 bytes/doc of metadata, the release artifact a pipeline
    * keeps anyway) and the per-(source, status) counters update live.
    * Statuses: added (id unseen in base), changed (fp differs),
    * unchanged. `removed` is unobservable mid-stream by construction —
    * a doc that never arrives is only decidable when the snapshot
    * closes, which is exactly the batch diff's job; the stream keeps
    * the counters an ingest monitor actually polls while the version is
    * still landing.
    *
    * Shape: the fingerprint is the same scan-side canonical projection
    * as the batch op; the base rides a broadcast stream-static left
    * join (no stream state for the join at all), and the running agg's
    * state is |sources|·3 rows — bounded by feeds, not corpus. Same
    * no-watermark update/complete discipline as [[sourceStatsStream]].
    * Stream ≡ batch is spec-pinned: totals equal the batch
    * [[graft.operators.Governance.snapshotDiff]] minus its `removed`
    * rows on the same replayed delta.
    */
  def snapshotDiffStream(current: DataFrame, base: DataFrame): DataFrame = {
    val fp = graft.operators.TextAnalysis.fingerprint _
    val b = broadcast(base.select(
      col("doc_id"), fp(col("text")).as("fp_b")))
    current
      .select(col("doc_id"), col("source"), fp(col("text")).as("fp_c"))
      .join(b, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("fp_b").isNull, lit("added"))
          .when(col("fp_b") =!= col("fp_c"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Streaming PERCEPTUAL image near-dup — the `transformWithState` twin
    * of [[graft.operators.Multimodal.phashPairs]], completing the
    * multimodal story's streaming side: images (synthesized blobs here,
    * any decoded raster in production) are fingerprinted at ingest and
    * flagged against every image within one state horizon. Same 64-bit
    * pigeonhole blocking as the batch blocker
    * ([[graft.operators.Dedup.hammingProbePairs]]): four 16-bit segments
    * × single-bit probes ⇒ perfect recall for maxHamming ≤ 7 by
    * construction, as STATE KEYS partitioning the stream 4·2^17 ways.
    * The pair machinery is [[SimhashPairProcessor]] UNCHANGED — it is
    * fingerprint-agnostic (entries + bitCount(xor) verify); only the
    * keying projection differs, exactly as in the batch refactor.
    */
  def phashPairsStream(
      spark: SparkSession,
      docs: Dataset[SimhashDoc],
      maxHamming: Int = 7,
      watermarkDelay: String = "10 seconds",
      horizonSeconds: Long = 3600L): Dataset[SimhashPairOut] = {
    import spark.implicits._
    require(maxHamming <= 7,
      "four-segment single-bit probing only guarantees recall for maxHamming <= 7")
    val keyed = docs.flatMap { d =>
      val fp = ahash64(d.text)
      val segs = (0 until 4).map(s => s.toLong -> ((fp >> (16 * s)) & 0xffffL))
      val masks = 0L +: (0 until 16).map(1L << _).toSeq
      segs.flatMap { case (seg, sv) =>
        SimhashKeyed((seg << 17) | sv, exact = true, d.doc_id, fp, d.utc) +:
          masks.map(m =>
            SimhashKeyed((seg << 17) | (sv ^ m), exact = false, d.doc_id, fp, d.utc))
      }
    }
    keyed
      .withWatermark("utc", watermarkDelay)
      .groupByKey(_.bkey)
      .transformWithState(
        new SimhashPairProcessor(maxHamming, horizonSeconds * 1000L),
        "pair_ts",
        OutputMode.Append())
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** The [[simhashPairsStream]] StatefulProcessor: one ListState of
    * (exact?, doc_id, simhash, event-us) entries per bucket key, pruned by
    * an event-time timer once the watermark passes entry time + horizon.
    * Pair emission mirrors the batch join exactly: an exact entry pairs
    * with a probe entry of a LARGER doc_id (the batch join's
    * `doc_id < p_doc` orientation), so the candidate multiset — and after
    * the downstream dedup, the pair set — matches the batch operator.
    */
  final class SimhashPairProcessor(maxHamming: Int, horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SimhashKeyed, SimhashPairOut] {
    @transient private var entries: org.apache.spark.sql.streaming.ListState[SimhashEntry] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      entries = getHandle.getListState[SimhashEntry](
        "entries", org.apache.spark.sql.Encoders.product[SimhashEntry],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def resetTimer(minUs: Long): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(minUs / 1000L + horizonMs + 1L)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[SimhashKeyed],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SimhashPairOut] = {
      val buf = scala.collection.mutable.ArrayBuffer(entries.get().toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[SimhashPairOut]
      rows.toSeq.sortBy(r => (micros(r.utc), r.doc_id, r.exact)).foreach { r =>
        val rUs = micros(r.utc)
        buf.foreach { e =>
          // batch orientation: exact side carries the smaller doc_id
          val cand =
            if (r.exact && !e.exact && r.doc_id < e.doc_id)
              Some((r.doc_id, e.doc_id, r.simhash, e.simhash, e.us))
            else if (!r.exact && e.exact && e.doc_id < r.doc_id)
              Some((e.doc_id, r.doc_id, e.simhash, r.simhash, e.us))
            else None
          cand.foreach { case (a, b, sa, sb, otherUs) =>
            val ham = java.lang.Long.bitCount(sa ^ sb).toLong
            if (ham <= maxHamming)
              out += SimhashPairOut(a, b, ham, microsToTs(math.max(rUs, otherUs)))
          }
        }
        buf += SimhashEntry(r.exact, r.doc_id, r.simhash, rUs)
      }
      entries.clear()
      entries.put(buf.toArray)
      resetTimer(buf.map(_.us).min)
      out.iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SimhashPairOut] = {
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val kept = entries.get().toSeq.filter(e => e.us / 1000L + horizonMs >= wmMs)
      entries.clear()
      if (kept.nonEmpty) {
        entries.put(kept.toArray)
        resetTimer(kept.map(_.us).min)
      }
      Iterator.empty
    }
  }

  // ---- live CBO join statistics ----------------------------------------

  final case class JoinStatState(c: Long)
  final case class JoinStatDelta(key: Long, delta: Long)

  /** Live join-cardinality statistics — the streaming twin of
    * [[graft.operators.Governance.joinCardinalityEstimate]]'s
    * `actual_rows`: the true self-join size Σ c_k² of everything
    * ingested so far, maintained ALGEBRAICALLY (the manifestIvm move on
    * a stream). Per key, `flatMapGroupsWithState` holds only the running
    * count c and emits the batch's Σc² DELTA — (c+k)² − c², one row per
    * touched key per batch — and a downstream running SUM folds the
    * deltas, so after every batch the sink's single row equals the batch
    * recompute over all data (spec-pinned per batch). State is
    * O(|keys|)·16 bytes; no batch ever rescans history — the stats a
    * CBO needs, kept current at ingest rates.
    */
  def runningJoinStats(
      spark: SparkSession, keys: Dataset[Long]): DataFrame = {
    import spark.implicits._
    keys
      .groupByKey(identity)
      .flatMapGroupsWithState[JoinStatState, JoinStatDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Long, it: Iterator[Long], state: GroupState[JoinStatState]) =>
          val add = it.size.toLong
          val c0 = state.getOption.map(_.c).getOrElse(0L)
          val c1 = c0 + add
          state.update(JoinStatState(c1))
          Iterator.single(JoinStatDelta(k, c1 * c1 - c0 * c0))
      }
      .agg(sum($"delta").as("actual_rows"))
  }

  // ---- live k-anonymity gate --------------------------------------------

  final case class QiRecord(nation: Long, seg: String, bal_kb: Long)
  final case class QiState(c: Long)
  final case class QiDelta(class_size: Long, d_classes: Long, d_records: Long)

  /** Streaming k-anonymity gate — the live twin of
    * [[graft.operators.Governance.kAnonymityHistogram]] (the 17th
    * stateful operator): the equivalence-class histogram with the
    * risky-class verdict, current after every micro-batch of arriving
    * quasi-identifier records. The [[runningJoinStats]] algebraic-delta
    * move applied to a HISTOGRAM: per QI class, `flatMapGroupsWithState`
    * holds only the running class size c; a batch adding k members emits
    * the two signed histogram effects — the class leaves size bucket c
    * (−1 class, −c records, skipped when the class is new) and enters
    * bucket c+k (+1, +(c+k)). A downstream complete-mode sum per bucket
    * folds the deltas, and vacated buckets net to zero classes and drop.
    * After every batch the sink equals the batch histogram over
    * everything ingested (spec-pinned on an out-of-order replay).
    *
    * State is O(|distinct QI classes|)·8 bytes — never record-sized; no
    * batch rescans history. This is the privacy gate a release pipeline
    * keeps LIVE: the risky row count is readable the moment a feed
    * closes, no corpus pass.
    */
  def kAnonymityStream(
      spark: SparkSession, qi: Dataset[QiRecord], k: Int = 5): DataFrame = {
    import spark.implicits._
    qi.groupByKey(r => (r.nation, r.seg, r.bal_kb))
      .flatMapGroupsWithState[QiState, QiDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String, Long), it: Iterator[QiRecord],
            state: GroupState[QiState]) =>
          val add = it.size.toLong
          val c0 = state.getOption.map(_.c).getOrElse(0L)
          val c1 = c0 + add
          state.update(QiState(c1))
          val enter = QiDelta(c1, 1L, c1)
          if (c0 > 0) Iterator(QiDelta(c0, -1L, -c0), enter)
          else Iterator.single(enter)
      }
      .groupBy($"class_size")
      .agg(sum($"d_classes").as("n_classes"),
        sum($"d_records").as("n_records"))
      .where($"n_classes" > 0)
      .withColumn("risky", $"class_size" < k)
  }
}
