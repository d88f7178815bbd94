package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._
import graft.{GraftSpec, Posture, Tables}
import graft.operators.Windows
import graft.plans.Cbo

/** Streaming tests (SURVEY.md §5.3/5.4): append-mode emission after the
  * watermark passes, late-row drop, batch/stream parity, streaming dedup,
  * and the custom stateful sessionizer.
  */
class StreamingSpec extends GraftSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** The job mains' state store, for a test's span. */
  private val RocksDb =
    Seq("spark.sql.streaming.stateStore.providerClass" -> Posture.RocksDbProvider)

  private var nameCounter = 0
  private def freshName(): String = { nameCounter += 1; s"stream_out_$nameCounter" }

  /** Run a streaming DataFrame into a memory sink, feeding `batches` one
    * micro-batch at a time; returns the sink contents.
    */
  private def runStream[A](
      input: MemoryStream[A],
      out: DataFrame,
      batches: Seq[Seq[A]]): Array[Row] = {
    val name = freshName()
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).collect()
  }

  private def tickJson(ticker: String, price: Double, iso: String): String =
    s"""{"utc":"$iso","type":"stock-tick","source":"t","ticker":"$ticker",""" +
      s""""name":"n","sector":"s","industry":"i","price":$price}"""

  private def parsedTicks(input: MemoryStream[String]): DataFrame =
    input.toDF()
      .select(from_json($"value", Tick.producerSchema,
        Map("timestampFormat" -> Tick.TsFormatIso)).as("r"))
      .select($"r.ticker", $"r.price", $"r.utc")

  test("candlestick append mode: window emits only after watermark passes its end") {
    val input = MemoryStream[String]
    val out = StreamingQueries.candlestick(parsedTicks(input))
    val b1 = Seq( // window [00:00, 00:01) — out of order within the delay
      tickJson("AAPL", 12.0, "2024-01-01T00:00:40.000"),
      tickJson("AAPL", 10.0, "2024-01-01T00:00:10.000"),
      tickJson("AAPL", 9.5, "2024-01-01T00:00:59.000"))
    val b2 = Seq(tickJson("AAPL", 50.0, "2024-01-01T00:05:00.000")) // advances event time
    val b3 = Seq(tickJson("AAPL", 51.0, "2024-01-01T00:06:00.000")) // watermark now past 00:01

    val rows = runStream(input, out, Seq(b1, b2, b3))
    assert(rows.length === 1, s"exactly the closed window: ${rows.mkString(";")}")
    val r = rows.head
    assert(r.getAs[String]("ticker") === "AAPL")
    assert(r.getAs[java.sql.Timestamp]("window_start") === ts("2024-01-01 00:00:00"))
    assert((r.getAs[Double]("first_price"), r.getAs[Double]("last_price"),
      r.getAs[Double]("min_price"), r.getAs[Double]("max_price")) === (10.0, 9.5, 9.5, 12.0))
  }

  test("candlestick runs on the RocksDB state store — the job mains' default") {
    // same emission semantics as the heap store, but state lives on local
    // disk: the provider the job mains default to for the 100 TB path
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[String]
      val out = StreamingQueries.candlestick(parsedTicks(input))
      val rows = runStream(input, out, Seq(
        Seq(tickJson("AAPL", 12.0, "2024-01-01T00:00:40.000"),
          tickJson("AAPL", 10.0, "2024-01-01T00:00:10.000")),
        Seq(tickJson("AAPL", 50.0, "2024-01-01T00:05:00.000")),
        Seq(tickJson("AAPL", 51.0, "2024-01-01T00:06:00.000"))))
      assert(rows.length === 1, s"exactly the closed window: ${rows.mkString(";")}")
      assert((rows.head.getAs[Double]("first_price"),
        rows.head.getAs[Double]("max_price")) === (10.0, 12.0))
    }
  }

  test("late rows beyond the watermark are dropped; batch/stream parity on emitted windows") {
    val input = MemoryStream[String]
    val out = StreamingQueries.candlestick(parsedTicks(input))
    val onTime = Seq(
      tickJson("MSFT", 20.0, "2024-01-01T00:00:10.000"),
      tickJson("MSFT", 25.0, "2024-01-01T00:00:50.000"))
    val advance = Seq(tickJson("MSFT", 30.0, "2024-01-01T00:05:00.000"))
    val flush = Seq(tickJson("MSFT", 31.0, "2024-01-01T00:06:00.000"))
    val late = Seq(tickJson("MSFT", 0.01, "2024-01-01T00:00:30.000")) // beyond watermark
    val flush2 = Seq(tickJson("MSFT", 32.0, "2024-01-01T00:07:00.000"))

    val rows = runStream(input, out, Seq(onTime, advance, flush, late, flush2))
    val w0 = rows.filter(_.getAs[java.sql.Timestamp]("window_start") == ts("2024-01-01 00:00:00"))
    assert(w0.length === 1, "late row must not re-open or duplicate the window")
    assert(w0.head.getAs[Double]("min_price") === 20.0, "late row must be dropped")

    // parity: batch run of the same transformation over the on-time rows
    val batchDf = Seq(("MSFT", 20.0, ts("2024-01-01 00:00:10")),
      ("MSFT", 25.0, ts("2024-01-01 00:00:50"))).toDF("ticker", "price", "utc")
    val batch = Windows.candlestick(batchDf, tsCol = "utc", keyCol = "ticker",
      valCol = "price").collect()
    assert(batch.length === 1)
    assert(batch.head.toSeq === w0.head.toSeq)
  }

  test("two-level streaming sliding min matches the batch decomposition") {
    val input = MemoryStream[String]
    val out = StreamingQueries.slidingMinTwoLevel(parsedTicks(input))
    val rows = runStream(input, out, Seq(
      Seq(tickJson("AAPL", 10.0, "2024-01-01T00:00:30.000"),
        tickJson("AAPL", 7.0, "2024-01-01T00:01:30.000")),
      Seq(tickJson("AAPL", 50.0, "2024-01-01T00:10:00.000")),
      Seq(tickJson("AAPL", 51.0, "2024-01-01T00:12:00.000"))))
      .map(r => (r.getString(0), r.getDouble(1), r.getTimestamp(2))).toSet
    assert(rows.nonEmpty, "closed hopping windows must emit")
    // batch twin over the same ticks, restricted to the emitted windows
    val batch = Windows.slidingMin(
      Seq(("AAPL", 10.0, ts("2024-01-01 00:00:30")),
        ("AAPL", 7.0, ts("2024-01-01 00:01:30")),
        ("AAPL", 50.0, ts("2024-01-01 00:10:00")),
        ("AAPL", 51.0, ts("2024-01-01 00:12:00"))).toDF("ticker", "price", "utc"),
      tsCol = "utc", keyCol = "ticker", valCol = "price",
      over = "2 minutes", every = "1 minute")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getTimestamp(2))).toSet
    assert(rows.subsetOf(batch), s"streaming rows must agree with batch: $rows vs $batch")
  }

  test("stream-stream interval join matches ticks within the time bound") {
    val inA = MemoryStream[String]
    val inB = MemoryStream[String]
    val a = parsedTicks(inA).withWatermark("utc", "10 seconds")
      .select($"ticker", $"price".as("a_price"), $"utc".as("a_utc"))
    val b = parsedTicks(inB).withWatermark("utc", "10 seconds")
      .select($"ticker".as("b_ticker"), $"price".as("b_price"), $"utc".as("b_utc"))
    val joined = a.join(b,
      $"ticker" === $"b_ticker" &&
        $"b_utc" >= $"a_utc" - org.apache.spark.sql.functions.expr("INTERVAL 30 SECONDS") &&
        $"b_utc" <= $"a_utc")

    val name = freshName()
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      inA.addData(Seq(tickJson("AAPL", 1.0, "2024-01-01T00:00:30.000")))
      inB.addData(Seq(
        tickJson("AAPL", 2.0, "2024-01-01T00:00:10.000"), // within 30 s before
        tickJson("AAPL", 3.0, "2024-01-01T00:01:30.000"), // after a -> excluded
        tickJson("MSFT", 4.0, "2024-01-01T00:00:20.000"))) // wrong key
      q.processAllAvailable()
      inA.addData(Seq(tickJson("AAPL", 9.0, "2024-01-01T00:05:00.000")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getAs[Double]("a_price"), r.getAs[Double]("b_price"))).toSet
    assert(got === Set((1.0, 2.0)))
  }

  test("streaming dedup within watermark drops duplicates, keeps state bounded") {
    val input = MemoryStream[String]
    val out = StreamingQueries.dedupWithinWatermark(parsedTicks(input))
    val rows = runStream(input, out, Seq(Seq(
      tickJson("AAPL", 10.0, "2024-01-01T00:00:10.000"),
      tickJson("AAPL", 10.0, "2024-01-01T00:00:10.000"), // exact dup (same key cols)
      tickJson("AAPL", 11.0, "2024-01-01T00:00:20.000"))))
    assert(rows.length === 2)
  }

  test("transformWithState sessionize: closes on gap and on event-time timer") {
    // an event beyond the gap closes the open session inline; otherwise
    // the event-time timer (registerTimer + handleExpiredTimer) closes it
    // once the watermark passes last event + gap. Unlike the TTL'd EWMA,
    // event-time timers fire off the watermark, so processAllAvailable
    // drains normally. Requires RocksDB, like the mains.
    import StreamingQueries.{SessionEvent, SessionOut}
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[SessionEvent]
      val out = StreamingQueries.sessionizeTws(spark, input.toDS(),
        gapSeconds = 60, watermarkDelay = "0 seconds")
      def ev(id: Long, t: String) = SessionEvent(1L, id, ts(t))
      val rows = runStream(input, out.toDF(), Seq(
        Seq(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:00:30")),
        Seq(ev(3, "2024-01-01 00:02:00")), // gap > 60s -> closes session 1 inline
        Seq(ev(4, "2024-01-01 00:10:00")) // watermark passes 00:03 -> timer closes session 2
      )).map(r => SessionOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def us(t: String) = ts(t).getTime * 1000L
      assert(rows.toSet === Set(
        SessionOut(1L, us("2024-01-01 00:00:00"), us("2024-01-01 00:00:30"), 2L),
        SessionOut(1L, us("2024-01-01 00:02:00"), us("2024-01-01 00:02:00"), 1L)))
    }
  }

  test("streaming dedup-index maintenance equals sequential batch read-check-update runs") {
    import StreamingQueries.DedupDoc
    Cbo.withConfs(spark, RocksDb) {
      val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
      val base = Seq(
        (100L, "the quick brown fox jumps over the lazy dog tonight"),
        (101L, "completely different standing document about spark engines")
      ).toDF("doc_id", "text")
      // one artifact for the stream, an identical copy for the batch
      // reference loop (each mutates its own)
      graft.operators.Dedup.writeBucketIndex(base, s"$dir/idx")
      graft.operators.Dedup.writeBucketIndex(base, s"$dir/idx_ref")
      // batch 1: a dup of a STANDING doc + a fresh doc; batch 2: a dup
      // of the fresh BATCH-1 doc (the ratchet case the artifact alone
      // would miss) + a unique doc
      val b1 = Seq(
        DedupDoc(1L, "the quick brown fox jumps over the lazy dog tonight"),
        DedupDoc(2L, "novel first batch text with many unusual words here"))
      val b2 = Seq(
        DedupDoc(3L, "novel first batch text with many unusual words here"),
        DedupDoc(4L, "entirely unrelated closing text nothing matches this"))
      val input = MemoryStream[DedupDoc]
      val out = StreamingQueries.dedupIndexStream(spark, input.toDS(), s"$dir/idx")
      val rows = runStream(input, out.toDF(), Seq(b1, b2))
        .map(r => (r.getLong(0), r.getBoolean(2)))
      val streamVerdicts =
        rows.groupBy(_._1).view.mapValues(_.exists(_._2)).toMap
      // the daily loop, run once per micro-batch in the same ARRIVAL
      // order (the contract both forms share) over the reference copy
      def run(batch: Seq[DedupDoc]): Map[Long, Boolean] =
        graft.operators.Dedup.incrementalDedupPersisted(
          batch.toDF().select($"doc_id", $"text"), s"$dir/idx_ref")
          .collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
      val ref = run(b1) ++ run(b2)
      assert(streamVerdicts === ref)
      // and the fixture exercises all three verdict sources: artifact
      // hit (1), fresh (2, 4), prior-micro-batch ratchet hit (3)
      assert(ref === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    }
  }

  test("dedup-index maintenance with flushed state: the artifact IS the state, " +
    "replay slot idempotent") {
    import StreamingQueries.DedupDoc
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_flush").toString
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "completely different standing document about spark engines")
    ).toDF("doc_id", "text")
    graft.operators.Dedup.writeBucketIndex(base, s"$dir/idx")
    // same fixture as the stateful twin: artifact hit (1), fresh (2, 4),
    // prior-batch ratchet hit (3)
    val b1 = Seq(
      DedupDoc(1L, "the quick brown fox jumps over the lazy dog tonight"),
      DedupDoc(2L, "novel first batch text with many unusual words here"))
    val b2 = Seq(
      DedupDoc(3L, "novel first batch text with many unusual words here"),
      DedupDoc(4L, "entirely unrelated closing text nothing matches this"))
    val input = MemoryStream[DedupDoc]
    val q = StreamingQueries.dedupIndexMaintained(spark, input.toDS(),
      s"$dir/idx", s"$dir/stream", s"$dir/out").start()
    try {
      Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def verdicts: Map[Long, Boolean] =
      spark.read.option("basePath", s"$dir/out").parquet(s"$dir/out")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    val got = verdicts
    // ≡ the stateful twin's folded verdicts on this replay — the flush
    // moves where the knowledge lives, not what it says
    assert(got === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    // the knowledge lives in batch-keyed artifact partitions, zero rows
    // of stream state
    def parts(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts("stream") === Set("batch=0", "batch=1"))
    assert(parts("out") === Set("batch=0", "batch=1"))
    // replay the batch-1 slot (at-least-once re-delivery after restart):
    // the parent prune excludes its own earlier write, both slots
    // overwrite — verdicts and partitions byte-stable
    StreamingQueries.maintainDedupBatch(spark,
      spark.createDataset(b2).toDF(), 1L,
      s"$dir/idx", s"$dir/stream", s"$dir/out")
    assert(verdicts === got)
    assert(parts("stream") === Set("batch=0", "batch=1"))
    // FOLD the flushed window into the base artifact (end of cadence):
    // stream dirs truncated, and the knowledge survives — a fresh batch
    // duplicating a STREAM-era doc must verdict dup off the base alone
    def baseSet = spark.read.parquet(s"$dir/idx")
      .select("doc_id", "bucket_key", "band").collect().map(_.toSeq).toSet
    // keep a copy of the window to simulate the crash-between-swap-and-
    // truncate replay below
    val windowCopy = spark.read.option("basePath", s"$dir/stream")
      .parquet(s"$dir/stream").collect()
    val windowSchema = spark.read.option("basePath", s"$dir/stream")
      .parquet(s"$dir/stream").schema
    graft.operators.Dedup.foldStreamIndex(spark, s"$dir/idx", s"$dir/stream")
    assert(!new java.io.File(s"$dir/stream").exists())
    val folded = baseSet
    val b3 = Seq(DedupDoc(5L, "entirely unrelated closing text nothing matches this"))
    StreamingQueries.maintainDedupBatch(spark,
      spark.createDataset(b3).toDF(), 2L,
      s"$dir/idx", s"$dir/stream", s"$dir/out")
    val v3 = spark.read.parquet(s"$dir/out/batch=2").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(v3 === Map(5L -> true), "folded knowledge must survive the truncate")
    // crash-window replay: the window reappears after the swap already
    // folded it — re-folding merges the same SET, so the base is
    // byte-for-byte the post-fold state (b3's buckets live in the new
    // stream window, not the base, so base === folded exactly)
    spark.createDataFrame(
        spark.sparkContext.parallelize(windowCopy.toSeq), windowSchema)
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$dir/stream_replay")
    graft.operators.Dedup.foldStreamIndex(spark, s"$dir/idx", s"$dir/stream_replay")
    assert(baseSet === folded)
    // fold with no window is a no-op
    graft.operators.Dedup.foldStreamIndex(spark, s"$dir/idx", s"$dir/stream_gone")
    assert(baseSet === folded)
    // swap-crash self-heal: a prior fold died between fs.delete(base)
    // and fs.rename(staging, base) — base is GONE, the complete merged
    // set sits in idx_folding. Simulated by moving base into the staging
    // slot; the next fold must promote it before merging, recovering the
    // exact post-fold state.
    val fsx = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fsx.rename(new org.apache.hadoop.fs.Path(s"$dir/idx"),
      new org.apache.hadoop.fs.Path(s"$dir/idx_folding")))
    spark.createDataFrame(
        spark.sparkContext.parallelize(windowCopy.toSeq), windowSchema)
      .write.mode("overwrite").partitionBy("batch")
      .parquet(s"$dir/stream_crash")
    graft.operators.Dedup.foldStreamIndex(spark, s"$dir/idx", s"$dir/stream_crash")
    assert(baseSet === folded, "self-healed fold must recover the post-fold base")
    assert(!new java.io.File(s"$dir/idx_folding").exists())
  }

  test("native session_window stream: out-of-order replay equals the batch native form") {
    import StreamingQueries.SessionEvent
    val input = MemoryStream[SessionEvent]
    val out = StreamingQueries.sessionWindowsNative(spark, input.toDS(),
      gap = "60 seconds", watermarkDelay = "10 seconds")
    def ev(u: Long, id: Long, t: String) = SessionEvent(u, id, ts(t))
    val batches = Seq(
      Seq(ev(1, 1, "2024-01-01 00:00:00"), ev(2, 5, "2024-01-01 00:00:20")),
      // out of order INSIDE the watermark: the 00:00:30 event arrives
      // after 00:00:40 — the native merging state must fold it in place
      Seq(ev(1, 2, "2024-01-01 00:00:40"), ev(1, 3, "2024-01-01 00:00:30")),
      Seq(ev(1, 4, "2024-01-01 00:05:00")), // second session for user 1
      Seq(ev(3, 9, "2024-01-01 01:00:00"))) // advances the watermark far
    val rows = runStream(input, out, batches)
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events"))).toSet
    // the batch native twin over the SAME rows; the only sessions the
    // stream cannot have emitted are those whose end the final watermark
    // (01:00:00 − 10s) has not passed — here just user 3's own session
    val wm = ts("2024-01-01 00:59:50")
    val batch = graft.operators.TimeSeries.sessionWindows(
      spark.createDataset(batches.flatten).toDF()
        .select($"user_id", $"utc".as("ts")), "60 seconds")
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events")))
      .filter(_._3.compareTo(wm) <= 0).toSet
    assert(rows === batch, s"stream $rows vs batch $batch")
    // shape sanity: user 1's first session merged all three events, and
    // the native end is last-event + gap (the session's reach), not the
    // last event itself — the documented divergence from the custom op
    assert(rows.contains((1L, ts("2024-01-01 00:00:00"),
      ts("2024-01-01 00:01:40"), 3L)))
  }

  test("streaming CUSUM drift alarm equals the ts-ordered Page fold (out-of-order input)") {
    import StreamingQueries.{DriftEvent, DriftAlarm}
    Cbo.withConfs(spark, RocksDb) {
      val (refQ, slackQ, hQ) = (1000L, 50L, 400L) // ref 10.0, slack 0.5, h 4.0
      def ev(k: String, id: Long, t: String, v: Double) = DriftEvent(k, id, ts(t), v)
      // key a: level 10 then a +3 shift -> S+ grows 250/row, alarms at the
      // 2nd shifted row (500 > 400), resets, alarms again 2 rows later.
      // key b: a -4 dip -> lo-side alarm. Batch 2 delivers an EARLIER row
      // (within the 10s watermark) that must fold in ts position.
      val b1 = Seq(
        ev("a", 1, "2024-01-01 00:00:01", 10.0),
        ev("a", 2, "2024-01-01 00:00:02", 10.2),
        ev("a", 4, "2024-01-01 00:00:04", 13.0),
        ev("a", 5, "2024-01-01 00:00:05", 13.0),
        ev("a", 6, "2024-01-01 00:00:06", 13.0),
        ev("b", 11, "2024-01-01 00:00:01", 10.0),
        ev("b", 12, "2024-01-01 00:00:02", 6.0),
        ev("b", 13, "2024-01-01 00:00:03", 6.0))
      val b2 = Seq(
        ev("a", 3, "2024-01-01 00:00:03", 13.0), // late: folds BEFORE 4,5,6
        ev("a", 7, "2024-01-01 00:00:07", 13.0))
      val sentinel = Seq(ev("z", 99, "2024-01-01 01:00:00", 10.0))

      val input = MemoryStream[DriftEvent]
      val out = StreamingQueries.cusumAlarmStream(
        spark, input.toDS(), refMean = 10.0, slack = 0.5, threshold = 4.0)
      val rows = runStream(input, out.toDF(), Seq(b1, b2, sentinel))
        .map(r => DriftAlarm(r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet

      // brute force: per key, fold in (ts, event_id) order
      def brute(events: Seq[DriftEvent]): Set[DriftAlarm] =
        events.groupBy(_.key).flatMap { case (k, es) =>
          var (sHi, sLo) = (0L, 0L)
          es.sortBy(e => (e.utc.getTime, e.event_id)).flatMap { e =>
            val q = math.floor(100 * e.value + 0.5).toLong
            sHi = math.max(0L, sHi + q - refQ - slackQ)
            sLo = math.max(0L, sLo + refQ - q - slackQ)
            val out = scala.collection.mutable.ArrayBuffer.empty[DriftAlarm]
            if (sHi > hQ) {
              out += DriftAlarm(k, e.event_id, e.utc.getTime * 1000L, "hi", sHi); sHi = 0L
            }
            if (sLo > hQ) {
              out += DriftAlarm(k, e.event_id, e.utc.getTime * 1000L, "lo", sLo); sLo = 0L
            }
            out
          }
        }.toSet
      val expected = brute(b1 ++ b2 ++ sentinel)
      assert(expected.exists(_.side == "hi"), "fixture must exercise the hi side")
      assert(expected.exists(_.side == "lo"), "fixture must exercise the lo side")
      assert(rows === expected)
    }
  }

  test("stream-stream interval join matches the batch join on the same input") {
    // the NATIVE watermarked symmetric-hash-join path (no custom state):
    // all quotes in [probe-5s, probe] per key, across out-of-order batches
    import StreamingQueries.{AsofSideEvent, IntervalMatched}
    def ev(u: Long, id: Long, t: String, v: Double) = AsofSideEvent(u, id, ts(t), v)
    val quotesB1 = Seq(
      ev(1, 101, "2024-01-01 00:00:10", 5.0), // outside probe 1's window
      ev(1, 102, "2024-01-01 00:00:18", 7.0),
      ev(1, 103, "2024-01-01 00:00:20", 9.0), // "<=" edge
      ev(1, 104, "2024-01-01 00:00:14", 2.0),
      ev(2, 201, "2024-01-01 00:00:05", 1.0)) // after u2's probe: no match
    val probesB1 = Seq(
      ev(1, 1, "2024-01-01 00:00:20", 0.0),
      ev(2, 2, "2024-01-01 00:00:03", 0.0))
    // batch 2 arrives with an event time OLDER than B1's max (within the
    // 10s watermark): the join must still buffer-and-match it
    val probesB2 = Seq(ev(1, 3, "2024-01-01 00:00:16", 0.0))
    val quotesB2 = Seq(ev(1, 105, "2024-01-01 00:00:30", 11.0))

    val inP = MemoryStream[AsofSideEvent]
    val inQ = MemoryStream[AsofSideEvent]
    val out = StreamingQueries.intervalJoinStream(spark, inP.toDS(), inQ.toDS())
    val name = freshName()
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      inQ.addData(quotesB1); inP.addData(probesB1); q.processAllAvailable()
      inQ.addData(quotesB2); inP.addData(probesB2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => IntervalMatched(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet

    def us(t: String) = ts(t).getTime * 1000L
    assert(got === Set(
      IntervalMatched(1L, 1L, us("2024-01-01 00:00:20"), 102L, 7.0),
      IntervalMatched(1L, 1L, us("2024-01-01 00:00:20"), 103L, 9.0),
      IntervalMatched(3L, 1L, us("2024-01-01 00:00:16"), 104L, 2.0)))

    // batch truth: the identical join condition over the same events
    val pDf = (probesB1 ++ probesB2)
      .map(e => (e.event_id, e.user_id, e.utc)).toDF("p_event_id", "user_id", "p_utc")
    val qDf = (quotesB1 ++ quotesB2)
      .map(e => (e.event_id, e.user_id, e.utc, e.value))
      .toDF("q_event_id", "q_user_id", "q_utc", "value")
    val expected = pDf.join(qDf, expr(
        """user_id = q_user_id AND
           q_utc >= p_utc - INTERVAL 5 SECONDS AND q_utc <= p_utc"""))
      .select($"p_event_id", $"user_id", unix_micros($"p_utc"), $"q_event_id", $"value")
      .collect()
      .map(r => IntervalMatched(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got === expected)
  }

  test("interval join: random out-of-order streams equal the batch join, two seeds") {
    import StreamingQueries.{AsofSideEvent, IntervalMatched}
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      def rev(id: Long) = AsofSideEvent(
        rnd.nextInt(4).toLong, id,
        java.sql.Timestamp.from(ts("2024-01-01 00:00:00").toInstant
          .plusMillis(rnd.nextInt(8000).toLong)),
        math.rint(rnd.nextDouble() * 100) / 10)
      val probes = (1L to 25L).map(rev)
      val quotes = (101L to 140L).map(rev)
      // arrival order deliberately != event-time order, split mid-stream
      val (pB1, pB2) = rnd.shuffle(probes).splitAt(12)
      val (qB1, qB2) = rnd.shuffle(quotes).splitAt(20)

      val inP = MemoryStream[AsofSideEvent]
      val inQ = MemoryStream[AsofSideEvent]
      // 1-hour watermark: nothing drops, every true match must surface
      val out = StreamingQueries.intervalJoinStream(
        spark, inP.toDS(), inQ.toDS(), watermarkDelay = "1 hour")
      val name = freshName()
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        inQ.addData(qB1); inP.addData(pB1); q.processAllAvailable()
        inQ.addData(qB2); inP.addData(pB2); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet

      val expected = (for {
        p <- probes; qt <- quotes
        if p.user_id == qt.user_id &&
          qt.utc.getTime >= p.utc.getTime - 5000 && qt.utc.getTime <= p.utc.getTime
      } yield (p.event_id, qt.event_id)).toSet
      assert(expected.nonEmpty, s"seed $seed: weak fixture")
      assert(got === expected, s"seed $seed")
    }
  }

  test("left-outer interval join: unmatched probes emit null rows after the watermark") {
    import StreamingQueries.AsofSideEvent
    def ev(u: Long, id: Long, t: String, v: Double) = AsofSideEvent(u, id, ts(t), v)
    val inP = MemoryStream[AsofSideEvent]
    val inQ = MemoryStream[AsofSideEvent]
    val out = StreamingQueries.intervalJoinStreamOuter(spark, inP.toDS(), inQ.toDS())
    val name = freshName()
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // u1's probe matches; u2's probe has NO quote in [ts-5s, ts]
      inQ.addData(Seq(ev(1, 101, "2024-01-01 00:00:18", 7.0)))
      inP.addData(Seq(
        ev(1, 1, "2024-01-01 00:00:20", 0.0),
        ev(2, 2, "2024-01-01 00:00:20", 0.0)))
      q.processAllAvailable()
      val early = spark.table(name).collect()
      // the unmatched probe must NOT have emitted yet: its window could
      // still fill from a late quote inside the watermark
      assert(!early.exists(r => r.getLong(0) == 2L),
        s"null row emitted before the watermark closed: ${early.mkString}")
      // advance the watermark far past probe 2's window — on BOTH sides:
      // the query's watermark is the min across inputs, so a stale probe
      // side would hold every buffered probe alive
      inQ.addData(Seq(ev(99, 999, "2024-01-01 01:00:00", 0.0)))
      inP.addData(Seq(ev(98, 9999, "2024-01-01 01:00:00", 0.0)))
      q.processAllAvailable()
      inQ.addData(Seq(ev(99, 998, "2024-01-01 02:00:00", 0.0)))
      inP.addData(Seq(ev(98, 9998, "2024-01-01 02:00:00", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(3),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set(
      (1L, 1L, false, 101L), // matched, emitted eagerly
      (2L, 2L, true, -1L), // unmatched, emitted null-padded after wm
      (9999L, 98L, true, -1L))) // first wm sentinel, itself evicted unmatched
  }

  test("stream-stream as-of join matches the batch as-of on the same input") {
    // the transformWithState multi-state exercise: quote book + pending-
    // probe buffer per key, event-time timer flushing probes once the
    // watermark makes their event time final. Must reproduce the batch
    // Joins.asofJoin rows exactly on the same events — including the
    // no-prior-quote drop, the equal-ts "<=" match, and the max-event_id
    // tie on equal quote timestamps. Requires RocksDB, like the mains.
    import StreamingQueries.{AsofSideEvent, AsofMatched}
    Cbo.withConfs(spark, RocksDb) {
      def ev(u: Long, id: Long, t: String, v: Double) = AsofSideEvent(u, id, ts(t), v)
      // u1: quote tie at 00:00:10 (102 wins), later quote equal to probe 3's
      // ts (the "<=" edge); u2: probe BEFORE any quote -> drops
      val quotesB1 = Seq(
        ev(1, 101, "2024-01-01 00:00:10", 5.0),
        ev(1, 102, "2024-01-01 00:00:10", 7.0),
        ev(2, 201, "2024-01-01 00:00:05", 1.0))
      val probesB1 = Seq(
        ev(1, 1, "2024-01-01 00:00:20", 0.0),
        ev(2, 2, "2024-01-01 00:00:03", 0.0))
      val quotesB2 = Seq(ev(1, 103, "2024-01-01 00:00:25", 9.0))
      val probesB2 = Seq(ev(1, 3, "2024-01-01 00:00:25", 0.0))
      // sentinel quote on a probe-free key: advances the global watermark
      // far past every probe, firing all flush timers
      val sentinel = Seq(ev(99, 999, "2024-01-01 01:00:00", 0.0))

      val inP = MemoryStream[AsofSideEvent]
      val inQ = MemoryStream[AsofSideEvent]
      val out = StreamingQueries.asofJoinStream(
        spark, inP.toDS(), inQ.toDS(), watermarkDelay = "0 seconds")
      val name = freshName()
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        inQ.addData(quotesB1); inP.addData(probesB1); q.processAllAvailable()
        inQ.addData(quotesB2); inP.addData(probesB2); q.processAllAvailable()
        inQ.addData(sentinel); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => AsofMatched(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet

      // batch truth on the same events (sentinel excluded: probe-free key)
      val lDf = (probesB1 ++ probesB2)
        .map(e => (e.event_id, e.user_id, e.utc)).toDF("event_id", "user_id", "ts")
      val rDf = (quotesB1 ++ quotesB2)
        .map(e => (e.event_id, e.user_id, e.utc, e.value))
        .toDF("event_id", "user_id", "ts", "value")
      val expected = graft.operators.Joins.asofJoin(lDf, rDf)
        .select($"event_id", $"user_id", unix_micros($"ts").as("us"),
          $"asof_event_id", $"asof_value")
        .collect()
        .map(r => AsofMatched(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      assert(got === expected, s"stream=$got batch=$expected")
      // the semantics the shapes above exercise, pinned explicitly
      assert(expected.contains(AsofMatched(1L, 1L,
        ts("2024-01-01 00:00:20").getTime * 1000L, 102L, 7.0)), "tie -> max id")
      assert(expected.contains(AsofMatched(3L, 1L,
        ts("2024-01-01 00:00:25").getTime * 1000L, 103L, 9.0)), "equal ts -> <=")
      assert(!expected.exists(_.event_id == 2L), "probe before any quote drops")
    }
  }

  test("streaming conversion-window funnel matches the batch stages") {
    // per-user funnel with a 60 s conversion window over out-of-order
    // events: late view LOWERS the anchor (invalidating an eager click
    // match), in-window click/purchase order is strict, events past the
    // window are ignored, a user emits exactly once. RocksDB, like the
    // mains.
    import StreamingQueries.{FunnelEvent, FunnelStages}
    Cbo.withConfs(spark, RocksDb) {
      def ev(u: Long, t: String, tpe: String) = FunnelEvent(u, tpe, ts(t))
      // u1: full funnel inside the window; u2: purchase BEFORE the click
      // (must not count) then click past the window; u3: orphan click
      // first, then a LATE view before it (arrives in batch 2, still
      // above watermark) -> the click converts; u4: view only
      val b1 = Seq(
        ev(1, "2024-01-01 00:00:00", "view"),
        ev(1, "2024-01-01 00:00:20", "click"),
        ev(1, "2024-01-01 00:00:40", "purchase"),
        ev(2, "2024-01-01 00:00:05", "purchase"),
        ev(2, "2024-01-01 00:00:02", "view"),
        ev(3, "2024-01-01 00:00:30", "click"),
        ev(4, "2024-01-01 00:00:01", "view"))
      val b2 = Seq(
        ev(2, "2024-01-01 00:02:00", "click"), // past u2's 60s window
        ev(3, "2024-01-01 00:00:10", "view")) // late anchor, claims the click
      // sentinel far ahead: watermark passes every window, all users emit
      val sentinel = Seq(ev(99, "2024-01-01 01:00:00", "view"))

      val input = MemoryStream[FunnelEvent]
      // 60 s allowed lateness: u3's anchor view arrives a batch after its
      // click, below the batch-1 max event time but inside the lateness
      val out = StreamingQueries.funnelStream(
        spark, input.toDS(), horizonSeconds = 60L, watermarkDelay = "60 seconds")
      val name = freshName()
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(b1); q.processAllAvailable()
        input.addData(b2); q.processAllAvailable()
        input.addData(sentinel); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3))).filter(_._1 != 99L).toSet

      val batch = graft.operators.TimeSeries.funnelUserStages(
        (b1 ++ b2).map(e => (e.user_id, e.event_type, e.utc))
          .toDF("user_id", "event_type", "ts"),
        horizonSeconds = 60L).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3))).toSet
      assert(got === batch, s"stream=$got batch=$batch")
      // the semantics pinned explicitly
      val byUser = got.map(x => x._1 -> x).toMap
      assert(byUser(1L)._3 != null && byUser(1L)._4 != null, "u1 full funnel")
      assert(byUser(2L)._3 == null && byUser(2L)._4 == null,
        "u2: pre-click purchase and past-window click both excluded")
      assert(byUser(3L)._2 === ts("2024-01-01 00:00:10"), "u3 late anchor")
      assert(byUser(3L)._3 === ts("2024-01-01 00:00:30"), "u3 claimed click")
      assert(byUser(4L)._3 == null, "u4 view only")
    }
  }

  test("doc pipeline: dedups on content, gates on quality, labels language") {
    // the streaming curation pipeline end-to-end over MemoryStream docs:
    // content duplicates collapse (whitespace variants share a fingerprint),
    // the low-quality doc is gated out, languages come from the shared
    // langId expression, and values match the batch enrich() exactly.
    val en1 = "The cat is on the mat and it is warm in the sun for now."
    val de1 = "Der Hund ist nicht zu Hause und ich bin mit der Katze hier."
    val input = MemoryStream[(Long, String, String)]
    // 0.25: below the German doc's ~0.273 (the quality stopwords are
    // English, so non-English text leans on the alpha/length terms alone)
    // and far above punctuation junk's ~0.009
    val out = DocPipeline.curate(
      input.toDS().toDF("doc_id", "text", "lang"), minScore = 0.25)
    val rows = runStream(input, out, Seq(
      Seq((1L, en1, "en"), (2L, "  " + en1.replace(" ", "  ") + " ", "en"),
        (3L, de1, "de")),
      Seq((4L, "!!! ??? !!!", "en")) // zero alpha, zero stopwords -> gated
    )).map(r => (r.getLong(0), r.getString(2), r.getDouble(5)))
    // doc 2 is a whitespace variant of doc 1 -> same fp, deduped; doc 4 gated
    assert(rows.map(_._1).toSet === Set(1L, 3L))
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === "en")
    assert(byId(3L)._2 === "de")
    // scores equal the batch enrichment bit-for-bit
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.TextAnalysis.enrich(
      Seq((1L, en1, "en"), (3L, de1, "de")).toDF("doc_id", "text", "lang"))
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(1L)._3 === batch(1L))
    assert(byId(3L)._3 === batch(3L))
  }

  test("streaming decontamination drops eval leaks at ingest, stream == batch") {
    // ingest-side leak filter: docs colliding with the precomputed eval
    // bucket table never enter the pipeline. Exact copies of eval docs
    // share every LSH bucket (deterministic collision); a clean doc and a
    // too-short-to-shingle doc must pass. Out-of-order delivery (the leak
    // arrives after a clean doc, another in a later batch) must not change
    // the kept set, and the stream must equal the batch filter exactly —
    // which in turn must be the complement of decontaminateNear's report.
    import graft.operators.Dedup
    val e1 = "alpha beta gamma delta epsilon zeta eta theta"
    val e2 = "one two three four five six seven eight nine"
    val evalDf = Seq((100L, e1), (101L, e2)).toDF("doc_id", "text")
    val evalBuckets = Dedup.minhashBuckets(evalDf)
    val clean1 = "the quick brown fox jumps over the lazy dog today"
    val clean2 = "completely different content about weather and shipping lanes"
    val train = Seq(
      (1L, clean1, "en"), (2L, e1, "en"), (3L, "hi", "en"),
      (4L, clean2, "en"), (5L, e2, "en"))
    val input = MemoryStream[(Long, String, String)]
    val out = DocPipeline.curateDecontaminated(
      input.toDS().toDF("doc_id", "text", "lang"), evalBuckets, minScore = 0.0)
    val streamedIds = runStream(input, out, Seq(
      Seq(train(0), train(1), train(2)), // leak #2 after clean #1
      Seq(train(3), train(4)))           // leak #5 in a later batch
    ).map(_.getLong(0)).toSet
    // batch twin of the SAME filter on the same rows
    val batchIds = Dedup.decontaminateFilter(
      train.toDF("doc_id", "text", "lang"), evalBuckets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedIds === Set(1L, 3L, 4L))
    assert(batchIds === streamedIds)
    // complement check: the dropped ids are exactly decontaminateNear's
    // reported train-side leak set on the same corpora
    val reported = Dedup.decontaminateNear(
      train.toDF("doc_id", "text", "lang").select($"doc_id", $"text"), evalDf)
      .select("train_doc_id").collect().map(_.getLong(0)).toSet
    assert(reported === train.map(_._1).toSet -- batchIds)
    assert(reported === Set(2L, 5L))
  }

  test("streaming model gate drops negative-scoring docs at ingest, stream == batch") {
    import graft.operators.TextAnalysis
    // train the hashed-feature model batch-side (2 gopher-pass, 2 fail
    // docs — the quality-model spec corpus), ship the weight map like a
    // loaded artifact, and gate a stream with it
    val passText1 = (1 to 28).map(i => s"word$i").mkString(" ") + " the and"
    val passText2 = (1 to 29).map(i => s"term$i").mkString(" ") + " the and"
    val corpus = Seq(
      (1L, passText1, "en"), (2L, passText2, "en"),
      (3L, "junk junk junk", "en"), (4L, "word1 term1 the and", "en"))
    val trainDf = corpus.map(c => (c._1, c._2)).toDF("doc_id", "text")
    val wts = TextAnalysis.qualityModelWeights(trainDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, String, String)]
    val out = DocPipeline.curateModelGated(
      input.toDS().toDF("doc_id", "text", "lang"), wts, qualityMinScore = 0.0)
    val streamedIds = runStream(input, out, Seq(
      Seq(corpus(0), corpus(2)), // a reject between two keeps
      Seq(corpus(1), corpus(3))))
      .map(_.getLong(0)).toSet
    // batch twin of the same literal-baked gate expression
    import org.apache.spark.sql.functions.col
    val batchIds = corpus.toDF("doc_id", "text", "lang")
      .filter(TextAnalysis.modelScore(col("text"), wts) > 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedIds === batchIds)
    // and both equal the oracle-checked batch scorer's model_pass set
    val scorerIds = TextAnalysis.qualityModelScore(trainDf)
      .filter(col("model_pass")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(streamedIds === scorerIds)
    assert(streamedIds.contains(1L) && !streamedIds.contains(3L))
  }

  test("streaming CALIBRATED model gate: batch-computed cut gates the stream") {
    import graft.operators.TextAnalysis
    // the calibrated cut is computed batch-side (a 1-row percentile at
    // the weak-label base rate — driver metadata, like the weight
    // artifact) and ships to the ingest gate as the threshold literal:
    // calibration composes with streaming without any streaming state
    val passText1 = (1 to 28).map(i => s"word$i").mkString(" ") + " the and"
    val passText2 = (1 to 29).map(i => s"term$i").mkString(" ") + " the and"
    val corpus = Seq(
      (1L, passText1, "en"), (2L, passText2, "en"),
      (3L, "junk junk junk", "en"), (4L, "word1 term1 the and", "en"))
    val trainDf = corpus.map(c => (c._1, c._2)).toDF("doc_id", "text")
    val wts = TextAnalysis.qualityModelWeights(trainDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cal = TextAnalysis.qualityModelCalibrated(trainDf).collect()
    val cut = cal.head.getLong(3)
    val calIds = cal.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    val input = MemoryStream[(Long, String, String)]
    val out = DocPipeline.curateModelGated(
      input.toDS().toDF("doc_id", "text", "lang"), wts,
      modelThreshold = cut, qualityMinScore = 0.0)
    val streamedIds = runStream(input, out, Seq(
      Seq(corpus(0), corpus(3)), Seq(corpus(1), corpus(2))))
      .map(_.getLong(0)).toSet
    assert(streamedIds === calIds)
    // stricter than score>0 on this corpus: doc 4 scores positive (the
    // naive gate admits it) but sits AT the calibrated cut -> rejected
    assert(streamedIds === Set(1L, 2L))
  }

  test("streaming source stats: running totals equal the batch aggregate") {
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingQueries.sourceStatsStream(
      input.toDS().toDF("doc_id", "text", "source"))
    val name = freshName()
    // complete mode: the memory table always holds the CURRENT totals
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    val batches = Seq(
      Seq((1L, "alpha beta gamma", "sA"), (2L, "uno dos", "sB")),
      Seq((3L, "delta epsilon", "sA"), (4L, "tres", "sB"),
        (5L, "zeta", "sA")))
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // batch twin over the same rows
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.TextAnalysis.sourceStats(
      batches.flatten.toDF("doc_id", "text", "source")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en")))
      .select(col("source"), col("n_docs"), col("n_tokens")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === batch)
    assert(got("sA") === ((3L, 6L)) && got("sB") === ((2L, 3L)))
  }

  test("streaming snapshot diff: live counters equal the batch diff minus removed") {
    // base snapshot (static): docs 1-4; the next version streams in as
    // two ingest batches — 1 unchanged, 2 changed, 3 unchanged after fp
    // canonicalization, 5 added; 4 never arrives (removed — decidable
    // only at snapshot close, the batch diff's job)
    val base = Seq(
      (1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "gamma", "s2"),
      (4L, "delta", "s2")).toDF("doc_id", "text", "source")
    val delta = Seq(
      (1L, "alpha", "s1"), (2L, "beta prime", "s1"),
      (3L, "Gamma  ", "s2"), (5L, "epsilon", "s2"))
    val input = MemoryStream[(Long, String, String)]
    val out = StreamingQueries.snapshotDiffStream(
      input.toDS().toDF("doc_id", "text", "source"), base)
    val name = freshName()
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      Seq(delta.take(2), delta.drop(2)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the batch diff over the same replayed delta, minus its removed rows
    val batch = graft.operators.Governance.snapshotDiff(
        base, delta.toDF("doc_id", "text", "source"))
      .filter(org.apache.spark.sql.functions.col("status") =!= "removed")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
    assert(got === Map(
      ("s1", "unchanged") -> 1L, ("s1", "changed") -> 1L,
      ("s2", "unchanged") -> 1L, ("s2", "added") -> 1L))
  }

  test("streaming release manifest: running checksum equals the batch manifest") {
    val rows = Seq(
      (1L, "alpha beta", "s1", 10L), (2L, "gamma", "s1", 5L),
      (3L, "delta", "s2", 5L), (4L, "Alpha  beta", "s2", 11L))
    val input = MemoryStream[(Long, String, String, Long)]
    val out = StreamingQueries.releaseManifestStream(
      input.toDS().toDF("doc_id", "text", "source", "n_chars"))
    val name = freshName()
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      Seq(rows.take(2), rows.drop(2)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(name).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.operators.Governance.releaseManifest(
        rows.toDF("doc_id", "text", "source", "n_chars")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === batch)
    // doc 4's canonical fp equals doc 1's (case/whitespace-normalized) —
    // the checksum really is fingerprint-level, not raw-text-level
    assert(got("s2")._1 === 2L)
  }

  test("streaming sequences (scrub + chunk) equal the batch stage row-for-row") {
    // stateless projections must stream unchanged: redaction + chunking
    // over a MemoryStream equals the batch call on the same rows
    val docs = Seq(
      (1L, ("the key is " + (1 to 80).map(i => s"w$i").mkString(" "))),
      (2L, "short hash doc"),
      (3L, "mail me at bob@example.com " + (1 to 50).map(i => s"x$i").mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val out = DocPipeline.sequences(input.toDS().toDF("doc_id", "text"))
    val streamed = runStream(input, out, Seq(docs.take(2), docs.drop(2)))
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    val batch = DocPipeline.sequences(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(streamed === batch)
    // the redaction really ran: denylist terms masked inside chunk text
    // (lowercased — the chunker shares the corpus tokenizer)
    assert(batch((1L, 0L))._2.startsWith("the [masked] is"))
    assert(batch.size > docs.size, "long docs chunked into multiple sequences")
  }

  test("streaming gopher rules equal the batch filter row-for-row") {
    // gopherRules is a pure scan-side projection (zero exchanges,
    // PlanSpec-pinned), so the SAME expression must run statelessly
    // under a streaming plan with identical flags
    val docs = Seq(
      (1L, (1 to 30).map(i => s"alpha$i bravo$i the of").mkString(" ")),
      (2L, "tiny doc the of"),
      (3L, (1 to 40).map(_ => "dup dup other the of words here now").mkString(" ")))
    val input = MemoryStream[(Long, String)]
    val out = graft.operators.TextAnalysis.gopherRules(
      input.toDS().toDF("doc_id", "text"))
    val streamed = runStream(input, out, Seq(docs.take(1), docs.drop(1)))
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.operators.TextAnalysis.gopherRules(
      docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed === batch)
    assert(!batch(2L).drop(4).head.asInstanceOf[Boolean],
      "tiny doc fails r_wordcount in both modes")
  }

  test("streaming grid forward-fill equals the batch twin, out of order") {
    // MapState = its own column family -> requires RocksDB, like the mains
    import StreamingQueries.FillEvent
    Cbo.withConfs(spark, RocksDb) {
    val w = 15 * 60 // bucket width in seconds
    def ev(t: String, off: Int, v: Double) =
      FillEvent(t, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(off.toLong)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss"))), v)
    // type a: buckets 0 and 4 observed (3-bucket gap), two events in
    // bucket 0; type b: buckets 1 and 2 (no gap). Batch 2 delivers
    // events OLDER than batch 1's max (true out-of-order, inside the
    // 1 h lateness horizon).
    val batch1 = Seq(ev("a", 4 * w + 10, 7.0), ev("a", 5, 1.25))
    val batch2 = Seq(ev("a", 20, 2.75), ev("b", w + 3, 2.5), ev("b", 2 * w + 9, 4.0))
    // sentinels: s1 closes everything real; s2 pushes the watermark past
    // s1's bucket end (+ the 1 h delay) so s1 and its gap emit too
    val s1 = Seq(ev("a", 96 * w, 9.0), ev("b", 96 * w, 9.0))
    val s2 = Seq(ev("a", 96 * w + w + 3600 + 60, 9.5),
      ev("b", 96 * w + w + 3600 + 60, 9.5))
    val input = MemoryStream[FillEvent]
    val out = StreamingQueries.gridForwardFillTws(spark, input.toDS(),
      watermarkDelay = "1 hour").toDF()
    val streamed = runStream(input, out, Seq(batch1, batch2, s1, s2))
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // batch twin on the same rows; the stream can only have emitted
    // buckets the final watermark closed — everything up to s1's bucket
    // (s2's own bucket is still open)
    val widthUs = 15L * 60 * 1000000L
    val s1Bus = math.floorDiv(StreamingQueries.micros(s1.head.utc), widthUs) * widthUs
    val batchClosed = graft.operators.TimeSeries.gapfillForwardFill(
      (batch1 ++ batch2 ++ s1 ++ s2).map(e => (e.event_type, e.utc, e.value))
        .toDF("event_type", "ts", "value"))
      .collect()
      .map(r => (r.getString(0),
        StreamingQueries.micros(r.getTimestamp(1))) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
      .filter { case ((_, bus), _) => bus <= s1Bus }
    assert(streamed === batchClosed,
      s"stream (${streamed.size} rows) must equal the closed batch grid " +
        s"(${batchClosed.size} rows)")
    // the out-of-order event landed: bucket 0 averages (1.25+2.75)/2,
    // and the 3-bucket gap carries it
    val base = s1Bus - 96L * w * 1000000L
    assert(streamed(("a", base)) === ((2L, 2.0, false)))
    val aGap = (1 to 3).map(i => streamed(("a", base + i * widthUs)))
    assert(aGap.forall(_ == ((0L, 2.0, true))),
      s"gap buckets carry (1.25+2.75)/2 = 2.0: $aGap")
    }
  }

  test("streaming heavy hitters: SpaceSaving bounds hold vs exact replay") {
    // MapState -> RocksDB, like the mains
    Cbo.withConfs(spark, RocksDb) {
      val capacity = 16
      val nShards = 4
      val toks = Tables.load(spark, sf, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")))
        .collect().map(_.getString(0)).toSeq
      val input = MemoryStream[String]
      val out = StreamingQueries.heavyHittersTws(
        spark, input.toDS(), capacity, nShards).toDF()
      val third = toks.length / 3
      val rows = runStream(input, out,
        Seq(toks.take(third), toks.slice(third, 2 * third), toks.drop(2 * third)))
      // update mode re-emits per batch; the final summary per shard is
      // the rows carrying that shard's maximum running total
      val byShard = rows.map(r => (r.getInt(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      byShard.foreach { case (shard, rs) =>
        val nShard = rs.map(_._5).max
        val summary = rs.filter(_._5 == nShard)
          .map(t => t._2 -> (t._3, t._4)).toMap
        assert(summary.size <= capacity, s"shard $shard summary bounded")
        val shardExact = exact.filter { case (t, _) =>
          math.floorMod(t.hashCode, nShards) == shard }
        assert(nShard === shardExact.values.sum, s"shard $shard total")
        summary.foreach { case (t, (est, err)) =>
          val truth = shardExact(t)
          assert(est >= truth, s"'$t' never undercounts")
          assert(est - err <= truth, s"'$t' error bound")
        }
        // every token heavier than N/m is caught
        val threshold = nShard / capacity
        shardExact.filter(_._2 > threshold).keys.foreach { t =>
          assert(summary.contains(t), s"heavy '$t' (> $threshold) must surface")
        }
      }
    }
  }

  test("grid forward-fill state survives a checkpoint restart") {
    // the carry pair and the open-bucket map are RocksDB state: a gap row
    // emitted AFTER a restart must still carry the average observed
    // BEFORE it, and a bucket buffered before the restart must emit with
    // its exact pre-restart aggregate
    import StreamingQueries.FillEvent
    Cbo.withConfs(spark, RocksDb) {
      val dir = java.nio.file.Files.createTempDirectory("graft_gfr").toString
      val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeFile(name: String, rows: Seq[(String, String, Double)]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (t, ts, v) =>
            s"""{"event_type":"$t","utc":"$ts","value":$v}"""
          }.mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("utc",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      def runOnce(attempts: Int = 40): Unit = {
        import spark.implicits._
        val src = spark.readStream.schema(schema)
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("maxFilesPerTrigger", 1).json(in)
          .as[FillEvent]
        val q = StreamingQueries.gridForwardFillTws(spark, src,
          watermarkDelay = "0 seconds").toDF()
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); q.stop() }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
            if e.getMessage.contains("concurrently using") && attempts > 0 =>
            Thread.sleep(250); runOnce(attempts - 1)
        }
      }
      // run 1: bucket 0 observed twice (avg 3.0), bucket 4 buffered open
      writeFile("f0.json", Seq(
        ("a", "2024-01-01 00:01:40", 2.0),
        ("a", "2024-01-01 00:03:20", 4.0),
        ("a", "2024-01-01 01:01:40", 7.0)))
      runOnce()
      // run 2 (fresh JVM-side query, same checkpoint): bucket 6 advances
      // the watermark past buckets 4 and 5
      writeFile("f1.json", Seq(("a", "2024-01-01 01:31:40", 9.0)))
      runOnce()
      val widthUs = 15L * 60 * 1000000L
      val got = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("bus") ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("value_filled"),
            r.getAs[Boolean]("filled"))).toMap
      val base = got.keys.min
      // gaps materialize only BETWEEN observations (the batch grid ends
      // at the last observed bucket, so the stream stays a subset of the
      // batch twin): buckets 0..4, with 5 pending until a later obs
      assert(got.size === 5, s"buckets 0..4 closed exactly once: $got")
      assert(got(base) === ((2L, 3.0, false)), "pre-restart bucket agg exact")
      (1 to 3).foreach { i =>
        assert(got(base + i * widthUs) === ((0L, 3.0, true)),
          s"post-restart gap $i carries the pre-restart average")
      }
      assert(got(base + 4 * widthUs) === ((1L, 7.0, false)),
        "bucket buffered before the restart emits with its exact aggregate")
    }
  }

  test("phash pair state survives a checkpoint restart") {
    // the bucket-entry ListState is RocksDB state: a near-dup arriving
    // AFTER a restart must still pair with the fingerprint stored BEFORE
    // it — the recovery contract of an ingest-time image dedup
    Cbo.withConfs(spark, RocksDb) {
      val dir = java.nio.file.Files.createTempDirectory("graft_phr").toString
      val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val base = "the quick brown fox jumps over the lazy dog again and again"
      def writeFile(name: String, rows: Seq[(Long, String, String)]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (id, tx, ts) =>
            s"""{"doc_id":$id,"text":"$tx","utc":"$ts"}"""
          }.mkString("\n").getBytes)
      def runOnce(attempts: Int = 40): Unit = {
        import spark.implicits._
        val src = spark.readStream.schema(NearDupJob.nearDupDocSchema)
          .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
          .option("maxFilesPerTrigger", 1).json(in)
          .as[StreamingQueries.SimhashDoc]
        val q = StreamingQueries.phashPairsStream(spark, src).toDF()
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); q.stop() }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
            if e.getMessage.contains("concurrently using") && attempts > 0 =>
            Thread.sleep(250); runOnce(attempts - 1)
        }
      }
      // run 1: the future pair's first half + an unrelated doc
      writeFile("f0.json", Seq(
        (1L, base, "2024-01-01 00:00:01"),
        (5L, "another unrelated document body entirely disjoint", "2024-01-01 00:00:02")))
      runOnce()
      // run 2 (fresh query, same checkpoint): the identical twin arrives
      writeFile("f1.json", Seq((2L, base, "2024-01-01 00:00:03")))
      runOnce()
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("hamming"))).toSet
      assert(got === Set((1L, 2L, 0L)),
        s"the pre-restart fingerprint must pair with the post-restart twin: $got")
    }
  }

  test("heavy-hitter summaries survive a checkpoint restart") {
    Cbo.withConfs(spark, RocksDb) {
      val dir = java.nio.file.Files.createTempDirectory("graft_hhr").toString
      val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val toks = Tables.load(spark, sf, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")))
        .collect().map(_.getString(0)).toSeq
      val (capacity, nShards) = (16, 4)
      def writeFile(name: String, ts: Seq[String]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          ts.map(t => s"""{"value":"$t"}""").mkString("\n").getBytes)
      def runOnce(attempts: Int = 40): Unit = {
        import spark.implicits._
        val src = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType))))
          .option("maxFilesPerTrigger", 1).json(in).as[String]
        val q = StreamingQueries.heavyHittersTws(spark, src, capacity, nShards)
          .toDF()
          .writeStream.outputMode("update")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try { q.awaitTermination(); q.stop() }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
            if e.getMessage.contains("concurrently using") && attempts > 0 =>
            Thread.sleep(250); runOnce(attempts - 1)
        }
      }
      val half = toks.length / 2
      writeFile("f0.json", toks.take(half))
      runOnce()
      writeFile("f1.json", toks.drop(half))
      runOnce()
      // the final summary per shard = rows at that shard's max total;
      // bounds must hold against the FULL two-run exact counts — only
      // possible if counts and totals crossed the restart intact
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Int]("shard"), r.getAs[String]("token"),
          r.getAs[Long]("est"), r.getAs[Long]("err"), r.getAs[Long]("n_shard")))
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      rows.groupBy(_._1).foreach { case (shard, rs) =>
        val nShard = rs.map(_._5).max
        val shardExact = exact.filter { case (t, _) =>
          math.floorMod(t.hashCode, nShards) == shard }
        assert(nShard === shardExact.values.sum,
          s"shard $shard running total survives the restart")
        val summary = rs.filter(_._5 == nShard).map(t => t._2 -> (t._3, t._4)).toMap
        assert(summary.size <= capacity)
        summary.foreach { case (t, (est, err)) =>
          assert(est >= shardExact(t) && est - err <= shardExact(t),
            s"'$t' bounds hold across the restart")
        }
        shardExact.filter(_._2 > nShard / capacity).keys.foreach { t =>
          assert(summary.contains(t), s"heavy '$t' still surfaces")
        }
      }
    }
  }

  test("streaming subsequence matcher emits batch-exact window distances") {
    import StreamingQueries.FillEvent
    Cbo.withConfs(spark, RocksDb) {
      val w = 15 * 60
      def ev(t: String, off: Int, v: Double) =
        FillEvent(t, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0).plusSeconds(off.toLong)
            .format(java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss"))), v)
      // type a: buckets 0,1,2 then 4 (a row-frame window skips the gap);
      // type b: only two buckets — never forms a length-3 window
      val qwin = Seq(100L, 200L, 300L)
      val b1 = Seq(ev("a", 5, 1.0), ev("a", w + 5, 2.0),
        ev("a", 2 * w + 10, 3.0), ev("b", 5, 9.0), ev("b", w + 5, 9.0))
      val b2 = Seq(ev("a", 4 * w + 10, 5.0))
      val b3 = Seq(ev("a", 8 * w, 7.0), ev("b", 8 * w, 7.0))
      val input = MemoryStream[FillEvent]
      val out = StreamingQueries.subseqMatchTws(spark, input.toDS(), qwin,
        watermarkDelay = "0 seconds").toDF()
      val rows = runStream(input, out, Seq(b1, b2, b3))
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val widthUs = 15L * 60 * 1000000L
      val base = StreamingQueries.micros(b1.head.utc) / widthUs * widthUs
      // window [b0,b1,b2] totals (100,200,300) == query -> dist 0;
      // window [b1,b2,b4] totals (200,300,500) -> 100^2+100^2+200^2
      assert(rows === Map(
        ("a", base) -> 0L,
        ("a", base + widthUs) -> (100L * 100 + 100L * 100 + 200L * 200)),
        s"closed windows only, row-frame over observed buckets: $rows")
    }
  }

  test("streaming mixture application equals the batch materialization") {
    // weights are a batch artifact; applying them is a stateless
    // broadcast stream-static join + hash projection, so the stream must
    // reproduce mixApplySampling row-for-row on the same corpus
    import graft.operators.Packing
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "source", "text")
    val weights = Packing.mixTemperature(docs)
      .select(col("lang"), col("source"), col("rep_factor"))
    val rows = docs.select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val input = MemoryStream[(Long, String, String)]
    val out = Packing.applyMixture(
      input.toDS().toDF("doc_id", "lang", "source"), weights)
    val streamed = runStream(input, out,
      Seq(rows.take(200), rows.drop(200)))
      .map(r => r.getLong(0) -> r.getAs[Long]("n_copies")).toMap
    val batch = Packing.mixApplySampling(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_copies")).toMap
    assert(streamed === batch)
  }

  test("deployment pipeline: decontaminate -> curate -> mixture, stream == batch") {
    // the full DocPipelineJob --eval-buckets --weights composition on the
    // real corpus: both artifacts are batch-side tables, every stage is
    // the shared expression, so the stream must equal the batch twin's
    // copy counts doc-for-doc
    import graft.operators.{Dedup, Packing, TextAnalysis}
    import org.apache.spark.sql.functions.{col, isnan, min_by, struct}
    val corpus = Tables.load(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    // eval corpus = verbatim copies of two long corpus docs — their
    // originals must leak-filter out at ingest
    val leaky = rows.filter(_._2.split("\\s+").length > 10).take(2)
    val evalDocs = leaky.zipWithIndex
      .map { case (r, i) => (90000L + i, r._2) }.toSeq.toDF("doc_id", "text")
    val evalBuckets = Dedup.minhashBuckets(evalDocs).localCheckpoint()
    val weights = Packing.mixTemperature(corpus)
      .select(col("lang"), col("source"), col("rep_factor")).localCheckpoint()
    val input = MemoryStream[(Long, String, String, String)]
    val out = DocPipeline.curateMixed(
      input.toDS().toDF("doc_id", "text", "lang", "source"),
      weights, Some(evalBuckets))
    val streamed = runStream(input, out,
      Seq(rows.take(150).toSeq, rows.drop(150).toSeq))
      .map(r => r.getLong(0) -> r.getAs[Long]("n_copies")).toMap
    // batch twin: same filter, same enrichment, min-doc_id dedup (the
    // stream sees ascending doc_ids, so first-arrival == min), same gate,
    // same copy-count join
    val curatedB = TextAnalysis.enrich(
      Dedup.decontaminateFilter(corpus, evalBuckets))
      .groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"),
        col("quality_score")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.source").as("source"),
        col("r.quality_score").as("quality_score"))
      .filter(col("quality_score").isNotNull && !isnan(col("quality_score")) &&
        col("quality_score") >= 0.3)
    val batch = Packing.withCopyCounts(curatedB, weights).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty, "the pipeline must keep most of the corpus")
    leaky.foreach { r =>
      assert(!streamed.contains(r._1), s"leaked doc ${r._1} must be dropped")
    }
  }

  test("streaming running EWMA matches the batch fold bit-for-bit") {
    import StreamingQueries.EwmaEvent
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[EwmaEvent]
      val out = StreamingQueries.runningEwmaTws(spark, input.toDS())
      def ev(u: Long, id: Long, t: String, v: Double) = EwmaEvent(u, id, ts(t), v)
      val b1 = Seq(ev(1, 1, "2024-01-01 00:00:00", 10.0),
        ev(1, 2, "2024-01-01 00:01:00", 20.0), ev(2, 3, "2024-01-01 00:01:30", 5.0))
      val b2 = Seq(ev(1, 4, "2024-01-01 00:02:00", 30.0))
      val name = freshName()
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      // latest state per user = the row with that user's max n_events
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      val batch = graft.operators.TimeSeries.ewma(
        (b1 ++ b2).map(e => (e.user_id, e.event_id, e.value, e.utc))
          .toDF("user_id", "event_id", "value", "ts")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet === batch.keySet)
      got.foreach { case (u, (_, n, e)) =>
        assert((n, e) === batch(u), s"user $u")
      }
    }
  }

  test("transformWithState running EWMA equals the hand-computed recurrence") {
    // the fold across two micro-batches, checked against the EWMA
    // recurrence written out by hand. Requires the RocksDB state store,
    // like the job mains.
    import StreamingQueries.EwmaEvent
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[EwmaEvent]
      val out = StreamingQueries.runningEwmaTws(spark, input.toDS())
      def ev(u: Long, id: Long, t: String, v: Double) = EwmaEvent(u, id, ts(t), v)
      val b1 = Seq(ev(1, 1, "2024-01-01 00:00:00", 10.0),
        ev(1, 2, "2024-01-01 00:01:00", 20.0), ev(2, 3, "2024-01-01 00:01:30", 5.0))
      val b2 = Seq(ev(1, 4, "2024-01-01 00:02:00", 30.0))
      val name = freshName()
      val q = out.toDF().writeStream
        .outputMode("update").format("memory").queryName(name).start()
      try {
        Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(got(1L) === ((1L, 3L, 0.2 * 30.0 + 0.8 * (0.2 * 20.0 + 0.8 * 10.0))))
      assert(got(2L) === ((2L, 1L, 5.0)))
    }
  }

  test("transformWithState EWMA with state TTL keeps state across a restart within the TTL") {
    // TTL path: a 1-hour TTL arms processing-time TimeMode + TTLConfig.
    // In ProcessingTime TimeMode the operator requests another batch after
    // EVERY batch (so TTL/timers can fire on the wall clock) — verified
    // here: processAllAvailable never drains and even Trigger.AvailableNow
    // looped 600+ empty epochs. So drive it like production: run
    // continuously, poll the sink for the expected output, stop explicitly.
    // Two runs over one checkpoint prove the RocksDB state survives a
    // restart (the TTL has not elapsed, so the fold must resume, not reset).
    import StreamingQueries.EwmaEvent
    Cbo.withConfs(spark, RocksDb) {
      val ckpt = java.nio.file.Files.createTempDirectory("tws-ttl").toString
      val input = MemoryStream[EwmaEvent]
      val out = StreamingQueries.runningEwmaTws(
        spark, input.toDS(), ttl = Some(java.time.Duration.ofHours(1)))
      def ev(u: Long, id: Long, t: String, v: Double) = EwmaEvent(u, id, ts(t), v)
      // The memory sink refuses checkpoint recovery, so sink via
      // foreachBatch into a driver-side buffer (recoverable, any mode).
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      // Runs until the buffer holds a row with n_events >= expectN, then stops.
      def runUntilEvent(expectN: Long): Unit = {
        val q = out.toDF().writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            buf.synchronized { buf ++= rows }
            ()
          }
          .start()
        try {
          val deadline = System.currentTimeMillis + 120000L
          def seen(): Boolean = buf.synchronized(buf.exists(_._2 >= expectN))
          while (!seen() && System.currentTimeMillis < deadline) Thread.sleep(200L)
          assert(seen(), s"timed out waiting for n_events >= $expectN")
        } finally q.stop()
      }
      input.addData(Seq(ev(7, 1, "2024-01-01 00:00:00", 4.0)))
      runUntilEvent(1L)
      input.addData(Seq(ev(7, 2, "2024-01-01 00:01:00", 8.0)))
      runUntilEvent(2L)
      val last = buf.synchronized(buf.maxBy(_._2))
      assert(last === ((7L, 2L, 0.2 * 8.0 + 0.8 * 4.0)))
    }
  }

  test("streaming SCD2 closed versions equal the batch build, out of order") {
    import StreamingQueries.Scd2Event
    // two tracked customers + a watermark-driver key (99) whose single
    // version never closes, so it is absent from BOTH engines' output
    val e = Map(
      "c1d1" -> Scd2Event(1L, ts("2024-01-01 08:00:00"), 10L, "P1"),
      "c1d2a" -> Scd2Event(1L, ts("2024-01-02 09:00:00"), 21L, "P2"),
      "c1d2b" -> Scd2Event(1L, ts("2024-01-02 10:00:00"), 22L, "P3"),
      "c1d3" -> Scd2Event(1L, ts("2024-01-03 11:00:00"), 30L, "P3"),
      "c1d4" -> Scd2Event(1L, ts("2024-01-04 12:00:00"), 40L, "P1"),
      "c2d1" -> Scd2Event(2L, ts("2024-01-01 09:00:00"), 11L, "P9"),
      "c2d3" -> Scd2Event(2L, ts("2024-01-03 09:00:00"), 31L, "P8"),
      "flush" -> Scd2Event(99L, ts("2024-01-10 00:00:00"), 90L, "PX"))
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[Scd2Event]
      val out = StreamingQueries.scd2Stream(
        spark, input.toDS(), watermarkDelay = "2 hours").toDF()
      // the day-2 collision pair arrives SPLIT across batches and in
      // reverse order (the losing ok 21 lands after the winning ok 22,
      // inside the 2 h delay): same-day collapse must hold cross-batch
      val rows = runStream(input, out, Seq(
        Seq(e("c1d1"), e("c2d1")),
        Seq(e("c1d2b")),
        Seq(e("c1d2a")),
        Seq(e("c1d3"), e("c2d3")),
        Seq(e("c1d4")),
        Seq(e("flush"))))
      val got = rows.map(r => (r.getAs[Long]("custkey"),
        r.getAs[Int]("version_no"), r.getAs[String]("tier"),
        r.getDate(3).toString, r.getDate(4).toString)).toSet

      // batch twin over the SAME change set (as the orders-shaped frame
      // the batch operator consumes); stream output = its closed rows
      val orders = e.values.toSeq.map(ev => (ev.custkey,
        new java.sql.Date(ev.utc.getTime), ev.tier, ev.orderkey))
        .toDF("o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey")
      val closed = graft.operators.Dimensions.scd2Dim(orders)
        .where("eff_to IS NOT NULL").collect()
        .map(r => (r.getAs[Long]("custkey"), r.getAs[Int]("version_no"),
          r.getAs[String]("tier"), r.getDate(3).toString,
          r.getDate(4).toString)).toSet
      assert(got === closed, "stream must emit exactly the batch closed set")
      assert(got === Set(
        (1L, 1, "P1", "2024-01-01", "2024-01-02"),
        (1L, 2, "P3", "2024-01-02", "2024-01-04"),
        (2L, 1, "P9", "2024-01-01", "2024-01-03")),
        s"hand-walked versions: $got")
    }
  }

  test("file source: schema-on-read drops producer-only fields, both ts formats parse") {
    val dir = java.nio.file.Files.createTempDirectory("ticks").toString
    val sqlLine = """{"utc":"2024-01-01 00:00:10.500","type":"x","source":"x",""" +
      """"ticker":"AAPL","name":"n","sector":"s","industry":"i","price":12.5}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      sqlLine.getBytes("UTF-8"))

    val batch = TickSource.fileJsonBatch(spark, dir, "SQL")
    assert(batch.schema === Tick.schema)
    val row = batch.collect().head
    assert(row.getString(0) === "AAPL" && row.getDouble(1) === 12.5)
    assert(row.getTimestamp(2) === ts("2024-01-01 00:00:10.5"))

    // streaming twin drains the same dir via AvailableNow into a memory sink
    val name = freshName()
    val q = TickSource.fileJson(spark, dir, "SQL")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    assert(spark.table(name).collect().toSeq === batch.collect().toSeq)
  }

  test("job pipeline e2e: file source -> watermarked candlestick -> partitioned sink") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val in = Files.createTempDirectory("job_in").toString
    val out = Files.createTempDirectory("job_out").toString
    val ckpt = Files.createTempDirectory("job_ckpt").toString
    def sqlTick(ticker: String, price: Double, t: String) =
      s"""{"utc":"$t","ticker":"$ticker","price":$price}"""
    // three files processed oldest-first (one per micro-batch) so the
    // watermark advances across batches and closes the first two windows
    val files = Seq(
      "a.json" -> Seq(sqlTick("AAPL", 10.0, "2024-01-01 00:00:10.000"),
        sqlTick("AAPL", 12.0, "2024-01-01 00:00:50.000"),
        sqlTick("MSFT", 20.0, "2024-01-01 00:01:10.000")),
      "b.json" -> Seq(sqlTick("AAPL", 30.0, "2024-01-01 00:05:00.000")),
      "c.json" -> Seq(sqlTick("AAPL", 31.0, "2024-01-01 00:06:00.000")))
    files.zipWithIndex.foreach { case ((name, lines), i) =>
      val p = Paths.get(s"$in/$name")
      Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(1000000L + i * 10000L))
    }

    val ticks = TickSource.fileJson(spark, in, "SQL", maxFilesPerTrigger = Some(1))
    val q = TickSink.start(StreamingQueries.candlestick(ticks),
      TickSink.PartitionedParquet(out, ckpt), availableNow = true)
    q.awaitTermination(60000)

    val result = spark.read.parquet(out)
    val got = result.collect()
      .map(r => (r.getAs[String]("ticker"), r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[Double]("min_price"), r.getAs[Double]("max_price"))).toSet
    assert(got.contains(("AAPL", ts("2024-01-01 00:00:00"), 10.0, 12.0)))
    assert(got.contains(("MSFT", ts("2024-01-01 00:01:00"), 20.0, 20.0)))
    // kinesis-sink stand-in contract: output is partitioned by ticker
    assert(Files.exists(Paths.get(s"$out/ticker=AAPL")))
    assert(Files.exists(Paths.get(s"$out/ticker=MSFT")))
  }

  test("reference candlestick survives a restart and a changelog replay on RocksDB") {
    // through TickSink.start, so RocksDB commits changelog files
    // (Posture.streamingConfs): run 1 stops after three file batches, run 2
    // restarts as-is, run 3 restarts with the last commit record deleted,
    // so that batch re-runs on state rebuilt from the changelog. No-data
    // batches are off so that the torn last batch is a data batch.
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_cdl").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    Files.createDirectories(Paths.get(in))
    def writeMinute(m: Int): Unit = {
      val p = Paths.get(f"$in/m$m%02d.json")
      Files.write(p, (for (s <- 0 until 60 by 7; t <- Seq("AAPL", "MSFT")) yield {
        val price = (m * 31 + s * 7 + t.length) % 89
        f"""{"utc":"2024-01-01 00:$m%02d:$s%02d.000","ticker":"$t","price":$price.5}"""
      }).mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(1000000L + m * 10000L))
    }
    // every attempt's progress: the checkpoint lock of the previous run is
    // released on the listener bus, so a restart may need a retry
    def runOnce(attempts: Int = 40): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val ticks = TickSource.fileJson(spark, in, "SQL", maxFilesPerTrigger = Some(1))
      val q = TickSink.start(StreamingQueries.candlestick(ticks),
        TickSink.PartitionedParquet(out, ckpt), availableNow = true)
      try { q.awaitTermination(); q.stop(); q.recentProgress.toSeq }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("concurrently using") && attempts > 0 =>
          Thread.sleep(250); q.recentProgress.toSeq ++ runOnce(attempts - 1)
      }
    }
    def lastCommit(): java.io.File = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    val runs = Cbo.withConfs(spark,
      RocksDb :+ ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
      (0 until 3).foreach(writeMinute)
      val first = runOnce()
      (3 until 5).foreach(writeMinute)
      val second = runOnce()
      val torn = lastCommit()
      assert(torn.delete())
      writeMinute(5)
      val third = runOnce()
      // the replayed batch reports no progress; its commit record does
      assert(torn.exists(), "run 3 re-ran and re-committed the torn batch")
      assert(third.map(p => (p.batchId, p.numInputRows)) ===
        Seq((torn.getName.toLong + 1, 18L)), "then ran the new file's batch")
      Seq(first, second, third)
    }
    val changelogs = Files.walk(Paths.get(s"$ckpt/state")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".changelog"))
    assert(changelogs > 0, "RocksDB commits wrote changelog files")
    val wm = runs.flatten.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.sql.Timestamp.from(java.time.Instant.parse(w))).max
    val twin = Windows.candlestick(TickSource.fileJsonBatch(spark, in), tsCol = "utc",
      keyCol = "ticker", valCol = "price")
    val closed = twin.where(col("window_end") <= lit(wm))
    val got = spark.read.parquet(out).select(twin.columns.map(col).toIndexedSeq: _*)
    assert(closed.count() >= 6, "at least minutes 0-2 closed for both tickers")
    assert(got.count() === closed.count(), "no window emitted twice")
    assert(got.exceptAll(closed).isEmpty && closed.exceptAll(got).isEmpty)
  }

  test("a repeated reference drain compiles nothing: both queries' tasks share one class loader") {
    // With artifact isolation on, each query's cloned session gets its own
    // executor class loader, and the codegen cache, keyed on that loader,
    // misses for every class the second drain generates. Posture turns it
    // off (Posture.streamingConfs); each drain below starts a fresh query
    // on a fresh temporary checkpoint.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.metrics.source.CodegenMetrics
    val in = Files.createTempDirectory("graft_cg").toString
    Files.write(Paths.get(s"$in/ticks.json"),
      (for (m <- 0 until 4; s <- 0 until 60 by 11; t <- Seq("AAPL", "MSFT")) yield
        f"""{"utc":"2024-01-01 00:$m%02d:$s%02d.000","ticker":"$t",""" +
          s""""price":${(m * 13 + s + t.length) % 50}.5}""")
        .mkString("\n").getBytes("UTF-8"))
    // (rows, task context class loaders) of one drain; sends run in the
    // query's tasks, and local mode shares the JVM with StreamingSpec.sends
    def drain(): (Seq[String], Set[ClassLoader]) = {
      StreamingSpec.sends.clear()
      val q = TickSink.start(
        StreamingQueries.candlestick(TickSource.fileJson(spark, in, "SQL")),
        TickSink.KeyedBatched(100, Nil, ";", (_, rows) => rows.foreach(r =>
          StreamingSpec.sends.add(Thread.currentThread.getContextClassLoader -> r.toString))),
        availableNow = true)
      q.awaitTermination(60000)
      val sent = StreamingSpec.sends.asScala.toSeq
      (sent.map(_._2).sorted, sent.map(_._1).toSet)
    }
    val (rows1, loaders1) = drain()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (rows2, loaders2) = drain()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0 === 0,
      "the second drain reuses every generated class")
    assert(rows1.size === 6, "minutes 0-2 closed for both tickers")
    assert(rows2 === rows1)
    assert(loaders1.size === 1 && loaders2 === loaders1)
  }

  test("exactly-once sink: replay after a torn commit writes no duplicate rows") {
    // Crash window: the job dies AFTER the sink wrote batch N's files but
    // BEFORE the checkpoint recorded N — on restart Spark replays N, and a
    // plain file sink would land the rows twice. Simulate exactly that by
    // deleting the newest record in <ckpt>/commits between two runs over
    // the same input, and pin that the manifest-committed row set still
    // equals the input set.
    val dir = java.nio.file.Files.createTempDirectory("graft_e1s").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    for (f <- 0 until 3) {
      val rows = (0 until 3)
        .map(i => s"""{"id":${f * 3 + i},"v":"r${f * 3 + i}"}""")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/f$f.json"),
        rows.mkString("\n").getBytes)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    // the checkpoint-path lock is released on the async listener bus after
    // termination, so an immediate restart can transiently see "multiple
    // streaming queries are concurrently using" — retry until it clears
    def runOnce(attempts: Int = 40): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val q = TickSink.start(src, TickSink.ExactlyOnceParquet(out, ckpt),
        availableNow = true)
      try { q.awaitTermination(); q.stop() }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("concurrently using") && attempts > 0 =>
          Thread.sleep(250); runOnce(attempts - 1)
      }
    }
    runOnce()
    val first = TickSink.committedRows(spark, out)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(first === (0L until 9L).toArray, "all input rows committed once")
    // tear the last checkpoint commit: Spark will replay that batch id
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.length >= 2, "file-per-trigger must yield multiple batches")
    assert(commits.last.delete())
    runOnce()
    val after = TickSink.committedRows(spark, out)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(after === (0L until 9L).toArray,
      "the replayed batch must not duplicate rows")
    // the manifest still lists each batch exactly once
    val manifested = new java.io.File(s"$out/_manifest").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(manifested === (0 until commits.length).toArray)
  }

  test("job config: reference property-group shape round-trips") {
    val conf = JobConfig.parse("""[
      {"PropertyGroupId": "consumer.config.0",
       "PropertyMap": {"input.stream.name": "in", "flink.stream.initpos": "LATEST",
         "flink.sliding_window.over": "8.hours", "flink.sliding_window.every": "1.minutes",
         "flink.sliding_window.on": "utc", "json.timestamp_format_standard": "SQL"}},
      {"PropertyGroupId": "producer.config.0",
       "PropertyMap": {"output.stream.name": "out", "shard.count": "1"}}]""")
    assert(conf.inputStreamName === Some("in"))
    assert(conf.outputStreamName === Some("out"))
    assert(conf.windowOver === "8 hours")
    assert(conf.windowEvery === "1 minutes")
    assert(conf.timestampStandard === "SQL")
    assert(Tick.timestampFormat(conf.timestampStandard) === Tick.TsFormatSql)
    assert(Tick.timestampFormat("ISO-8601") === Tick.TsFormatIso)
    assert(conf.group("missing") === Map.empty)
  }

  test("batched sink groups per PARTITION on executors, like collection-max-count") {
    val dir = java.nio.file.Files.createTempDirectory("ticks2").toString
    val lines = (1 to 7).map(i =>
      s"""{"utc":"2024-01-01 00:00:0$i.000","ticker":"T","price":$i.0}""").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"), lines.getBytes("UTF-8"))

    // accumulator (not a closure-captured buffer): sends happen inside
    // executor tasks, and the partition tag proves batching is per-partition
    val sends = spark.sparkContext.collectionAccumulator[(Int, Int)]("sends")
    val q = TickSink.start(
      TickSource.fileJson(spark, dir, "SQL").repartition(3),
      TickSink.KeyedBatched(3, Nil, ";", (_, rows) => sends.add(
        (org.apache.spark.TaskContext.getPartitionId(), rows.size))),
      availableNow = true)
    q.awaitTermination(30000)
    val got = scala.jdk.CollectionConverters.ListHasAsScala(sends.value).asScala.toSeq
    assert(got.map(_._2).sum === 7)
    assert(got.forall(_._2 <= 3), s"every send respects max-count: $got")
    assert(got.map(_._1).distinct.size > 1,
      s"sends must come from multiple partitions, not a driver drain: $got")
  }

  test("keyed batched sink: one stream key per send, delimiter-joined fields") {
    val dir = java.nio.file.Files.createTempDirectory("ticks4").toString
    val lines = (1 to 5).map(i =>
      s"""{"utc":"2024-01-01 00:00:0$i.000","ticker":"AAPL","price":1.0}""") ++
      Seq("""{"utc":"2024-01-01 00:00:06.000","ticker":"MSFT","price":2.0}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    val sends = spark.sparkContext.collectionAccumulator[(String, Int)]("keyed")
    val q = TickSink.start(
      TickSource.fileJson(spark, dir, "SQL"),
      TickSink.KeyedBatched(2, Seq("ticker", "price"), ";",
        (key, rows) => sends.add((key, rows.size))),
      availableNow = true)
    q.awaitTermination(30000)
    val got = scala.jdk.CollectionConverters.ListHasAsScala(sends.value).asScala.toSeq
    assert(got.map(_._2).sum === 6)
    assert(got.forall(_._2 <= 2), s"collection-max-count respected per key: $got")
    // partition key = fields joined by the sink.partitioner-field-delimiter
    assert(got.map(_._1).toSet === Set("AAPL;1.0", "MSFT;2.0"), got.toString)
    assert(got.filter(_._1 == "AAPL;1.0").map(_._2).sum === 5)
  }

  test("console changelog sink frames append rows as +I[...] like the golden logs") {
    val dir = java.nio.file.Files.createTempDirectory("ticks3").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      Seq("""{"utc":"2024-01-01 00:00:01.000","ticker":"AAPL","price":10.5}""",
        """{"utc":"2024-01-01 00:00:02.000","ticker":"MSFT","price":20.0}""")
        .mkString("\n").getBytes("UTF-8"))
    val out = spark.sparkContext.collectionAccumulator[String]("changelog")
    val q = TickSink.start(
      TickSource.fileJson(spark, dir, "SQL")
        .select($"ticker", $"price"),
      TickSink.ConsoleChangelog(s => out.add(s)),
      availableNow = true)
    q.awaitTermination(30000)
    val got = scala.jdk.CollectionConverters.ListHasAsScala(out.value).asScala.toSet
    assert(got === Set("+I[AAPL, 10.5]", "+I[MSFT, 20.0]"))
  }

  test("golden-log byte parity: changelog rows match the reference README samples") {
    // Reference README golden logs, byte-for-byte: tumbling row
    // `+I[AAPL, 2022-07-20T20:56, 2022-07-20T20:57, 65.29, 93.06, 0.0, 99.71]`
    // (README.md:211-226) and sliding row `+I[AMZN, 0.75, 2022-06-06T19:30]`
    // (README.md:139-163) — Flink's LocalDateTime/Double rendering.
    def runChangelog(out: DataFrame => DataFrame, batches: Seq[Seq[String]]): Set[String] = {
      val acc = spark.sparkContext.collectionAccumulator[String]("golden")
      val input = MemoryStream[String]
      val q = TickSink.start(
        out(parsedTicks(input)), TickSink.ConsoleChangelog(acc.add(_)))
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSet
    }

    val tumbled = runChangelog(StreamingQueries.candlestick(_), Seq(
      Seq(tickJson("AAPL", 65.29, "2022-07-20T20:56:05.000"),
        tickJson("AAPL", 0.0, "2022-07-20T20:56:20.000"),
        tickJson("AAPL", 99.71, "2022-07-20T20:56:40.000"),
        tickJson("AAPL", 93.06, "2022-07-20T20:56:50.000")),
      Seq(tickJson("AAPL", 1.0, "2022-07-20T20:58:30.000"))))
    assert(tumbled.contains(
      "+I[AAPL, 2022-07-20T20:56, 2022-07-20T20:57, 65.29, 93.06, 0.0, 99.71]"),
      s"missing golden tumbling row in: $tumbled")

    val slid = runChangelog(StreamingQueries.slidingMin(_), Seq(
      Seq(tickJson("AMZN", 0.75, "2022-06-06T19:28:30.000"),
        tickJson("AMZN", 0.9, "2022-06-06T19:29:15.000")),
      Seq(tickJson("AMZN", 5.0, "2022-06-06T19:32:00.000"))))
    assert(slid.contains("+I[AMZN, 0.75, 2022-06-06T19:30]"),
      s"missing golden sliding row in: $slid")
  }

  test("job status surface: statusLine and progressLine read like the reference's poll") {
    val input = MemoryStream[String]
    val name = freshName()
    val q = parsedTicks(input).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData(Seq(tickJson("AAPL", 1.0, "2024-01-01T00:00:01.000")))
      q.processAllAvailable()
      val line = JobStatus.statusLine(q)
      assert(line.contains(s"job $name") && line.contains("active=true") &&
        line.contains("message="), line)
      val prog = JobStatus.progressLine(q)
      assert(prog.isDefined && prog.get.contains("batch="), prog.toString)
    } finally q.stop()
    assert(JobStatus.statusLine(q).contains("active=false"))
  }

  test("streaming parity: fingerprints and exact dedup agree with their batch twins") {
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val data = Seq((1L, "a  b\tc"), (2L, " a b c "), (3L, "a b d"))
    val streamed = runStream(input, graft.operators.TextAnalysis.fingerprints(docs),
      Seq(data)).map(_.toSeq).toSet
    val batch = graft.operators.TextAnalysis.fingerprints(
      data.toDF("doc_id", "text")).collect().map(_.toSeq).toSet
    assert(streamed === batch, "projection operators must be mode-agnostic")

    // exact dedup is a grouped aggregate: complete mode over the stream
    // must converge to the batch answer
    val evIn = MemoryStream[(Long, Long, String, Double)]
    val evStream = evIn.toDF().toDF("event_id", "user_id", "event_type", "value")
    val evData = Seq((1L, 10L, "click", 1.5), (2L, 10L, "click", 9.9), (3L, 11L, "view", 2.0))
    val name = freshName()
    val q = graft.operators.Dedup.exactDedup(evStream).writeStream
      .outputMode("complete").format("memory").queryName(name).start()
    try { evIn.addData(evData); q.processAllAvailable() } finally q.stop()
    val got = spark.table(name).collect().map(_.toSeq).toSet
    val batchDedup = graft.operators.Dedup.exactDedup(
      evData.toDF("event_id", "user_id", "event_type", "value")).collect().map(_.toSeq).toSet
    assert(got === batchDedup)
  }

  test("scala simhash32 equals the SQL simhash expression on the real corpus") {
    // The streaming operator computes fingerprints in JVM code; the batch
    // operator in SQL expressions. Pin them equal doc-for-doc on the real
    // corpus — stronger than the pair-level parity below, which could
    // mask compensating drifts under the hamming threshold.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sql = graft.operators.Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, tx) =>
      assert(StreamingQueries.simhash32(tx) === sql(id),
        s"fingerprint drift on doc $id")
    }
  }

  test("streaming simhash near-dup pairs equal the batch operator, out of order") {
    import StreamingQueries.SimhashDoc
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      1L -> base,
      2L -> base, // identical to 1: hamming 0
      3L -> (base + " tail"), // near-dup of the pair
      4L -> "a completely different set of tokens with nothing shared here",
      5L -> (base + " extra trailing words"),
      6L -> "another unrelated document body entirely disjoint from everything")
    val times = Map(
      1L -> "2024-01-01 00:00:05", 2L -> "2024-01-01 00:00:01",
      3L -> "2024-01-01 00:00:06", 4L -> "2024-01-01 00:00:02",
      5L -> "2024-01-01 00:00:04", 6L -> "2024-01-01 00:00:03")
    def doc(id: Long) = SimhashDoc(id, corpus.toMap.apply(id),
      java.sql.Timestamp.valueOf(times(id)))
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[SimhashDoc]
      val out = StreamingQueries.simhashPairsStream(spark, input.toDS()).toDF()
      // delivery order deliberately violates event-time order (doc 2, the
      // EARLIEST event and half of the hamming-0 pair, arrives last) while
      // staying inside the watermark delay
      val rows = runStream(input, out,
        Seq(Seq(doc(1), doc(3)), Seq(doc(4), doc(6)), Seq(doc(5), doc(2))))
      val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
      val batch = graft.operators.Dedup.simhashNearDupPairs(
        corpus.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === batch, "stream pairs must equal the batch operator's")
      assert(got.contains((1L, 2L, 0L)), "identical docs pair at hamming 0")
      assert(got.size >= 3, s"the clustered corpus must yield its near-dups: $got")
    }
  }

  test("streaming phash near-dup pairs equal the batch operator, out of order") {
    import StreamingQueries.SimhashDoc
    // fingerprint parity first: the streaming Scala twin must equal the
    // batch decode-and-hash chain on the real corpus
    val corpus0 = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val batchFp = graft.operators.Multimodal.aHash(spark, corpus0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus0.collect().map(r => r.getLong(0) -> r.getString(1)).foreach {
      case (id, tx) =>
        assert(StreamingQueries.ahash64(tx) === batchFp(id),
          s"fingerprint drift on doc $id")
    }
    // then pair-level parity under out-of-order arrival
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      1L -> base,
      2L -> base, // identical: hamming 0
      3L -> (base + " t"), // one trailing byte moves few plane cells
      4L -> "a completely different set of tokens with nothing shared here",
      5L -> "another unrelated document body entirely disjoint from everything")
    val times = Map(
      1L -> "2024-01-01 00:00:05", 2L -> "2024-01-01 00:00:01",
      3L -> "2024-01-01 00:00:06", 4L -> "2024-01-01 00:00:02",
      5L -> "2024-01-01 00:00:03")
    def doc(id: Long) = SimhashDoc(id, corpus.toMap.apply(id),
      java.sql.Timestamp.valueOf(times(id)))
    Cbo.withConfs(spark, RocksDb) {
      val input = MemoryStream[SimhashDoc]
      val out = StreamingQueries.phashPairsStream(spark, input.toDS()).toDF()
      val rows = runStream(input, out,
        Seq(Seq(doc(1), doc(3)), Seq(doc(4), doc(5)), Seq(doc(2))))
      val got = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSet
      val batch = graft.operators.Multimodal.phashPairs(
        spark, corpus.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === batch, "stream pairs must equal the batch operator's")
      assert(got.contains((1L, 2L, 0L)), "identical images pair at hamming 0")
    }
  }

  test("running join stats: after every batch the sink equals the batch " +
    "recompute of the true self-join size") {
    val input = MemoryStream[Long]
    val out = StreamingQueries.runningJoinStats(spark, input.toDS())
    val name = freshName()
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    val batches = Seq(
      Seq(1L, 1L, 2L),       // counts 1->2, 2->1: sum(c^2) = 4 + 1 = 5
      Seq(2L, 3L),           // 2->2, 3->1: 4 + 4 + 1 = 9
      Seq(1L, 1L, 1L, 4L))   // 1->5, 4->1: 25 + 4 + 1 + 1 = 31
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      var fed = Seq.empty[Long]
      batches.foreach { b =>
        input.addData(b); q.processAllAvailable()
        fed = fed ++ b
        val got = spark.table(name).collect().map(_.getLong(0))
        assert(got.length === 1)
        seen += got.head
        val brute = fed.groupBy(identity).values
          .map(v => v.size.toLong * v.size).sum
        assert(got.head === brute, s"after batch $b")
      }
    } finally q.stop()
    assert(seen.toSeq === Seq(5L, 9L, 31L))
  }

  test("k-anonymity stream: after every batch the histogram equals the " +
    "batch gauge over everything ingested") {
    import StreamingQueries.QiRecord
    val input = MemoryStream[QiRecord]
    val out = StreamingQueries.kAnonymityStream(spark, input.toDS(), k = 5)
    val name = freshName()
    val q = out.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    // the GovernanceSpec fixture shape, replayed OUT OF ORDER across
    // three batches: classes grow across batch boundaries, one class
    // crosses the risky threshold mid-stream, negatives exercise floor
    def rec(n: Long, s: String, bal: Double) =
      QiRecord(n, s, math.floor(bal / 1000.0).toLong)
    val batches = Seq(
      Seq(rec(1, "A", 500.0), rec(1, "A", 1500.0), rec(2, "B", 10.0)),
      Seq(rec(1, "A", 1500.0), rec(1, "A", 1700.0), rec(1, "A", 999.0)),
      Seq(rec(1, "A", 1600.0), rec(1, "A", 1800.0), rec(2, "A", -500.0),
        rec(1, "A", 400.0)))
    try {
      var fed = Seq.empty[QiRecord]
      batches.foreach { b =>
        input.addData(b); q.processAllAvailable()
        fed = fed ++ b
        val got = spark.table(name).collect()
          .map(r => r.getAs[Long]("class_size") ->
            ((r.getAs[Long]("n_classes"), r.getAs[Long]("n_records"),
              r.getAs[Boolean]("risky")))).toMap
        // batch twin over the ingested prefix
        val brute = fed.groupBy(r => (r.nation, r.seg, r.bal_kb))
          .values.map(_.size.toLong)
          .groupBy(identity).map { case (sz, cs) =>
            sz -> ((cs.size.toLong, sz * cs.size, sz < 5)) }
        assert(got === brute, s"after ${fed.size} records")
      }
      // final state: (1,A,0kb) x3, (1,A,1kb) x5, (2,B,0) x1, (2,A,-1) x1
      val fin = spark.table(name).collect()
        .map(r => r.getAs[Long]("class_size") ->
          ((r.getAs[Long]("n_classes"), r.getAs[Boolean]("risky")))).toMap
      assert(fin === Map(
        1L -> ((2L, true)), 3L -> ((1L, true)), 5L -> ((1L, false))))
    } finally q.stop()
  }

  test("ann-index maintenance: streamed micro-batches land in replay slots, " +
    "the fold serves base ∪ streamed exactly") {
    import StreamingQueries.AnnVec
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings")
    val top = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val (cut, mid) = (top * 8L / 10L, top * 9L / 10L)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ann_stream").toString
    val (dir, streamRoot) = (s"$root/index", s"$root/window")
    Similarity.writeIvfPqIndexFull(emb.filter(col("vec_id") < cut), dir)
    def vecsOf(df: DataFrame): Seq[AnnVec] = df
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => AnnVec(r.getLong(0), r.getSeq[Float](1))).toSeq
    val b1 = vecsOf(emb.filter(col("vec_id") >= cut && col("vec_id") < mid))
    val b2 = vecsOf(emb.filter(col("vec_id") >= mid))
    val input = MemoryStream[AnnVec]
    val q = StreamingQueries.annIndexMaintained(
      spark, input.toDS(), dir, streamRoot).start()
    try {
      Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // each micro-batch externalized one batch-keyed replay slot
    val parts = new java.io.File(streamRoot).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(parts === Set("batch=0", "batch=1"))
    // the fold set-merges the window into the served artifact; frozen
    // codebooks make the result row-identical to one-shot indexing of
    // the full corpus, so the SEARCH is too
    Similarity.foldStreamPostings(spark, dir, streamRoot)
    assert(!new java.io.File(streamRoot).exists())
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val served = ranked(Similarity.annIvfPqAppended(emb, dir))
    assert(served === ranked(Similarity.annIvfPqPersisted(emb, dir)) &&
      served.nonEmpty,
      "stream-maintained index must serve exactly the one-shot search")
  }

  test("synthetic generators match the producer record shape") {
    assert(TickSource.rateSynthetic(spark).schema.fieldNames.toSeq ===
      Seq("ticker", "price", "utc"))
    val batch = TickSource.syntheticBatch(spark, 8)
    assert(batch.schema.fieldNames.toSeq === Tick.producerSchema.fieldNames.toSeq)
    val rows = batch.collect()
    assert(rows.map(_.getAs[String]("ticker")).toSet === Tick.tickers.toSet)
    assert(rows.forall { r => val p = r.getAs[Double]("price"); p >= 0 && p < 100 })
    // seeded determinism
    assert(TickSource.syntheticBatch(spark, 8).collect().toSeq === rows.toSeq)
  }

  // ---- the job mains, driven through the one job lifecycle ----------------

  /** Run `job` through [[JobRunner.start]] with `--once` into a fresh
    * `parquet:` sink on the mains' RocksDB store, checking it registered
    * its view. Returns the sink's output directory and the query.
    */
  private def runJob(job: JobRunner.Job, args: String*): (String, StreamingQuery) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toString
    spark.catalog.dropTempView(job.view)
    val q = Cbo.withConfs(spark, RocksDb) {
      val q = JobRunner.start(spark, job,
        (args.toSeq ++ Seq(s"parquet:$dir/out:$dir/ckpt", "--once")).toArray)
      try q.awaitTermination() finally q.stop()
      q
    }
    assert(spark.catalog.tableExists(job.view), s"${job.main} registers ${job.view}")
    (s"$dir/out", q)
  }

  /** The `col=` directory names directly under a parquet sink's output. */
  private def partitionDirs(out: String): Set[String] =
    new java.io.File(out).list().filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSet

  private def writeLines(dir: String, lines: Seq[String]): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("tick job mains: closed windows equal their Windows batch twins, partitioned by ticker") {
    val in = writeLines(
      java.nio.file.Files.createTempDirectory("graft_ticks").toString + "/in",
      for (i <- 0 until 36; t <- Seq("AAPL", "MSFT")) yield {
        val utc = f"2024-01-01 00:${i * 10 / 60}%02d:${i * 10 % 60}%02d.000"
        s"""{"utc":"$utc","ticker":"$t","price":${(i * 37 + t.length * 11) % 97}.25}"""
      })
    val conf = JobConfig.load("conf/application_properties.json")
    val ticks = TickSource.fileJsonBatch(spark, in, conf.timestampStandard)
    Seq(
      TumblingWindowJob.job -> ((Windows.candlestick(ticks, tsCol = "utc",
        keyCol = "ticker", valCol = "price"), "window_end")),
      SlidingWindowJob.job -> ((Windows.slidingMin(ticks, tsCol = "utc",
        keyCol = "ticker", valCol = "price", over = conf.windowOver,
        every = conf.windowEvery), "t"))
    ).foreach { case (job, (twin, endCol)) =>
      val (out, q) = runJob(job, "conf/application_properties.json", in)
      assert(partitionDirs(out) === Set("ticker"), job.main)
      val wm = q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.sql.Timestamp.from(java.time.Instant.parse(w))).max
      val closed = twin.where(col(endCol) <= lit(wm))
      val got = spark.read.parquet(out).select(twin.columns.map(col).toIndexedSeq: _*)
      assert(closed.count() > 0 && got.count() === closed.count(), job.main)
      assert(got.exceptAll(closed).isEmpty && closed.exceptAll(got).isEmpty, job.main)
    }
  }

  test("DocPipelineJob writes curated docs partitioned by lang_pred, honouring --min-score") {
    val in = writeLines(
      java.nio.file.Files.createTempDirectory("graft_docs").toString + "/in",
      Seq(
        (1L, "the cat sat on the mat and it is in the house for a nap", "en"),
        (2L, "the cat sat on the mat and it is in the house for a nap", "en"),
        (3L, "a dog ran to the park and it is fast on the grass", "en"),
        (4L, "der hund und die katze ist nicht mit ich zu das haus", "de"),
        (5L, "12345 67890", "en")
      ).map { case (id, t, l) =>
        s"""{"doc_id":$id,"text":"$t","lang":"$l","source":"web"}"""
      })
    // the batch form of the curation chain (batch frames take plain dedup)
    val expected = graft.operators.TextAnalysis.enrich(
        spark.read.schema(DocPipeline.docSchema).json(in))
      .dropDuplicates("fp").filter(col("quality_score") >= 0.2)
      .select("lang_pred", "fp").collect().toSet
    val (out, _) = runJob(DocPipelineJob.job, in, "--min-score=0.2")
    assert(partitionDirs(out) === Set("lang_pred"))
    val got = spark.read.parquet(out)
    assert(got.select("lang_pred", "fp").collect().toSet === expected)
    assert(expected.map(_.getString(0)) === Set("en", "de"),
      "the German doc passes only at the flag's 0.2, not the 0.3 default")
    assert(got.count() === 3L, "one of the exact duplicates and the digits-only doc drop")
  }

  test("NearDupJob writes its pair stream unpartitioned through a parquet sink") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val in = writeLines(
      java.nio.file.Files.createTempDirectory("graft_neardup").toString + "/in",
      Seq(
        s"""{"doc_id":1,"text":"$text","utc":"2024-01-01T00:00:01"}""",
        """{"doc_id":5,"text":"another unrelated document body entirely disjoint","utc":"2024-01-01T00:00:02"}""",
        s"""{"doc_id":2,"text":"$text","utc":"2024-01-01T00:00:03"}"""))
    val (out, _) = runJob(NearDupJob.job, in)
    assert(partitionDirs(out).isEmpty)
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq === Seq("doc_a", "doc_b", "hamming", "pair_ts"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 0L)))
  }

  test("GridFillJob writes its bucket grid partitioned by event_type") {
    val in = writeLines(
      java.nio.file.Files.createTempDirectory("graft_gridfill").toString + "/in",
      // the last pair only advances the watermark past bucket 4
      Seq(("a", "00:01:40", 2.0), ("a", "00:03:20", 4.0), ("b", "00:02:00", 5.0),
        ("a", "01:01:40", 7.0), ("b", "01:01:40", 1.0),
        ("a", "01:31:40", 9.0), ("b", "01:31:40", 9.0)).map { case (t, hms, v) =>
        s"""{"event_type":"$t","utc":"2024-01-01T$hms","value":$v}"""
      })
    val (out, _) = runJob(GridFillJob.job, in, "--watermark=0 seconds")
    assert(partitionDirs(out) === Set("event_type"))
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bus")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("value_filled"), r.getAs[Boolean]("filled")))
      .toMap
    val widthUs = 15L * 60 * 1000000L
    val base = ts("2024-01-01 00:00:00").getTime * 1000L
    // per type: observed bucket 0, carried gaps 1..3, observed bucket 4
    assert(got.size === 10, got.toString)
    Seq(("a", 2L, 3.0, 7.0), ("b", 1L, 5.0, 1.0)).foreach { case (t, n0, avg0, v4) =>
      assert(got((t, base)) === ((n0, avg0, false)), t)
      (1 to 3).foreach { i =>
        assert(got((t, base + i * widthUs)) === ((0L, avg0, true)), s"$t gap $i")
      }
      assert(got((t, base + 4 * widthUs)) === ((1L, v4, false)), t)
    }
  }

  test("job mains reject an unknown flag and a missing argument before any query starts") {
    val active = spark.streams.active.length
    val unknown = intercept[IllegalArgumentException] {
      JobRunner.start(spark, DocPipelineJob.job, Array("/nonexistent", "--min_score=0.5"))
    }
    assert(unknown.getMessage.contains("DocPipelineJob") &&
      unknown.getMessage.contains("--min_score=0.5") &&
      unknown.getMessage.contains("usage:") && unknown.getMessage.contains("--min-score="),
      unknown.getMessage)
    val missing = intercept[IllegalArgumentException] {
      JobRunner.start(spark, TumblingWindowJob.job, Array("conf/application_properties.json"))
    }
    assert(missing.getMessage.contains("TumblingWindowJob") &&
      missing.getMessage.contains("<inputDir>"), missing.getMessage)
    assert(spark.streams.active.length === active)
  }

  test("only JobRunner builds a session, parses a sink spec or awaits a query under graft/streaming") {
    val owned = Seq("Posture.session()", "awaitTermination(", "parseSink(")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    val root = java.nio.file.Paths.get("src/main/scala/graft/streaming")
    val offenders = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(root).iterator()).asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Jobs.scala")
      .flatMap { p =>
        scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(p))
          .asScala.map(code).flatMap(l => owned.filter(l.contains)).map(o => s"${p.getFileName}: $o")
      }.toSeq
    assert(offenders.isEmpty, s"job lifecycle outside JobRunner: ${offenders.mkString(", ")}")
    val jobs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(root.resolve("Jobs.scala"))).asScala.map(code)
    Seq("Posture.session()", "awaitTermination(").foreach { o =>
      assert(jobs.count(_.contains(o)) === 1, s"$o once, in JobRunner.run")
    }
  }
}

object StreamingSpec {
  /** Sends recorded by a test's sink callback, with the context class
    * loader of the task that made them.
    */
  val sends = new java.util.concurrent.ConcurrentLinkedQueue[(ClassLoader, String)]()
}
