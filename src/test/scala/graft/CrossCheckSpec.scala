package graft

import graft.operators.{Joins, TimeSeries, Windows}

/** Randomized cross-checks (SURVEY.md §5.6): seeded random inputs, each
  * distributed operator compared against a direct single-machine Scala
  * re-computation of the same semantics. Catches partitioning/merge-order
  * bugs that fixed fixtures miss.
  */
class CrossCheckSpec extends GraftSpec {
  import spark.implicits._

  private def randomEvents(seed: Int, n: Int, users: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      (i.toLong, rnd.nextInt(users).toLong,
        new java.sql.Timestamp(1704067200000L + rnd.nextInt(3600000).toLong),
        math.rint(rnd.nextDouble() * 1000) / 100)
    }
  }

  test("seasonal-naive backtest agrees with brute force incl. missing days") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(7)
    // 20 days with day 9 entirely missing for key "a": forecasts that
    // would source from or target a missing day must drop, not zero-fill
    val rows = for {
      k <- Seq("a", "b")
      day <- 0 until 20 if !(day == 9 && k == "a")
      i <- 0 until (1 + rnd.nextInt(3))
    } yield (k, s"$k$day$i".hashCode.toLong,
      new java.sql.Timestamp(1704067200000L + day * 86400000L + i * 1000L),
      math.rint(rnd.nextDouble() * 1000) / 100)
    val df = rows.toDF("event_type", "event_id", "ts", "value")
    val got = TimeSeries.seasonalNaiveBacktest(
        df.select($"event_type", $"ts", $"value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // brute force
    val daily = rows.groupBy(r => (r._1, (r._3.getTime / 86400000L)))
      .map { case ((k, d), es) =>
        (k, d) -> es.map(e => math.floor(e._4 * 10000 + 0.5).toLong).sum
      }
    val expected = daily.keys.groupBy(_._1).map { case (k, _) =>
      val errs = daily.collect {
        case ((`k`, d), sq) if daily.contains((k, d - 7)) =>
          math.abs(sq - daily((k, d - 7)))
      }.toSeq
      k -> ((errs.size.toLong, errs.sum,
        errs.sum.toDouble / 10000.0 / errs.size))
    }
    assert(got === expected)
    // the missing day really removed forecast pairs (day 9 and day 16 for a)
    assert(got("a")._1 < got("b")._1)
  }

  test("asof join agrees with brute force on random event streams") {
    for (seed <- 1 to 3) {
      val left = randomEvents(seed, 120, 6)
      val right = randomEvents(seed + 100, 120, 6)
      val lDf = left.toDF("event_id", "user_id", "ts", "value")
      val rDf = right.toDF("event_id", "user_id", "ts", "value")
      val got = Joins.asofJoin(lDf, rDf).collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap

      val expected = left.flatMap { case (id, u, ts, _) =>
        val candidates = right.filter(r => r._2 == u && !r._3.after(ts))
        if (candidates.isEmpty) None
        else {
          val best = candidates.maxBy(r => (r._3.getTime, r._1))
          Some(id -> (best._1, best._4))
        }
      }.toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("gap-fill interpolation agrees with brute force on sparse random events") {
    val width = 15 * 60 * 1000000L
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // sparse: ~13 events per type over 24 buckets -> real gaps
      val events = (1 to 40).map { i =>
        (i.toLong, s"t${rnd.nextInt(3)}",
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(6 * 3600) * 1000L),
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val got = TimeSeries.gapfillInterpolate(
        events.toDF("event_id", "event_type", "ts", "value")).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap

      val expected = events.groupBy(_._2).flatMap { case (tp, es) =>
        val obs = es.groupBy(e => e._3.getTime * 1000L / width * width)
          .map { case (b, g) =>
            val sq = g.map(e => math.floor(e._4 * 10000 + 0.5).toLong).sum
            b -> (g.size.toLong, sq.toDouble / 10000.0 / g.size.toDouble)
          }
        val (b0, b1) = (obs.keys.min, obs.keys.max)
        (b0 to b1 by width).map { b =>
          (tp, b / 1000L) -> (obs.get(b) match {
            case Some((n, av)) => (n, av, false)
            case None =>
              val pb = obs.keys.filter(_ < b).max
              val nb = obs.keys.filter(_ > b).min
              val (pv, nv) = (obs(pb)._2, obs(nb)._2)
              (0L, pv + (nv - pv) * ((b - pb).toDouble / (nb - pb).toDouble), true)
          })
        }
      }
      assert(got === expected, s"seed $seed")
      assert(got.values.exists(_._3), s"seed $seed produced no gaps — weak test")
    }
  }

  test("funnel stage counts agree with brute force on random event streams") {
    val types = Seq("view", "click", "purchase", "error")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 300).map { i =>
        (i.toLong,
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(600000).toLong),
          rnd.nextInt(12).toLong, types(rnd.nextInt(types.size)))
      }
      val df = events.toDF("event_id", "ts", "user_id", "event_type")
      val got = TimeSeries.funnelSteps(df).collect().head

      def firstAfter(u: Long, tpe: String, after: Option[Long]): Option[Long] =
        events.filter(e => e._3 == u && e._4 == tpe &&
            after.forall(a => e._2.getTime > a))
          .map(_._2.getTime).minOption
      val users = events.map(_._3).distinct
      val t1 = users.flatMap(u => firstAfter(u, "view", None).map(u -> _)).toMap
      val t2 = t1.flatMap { case (u, t) => firstAfter(u, "click", Some(t)).map(u -> _) }
      val t3 = t2.flatMap { case (u, t) => firstAfter(u, "purchase", Some(t)).map(u -> _) }
      assert(got.getAs[Long]("n_view") === t1.size.toLong, s"seed $seed t1")
      assert(got.getAs[Long]("n_click_after_view") === t2.size.toLong, s"seed $seed t2")
      assert(got.getAs[Long]("n_purchase_after_click") === t3.size.toLong, s"seed $seed t3")
    }
    // strictness edge: a click at exactly the first view's ts does not count
    val edge = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 00:00:00"), 1L, "click"),
      (3L, ts("2024-01-01 00:00:01"), 1L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val e = TimeSeries.funnelSteps(edge).collect().head
    assert(e.getAs[Long]("n_view") === 1L)
    assert(e.getAs[Long]("n_click_after_view") === 0L, "same-ts click excluded")
    assert(e.getAs[Long]("n_purchase_after_click") === 0L)
  }

  test("events loads with its footer's schema: the inferred read's schema " +
    "and rows, for micros and nanos timestamps alike") {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // what the loader computed with Spark's schema inference
    def inferred(path: String) = {
      val raw = spark.read.parquet(path)
      raw.withColumn("ts", raw.schema("ts").dataType match {
        case LongType => expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast(TimestampType)
      })
    }
    def same(dir: String): Unit = {
      val got = Tables.load(spark, dir, "events")
      val exp = inferred(s"$dir/events.parquet")
      assert(got.schema === exp.schema, dir)
      assert(got.collect().toSet === exp.collect().toSet, dir)
    }
    same(sf) // the test data: TIMESTAMP(MICROS), read as TIMESTAMP_NTZ
    // the benchmark generator's shape: TIMESTAMP(NANOS), read as a Long
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    val msg = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("schema")
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
        spark.sessionState.newHadoopConf()))
      .withType(msg).build()
    try (0 until 5).foreach { i =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      g.add("event_id", i.toLong)
      g.add("ts", 1704067200000000000L + i * 1000001L)
      g.add("user_id", (i % 2).toLong)
      g.add("event_type", "view")
      g.add("value", i * 1.5)
      g.add("props", s"""{"k": $i}""")
      w.write(g)
    } finally w.close()
    same(dir)
    assert(Tables.load(spark, dir, "events").schema("ts").dataType === TimestampType)
  }

  test("retention cohorts agree with brute force on the corpus") {
    val ev = Tables.load(spark, sf, "events")
    val got = TimeSeries.retentionCohorts(ev).collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rows = ev.select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    def week(t: java.sql.Timestamp): Long = {
      val d = t.toLocalDateTime.toLocalDate
      d.minusDays(d.getDayOfWeek.getValue - 1L).toEpochDay // Monday start
    }
    val firstWeek = rows.groupBy(_._1).view
      .mapValues(es => week(es.minBy(_._2.getTime)._2)).toMap
    val userWeeks = rows.map { case (u, t) => (u, week(t)) }.toSet
    val cohorts = firstWeek.groupBy(_._2).map { case (wk, us) =>
      wk -> ((us.size.toLong,
        us.keys.count(u => userWeeks.contains((u, wk + 7))).toLong))
    }
    val gotByEpoch = got.map { case (ts, v) =>
      ts.toLocalDateTime.toLocalDate.toEpochDay -> v
    }
    assert(gotByEpoch === cohorts)
  }

  test("rolling 7-day distinct users agree with brute force on the corpus") {
    val ev = Tables.load(spark, sf, "events")
    val got = TimeSeries.rollingDistinctUsers(ev).collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1)).toMap
    val rows = ev.select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay))
    val days = rows.map(_._2).distinct
    val exp = days.map { d =>
      d -> rows.filter(r => r._2 <= d && r._2 > d - 7).map(_._1).distinct.length.toLong
    }.toMap
    assert(got === exp)
  }

  test("range join count agrees with brute force") {
    for (seed <- 1 to 3) {
      val left = randomEvents(seed, 100, 5)
      val right = randomEvents(seed + 50, 150, 5)
      val got = Joins.rangeJoinCount(
        left.toDF("event_id", "user_id", "ts", "value"),
        right.toDF("event_id", "user_id", "ts", "value"),
        windowSeconds = 600).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val expected = left.map { case (id, u, ts, _) =>
        id -> right.count(r => r._2 == u &&
          r._3.getTime >= ts.getTime - 600000L && r._3.getTime < ts.getTime).toLong
      }.toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("batch sessionize agrees with brute-force gap islands") {
    for (seed <- 1 to 3) {
      val events = randomEvents(seed, 150, 4)
      val got = TimeSeries.sessionize(
        events.toDF("event_id", "user_id", "ts", "value"), maxGapMinutes = 10)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap

      val expected = events.groupBy(_._2).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1))
        var sid = 0L
        var prev = Long.MinValue
        sorted.map { e =>
          val us = e._3.getTime * 1000L
          if (prev == Long.MinValue || us - prev > 10 * 60L * 1000000L) sid += 1
          prev = us
          e._1 -> sid
        }
      }.toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("max concurrent sessions agrees with brute-force sweep across days") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 11)
      // spread over ~3 days so the per-day carry (sessions spanning
      // midnight) is genuinely exercised, not degenerate
      val events = (1 to 200).map { i =>
        (i.toLong, rnd.nextInt(5).toLong,
          new java.sql.Timestamp(
            1704067200000L + rnd.nextInt(3 * 86400000).toLong),
          0.0)
      }
      val got = TimeSeries.maxConcurrentSessions(
        events.toDF("event_id", "user_id", "ts", "value"))
        .collect()
        .map(r => r.getDate(0).toLocalDate.toEpochDay ->
          r.getAs[Long]("max_concurrent")).toMap

      // brute: sessions as [start, end]-inclusive intervals, concurrency
      // evaluated at every delta point, per-day max over that day's points
      val sessions = events.groupBy(_._2).toSeq.flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1))
        val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var st = -1L; var prev = -1L
        sorted.foreach { e =>
          val t = e._3.getTime
          if (st < 0 || t - prev > 30 * 60000L) {
            if (st >= 0) bounds += ((st, prev))
            st = t
          }
          prev = t
        }
        if (st >= 0) bounds += ((st, prev))
        bounds
      }
      val points = sessions.flatMap(s => Seq(s._1, s._2)).distinct
      val exp = points.map { t =>
        val day = java.time.Instant.ofEpochMilli(t)
          .atOffset(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay
        day -> sessions.count(s => s._1 <= t && t <= s._2).toLong
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).max }
      assert(got === exp, s"seed $seed")
    }
  }

  test("banded lag agrees with brute force at every band width") {
    // bandSeconds=1 leaves most bands empty — stresses the carry across
    // non-adjacent bands; 86400 puts everything in one band per key
    for (seed <- 1 to 2; bandSeconds <- Seq(1L, 60L, 86400L)) {
      val events = randomEvents(seed, 150, 4)
      val df = events.map(e => (e._1, s"t${e._2}", e._4, e._3))
        .toDF("event_id", "event_type", "value", "ts")
      val got = TimeSeries.bandedLag(df, bandSeconds).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val expected = events.groupBy(_._2).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1))
        sorted.indices.map(i => sorted(i)._1 ->
          (if (i == 0) None else Some(sorted(i - 1)._4)))
      }.toMap
      assert(got === expected, s"seed $seed band $bandSeconds")
    }
  }

  test("banded lag handles pre-epoch timestamps: band is floor, not truncate") {
    // timestamps straddling 1970-01-01: integer truncation would assign
    // bands -0..0 wrongly around the epoch (e.g. -1s and +1s both band 0),
    // breaking the carry's previous-band ordering; floor keeps bands
    // monotone in ts. Brute force = plain per-key sort, so any band
    // mis-assignment that reorders the carry chain shows up as a wrong lag.
    for (seed <- 1 to 2; bandSeconds <- Seq(1L, 60L)) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 120).map { i =>
        (i.toLong, rnd.nextInt(3).toLong,
          // uniform over [-30 min, +30 min) around the epoch
          new java.sql.Timestamp(rnd.nextInt(3600000).toLong - 1800000L),
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val df = events.map(e => (e._1, s"t${e._2}", e._4, e._3))
        .toDF("event_id", "event_type", "value", "ts")
      val got = TimeSeries.bandedLag(df, bandSeconds).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val expected = events.groupBy(_._2).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.getTime, e._1))
        sorted.indices.map(i => sorted(i)._1 ->
          (if (i == 0) None else Some(sorted(i - 1)._4)))
      }.toMap
      assert(got === expected, s"seed $seed band $bandSeconds")
    }
  }

  test("banded ewma matches the sequential fold, hot key included") {
    // user 0 is a synthetic hot key (4000 events — 40× the others); the
    // banded fold must agree with the flat sequential fold to float
    // re-association error at every band width, including bandSeconds=60
    // where the hot key spans ~120 bands (the boundedness path).
    for (seed <- 1 to 2; bandSeconds <- Seq(60L, 3600L, 86400L)) {
      val rnd = new scala.util.Random(seed)
      val events = (1 to 4000).map { i =>
        (i.toLong, 0L,
          new java.sql.Timestamp(1704067200000L + i * 1800L),
          math.rint(rnd.nextDouble() * 1000) / 100)
      } ++ (4001 to 4100).map { i =>
        (i.toLong, 1L + rnd.nextInt(3).toLong,
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(7200000).toLong),
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val got = TimeSeries.ewma(
        events.toDF("event_id", "user_id", "ts", "value"),
        alpha = 0.2, bandSeconds = bandSeconds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val expected = events.groupBy(_._2).map { case (u, evs) =>
        val vals = evs.sortBy(e => (e._3.getTime, e._1)).map(_._4)
        u -> (evs.size.toLong,
          vals.tail.foldLeft(vals.head)((acc, x) => 0.2 * x + 0.8 * acc))
      }
      assert(got.keySet === expected.keySet, s"seed $seed band $bandSeconds")
      for ((u, (n, e)) <- expected) {
        assert(got(u)._1 === n, s"user $u seed $seed band $bandSeconds")
        assert(math.abs(got(u)._2 - e) <= 1e-9 * math.max(1.0, math.abs(e)),
          s"user $u seed $seed band $bandSeconds: got ${got(u)._2} want $e")
      }
    }
  }

  test("histogram percentile equals sorted-rank brute force on random data") {
    import graft.operators.Percentiles
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // small value domain forces heavy duplication — the histogram path
      val rows = (1 to 300).map(_ => (s"k${rnd.nextInt(3)}", (rnd.nextInt(20) + 1).toDouble))
      val qs = Seq(0.25, 0.5, 0.9)
      val got = Percentiles.percentileDisc(rows.toDF("key", "value"), "key", "value", qs)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(4)).toMap
      val expected = rows.groupBy(_._1).flatMap { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        qs.map(q => (k, q) -> sorted(math.ceil(sorted.size * q).toInt - 1))
      }.toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("sliding-window min agrees with brute force on random ticks") {
    for (seed <- 1 to 3) {
      val ticks = randomEvents(seed, 200, 3)
        .map(e => (s"T${e._2}", e._4, e._3))
      val got = Windows.slidingMin(
        ticks.toDF("ticker", "price", "utc"), tsCol = "utc", keyCol = "ticker",
        valCol = "price", over = "10 minutes", every = "5 minutes")
        .collect().map(r => (r.getString(0), r.getTimestamp(2).getTime) -> r.getDouble(1)).toMap

      val everyMs = 5 * 60000L
      val overMs = 10 * 60000L
      val expected = ticks
        .flatMap { case (tk, p, ts) =>
          // hopping windows [s, s+over) containing ts, stepping `every`
          val t = ts.getTime
          val lastStart = math.floorDiv(t, everyMs) * everyMs
          Iterator.iterate(lastStart)(_ - everyMs)
            .takeWhile(s => s > t - overMs)
            .map(s => (tk, s + overMs) -> p)
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      assert(got === expected, s"seed $seed")
    }
  }

  test("subsequence top-k agrees with brute force on random series") {
    val width = 15 * 60 * 1000000L
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val types = Seq("click", "view", "error")
      val events = (1 to 300).map { i =>
        (i.toLong, types(rnd.nextInt(3)),
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(30) * 900000L +
            rnd.nextInt(900000).toLong),
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val df = events.toDF("event_id", "event_type", "ts", "value")
      val got = TimeSeries.subseqTopK(df, length = 4, k = 5).collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000L,
          r.getLong(2))).toSeq
      // brute force: bucket totals -> all length-4 windows -> distances
      val tot = events.groupBy(e => (e._2, e._3.getTime * 1000L / width * width))
        .view.mapValues(_.map(e => math.floor(e._4 * 100 + 0.5).toLong).sum)
        .toMap
      // row-frame semantics like the operator: the next 4 OBSERVED
      // buckets in bus order, contiguous or not
      val wins = tot.keys.groupBy(_._1).flatMap { case (t, ks) =>
        val buses = ks.map(_._2).toSeq.sorted
        buses.sliding(4).filter(_.length == 4)
          .map(s => (t, s.head, s.map(b => tot((t, b))).toVector))
      }.toSeq
      val qwin = wins.filter(_._1 == "click").maxBy(_._2)._3
      val expected = wins
        .map { case (t, b, w) =>
          (t, b, w.zip(qwin).map { case (a, q) => (a - q) * (a - q) }.sum)
        }
        .sortBy { case (t, b, d) => (d, t, b) }.take(5)
      assert(got === expected, s"seed $seed")
    }
  }

  test("passage dedup agrees with brute force on random repetitive corpora") {
    // small vocab + short width so cross-doc AND in-doc repeats are dense
    val width = 3
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 40).map { id =>
        val n = 1 + rnd.nextInt(11)
        (id.toLong, (1 to n).map(_ => s"w${rnd.nextInt(4)}").mkString(" "))
      }
      val got = graft.operators.Dedup
        .passageDedup(docs.toDF("doc_id", "text"), width).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_passages"),
          r.getAs[Long]("n_dup_dropped"), r.getAs[Long]("n_tokens_kept"))).toMap
      // brute force: global first-occurrence by (doc_id, widx) per text
      val occ = docs.flatMap { case (id, text) =>
        val t = text.trim.toLowerCase.split("\\s+").toSeq
        val nP = math.max(1, (t.size + width - 1) / width)
        (0 until nP).map { i =>
          val slice = t.slice(i * width, i * width + width)
          (slice.mkString(" "), id, i.toLong, slice.size.toLong)
        }
      }
      val keeper = occ.groupBy(_._1).view
        .mapValues(_.minBy(o => (o._2, o._3))).toMap
      val expected = occ.groupBy(_._2).map { case (id, os) =>
        val kept = os.filter(o => keeper(o._1) == o)
        id -> (os.size.toLong, (os.size - kept.size).toLong,
          kept.map(_._4).sum)
      }
      assert(got === expected, s"seed $seed")
    }
  }

  test("global shuffle agrees with brute force and balances shards") {
    val docs = Tables.load(spark, sf, "documents")
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    def skey(id: Long, seed: Long): String =
      md.digest(s"$id#$seed".getBytes("UTF-8")).map("%02x".format(_)).mkString
    for (seed <- Seq(42L, 7L)) {
      val got = graft.operators.Packing.shuffleOrder(docs, seed).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("shard"), r.getAs[Long]("pos")))
        .toMap
      val expected = ids.map { id =>
        val k = skey(id, seed)
        (id, k, java.lang.Long.parseLong(k.substring(0, 8), 16) % 8)
      }.groupBy(_._3).flatMap { case (shard, rows) =>
        rows.sortBy(r => (r._2, r._1)).zipWithIndex.toSeq.map { case (r, i) =>
          r._1 -> (shard, i + 1L)
        }
      }
      assert(got === expected, s"seed $seed")
      // hash sharding balances: no shard more than 3x the mean
      val sizes = got.values.groupBy(_._1).view.mapValues(_.size).values
      assert(sizes.max <= 3 * (ids.length / 8 + 1), s"seed $seed balance")
    }
  }

  private def randomTypedEvents(seed: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      (i.toLong, s"t${rnd.nextInt(3)}",
        new java.sql.Timestamp(1704067200000L + rnd.nextInt(6 * 3600) * 1000L),
        math.rint(rnd.nextDouble() * 1000) / 100)
    }
  }

  test("MAD anomalies agree with brute force, including an injected spike") {
    for (seed <- 1 to 3) {
      // inject one extreme spike per type: MAD must still flag it (and the
      // spike must not mask the threshold the way it would inflate a sigma)
      val events = randomTypedEvents(seed, 150) ++ Seq(
        (901L, "t0", new java.sql.Timestamp(1704067200000L), 99999.0),
        (902L, "t1", new java.sql.Timestamp(1704067201000L), -99999.0))
      val got = TimeSeries.anomaliesMad(
        events.toDF("event_id", "event_type", "ts", "value")).collect()
        .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap

      def discMedian(vs: Seq[Double]): Double = {
        val sorted = vs.sorted
        sorted(math.ceil(sorted.size * 0.5).toInt - 1)
      }
      val expected = events.groupBy(_._2).flatMap { case (_, es) =>
        val med = discMedian(es.map(_._4))
        val mad = discMedian(es.map(e => math.abs(e._4 - med)))
        es.filter(e => math.abs(e._4 - med) > 3.0 * 1.4826 * mad)
          .map(e => e._1 -> (e._4, med, mad))
      }
      assert(got === expected, s"seed $seed")
      assert(got.contains(901L) && got.contains(902L), s"seed $seed spikes")
    }
  }

  test("banded CUSUM top drift agrees with the sequential scan, multi-day spans") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // spread over 3 days so the band decomposition actually composes
      // carries across band boundaries
      val events = (1 to 200).map { i =>
        (i.toLong, s"t${rnd.nextInt(3)}",
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(3 * 86400) * 1000L),
          math.rint(rnd.nextDouble() * 1000) / 100)
      }
      val got = TimeSeries.cusumTopDrift(
        events.toDF("event_id", "event_type", "ts", "value")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap

      val expected = events.groupBy(_._2).flatMap { case (tp, es) =>
        val ordered = es.sortBy(e => (e._3.getTime, e._1))
        val qs = ordered.map(e => math.floor(e._4 * 100 + 0.5).toLong)
        val n = qs.size.toLong
        val s = qs.sum
        var cum = 0L
        val drifts = ordered.zip(qs).zipWithIndex.map { case (((eid, _, _, _), q), i) =>
          cum += q
          (eid, n * cum - (i + 1L) * s)
        }
        drifts.sortBy { case (eid, d) => (-math.abs(d), eid) }
          .take(20).zipWithIndex
          .map { case ((eid, d), i) => (tp, eid) -> (d, i + 1L) }
      }
      assert(got === expected, s"seed $seed")
    }
  }
}
