package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.cosine_sim
import graft.operators.{Similarity, Sketches, TimeSeries}

/** Tests for the native Catalyst expression, its SQL registration through
  * GraftExtensions, and the operators built on it.
  */
class FunctionsSpec extends GraftSpec {
  import spark.implicits._

  private def vecsDf = Seq(
    (1L, Array(1.0, 2.0, 3.0)),
    (2L, Array(1.0, 2.0, 3.0)),
    (3L, Array(-1.0, -2.0, -3.0)),
    (4L, Array(3.0, -1.0, 0.25))).toDF("vec_id", "v")

  test("cosine_sim expression: identity, negation, hand-checked value") {
    val got = vecsDf.crossJoin(vecsDf.select(col("vec_id").as("b_id"), col("v").as("b_v")))
      .select(col("vec_id"), col("b_id"), cosine_sim(col("v"), col("b_v")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(got((1L, 3L)) === -1.0)
    // same scaled-integer formula the engine pins, applied by hand:
    val dot = math.floor(1.0 * 3.0 * 1e6 + 0.5).toLong +
      math.floor(2.0 * -1.0 * 1e6 + 0.5).toLong +
      math.floor(3.0 * 0.25 * 1e6 + 0.5).toLong
    val na = math.floor(1e6 + 0.5).toLong + math.floor(4e6 + 0.5).toLong +
      math.floor(9e6 + 0.5).toLong
    val nb = math.floor(9e6 + 0.5).toLong + math.floor(1e6 + 0.5).toLong +
      math.floor(0.0625e6 + 0.5).toLong
    assert(got((1L, 4L)) === dot.toDouble / math.sqrt(na.toDouble * nb.toDouble))
  }

  test("interpreted eval matches codegen result") {
    import graft.functions.CosineSimilarity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = Literal.create(ArrayData.toArrayData(Array(3.0, -1.0, 0.25)),
      ArrayType(DoubleType))
    val b = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayType(DoubleType))
    val interpreted = CosineSimilarity(a, b).eval(null).asInstanceOf[Double]
    val viaCodegenPath = vecsDf.filter($"vec_id" === 4L)
      .crossJoin(vecsDf.filter($"vec_id" === 1L).select($"v".as("b_v")))
      .select(cosine_sim($"v", $"b_v")).head.getDouble(0)
    assert(interpreted === viaCodegenPath)
  }

  test("cosine_sim is registered for SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS s").head.getDouble(0)
    assert(r === 1.0)
  }

  test("quantized_cosine: hand value, eval↔codegen parity, null contracts, SQL") {
    import graft.functions.QuantizedCosine
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit8(xs: Long*) =
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    // dot = 3*1 + -1*2 + 2*3 = 7; norms 14 and 14 -> 7/14 = 0.5
    val interpreted = QuantizedCosine(lit8(3, -1, 2), lit8(1, 2, 3))
      .eval(null).asInstanceOf[Double]
    assert(interpreted === 0.5)
    // identical codes -> exactly 1.0; zero-norm and mismatched dims -> null
    assert(QuantizedCosine(lit8(5, -7), lit8(5, -7)).eval(null) === 1.0)
    assert(QuantizedCosine(lit8(0, 0), lit8(1, 2)).eval(null) == null)
    assert(QuantizedCosine(lit8(1, 2), lit8(1, 2, 3)).eval(null) == null)
    val viaCodegenPath = spark.sql(
      """SELECT quantized_cosine(array(3L, -1L, 2L), array(1L, 2L, 3L)) AS s""")
      .head.getDouble(0)
    assert(viaCodegenPath === interpreted)
  }

  test("embedding near-dup pairs: thresholded, ordered, score-consistent") {
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val pairs = Similarity.embeddingNearDupPairs(emb).collect()
    assert(pairs.nonEmpty, "corpus should contain same-bucket pairs above 0.35")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.35)
    }
  }

  test("single-pass candlestick Aggregator matches the four-builtin form") {
    import graft.functions.CandlestickAggregator
    val ev = Tables.load(spark, sf, "events")
    val viaAgg = ev
      .groupBy(window(col("ts"), "1 minute"), col("event_type").as("ticker"))
      .agg(CandlestickAggregator.candle(unix_micros(col("ts")), col("value")).as("c"))
      .select(col("ticker"), col("window.start").as("window_start"),
        col("c.first_price"), col("c.last_price"), col("c.min_price"), col("c.max_price"))
      .collect().map(_.toSeq).toSet
    val viaBuiltins = graft.operators.Windows.candlestick(ev)
      .select("ticker", "window_start", "first_price", "last_price", "min_price", "max_price")
      .collect().map(_.toSeq).toSet
    assert(viaAgg === viaBuiltins)
  }

  test("session windows agree with the lag/running-sum sessionizer") {
    val ev = Tables.load(spark, sf, "events")
    val sw = TimeSeries.sessionWindows(ev).collect()
    val islands = TimeSeries.sessionize(ev)
      .groupBy("user_id", "session_id").count().collect()
    assert(sw.length === islands.length, "same number of sessions")
    val swCounts = sw.map(r => (r.getLong(0), r.getLong(3))).groupBy(identity).view.mapValues(_.length).toMap
    val isCounts = islands.map(r => (r.getLong(0), r.getLong(2))).groupBy(identity).view.mapValues(_.length).toMap
    assert(swCounts === isCounts, "per-user session sizes agree")
  }

  test("session windows: two events exactly `gap` apart") {
    val ev = Seq((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:30:00")))
      .toDF("user_id", "ts")
    // Spark merges them: the first event's window [ts, ts + gap) touches
    // the second's start, and session_window merges touching windows. The
    // ts_session_window oracle opens a new session only when
    // `us - prev_us > 1800000000`, so an exact gap continues the session
    // there too; `>=` would split this pair and break the hash on any
    // user with an exact-gap pair.
    val sessions = TimeSeries.sessionWindows(ev, "30 minutes").collect()
    assert(sessions.length === 1, sessions.mkString("; "))
    assert(sessions.head.getAs[Long]("n_events") === 2L)
    assert(sessions.head.getAs[java.sql.Timestamp]("session_end") ===
      ts("2024-01-01 01:00:00"))
  }

  test("sketch distinct count tracks the exact twin within rsd tolerance") {
    val ev = Tables.load(spark, sf, "events")
    val approx = Sketches.distinctUsers(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Sketches.distinctUsersExact(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.nonEmpty && approx.keySet === exact.keySet)
    approx.foreach { case (k, a) =>
      assert(math.abs(a - exact(k)).toDouble / exact(k) < 0.05,
        s"$k: approx $a vs exact ${exact(k)}")
    }
  }

  test("quantile sketch: one scalar row per (key, q), monotone, near exact") {
    val ev = Tables.load(spark, sf, "events")
    val approx = Sketches.valueQuantiles(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val keys = approx.keys.map(_._1).toSet
    assert(approx.size === keys.size * 3, "three qs per key, scalar rows")
    keys.foreach { et =>
      assert(approx((et, 0.5)) <= approx((et, 0.95)))
      assert(approx((et, 0.95)) <= approx((et, 0.99)))
    }
    // the approx sketch must track the exact histogram percentile closely
    val exact = graft.operators.Percentiles
      .percentileDisc(ev, "event_type", "value", Seq(0.5, 0.95, 0.99)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(4)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= math.max(0.05 * math.abs(v), 1e-6),
        s"approx ${approx(k)} far from exact $v at $k")
    }
  }

  test("ewma folds in event-time order; frequent items rank with tiebreak") {
    val ev = Seq(
      (1L, 1L, "click", 10.0, ts("2024-01-01 00:00:00")),
      (2L, 1L, "click", 20.0, ts("2024-01-01 00:01:00")),
      (3L, 1L, "view", 30.0, ts("2024-01-01 00:02:00")),
      (4L, 2L, "click", 5.0, ts("2024-01-01 00:03:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val e = TimeSeries.ewma(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // same IEEE ops in the same order as the engine's fold (all rows land
    // in one band, so the banded fold degenerates to the plain sequence)
    assert(e(1L) === ((3L, 0.2 * 30.0 + 0.8 * (0.2 * 20.0 + 0.8 * 10.0))))
    assert(e(2L) === ((1L, 5.0)))

    val fi = Sketches.frequentItems(ev, k = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    // click: user 1 has 2 events, beats user 2's 1; view: only user 1
    assert(fi("click") === ((1L, 2L, 1)))
    assert(fi("view") === ((1L, 1L, 1)))
  }

  test("z-score anomalies flag the outlier, not the bulk") {
    val ev = ((1 to 50).map(i =>
      (i.toLong, 1L, "click", 10.0 + (i % 3) * 0.01, ts("2024-01-01 00:00:00"))) :+
      (99L, 1L, "click", 500.0, ts("2024-01-01 01:00:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val got = TimeSeries.anomalies(ev).collect().map(_.getLong(0)).toSet
    assert(got === Set(99L))
  }

  test("cosine_sim: mismatched-length vectors are null on both eval paths") {
    import graft.functions.CosineSimilarity
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a2 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0)),
      ArrayType(DoubleType))
    val b3 = Literal.create(ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
      ArrayType(DoubleType))
    assert(CosineSimilarity(a2, b3).eval(null) == null)
    // codegen path through a non-foldable column
    val viaDf = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b").select(cosine_sim($"a", $"b").as("s")).head
    assert(viaDf.isNullAt(0), "truncated score would be silently wrong")
  }

  test("bloom_agg/bloom_might_contain: SQL surface, no false negatives") {
    // build over 0..999, probe members and non-members through plain SQL
    // (the extension-registered functions, not the DataFrame wrappers)
    spark.range(1000).createOrReplaceTempView("bf_in")
    val bf = spark.sql(
      "SELECT bloom_agg(id, 1000L, 8000L) AS bf FROM bf_in").head.getAs[Array[Byte]](0)
    val res = spark.range(2000).toDF("id")
      .select($"id",
        graft.functions.GraftFunctions.bloom_might_contain(bf, $"id").as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 1000L).forall(res(_)), "a bloom filter has NO false negatives")
    val fp = (1000L until 2000L).count(res(_))
    assert(fp < 100, s"false-positive count $fp out of 1000 at 8 bits/item")
  }

  test("nfc_normalize: composed/decomposed unify, ascii unchanged, sql path") {
    import graft.functions.GraftFunctions.nfc_normalize
    val composed = "caf\u00e9"            // é as one code point
    val decomposed = "cafe\u0301"         // e + combining acute
    val hangulDecomp = "\u1100\u1161"     // choseong kiyeok + jungseong a
    val hangulComp = "\uac00"             // 가 precomposed
    val docs = Seq(
      (1L, composed), (2L, decomposed), (3L, "plain ascii"),
      (4L, hangulDecomp), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), nfc_normalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // NFC maps both accent spellings to the composed form
    assert(got(1L) === Some(composed))
    assert(got(2L) === Some(composed))
    // the same visible text now fingerprints identically
    assert(got(1L) === got(2L))
    assert(got(3L) === Some("plain ascii"))
    assert(got(4L) === Some(hangulComp))
    assert(got(5L) === None, "null propagates")
    // the SQL registration path (GraftExtensions) produces the same bytes
    docs.createOrReplaceTempView("nfc_docs")
    val sqlGot = spark.sql(
      "SELECT doc_id, nfc_normalize(text) AS n FROM nfc_docs")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(sqlGot === got)
    // dedup consequence: the unicode-safe fingerprint unifies the pair
    val fps = graft.operators.TextAnalysis.normalizeNfc(
      docs.filter(col("text").isNotNull))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fps(1L) === fps(2L), "NFC fingerprint must unify the spellings")
  }

  test("bounded_collect_set: dedupe, sorted output, NULL at overflow, merge-absorbing") {
    import spark.implicits._
    import graft.functions.GraftFunctions.bounded_collect_set
    // group a: 3 distinct (with dups) <= cap; group b: 4 distinct > cap 3;
    // group c: nulls ignored, singleton survives
    val rows = Seq(
      ("a", "z"), ("a", "x"), ("a", "x"), ("a", "y"),
      ("b", "p"), ("b", "q"), ("b", "r"), ("b", "s"), ("b", "p"),
      ("c", "only")) ++ Seq.empty
    // spread across many partitions so partial buffers MUST merge
    val df = rows.toDF("k", "v").repartition(7)
    val got = df.groupBy(col("k"))
      .agg(bounded_collect_set(col("v"), 3).as("names"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(got("a") === Some(List("x", "y", "z")), "deduped and UTF-8-sorted")
    assert(got("b") === None, "overflow (4 distinct > cap 3) must be NULL")
    assert(got("c") === Some(List("only")))
    // duplicates alone never overflow: 5 copies of one value, cap 1
    val dups = Seq.fill(5)(("d", "same")).toDF("k", "v").repartition(5)
    val one = dups.groupBy(col("k"))
      .agg(bounded_collect_set(col("v"), 1).as("names"))
      .collect().map(r => r.getSeq[String](1).toList)
    assert(one.head === List("same"))
    // and the SQL surface (GraftExtensions injection, S12 family)
    df.createOrReplaceTempView("bcs_rows")
    val sql = spark.sql(
      "SELECT k, bounded_collect_set(v, 3) AS names FROM bcs_rows GROUP BY k")
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(sql === got)
  }
}
