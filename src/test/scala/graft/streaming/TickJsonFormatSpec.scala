package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.json.JSONOptionsInRead
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.IsNotNull
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.GraftSpec
import graft.operators.Windows
import graft.plans.Cbo

/** [[TickJsonFormat]] against Spark's own `format("json")`: a corpus of
  * producer lines and every shape the decoder must leave to Spark, read
  * through both formats under each parse mode, session zone, timestamp
  * standard and column subset; plus the guards that keep the producer
  * shape on the decoder's fast path.
  */
class TickJsonFormatSpec extends GraftSpec {

  private val tickFormat = classOf[TickJsonFormat].getName
  private val formats = Seq(Tick.TsFormatSql, Tick.TsFormatIso)

  private def producer(utc: String, price: String = "12.34", ticker: String = "\"AAPL\""): String =
    s"""{"utc":"$utc","type":"stock-tick","source":"datagen","ticker":$ticker,""" +
      s""""name":"synthetic","sector":"tech","industry":"software","price":$price}"""

  /** One file per entry (FAILFAST compares per file); an entry may hold
    * several lines.
    */
  private val corpus: Seq[String] = {
    val sql = "2024-01-01 00:00:10.500"
    val iso = "2024-01-01T00:00:10.500"
    val fractions = (1 to 9).flatMap(w => Seq(
      producer("2024-03-05 12:34:56." + "123456789".take(w)),
      producer("2024-03-05T12:34:56." + "123456789".take(w))))
    val dates = Seq("2024-02-30 00:00:00.000", "2023-02-29 00:00:00.000",
      "2024-02-29 23:59:59.999", "2024-01-01 24:00:00.000", "2024-01-01 00:00:60.000",
      "2024-01-01 00:60:00.000", "2024-13-01 00:00:00.000", "2024-00-10 00:00:00.000",
      "2024-01-00 00:00:00.000", "0000-01-01 00:00:00.000", "0001-01-01 00:00:00.000",
      "9999-12-31 23:59:59.999", "1969-12-31 23:59:59.999", "2024-01-01 00:00:00.000Z",
      "2024-01-01t00:00:10.500", "2024-1-01 00:00:10.500", "2024-01-01  00:00:10.50",
      // America/New_York: a DST gap (02:30 does not exist) and an overlap
      "2024-03-10 02:30:00.000", "2024-03-10T02:30:00.000",
      "2024-11-03 01:30:00.000", "2024-11-03T01:30:00.000").map(producer(_))
    val prices = Seq("1", "1e3", "1.5E-2", "-1.25e+2", "-0", "-0.0", "0", "0.1", "007",
      "NaN", "\"12.5\"", "Infinity", "+1", ".5", "1.", "1e400", "-1e-400", "123456789012345678",
      "1234567890123456789012", "0.1234567890123456789", "9007199254740993", "2.5e22",
      "4.35", "99.99", "1e22", "1e23", "3.0e-22", "null", "true", "[1]", "{\"v\":1}",
      "1.7976931348623157e308", "4.9e-324", "0.000001", "12345678901234.5")
      .map(producer(sql, _))
    val tickers = Seq("123", "null", "true", "\"\"", "\"AA\\\"PL\"", "\"A\\u0041PL\"",
      "\"ÄPL\"", "\"A\tPL\"", "[\"AAPL\"]", "{\"s\":\"AAPL\"}", "\"A'PL\"")
      .map(t => producer(sql, ticker = t))
    val shapes = Seq(
      producer(iso),
      producer(sql).replace("\"name\":\"synthetic\"", "\"name\":\"x\\\\y\""),
      producer(sql).replace("\"synthetic\"", "\"síntético\""),
      s"""{'utc':'$sql','ticker':'AAPL','price':1.0}""",
      s"""{"ticker":"AAPL","ticker":"MSFT","price":1.0,"utc":"$sql"}""",
      s"""{"ticker":"AAPL","price":1.0,"price":2.0,"utc":"$sql"}""",
      s"""{"ticker":"AAPL","price":1.0,"utc":"$sql","utc":"$sql"}""",
      s"""{"type":"a","type":"b","ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""{"meta":{"a":[1,{"b":2}]},"ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""{"tags":[1,2],"ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""{"Ticker":"AAPL","PRICE":1.0,"Utc":"$sql"}""",
      s"""{"ticker":"AAPL"}""",
      s"""{"price":3.5}""",
      s"""{"utc":"$sql"}""",
      "{}",
      s"""{"ticker":null,"price":null,"utc":null}""",
      s"""{"x":true,"y":false,"z":null,"ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""  { "ticker" : "AAPL" ,\t"price" : 1.0 , "utc" : "$sql" }  """,
      s"""{"ticker":"AAPL","price":1.0,"utc":"$sql"} x""",
      s"""{"ticker":"AAPL","price":1.0,"utc":"$sql"}}""",
      s"""{"ticker":"AAPL","price":1.0,"utc":"$sql",}""",
      s"""{"ticker":"AAPL","price":1.0 "utc":"$sql"}""",
      s"""{"ticker":"AAPL","price":1.0,"utc":"$sql"""",
      s"""{ticker:"AAPL","price":1.0,"utc":"$sql"}""",
      s"""{"ticker":"AAPL",/* c */"price":1.0,"utc":"$sql"}""",
      s"""{"utc":1704067200,"ticker":"AAPL","price":1.0}""",
      s"""{"utc":"","ticker":"AAPL","price":1.0}""",
      s"""{"x":01,"ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""{"x":nul,"ticker":"AAPL","price":1.0,"utc":"$sql"}""",
      s"""[{"ticker":"AAPL","price":1.0,"utc":"$sql"},{"ticker":"MSFT","price":2.0,"utc":"$sql"}]""",
      "[]", "123", "null", "\"AAPL\"", "", "   ",
      Seq(producer(sql), producer(iso), "", producer("2024-01-01 00:00:11.000")).mkString("\r\n"),
      Seq(producer(sql), "", producer(sql, "7")).mkString("\n"))
    fractions ++ dates ++ prices ++ tickers ++ shapes
  }

  private lazy val corpusDir: String = {
    val dir = Files.createTempDirectory("tick_corpus")
    corpus.zipWithIndex.foreach { case (text, i) =>
      Files.write(dir.resolve(f"c$i%03d.json"), text.getBytes("UTF-8"))
    }
    dir.toString
  }

  private def read(format: String, path: String, tsFormat: String,
      mode: String = "PERMISSIVE"): DataFrame = {
    val r = spark.read.schema(Tick.schema)
      .option("timestampFormat", tsFormat).option("mode", mode)
    if (format == "json") r.json(path) else r.format(format).load(path)
  }

  /** Exact value of each cell: timestamps as epoch instants, doubles with
    * their sign and NaN.
    */
  private def cells(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case t: java.sql.Timestamp => s"ts:${t.toInstant}"
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** Whether the decoder takes `line` on its fast path. */
  private def accepts(line: String, schema: StructType, tsFormat: String): Boolean = {
    val bytes = line.getBytes("UTF-8")
    new TickLineDecoder(schema, if (tsFormat == Tick.TsFormatIso) 'T'.toByte else ' '.toByte,
      java.time.ZoneOffset.UTC).decode(bytes, bytes.length)
  }

  private val subsets = Seq(Seq("ticker", "price", "utc"), Seq("price"), Seq("utc", "ticker"))

  test("decoder parity with format(json): PERMISSIVE and DROPMALFORMED rows, both zones, " +
    "both timestamp standards, column subsets") {
    for (zone <- Seq("UTC", "America/New_York")) {
      Cbo.withConfs(spark, Seq("spark.sql.session.timeZone" -> zone)) {
        for (fmt <- formats; mode <- Seq("PERMISSIVE", "DROPMALFORMED"); cols <- subsets) {
          def rows(format: String) =
            cells(read(format, corpusDir, fmt, mode).select(cols.map(col): _*).collect())
          val (spark0, decoded) = (rows("json"), rows(tickFormat))
          assert(decoded === spark0, s"zone $zone, format $fmt, mode $mode, columns $cols: " +
            s"decoder only ${decoded.diff(spark0)}, json only ${spark0.diff(decoded)}")
          assert(spark0.nonEmpty)
        }
      }
    }
  }

  test("decoder parity with format(json): FAILFAST throws on the same files") {
    val files = Files.list(Paths.get(corpusDir)).toArray.map(_.asInstanceOf[Path]).sorted
    val failed = for (fmt <- formats; f <- files.toSeq) yield {
      def outcome(format: String) =
        Try(cells(read(format, f.toString, fmt, "FAILFAST").collect())).toOption
      val (spark0, decoded) = (outcome("json"), outcome(tickFormat))
      assert(decoded === spark0, s"${f.getFileName} (format $fmt): ${Files.readString(f)}")
      spark0.isEmpty
    }
    assert(failed.count(identity) > 20 && failed.count(!_) > 20,
      "the corpus holds both failing and clean files")
  }

  test("streaming fileJson over the corpus equals fileJsonBatch") {
    for (standard <- Seq("SQL", "ISO-8601")) {
      val name = s"tick_corpus_${standard.filter(_.isLetter)}"
      val q = TickSource.fileJson(spark, corpusDir, standard)
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val (got, want) = (cells(spark.table(name).collect()),
        cells(TickSource.fileJsonBatch(spark, corpusDir, standard).collect()))
      assert(got === want, s"stream only ${got.diff(want)}, batch only ${want.diff(got)}")
    }
  }

  test("fast-path guard: every producer-shaped line decodes without a fallback") {
    val dir = Files.createTempDirectory("tick_shapes").toString
    // TickSource.syntheticBatch and the drain benchmark's generator, both
    // written by Spark's JSON writer in each timestamp standard
    val drainShape = spark.range(0L, 500L, 1L, 2).select(
      timestamp_millis(lit(1704067200000L) + col("id") * 7L).as("utc"),
      lit("stock-tick").as("type"), lit("datagen").as("source"),
      concat(lit("T"), lpad(pmod(xxhash64(col("id"), lit(7)), lit(64)).cast("string"), 4, "0"))
        .as("ticker"),
      lit("synthetic").as("name"), lit("tech").as("sector"), lit("software").as("industry"),
      (floor(rand(7) * 10000) / 100).as("price"))
    for ((shape, frame) <- Seq("synthetic" -> TickSource.syntheticBatch(spark, 500),
        "drain" -> drainShape); fmt <- formats) {
      val out = s"$dir/$shape-${fmt.count(_ == 'T')}"
      frame.write.option("timestampFormat", fmt).json(out)
      val lines = spark.read.text(out).collect().map(_.getString(0))
      assert(lines.length === 500)
      val fallbacks = lines.filterNot(accepts(_, Tick.schema, fmt))
      assert(fallbacks.isEmpty, s"$shape ($fmt) lines left to Spark: ${fallbacks.take(3).mkString("\n")}")
    }
    val sql = producer("2024-01-01 00:00:10.500")
    assert(accepts(sql, Tick.schema, Tick.TsFormatSql))
    // the live benchmark generator's spacing
    assert(accepts("""{"utc": "2024-01-01 00:00:10.500", "type": "stock-tick", """ +
      """"source": "datagen", "ticker": "T0007", "name": "synthetic", "sector": "tech", """ +
      """"industry": "software", "price": 1.0E-4}""", Tick.schema, Tick.TsFormatSql))
    for (line <- Seq(sql.replace("AAPL", "AA\\u0050L"), sql.replace("AAPL", "ÄPL"),
        sql.replace("synthetic", "sïnthetic"), sql.replace("AAPL", "AA\\\"PL")))
      assert(!accepts(line, Tick.schema, Tick.TsFormatSql), line)
  }

  test("fast-path guard: the decoder serves fileJson's options and nothing it cannot match") {
    def sep(required: StructType = Tick.schema, opts: Map[String, String] = Map.empty,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Nil, legacy: Boolean = false,
        partitions: StructType = new StructType()) =
      TickJsonFormat.timestampSeparator(required, partitions, filters,
        new JSONOptionsInRead(Map("timestampFormat" -> Tick.TsFormatSql,
          "latestFirst" -> "false", "maxFilesPerTrigger" -> "1") ++ opts, "UTC", "_corrupt_record"),
        legacy)
    assert(sep() === Some(' '.toByte))
    assert(sep(opts = Map("timestampFormat" -> Tick.TsFormatIso)) === Some('T'.toByte))
    assert(sep(required = StructType(Tick.schema.filter(_.name == "price")),
      opts = Map("timestampFormat" -> "yyyy")) === Some(0.toByte))
    assert(sep(opts = Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss")) === None)
    assert(sep(opts = Map("multiLine" -> "true")) === None)
    assert(sep(opts = Map("lineSep" -> ";")) === None)
    assert(sep(opts = Map("encoding" -> "UTF-8")) === None)
    assert(sep(opts = Map("maxNumLen" -> "4")) === None)
    assert(sep(opts = Map("columnNameOfCorruptRecord" -> "ticker")) === None)
    assert(sep(filters = Seq(IsNotNull("utc"))) === None)
    assert(sep(legacy = true) === None)
    assert(sep(partitions = new StructType().add("day", "string")) === None)
    assert(sep(required = Tick.schema.add("_corrupt_record", "string")) === None)
    assert(sep(required = new StructType()) === None)
  }

  test("TickJsonFormat never compares equal to JsonFileFormat") {
    val (tick, json) = (new TickJsonFormat, new JsonFileFormat)
    assert(tick != json && json != tick)
    assert(tick === new TickJsonFormat)
    assert(tick.hashCode === new TickJsonFormat().hashCode && tick.hashCode != json.hashCode)
    assert(tick.toString === "TickJSON")
  }

  test("explain of fileJson names the format; the rest of the physical plan is json's") {
    val in = Files.createTempDirectory("tick_plan").toString
    Files.write(Paths.get(s"$in/t.json"), (0 until 90 by 7).map(s =>
      producer(f"2024-01-01 00:${s / 60}%02d:${s % 60}%02d.000")).mkString("\n").getBytes("UTF-8"))
    def explain(ticks: DataFrame): String = {
      val q = StreamingQueries.candlestick(ticks).writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(q.explain())
      out.toString("UTF-8")
    }
    val (decoded, parent) = Cbo.withConfs(spark,
      Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
      (explain(TickSource.fileJson(spark, in, "SQL")),
        explain(spark.readStream.schema(Tick.schema)
          .option("timestampFormat", Tick.TsFormatSql).option("latestFirst", "false")
          .json(in).select("ticker", "price", "utc")))
    }
    assert(decoded.contains("Format: TickJSON"), decoded)
    assert(decoded.contains("PushedFilters: []"), "the reference job pushes no filter into the scan")
    assert(parent.contains("Format: JSON"), parent)
    def normal(plan: String): String = plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("checkpoint = [^,]*", "checkpoint")
      .replaceAll("runId = [0-9a-f-]+", "runId")
      .replaceAll("EventTimeWatermark [0-9a-f-]+", "EventTimeWatermark")
      .replace("Format: TickJSON", "Format: JSON")
    assert(normal(decoded) === normal(parent))
  }

  test("a checkpoint started on the json reader restarts under fileJson: no tick lost or doubled") {
    // the file source log records paths only, so a query may change the
    // reader's format across a restart
    val dir = Files.createTempDirectory("tick_restart").toString
    val (in, out, ckpt) = (s"$dir/in", s"$dir/out", s"$dir/ckpt")
    Files.createDirectories(Paths.get(in))
    def writeMinute(m: Int): Unit = {
      val p = Paths.get(f"$in/m$m%02d.json")
      Files.write(p, (for (s <- 0 until 60 by 5; t <- Seq("AAPL", "MSFT")) yield
        producer(f"2024-01-01 00:$m%02d:$s%02d.000", price = s"${(m * 17 + s + t.length) % 83}.25",
          ticker = s"\"$t\"")).mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(1000000L + m * 10000L))
    }
    def run(ticks: => DataFrame, attempts: Int = 40): Unit = {
      val q = TickSink.start(StreamingQueries.candlestick(ticks),
        TickSink.PartitionedParquet(out, ckpt), availableNow = true)
      try { q.awaitTermination(); q.stop() }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("concurrently using") && attempts > 0 =>
          Thread.sleep(250); run(ticks, attempts - 1)
      }
    }
    (0 until 3).foreach(writeMinute)
    run(spark.readStream.schema(Tick.schema).option("timestampFormat", Tick.TsFormatSql)
      .option("maxFilesPerTrigger", 1).json(in).select("ticker", "price", "utc"))
    val first = spark.read.parquet(out).count()
    (3 until 6).foreach(writeMinute)
    run(TickSource.fileJson(spark, in, "SQL", maxFilesPerTrigger = Some(1)))
    val twin = Windows.candlestick(TickSource.fileJsonBatch(spark, in), tsCol = "utc",
      keyCol = "ticker", valCol = "price")
    // minute 5 holds the last event time; with a 20 s delay minutes 0-4 close
    val closed = twin.where(col("window_end") <= lit(ts("2024-01-01 00:05:00")))
    val got = spark.read.parquet(out).select(twin.columns.map(col).toIndexedSeq: _*)
    assert(first > 0 && closed.count() === 10)
    assert(got.count() === closed.count(), "no window emitted twice")
    assert(got.exceptAll(closed).isEmpty && closed.exceptAll(got).isEmpty)
  }
}
