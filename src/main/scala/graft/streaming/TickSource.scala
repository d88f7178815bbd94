package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source adapters for the reference's Kinesis stream scan (SURVEY.md S1).
  *
  * OSS Spark bundles no Kinesis connector and this environment is
  * zero-egress, so the abstraction is honest about what it replaces: the
  * record format (JSON, producer shape) and the declared options
  * (`initpos`, timestamp standard) are faithful; the transport is a file
  * stream / in-memory stream / synthetic rate source instead of a network
  * shard reader. Swapping in a real `format("kinesis")` source changes
  * only this file.
  *
  * Scale stance: a production stream scan is parallel per shard/partition;
  * the file source parallelizes per file and `maxFilesPerTrigger` bounds a
  * micro-batch, which is the same back-pressure shape. Nothing downstream
  * (watermark, window agg) sees any difference.
  */
object TickSource {

  /** Unbounded file-stream of JSON tick records with schema-on-read
    * projection to the 3 declared columns (reference DDL
    * `flink/tumbling_window.py:115-131`): extra producer fields are
    * silently dropped, exactly like the reference's Flink table.
    *
    * Reads through [[TickJsonFormat]]: Spark's JSON file source with the
    * same options and plan, whose reader decodes the producer's flat tick
    * line in one pass and hands every other line to Spark's own JSON
    * parser, so rows and parse modes are Spark's. The per-row decode is on
    * every trigger's critical path; the decoder cut a drain's scan-stage
    * CPU by about half (figures in [[TickJsonFormat]]). The options
    * and the plan are the ones `json` gets, and a checkpoint started on the
    * `json` reader restarts under this one: the file-source log records
    * paths, not the format.
    *
    * @param initposLatest `scan.stream.initpos` ≈ LATEST → process newest
    *   files first (`latestFirst`); TRIM_HORIZON → from the start.
    */
  def fileJson(
      spark: SparkSession,
      dir: String,
      timestampStandard: String = "SQL",
      initposLatest: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[TickJsonFormat].getName)
      .schema(Tick.schema)
      .option("timestampFormat", Tick.timestampFormat(timestampStandard))
      .option("latestFirst", initposLatest.toString)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(dir).select("ticker", "price", "utc")
  }

  /** Batch twin of [[fileJson]] — same schema-on-read semantics, used by
    * the batch/stream-equivalence tests. It stays on `spark.read.json`: it
    * is the oracle the decoder is checked against (TickJsonFormatSpec) and
    * the twin the benchmark's checks compare drains with.
    */
  def fileJsonBatch(
      spark: SparkSession,
      dir: String,
      timestampStandard: String = "SQL"): DataFrame =
    spark.read
      .schema(Tick.schema)
      .option("timestampFormat", Tick.timestampFormat(timestampStandard))
      .json(dir)
      .select("ticker", "price", "utc")

  /** Synthetic tick generator (reference `datagen/stock.py:17-50`) on the
    * `rate` source: one row per generated value, ticker drawn from the 4
    * demo symbols, price = round(rand*100, 2), utc = generation time.
    */
  def rateSynthetic(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        element_at(
          array(Tick.tickers.map(lit): _*),
          (pmod(col("value"), lit(4)) + 1).cast("int")).as("ticker"),
        round(rand() * 100, 2).as("price"),
        col("timestamp").as("utc"))

  /** Deterministic batch generator with the producer's full 8-field shape
    * (reference `datagen/stock.py:24-33`), for fixtures and tests. Seeded:
    * same (seed, n) → same ticks.
    */
  def syntheticBatch(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame =
    spark.range(n).select(
      timestamp_micros(lit(1704067200000000L) + col("id") * 250000L).as("utc"),
      lit("stock-tick").as("type"),
      lit("datagen").as("source"),
      element_at(
        array(Tick.tickers.map(lit): _*),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("ticker"),
      lit("synthetic").as("name"),
      lit("tech").as("sector"),
      lit("software").as("industry"),
      (floor(rand(seed) * 10000) / 100).as("price"))
}
