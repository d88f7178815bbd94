package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's read-only parquet tables (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and load through here so
  * the same code runs at any scale factor. Column pruning + predicate
  * pushdown reach the parquet scan because we return the raw declarative
  * scan and let Catalyst push through whatever the query composes on top.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** When this conf holds the sfDir, [[load]] resolves tables through the
    * ANALYZE'd catalog ([[graft.plans.Cbo.ensureStatsAll]]) instead of raw
    * parquet paths — the stats-ON posture: CBO estimation and join
    * reorder only see rowCount/ndv/histograms on CATALOG relations, never
    * on ad-hoc path reads. Default unset = the existing path reads,
    * bit-identical behavior. events is exempt (legacy nanos read).
    */
  val statsCatalogConf = "spark.graft.stats.catalog"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Pin the session zone up front, not only when an NTZ column happens to
    // be present: session state must not depend on which table loads first.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val cat = graft.plans.Cbo.catalogName(name, sfDir)
    if (name == "events") events(spark, sfDir)
    else if (spark.conf.getOption(statsCatalogConf).contains(sfDir) &&
      spark.catalog.tableExists(cat))
      ltz(spark, spark.table(cat))
    else ltz(spark, spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** The driver's parquet writer stores timestamps as TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ
    * (`spark.sql.parquet.inferTimestampNTZ.enabled` default). The engine's
    * time semantics are instant-based UTC (every unix_micros / window /
    * watermark path expects TimestampType), and DuckDB reads the same
    * naive micros verbatim — so reinterpret NTZ columns as UTC instants:
    * with the session zone pinned to UTC the cast is a no-op on the stored
    * micros, and both engines keep seeing identical values. The zone is
    * pinned here (not only in the mains' builders) so a driver-owned
    * session gets the same reinterpretation.
    */
  private def ltz(spark: SparkSession, df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df)((d, f) =>
      d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** An events.ts stored as parquet TIMESTAMP(NANOS) (the benchmark
    * generator's files; the test data store micros) is one Spark only reads
    * as a raw Long (`spark.sql.legacy.parquet.nanosAsLong`); convert it to a
    * proper TimestampType by truncating to micros — exactly what DuckDB does
    * when it reads the same file, so oracle parity holds. The conf is set
    * lazily here so the code also works under a driver-owned SparkSession.
    */
  private def withMicrosTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }

  /** events is read with its schema given: the one the footer of
    * `events.parquet` declares, under the session's parquet confs. That
    * is what Spark's inference computes for the file, without the
    * inference job. The footer decides the type, not a constant, because
    * the data sets differ: the test data store `ts` in micros (read as
    * TIMESTAMP_NTZ), the benchmark's generator in nanos (read as a Long).
    */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    ltz(spark, withMicrosTs(spark.read
      .schema(footerSchema(spark, path, readFooter(spark, path))).parquet(path)))
  }

  /** The footer of one parquet file, read on the driver. */
  private[graft] def readFooter(spark: SparkSession, path: String)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema of one parquet file from its footer: Spark's own
    * footer reading (the schema a Spark writer recorded, else the
    * converted parquet schema) under the session's confs — what schema
    * inference computes for that file, without running a job.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(path), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Register every table as a temp view (SURVEY.md S11) for spark.sql use. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
