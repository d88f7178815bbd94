package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}

/** Streaming document-curation pipeline: the training-data counterpart of
  * the tick jobs. Documents stream in as JSON, are enriched scan-side
  * (quality score + language ID + content fingerprint in ONE projection —
  * [[TextAnalysis.enrich]]), exact-deduped on the content fingerprint with
  * watermark-bounded state, gated on a quality threshold, and land in a
  * language-partitioned sink. Every stage is the SAME expression the batch
  * operators use, so batch backfill and the stream produce identical
  * values for identical rows (spec-pinned).
  *
  * Scale notes (100 TB stance): enrichment is a pure projection (no
  * shuffle, fuses into the scan); the dedup is the only stateful stage
  * and its state is bounded by the watermark horizon via
  * `dropDuplicatesWithinWatermark` over the RocksDB store (the job mains'
  * default); the gate threshold is a config constant — a corpus
  * percentile needs two passes over the full corpus and belongs to the
  * batch `qualityGate`, whose threshold a stream job takes as input.
  */
object DocPipeline {

  /** Producer-side document schema (schema-on-read, like the tick source:
    * extra producer fields are dropped by enrichment's projection).
    */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** File-stream JSON document source — the ingest stand-in, mirroring
    * [[TickSource.fileJson]].
    */
  def fileJson(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).json(dir)

  /** The curation pipeline on any (batch or streaming) frame with
    * (doc_id, text, lang): enrich → watermark-bounded exact dedup on
    * content → static quality gate. `minScore` gates on the composite
    * quality score; degenerate docs (empty text → null/NaN score) never
    * pass, matching the batch gate's contract.
    */
  def curate(
      docs: DataFrame,
      minScore: Double = 0.3,
      watermarkDelay: String = "30 seconds"): DataFrame =
    curated(docs, minScore, watermarkDelay, CuratedCols)

  private val CuratedCols =
    Seq("doc_id", "lang", "lang_pred", "n_tokens", "n_chars", "quality_score", "fp")

  /** The one curation chain behind [[curate]] and [[curateMixed]],
    * projected onto `cols`.
    */
  private def curated(
      docs: DataFrame, minScore: Double, watermarkDelay: String,
      cols: Seq[String]): DataFrame =
    TextAnalysis.enrich(docs)
      // ingest-time watermark: documents carry no event time, so dedup
      // state is bounded by arrival time (the standard ingest-ts pattern)
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .filter(col("quality_score").isNotNull && !isnan(col("quality_score")) &&
        col("quality_score") >= minScore)
      .select(cols.map(col): _*)

  /** [[curate]] with an ingest-side DECONTAMINATION stage in front: drop
    * every incoming doc whose MinHash-LSH bucket collides with the
    * precomputed eval bucket table (the [[graft.operators.Dedup.minhashBuckets]]
    * of the eval corpus — broadcast-sized by construction) BEFORE
    * enrichment and dedup, so a leaked doc can never consume the dedup
    * slot of a clean copy. The filter is nBands stateless broadcast
    * stream-static anti-joins ([[graft.operators.Dedup.decontaminateFilter]]);
    * the same code path runs in batch, and the spec pins stream ≡ batch on
    * out-of-order input.
    */
  def curateDecontaminated(
      docs: DataFrame,
      evalBuckets: DataFrame,
      minScore: Double = 0.3,
      watermarkDelay: String = "30 seconds"): DataFrame =
    curate(Dedup.decontaminateFilter(docs, evalBuckets), minScore, watermarkDelay)

  /** The full deployment composition: decontaminate (optional) → curate →
    * MIXTURE → sink-ready frame. After the quality gate, each surviving
    * doc picks up its `n_copies` under a precomputed mixture-weights
    * artifact ([[graft.operators.Packing.mixTemperature]]'s
    * (lang, source, rep_factor) output — recomputed batch-side daily,
    * exactly like the eval bucket table) via
    * [[graft.operators.Packing.withCopyCounts]]: a stateless broadcast
    * stream-static join + scan-side hash, so the SAME expression runs
    * under the streaming plan and the spec pins stream ≡ batch copy
    * counts. Requires `source` on the input frame (the producer schema
    * carries it); the curation projection keeps it so the mixture can key
    * on (lang, source). Inner-join semantics are the artifact contract:
    * a domain absent from the weights table has weight 0 — its docs are
    * not sampled.
    */
  def curateMixed(
      docs: DataFrame,
      weights: DataFrame,
      evalBuckets: Option[DataFrame] = None,
      minScore: Double = 0.3,
      watermarkDelay: String = "30 seconds"): DataFrame = {
    val cols = Seq("doc_id", "lang", "source", "lang_pred", "n_tokens", "n_chars",
      "quality_score", "fp")
    val in = evalBuckets.fold(docs)(Dedup.decontaminateFilter(docs, _))
    graft.operators.Packing.withCopyCounts(curated(in, minScore, watermarkDelay, cols), weights)
      .select((cols :+ "n_copies").map(col): _*)
  }

  /** [[curate]] with the MODEL quality gate at ingest: the trained
    * hashed-feature scorer's weights (the
    * [[graft.operators.TextAnalysis.writeQualityModel]] artifact, loaded
    * once per job — O(buckets) driver metadata) bake as literals into a
    * stateless scan-side filter in FRONT of enrichment and dedup, so a
    * model-rejected doc never consumes a dedup slot — the
    * [[curateDecontaminated]] composition pattern (gate in front, state
    * behind), and the identical expression runs batch and streaming
    * (spec-pinned stream ≡ batch).
    */
  def curateModelGated(
      docs: DataFrame,
      weights: Map[Long, Long],
      modelThreshold: Long = 0L,
      qualityMinScore: Double = 0.3,
      watermarkDelay: String = "30 seconds",
      buckets: Int = 1024): DataFrame =
    curate(
      docs.filter(
        TextAnalysis.modelScore(col("text"), weights, buckets) > modelThreshold),
      qualityMinScore, watermarkDelay)

  /** Training-sequence emission on any (batch or streaming) frame with
    * (doc_id, text): PII/denylist redaction ([[TextAnalysis.scrub]]) then
    * fixed-overlap context-window chunking
    * ([[TextAnalysis.chunkDocuments]]) — the last hop from curated
    * documents to model-ready sequences. Both stages are stateless
    * scan-side projections (the chunker is a generator), so the SAME code
    * runs under a streaming plan with no watermark or state, and batch
    * backfill equals the stream row-for-row (spec-pinned).
    */
  def sequences(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame =
    TextAnalysis.chunkDocuments(
      TextAnalysis.scrub(docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("redacted").as("text")),
      chunkSize, stride)
}

/** Document-curation job main:
  * runMain graft.streaming.DocPipelineJob <inputDir>
  *   [console|changelog|noop|parquet:<out>:<ckpt>|parquet-once:<out>:<ckpt>]
  *   [--once] [--detach]
  *   [--min-score=0.3] [--eval-buckets=<parquetDir>] [--weights=<parquetDir>]
  * Parquet output is partitioned by predicted language — the layout a
  * downstream training-data reader filters on. With --eval-buckets, docs
  * colliding with the precomputed eval bucket table (a (band, bucket_key)
  * parquet from [[graft.operators.Dedup.minhashBuckets]] over the eval
  * corpus) are dropped at ingest. With --weights (a (lang, source,
  * rep_factor) parquet — [[graft.operators.Packing.mixTemperature]]'s
  * artifact), every curated doc additionally carries its mixture copy
  * count, so decontaminate → curate → mixture → exactly-once sink is one
  * deployment main.
  */
object DocPipelineJob {
  private[streaming] val job: JobRunner.Job = JobRunner.Job("DocPipelineJob",
      positional = Seq("inputDir"), flags = Seq("min-score", "eval-buckets", "weights"),
      view = "curated_docs", partitionBy = Seq("lang_pred")) { (spark, a) =>
    val minScore = a.flags.get("min-score").fold(0.3)(_.toDouble)
    val evalBuckets = a.flags.get("eval-buckets").map(spark.read.parquet(_))
    val in = DocPipeline.fileJson(spark, a.positional(0))
    (a.flags.get("weights"), evalBuckets) match {
      case (Some(w), buckets) =>
        DocPipeline.curateMixed(in, spark.read.parquet(w), buckets, minScore)
      case (None, Some(b)) => DocPipeline.curateDecontaminated(in, b, minScore)
      case (None, None) => DocPipeline.curate(in, minScore)
    }
  }
  def main(args: Array[String]): Unit = JobRunner.run(job, args)
}

/** Streaming near-duplicate detection job main:
  * runMain graft.streaming.NearDupJob <inputDir>
  *   [console|changelog|noop|parquet:<out>:<ckpt>|parquet-once:<out>:<ckpt>]
  *   [--once] [--detach] [--max-hamming=3] [--horizon-seconds=3600]
  * Input: a JSON document stream with (doc_id, text, utc); output: the
  * near-dup pair stream of [[StreamingQueries.simhashPairsStream]],
  * written unpartitioned by a `parquet:` sink. Requires the RocksDB state
  * store ([[graft.Posture.session]]'s default — transformWithState needs
  * column families the heap store lacks).
  */
object NearDupJob {
  val nearDupDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("utc", TimestampType)))

  private[streaming] val job: JobRunner.Job = JobRunner.Job("NearDupJob",
      positional = Seq("inputDir"), flags = Seq("max-hamming", "horizon-seconds"),
      view = "near_dup_pairs", partitionBy = Nil) { (spark, a) =>
    import spark.implicits._
    val docs = spark.readStream.schema(nearDupDocSchema).json(a.positional(0))
      .as[StreamingQueries.SimhashDoc]
    StreamingQueries.simhashPairsStream(spark, docs,
      a.flags.get("max-hamming").fold(3)(_.toInt),
      horizonSeconds = a.flags.get("horizon-seconds").fold(3600L)(_.toLong)).toDF()
  }
  def main(args: Array[String]): Unit = JobRunner.run(job, args)
}

/** Streaming grid forward-fill job main:
  * runMain graft.streaming.GridFillJob <inputDir>
  *   [console|changelog|noop|parquet:<out>:<ckpt>|parquet-once:<out>:<ckpt>]
  *   [--once] [--detach] [--width-minutes=15] [--watermark="10 seconds"]
  * Input: a JSON event stream with (event_type, utc, value); output: the
  * regularized bucket grid of [[StreamingQueries.gridForwardFillTws]] —
  * every closed bucket in order, observed buckets with their exact
  * average, gaps carrying the last observed value — which a `parquet:`
  * sink partitions by its key, `event_type`. Requires the RocksDB state
  * store ([[graft.Posture.session]]'s default).
  */
object GridFillJob {
  val fillEventSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("utc", TimestampType),
    StructField("value", DoubleType)))

  private[streaming] val job: JobRunner.Job = JobRunner.Job("GridFillJob",
      positional = Seq("inputDir"), flags = Seq("width-minutes", "watermark"),
      view = "grid_fill", partitionBy = Seq("event_type")) { (spark, a) =>
    import spark.implicits._
    val events = spark.readStream.schema(fillEventSchema).json(a.positional(0))
      .as[StreamingQueries.FillEvent]
    StreamingQueries.gridForwardFillTws(spark, events,
      a.flags.get("width-minutes").fold(15)(_.toInt),
      a.flags.getOrElse("watermark", "10 seconds")).toDF()
  }
  def main(args: Array[String]): Unit = JobRunner.run(job, args)
}
