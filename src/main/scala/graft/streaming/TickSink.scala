package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Sink adapters for the reference's INSERT INTO targets (SURVEY.md S9):
  * print → console, blackhole → noop, kinesis → partitioned file/foreachBatch
  * stand-in (zero-egress). All streaming writes are append-mode — event-time
  * windows + watermark emit append-only rows, matching the reference's
  * `+I`-only changelog (SURVEY.md §1.1).
  */
object TickSink {

  sealed trait Sink
  /** Reference `print` sink (sliding_window.py:134-151). */
  case object Console extends Sink
  /** Reference `print` sink with the Flink changelog framing the golden
    * logs show (README.md:139-163, 211-226): every append row renders as
    * `+I[v1, v2, ...]`. `emit` defaults to stdout and is injectable for
    * golden tests; rows emit from the executors (the reference prints
    * from its single task manager).
    */
  final case class ConsoleChangelog(emit: String => Unit = ConsoleChangelog.stdout)
      extends Sink
  object ConsoleChangelog {
    val stdout: String => Unit = s => scala.Console.println(s)
    /** Flink-style append ("insert") changelog row, byte-compatible with
      * the reference's golden logs (README.md:139-163, 211-226): event-time
      * columns render as `java.time.LocalDateTime.toString` — `2022-07-20
      * T20:56`, seconds omitted when zero — exactly how Flink prints its
      * TIMESTAMP(3) fields, and doubles via `Double.toString` (`0.0`,
      * `99.71`), matching Java's rendering on both engines.
      */
    def format(r: Row): String =
      r.toSeq.map {
        case null => "null"
        case t: java.sql.Timestamp => t.toLocalDateTime.toString
        case v => v.toString
      }.mkString("+I[", ", ", "]")
  }
  /** Reference `blackhole` sink (tumbling_window.py:253-256). */
  case object Noop extends Sink
  /** Reference kinesis sink stand-in: files partitioned by ticker —
    * the `PARTITIONED BY (ticker)` sink DDL (tumbling_window.py:121).
    * The document pipeline repartitions by predicted language instead.
    */
  final case class PartitionedParquet(
      path: String, checkpoint: String,
      partitionCols: Seq[String] = Seq("ticker")) extends Sink
  /** In-memory table (tests). */
  final case class Memory(tableName: String) extends Sink
  /** EXACTLY-ONCE parquet sink: foreachBatch writer with a batch-id commit
    * manifest — the deployment-grade piece the format("parquet") sink
    * lacks when a job dies between writing files and recording the batch
    * in its checkpoint (the replayed batch then lands twice). Recipe:
    *   1. batch data writes to a DETERMINISTIC per-batch directory
    *      (`data/batch_id=<id>`, mode overwrite) — a replay overwrites the
    *      same files instead of appending new ones, so the write is
    *      idempotent even mid-flight;
    *   2. a zero-byte marker `_manifest/<id>` is created (create+rename —
    *      atomic on HDFS-shaped stores) strictly AFTER the data lands;
    *      an already-present marker short-circuits the replay entirely;
    *   3. readers go through [[committedRows]], which lists the manifest
    *      and reads ONLY committed batch directories — a torn half-written
    *      directory from a crash is invisible until its marker exists.
    * Restart safety = checkpoint (Spark replays the uncommitted batch id)
    * + manifest (the sink ignores or overwrites it); spec-pinned by
    * deleting the checkpoint's last commit record and re-running.
    */
  final case class ExactlyOnceParquet(path: String, checkpoint: String) extends Sink
  /** Kinesis-shaped batched writer: foreachBatch with a per-batch record
    * cap mirroring `sink.producer.collection-max-count` (tumbling_window
    * .py:128); `send` stands in for the PutRecords call. It carries the
    * reference sink's stream-partitioning semantics:
    * `PARTITIONED BY (ticker)` +
    * `'sink.partitioner-field-delimiter'=';'` (tumbling_window.py:121,127)
    * — each record's stream partition key is its partition-field values
    * joined by the delimiter, and every send carries records of ONE key,
    * at most `maxCount` at a time, batched per Spark partition on the
    * executors. No partition fields: one key, plain max-count batches.
    */
  final case class KeyedBatched(
      maxCount: Int,
      partitionFields: Seq[String],
      fieldDelimiter: String,
      send: (String, Seq[Row]) => Unit) extends Sink

  /** Wire a sink onto a streaming DataFrame; caller starts the query. */
  def writer(df: DataFrame, sink: Sink, availableNow: Boolean = false): DataStreamWriter[Row] = {
    val base = df.writeStream.outputMode("append")
    val w = sink match {
      case Console => base.format("console").option("truncate", "false")
      case Noop => base.format("noop")
      case PartitionedParquet(path, checkpoint, cols) =>
        base.format("parquet")
          .partitionBy(cols: _*)
          .option("path", path)
          .option("checkpointLocation", checkpoint)
      case Memory(name) => base.format("memory").queryName(name)
      case KeyedBatched(maxCount, fields, delim, send) =>
        base.foreachBatch { (batch: DataFrame, _: Long) =>
          val (mc, d, s) = (maxCount, delim, send)
          // field positions resolve once on the driver; rows group by
          // stream key inside each Spark partition, flushing at maxCount
          val idx = fields.map(batch.columns.indexOf(_))
          require(idx.forall(_ >= 0),
            s"KeyedBatched: partition fields ${fields.mkString(",")} must all " +
              s"exist in [${batch.columns.mkString(",")}]")
          batch.rdd.foreachPartition { it: Iterator[Row] =>
            val bufs = scala.collection.mutable.LinkedHashMap
              .empty[String, scala.collection.mutable.ArrayBuffer[Row]]
            it.foreach { r =>
              val key = idx.map(i => String.valueOf(r.get(i))).mkString(d)
              val b = bufs.getOrElseUpdate(
                key, scala.collection.mutable.ArrayBuffer.empty[Row])
              b += r
              if (b.size >= mc) { s(key, b.toSeq); b.clear() }
            }
            bufs.foreach { case (k, b) => if (b.nonEmpty) s(k, b.toSeq) }
          }
        }
      case ExactlyOnceParquet(path, checkpoint) =>
        base
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
              batch.sparkSession.sparkContext.hadoopConfiguration)
            val marker = new org.apache.hadoop.fs.Path(s"$path/_manifest/$batchId")
            if (!fs.exists(marker)) {
              batch.write.mode("overwrite")
                .parquet(s"$path/data/batch_id=$batchId")
              val tmp = new org.apache.hadoop.fs.Path(
                s"$path/_manifest/.$batchId.inprogress")
              fs.create(tmp, true).close()
              require(fs.rename(tmp, marker),
                s"ExactlyOnceParquet: commit marker rename failed for batch $batchId")
            }
          }
      case ConsoleChangelog(emit) =>
        base.foreachBatch { (batch: DataFrame, _: Long) =>
          val e = emit
          batch.rdd.foreachPartition(
            _.foreach(r => e(ConsoleChangelog.format(r))))
        }
    }
    if (availableNow) w.trigger(Trigger.AvailableNow()) else w
  }

  /** Start the query with [[graft.Posture.streamingIo]] set on the
    * DataFrame's session first, so a session Posture did not build
    * checkpoints fork-free too. The confs stay set: the file source builds
    * its metadata log from this session on the stream thread at the first
    * trigger, after `start()` has returned.
    */
  def start(df: DataFrame, sink: Sink, availableNow: Boolean = false): StreamingQuery = {
    graft.Posture.streamingIo.foreach { case (k, v) => df.sparkSession.conf.set(k, v) }
    writer(df, sink, availableNow).start()
  }

  /** The read side of [[ExactlyOnceParquet]]: only batch directories whose
    * manifest marker exists are visible — a crash between data files and
    * marker leaves a torn directory that no reader ever sees (the next
    * replay overwrites it and then commits). `basePath` keeps `batch_id`
    * as a partition column over the explicit committed-directory list.
    */
  def committedRows(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val manifestDir = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val fs = manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids =
      if (!fs.exists(manifestDir)) Array.empty[String]
      else fs.listStatus(manifestDir).map(_.getPath.getName)
        .filter(_.forall(_.isDigit))
    if (ids.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", s"$path/data")
      .parquet(ids.map(id => s"$path/data/batch_id=$id").toIndexedSeq: _*)
  }
}
