package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-data-capture maintenance of a partitioned corpus snapshot —
  * the two moves a 100 TB deployment makes when a daily delta arrives,
  * instead of rebuilding the corpus:
  *
  *  1. [[cowUpsert]]: MERGE the delta into the snapshot copy-on-write,
  *     rewriting ONLY the partition directories the delta touches
  *     (partition-pruned read, staged write, directory swap — untouched
  *     partitions keep their files byte-for-byte, CdcSpec pins the
  *     listing).
  *  2. [[manifestIvm]]: maintain the release-manifest AGGREGATE
  *     algebraically from the delta alone — zero snapshot rescans.
  *     count/sum retract by sign; the xor checksum retracts by re-xoring
  *     the old term (xor is its own inverse). The incremental result is
  *     hash-checked against a full recompute by the oracle, which is the
  *     whole point: at 100 TB the full recompute is a corpus pass, the
  *     IVM merge is |delta| + |sources| rows.
  *
  * The delta itself is derived deterministically from the corpus (this
  * sandbox has no upstream feed): [[feed]] makes ONE pruned pass over
  * the [[dirtyLangs]] rows and materializes it — the stand-in for the
  * day's arriving CDC batch — and the op derivations ([[deletes]],
  * [[updates]], [[inserts]]) read that materialized batch, not the
  * corpus. Delete beats update on overlapping keys; inserted keys are
  * offset far above the live id range. Both engines derive the delta
  * from the same table with the same arithmetic, so the oracle sees the
  * same merge without any side channel.
  */
object Cdc {

  /** Languages the synthetic delta touches — the other partitions must
    * come through [[cowUpsert]] physically untouched.
    */
  val dirtyLangs: Seq[String] = Seq("de", "fr")

  /** The versioned store's 5-column schema, in the order a manifest read
    * yields it (data columns as written, then the lang partition column
    * the reader re-attaches). Shared by every commit's write-side select
    * list ([[storeCols]]) and the zero-admission empty read, so the two
    * CANNOT drift: a future column addition changes both together or
    * fails loudly, never returns a silently mismatched empty frame.
    */
  val storeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))

  /** Write-side column order of the store (lang last — the partition
    * column the dynamic writer strips into directory names).
    */
  val storeCols: Seq[String] = storeSchema.fieldNames.toSeq

  /** The columns of one store DATA file: [[storeSchema]] minus `lang`,
    * which lives in the directory name (or, for an RTBF replacement file,
    * only in the manifest). Every store read hands it to the parquet
    * reader, so no read runs Spark's schema-inference job, and every
    * commit checks the footers of the files it wrote against it
    * ([[fileZoneMap]]): a known-schema read would turn a missing column
    * into silent NULLs, so a file that does not match fails the commit.
    */
  private[graft] val dataFileSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(storeSchema.filterNot(_.name == "lang"))

  private val insIdOffset = 1000000L

  /** One day's synthetic delta arithmetic: which keys delete
    * (`doc_id % delMod == 0`), which update (`% updMod`, minus the
    * delete overlap — delete beats update), which seed inserts
    * (`% insMod`, re-keyed `+ insOffset`, so a row can seed an update
    * AND an insert under different keys). Day 1 and day 2 are the same
    * machine with different moduli/tags, which is what lets the DuckDB
    * oracle chain the two days as two copies of one CTE shape.
    */
  final case class DeltaRules(delMod: Long, updMod: Long, insMod: Long,
      tag: String, insTag: String, insOffset: Long)

  val day1Rules: DeltaRules = DeltaRules(11L, 7L, 13L, "cdc1", "ins", insIdOffset)

  /** Day-2 moduli are coprime to day 1's so every op×op succession
    * (update-then-delete, insert-then-update, …) occurs on the corpus.
    */
  val day2Rules: DeltaRules = DeltaRules(17L, 5L, 19L, "cdc2", "ins2", 2000000L)

  private def deletesBy(batch: DataFrame, r: DeltaRules): DataFrame =
    batch.where(col("doc_id") % r.delMod === 0).select("doc_id")

  private def updatesBy(batch: DataFrame, r: DeltaRules): DataFrame =
    batch
      .where(col("doc_id") % r.updMod === 0 && col("doc_id") % r.delMod =!= 0)
      .select(col("doc_id"),
        concat(lit(r.tag + " "), col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  private def insertsBy(batch: DataFrame, r: DeltaRules): DataFrame =
    batch
      .where(col("doc_id") % r.insMod === 0)
      .select((col("doc_id") + r.insOffset).as("doc_id"),
        concat(lit(r.insTag + " "), col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** The day's CDC batch, derived from the corpus in ONE pruned pass and
    * materialized (`localCheckpoint`) so the op derivations below never
    * re-scan the corpus — the operator-cost accounting treats this frame
    * as the arriving input, |delta|-sized, which is what it stands in
    * for.
    */
  def feed(docs: DataFrame): DataFrame =
    docs.where(col("lang").isin(dirtyLangs: _*))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint()

  /** Delete keys: every 11th id in the batch. Deletes win over updates
    * on overlap (the delete-mod guard in [[updates]]).
    */
  def deletes(batch: DataFrame): DataFrame = deletesBy(batch, day1Rules)

  /** Update rows (full new image, as a CDC feed ships them): every 7th
    * id not deleted; text re-written, n_chars recomputed from it.
    */
  def updates(batch: DataFrame): DataFrame = updatesBy(batch, day1Rules)

  /** Insert rows: every 13th id, re-keyed above the live range (a row
    * can seed both an update and an insert — they land under different
    * keys).
    */
  def inserts(batch: DataFrame): DataFrame = insertsBy(batch, day1Rules)

  /** Per-process memo of completed store builds, keyed by scratch path.
    * Every registered CDC query is a lifecycle (build/commit mutations +
    * a terminal read); the r13 bench priced the WHOLE lifecycle per rep,
    * which made CDC numbers incomparable with pure-read queries and hid
    * the read leg's cost. The split: all mutations live in a `*Store`
    * setup (built once per process — reps replay the read leg on the
    * already-built store), the registered entry still composes
    * setup + read so Verify and standalone callers see identical
    * end-to-end semantics. Bench times the setup separately (`setup_s`)
    * and reps the read leg (`queries`), keeping a priced lifecycle
    * total as setup + measured.
    */
  private val storeBuilt =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Memoized store build, re-validated against the filesystem: the memo
    * alone would go stale if the tmp scratch were removed mid-process
    * (external tmp cleaner, manual cleanup between bench and verify) and
    * every later rep would fail on an opaque missing-parquet error — so
    * a cheap sentinel-path existence check guards the memo hit and a
    * vanished store is rebuilt.
    */
  private def buildOnce(spark: SparkSession, key: String, sentinel: String)(
      build: => Unit): Unit = {
    def sentinelExists: Boolean = {
      val p = new org.apache.hadoop.fs.Path(sentinel)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    if (!storeBuilt.contains(key) || !sentinelExists) {
      storeBuilt.remove(key)
      build
      storeBuilt.put(key, true)
    }
  }

  /** Write the lang-partitioned base snapshot — the "yesterday" state
    * the merge maintains.
    */
  def writeSnapshot(docs: DataFrame, path: String): Unit =
    docs.select(storeCols.map(col): _*)
      .write.mode("overwrite").partitionBy("lang").parquet(path)

  /** The rewritten content of the DIRTY partitions only: snapshot rows
    * of those partitions (a partition-pruned read — the `lang IN`
    * predicate must reach the scan as a PartitionFilter, PlanSpec pins
    * it) minus deleted/updated keys, plus the new images. Exposed
    * separately from [[mergeDelta]] so the plan is inspectable.
    */
  def rewrittenDirty(
      spark: SparkSession, batch: DataFrame, path: String): DataFrame = {
    val target = spark.read.parquet(path)
      .where(col("lang").isin(dirtyLangs: _*))
    val changedKeys = deletes(batch).union(updates(batch).select("doc_id"))
    val cols = target.columns.map(col).toSeq
    target
      .join(changedKeys, Seq("doc_id"), "left_anti")
      .unionByName(updates(batch).select(cols: _*))
      .unionByName(inserts(batch).select(cols: _*))
  }

  /** Copy-on-write MERGE of the batch into the snapshot at `path`:
    * stage the rewritten dirty partitions fully, then commit by
    * directory swap — old files stay readable until the new ones are
    * complete, clean partitions are never opened. At 100 TB with daily
    * deltas touching a handful of partitions, the merge reads and
    * writes |dirty| directories, not the corpus.
    */
  def mergeDelta(
      spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val staging = s"$path.cow"
    rewrittenDirty(spark, batch, path)
      .write.mode("overwrite").partitionBy("lang").parquet(staging)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    dirtyLangs.foreach { l =>
      val live = new org.apache.hadoop.fs.Path(s"$path/lang=$l")
      val staged = new org.apache.hadoop.fs.Path(s"$staging/lang=$l")
      fs.delete(live, true)
      require(fs.rename(staged, live),
        s"copy-on-write swap failed for partition lang=$l")
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** The registered end-to-end form: write the snapshot, merge the
    * derived batch copy-on-write, and emit the per-lang release
    * manifest of the final snapshot — whose fp_xor hash-check proves
    * every partition (rewritten and untouched alike) carries exactly
    * the post-merge content the oracle computes from scratch.
    */
  def cowUpsertStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/snap") {
      val path = s"$scratch/snap"
      writeSnapshot(docs, path)
      mergeDelta(spark, feed(docs), path)
    }

  def cowUpsert(spark: SparkSession, docs: DataFrame, scratch: String)
      : DataFrame = {
    cowUpsertStore(spark, docs, scratch)
    Governance.releaseManifestBy(spark.read.parquet(s"$scratch/snap"), "lang")
  }

  /** Signed per-row manifest effects of the batch: (source, d_docs,
    * d_chars, fp term). A delete retracts its old row; an update
    * retracts the old image and adds the new one (two rows); an insert
    * adds. One xor column serves both directions because xor is its own
    * inverse. Every input is the materialized batch — no corpus access.
    */
  def deltaEffects(batch: DataFrame): DataFrame = {
    def eff(rows: DataFrame, sign: Int): DataFrame =
      rows.select(col("source"),
        lit(sign.toLong).as("d_docs"),
        (col("n_chars") * sign).as("d_chars"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    eff(batch.join(deletes(batch), Seq("doc_id"), "left_semi"), -1)
      .unionByName(eff(
        batch.join(updates(batch).select("doc_id"), Seq("doc_id"),
          "left_semi"), -1))
      .unionByName(eff(updates(batch), 1))
      .unionByName(eff(inserts(batch), 1))
  }

  /** Incremental view maintenance of the per-source release manifest:
    * persist yesterday's manifest as an artifact, fold the batch's
    * signed effects into it per source, and return the merged manifest —
    * WITHOUT rescanning the snapshot. The oracle recomputes the manifest
    * from scratch over the post-merge corpus, so the hash match is the
    * IVM correctness proof: counts and sums retract by sign, the
    * checksum retracts by xor. Cost model at 100 TB: the artifact is
    * |sources| rows, the effects pass is |delta| rows — the corpus is
    * read zero times by the maintenance step, vs once for the recompute
    * this provably equals. (Building yesterday's artifact here costs the
    * one corpus pass "yesterday" already paid.)
    */
  def manifestIvm(spark: SparkSession, docs: DataFrame, scratch: String)
      : DataFrame = {
    val artifact = s"$scratch/manifest_base"
    Governance.releaseManifest(docs)
      .write.mode("overwrite").parquet(artifact)
    val base = spark.read.parquet(artifact)

    val eff = deltaEffects(feed(docs))
      .select(col("source"), col("d_docs"), col("d_chars"),
        expr("cast(conv(substring(fp, 1, 15), 16, 10) as bigint)")
          .as("fp_term"))
      .groupBy(col("source"))
      .agg(sum(col("d_docs")).as("dd"), sum(col("d_chars")).as("dc"),
        expr("bit_xor(fp_term)").as("dx"))

    base.join(eff, Seq("source"), "left")
      .select(col("source"),
        (col("n_docs") + coalesce(col("dd"), lit(0L))).as("n_docs"),
        (col("sum_chars") + coalesce(col("dc"), lit(0L))).as("sum_chars"),
        col("fp_xor").bitwiseXOR(coalesce(col("dx"), lit(0L))).as("fp_xor"))
  }

  // ---- merge-on-read --------------------------------------------------

  /** One day's delta as an op-tagged log-row set — the second merge
    * strategy's write side. D rows carry the key with a NULL image; U/I
    * rows carry the full new image. Within a day the three key sets are
    * disjoint by derivation (delete beats update; inserts are re-keyed
    * above every live id), so a key has at most one log row per day and
    * cross-day resolution reduces to latest-day-wins.
    */
  def logEntries(batch: DataFrame, rules: DeltaRules): DataFrame = {
    val nullImage = Seq("text", "lang", "source").foldLeft(
      deletesBy(batch, rules).withColumn("op", lit("D"))) {
        (df, c) => df.withColumn(c, lit(null).cast("string"))
      }.withColumn("n_chars", lit(null).cast("long"))
    nullImage
      .unionByName(updatesBy(batch, rules).withColumn("op", lit("U")))
      .unionByName(insertsBy(batch, rules).withColumn("op", lit("I")))
      .select("op", "doc_id", "text", "lang", "source", "n_chars")
  }

  /** Append one day's log under `logPath/day=<day>` — the merge-on-read
    * write path: |delta| bytes written, ZERO snapshot bytes read or
    * rewritten. The whole point of MOR vs [[cowUpsert]]: ingest is
    * delta-priced, and every reader pays the merge until
    * [[compactMorLogs]] folds the log down.
    */
  def appendMorLog(
      batch: DataFrame, rules: DeltaRules, logPath: String, day: Int): Unit =
    logEntries(batch, rules)
      .write.mode("overwrite").parquet(s"$logPath/day=$day")

  /** The read-side merge: resolve base + log to the current row set
    * WITHOUT touching the base files. Per key, the latest log day wins
    * (at most one row per key per day, so `row_number` over the LOG —
    * never the base — is total); D tombstones drop the key, U/I images
    * replace/add it. The log-key anti-join against the base is an
    * explicit broadcast: at 100 TB the base scan is the unavoidable MOR
    * read cost, but the merge adds zero shuffles of base rows (PlanSpec
    * pins the broadcast anti-join).
    */
  def morRead(
      spark: SparkSession, basePath: String, logPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = spark.read.parquet(basePath)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val log = spark.read.parquet(logPath)
    val latest = log
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("day").cast("int").desc)))
      .where(col("rn") === 1)
    base.join(broadcast(latest.select("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(latest.where(col("op") =!= "D")
        .select("doc_id", "text", "lang", "source", "n_chars"))
  }

  /** Fold the accumulated log into the base — MOR's deferred
    * copy-on-write. Only the partitions the log touches are rewritten
    * (the [[mergeDelta]] staged-swap discipline: stage, rename, clean
    * partitions byte-untouched), then the log directory is dropped, so
    * subsequent reads are merge-free. The dirty-partition read of the
    * resolved view is partition-pruned like the COW path's.
    */
  def compactMorLogs(
      spark: SparkSession, basePath: String, logPath: String): Unit = {
    val staging = s"$basePath.compact"
    morRead(spark, basePath, logPath)
      .where(col("lang").isin(dirtyLangs: _*))
      .write.mode("overwrite").partitionBy("lang").parquet(staging)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(conf)
    dirtyLangs.foreach { l =>
      val live = new org.apache.hadoop.fs.Path(s"$basePath/lang=$l")
      val staged = new org.apache.hadoop.fs.Path(s"$staging/lang=$l")
      fs.delete(live, true)
      require(fs.rename(staged, live),
        s"log-compaction swap failed for partition lang=$l")
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    fs.delete(new org.apache.hadoop.fs.Path(logPath), true)
  }

  // ---- manifest-backed versioning (time travel) -----------------------

  /** List the committed data files of one partition directory — the
    * manifest entry a table format records at commit. Ordering is pinned
    * so manifests are deterministic artifacts.
    */
  private def partFiles(
      spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.toString)
      .filter(_.split('/').last.startsWith("part-")).sorted.toSeq
  }

  /** Lang discovery from the directories a write just created — a
    * metadata listing, not a corpus scan (the dynamic-partition writer
    * emits exactly one `lang=<l>` dir per distinct lang present). The
    * pre-r18 commits each ran a `select(lang).distinct().collect()` job
    * over the committed frame for the same answer.
    */
  private def dataLangs(spark: SparkSession, dataDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("lang=") => s.stripPrefix("lang=") }
      .sorted.toSeq
  }

  /** Per-file zone-map columns every manifest row carries beside `path`
    * (lang is the manifest's PARTITION column): min/max of the store's
    * natural key and of its size column, plus the file's row count —
    * the footer statistics a table format records at commit so reads
    * can skip files whose range cannot match a predicate.
    */
  private val manifestStatCols: Seq[String] =
    Seq("min_doc_id", "max_doc_id", "min_n_chars", "max_n_chars", "n_rows")

  /** The manifest table's schema as a read yields it: lang (the partition
    * column), the file's path, its zone map ([[manifestStatCols]]). Every
    * manifest read passes it, so none runs a schema-inference job.
    */
  private[graft] val manifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    StructType(StructField("lang", StringType) +: StructField("path", StringType) +:
      manifestStatCols.map(StructField(_, LongType)))
  }

  /** One data file's zone map, in [[manifestStatCols]] order. */
  private[graft] final case class ZoneMap(minDocId: Long, maxDocId: Long,
      minNChars: Long, maxNChars: Long, nRows: Long) {
    def values: Seq[Long] = Seq(minDocId, maxDocId, minNChars, maxNChars, nRows)
  }

  /** One manifest row: a committed data file, its partition, its zone map. */
  private[graft] final case class ManifestEntry(lang: String, path: String, zone: ZoneMap)

  /** A committed file's zone map from its parquet FOOTER, read on the
    * driver: the writer already serialized exact per-row-group min/max
    * and row counts for the INT64 stat columns, so a commit's stats cost
    * is one footer read (KB) per written file, never a re-read of its
    * data. The footer's schema must be [[dataFileSchema]] (names and
    * types), or the commit fails naming the file — every store read
    * trusts that schema. A file missing stats for either column (a
    * foreign writer, an all-null chunk) fails the same way rather than
    * inventing a zone map; the store's writers always produce them
    * (doc_id/n_chars are non-null by the store contract). At production
    * file counts the stats would be captured from the write tasks
    * themselves.
    */
  private[graft] def fileZoneMap(spark: SparkSession, p: String): ZoneMap = {
    val footer = graft.Tables.readFooter(spark, p)
    val schema = graft.Tables.footerSchema(spark, p, footer)
    def types(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    require(types(schema) == types(dataFileSchema),
      s"store commit: $p has schema ${schema.simpleString}, not the store's " +
        s"${dataFileSchema.simpleString}")
    val blocks = footer.getBlocks
    require(!blocks.isEmpty, s"manifest stats: $p has zero row groups")
    var (mn, mx, mnc, mxc, n) =
      (Long.MaxValue, Long.MinValue, Long.MaxValue, Long.MinValue, 0L)
    blocks.forEach { b =>
      n += b.getRowCount
      b.getColumns.forEach { c =>
        val name = c.getPath.toDotString
        if (name == "doc_id" || name == "n_chars") {
          val st = c.getStatistics
          require(st != null && st.hasNonNullValue && st.getNumNulls == 0,
            s"manifest stats: $p column $name lacks exact footer " +
              "min/max — the store writer always produces them")
          val lo = st.genericGetMin.asInstanceOf[Number].longValue
          val hi = st.genericGetMax.asInstanceOf[Number].longValue
          if (name == "doc_id") {
            mn = math.min(mn, lo); mx = math.max(mx, hi)
          } else {
            mnc = math.min(mnc, lo); mxc = math.max(mxc, hi)
          }
        }
      }
    }
    ZoneMap(mn, mx, mnc, mxc, n)
  }

  /** The manifest rows for just-written partition directories: list the
    * files, then one footer read per file ([[fileZoneMap]]) — |written
    * files| rows, the same dirty-bounded metadata list the commit
    * already holds. A feed can legitimately wipe a partition (the WAP
    * bad-feed abort path stages exactly that): zero files means zero
    * rows.
    */
  private[graft] def manifestEntries(
      spark: SparkSession, dataDir: String, langs: Seq[String]): Seq[ManifestEntry] =
    langs.sorted.flatMap(l => partFiles(spark, s"$dataDir/lang=$l")
      .map(p => ManifestEntry(l, p, fileZoneMap(spark, p))))

  /** Collect the rows of several manifests in ONE job (a union of
    * known-schema reads), returned per manifest in argument order, each
    * sorted by (lang, path). A commit holds its parent manifest on the
    * driver: metadata-sized, |files| rows, which the driver-side
    * [[writeManifest]] needs anyway.
    */
  private[graft] def manifestRows(
      spark: SparkSession, manifestPaths: Seq[String]): Seq[Seq[ManifestEntry]] = {
    val rows = manifestPaths.zipWithIndex
      .map { case (p, i) => manifestFrame(spark, p).withColumn("__m", lit(i)) }
      .reduce(_ unionByName _)
      .collect()
      .groupBy(_.getAs[Int]("__m"))
    manifestPaths.indices.map { i =>
      rows.getOrElse(i, Array.empty[org.apache.spark.sql.Row]).toSeq.map { r =>
        val z = manifestStatCols.map(c => r.getAs[Long](c))
        ManifestEntry(r.getAs[String]("lang"), r.getAs[String]("path"),
          ZoneMap(z(0), z(1), z(2), z(3), z(4)))
      }.sortBy(e => (e.lang, e.path))
    }
  }

  /** The parquet message type of one manifest file (lang lives in the
    * directory name), with the nullability a Spark write of the same
    * columns records.
    */
  private lazy val manifestMessage: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
    manifestStatCols.foldLeft(Types.buildMessage()
        .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("path")) {
      (b, c) => b.optional(INT64).named(c)
    }.named("spark_schema")
  }

  /** Persist a manifest from the driver: its rows are metadata-sized
    * (|files|), so they are written as one `lang=<l>/part-*.parquet` file
    * per partition through parquet-hadoop — no Spark job — into a
    * staging directory beside `manifestPath`, which then replaces it by
    * one rename (the old directory is deleted first, as an overwrite
    * write does). The layout is the one a `partitionBy(lang)` write
    * leaves, so an as-of read filtered to a lang subset LISTS (and
    * collects) only those partitions' metadata. Zero rows leave an empty
    * directory, which reads back as an empty manifest.
    */
  private[graft] def writeManifest(
      spark: SparkSession, rows: Seq[ManifestEntry], manifestPath: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dest = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = dest.getFileSystem(conf)
    val id = java.util.UUID.randomUUID().toString
    val staging = new org.apache.hadoop.fs.Path(dest.getParent,
      s"_staging_${dest.getName}_$id")
    require(fs.mkdirs(staging), s"manifest staging mkdir failed: $staging")
    rows.groupBy(_.lang).foreach { case (l, es) =>
      val file = new org.apache.hadoop.fs.Path(staging,
        s"lang=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(l)}/part-00000-$id.c000.snappy.parquet")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
        .withConf(conf).withType(manifestMessage)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try es.sortBy(_.path).foreach { e =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(manifestMessage)
        g.add("path", e.path)
        manifestStatCols.zip(e.zone.values).foreach { case (c, v) => g.add(c, v) }
        w.write(g)
      } finally w.close()
    }
    fs.delete(dest, true)
    require(fs.rename(staging, dest), s"manifest rename failed: $manifestPath")
  }

  /** The number of rows per data file in a ZONED store commit
    * ([[zonedStore]]): rows sort by (lang, doc_id) and roll to a new
    * file every `zoneRows` records, so file boundaries are a
    * deterministic function of the committed STATE — which is what lets
    * the DuckDB oracle reproduce the per-file zone maps and hash-check
    * the skipping gauge. 0 = unzoned (the layout the other stores use).
    */
  val defaultZoneRows: Int = 128

  /** Whole files per zoned-write TASK: each write task receives a
    * contiguous rank interval of `zoneRows * zoneSplitFiles` rows (a
    * whole number of files), so the task split can NEVER move a file
    * boundary — small enough that every harness lang spans several
    * tasks (the scale behavior under test), large enough that a file
    * never splits.
    */
  val zoneSplitFiles: Int = 4

  /** Deterministic grid resolution for the exact-rank computation in
    * [[writeData]]: cells per lang on the primary sort column, and
    * doc_id sub-cells inside a single-valued primary cell.
    */
  private val zoneGridCells = 4096L
  private val zoneSubCells = 256L

  /** Write a commit's partition data: unzoned (the plain partitioned
    * write) or zoned — rows sorted by `sortCols` (a TOTAL order: the
    * default and every caller end in the unique doc_id), files rolled
    * every `zoneRows` records, so file boundaries are a deterministic
    * function of the committed STATE and the DuckDB oracle recomputes
    * every file's zone map from state + the roll rule.
    *
    * The zoned path used to `repartition(lang)` — ONE sort task per
    * partition value, the serialization a terabyte-scale lang cannot
    * afford. It now RANGE-SPLITS each lang across tasks at EXACT rank
    * positions that are multiples of `zoneRows`, which keeps the row →
    * file mapping bit-identical to the single-task layout (a task
    * boundary is always also a file boundary; every non-tail group has
    * a whole number of files, so any concatenation of groups rolls the
    * same files the global sorted run would):
    *
    *  1. one tiny agg reads the sort-column bounds, defining a
    *     deterministic two-level interval grid on the within-lang sort
    *     order (primary column cells; doc_id sub-cells when a primary
    *     cell is single-valued — no sampling anywhere, unlike
    *     `repartitionByRange`, whose sampled bounds would make file
    *     boundaries a function of the RUN instead of the state);
    *  2. per-(lang, cell) counts prefix-sum into cell start ranks via a
    *     window over the CELL-sized counts frame (metadata-sized — the
    *     driver never sees it);
    *  3. each row's exact lang rank = its cell's start + its
    *     row_number within the cell (a window partitioned by CELL, so
    *     the worst task is the largest grid cell, not the largest
    *     lang); groups = rank div (zoneRows * [[zoneSplitFiles]]);
    *  4. hash-repartition on (lang, group) + sortWithinPartitions:
    *     groups of one lang that share a task concatenate in rank order
    *     (sort order IS rank order), each lang's ragged tail group
    *     sorts last within its lang, and the dynamic-partition writer
    *     rolls each lang directory independently — boundaries hold.
    *
    * Cost: two data-sized shuffles instead of one. Worth it — the old
    * shape sorted a whole partition value through one task, this one's
    * critical path is `splitRows` rows per task regardless of lang
    * size.
    */
  private def writeData(df: DataFrame, dataDir: String, zoneRows: Int,
      sortCols: Seq[String] = Seq("lang", "doc_id"),
      outCols: Seq[String] = Nil): Unit = {
    val out = if (outCols.nonEmpty) outCols else df.columns.toSeq
    if (zoneRows <= 0) {
      df.select(out.map(col): _*)
        .write.mode("overwrite").partitionBy("lang").parquet(dataDir)
      return
    }
    // Materialize the input ONCE for the zoned path: zoneGrid and the
    // final write evaluate the frame three times (bounds agg, cell-count
    // agg, grouped write), and several callers hand in COMPUTED frames —
    // the merge's anti-join∪union, the Z-order/equi-depth clustering
    // keys — whose subtree would otherwise re-execute per pass (the r18
    // baseline measured the equi-depth commit re-running its rank joins
    // 3×). The checkpoint is corpus-sized but commit-local; it is
    // dropped as soon as the write lands.
    val src = df.localCheckpoint()
    try zoneGrid(src, zoneRows, sortCols) match {
      case None => // TRULY empty commit: nothing to split
        src.select(out.map(col): _*)
          .write.mode("overwrite").partitionBy("lang").parquet(dataDir)
      case Some(granked) =>
        granked
          .repartition(col("lang"), col("__grp"))
          .sortWithinPartitions(sortCols.map(col): _*)
          // narrow projection preserves intra-partition order; helper
          // columns (and any clustering key) are never stored
          .select(out.map(col): _*)
          .write.mode("overwrite")
          .option("maxRecordsPerFile", zoneRows.toString)
          .partitionBy("lang").parquet(dataDir)
    } finally src.unpersist(blocking = false)
  }

  /** Grid-key column names [[zoneGrid]] attaches (besides `__grp`) —
    * exposed with it so specs can pin the window-partition bound.
    */
  private[graft] val zoneGridKeys: Seq[String] =
    Seq("__c1", "__c2", "__r1", "__r2")

  /** The deterministic rank-grid assignment of a zoned write: the input
    * frame plus the grid key columns ([[zoneGridKeys]]) and `__grp`, the
    * whole-file rank group each row writes through. None on an empty
    * input. Package-private so CdcSpec can pin BOTH halves of the
    * contract directly: `__grp` ≡ the global-sorted rank div splitRows
    * (boundary exactness) and no (lang, grid-key) window partition
    * exceeding the hot-cell bound (no straggler window), without reading
    * task internals.
    */
  private[graft] def zoneGrid(df: DataFrame, zoneRows: Int,
      sortCols: Seq[String]): Option[DataFrame] = {
    val v1 = sortCols(1) // primary within-lang sort column (lang is first)
    val bounds = df.agg(count(lit(1)),
      min(col(v1).cast("long")), max(col(v1).cast("long")),
      count(col(v1)),
      min(col("doc_id")), max(col("doc_id")),
      count(col("doc_id"))).head
    if (bounds.getLong(0) == 0L) return None
    // rows exist: doc_id (the store key) is never NULL; a primary sort
    // column that is partly or even entirely NULL still zones — NULLs
    // map to the sentinel mn1 − 1 below, which sorts exactly where
    // ascending NULLS FIRST puts the rows, so grid cells stay valid
    // intervals of the sort order. The guard compares COUNTS (not just
    // min IS NULL, which fires only when EVERY doc_id is null): any null
    // doc_id would flow into the sub-cell / heavy-single-valued-cell
    // interval arithmetic as a null grid key and silently misplace rank
    // groups, so it must fail loudly here.
    require(bounds.getLong(6) == bounds.getLong(0),
      "zoned write: doc_id must be non-null on every row (it is the " +
        "store key and the total-order tiebreaker every file boundary " +
        s"derives from); ${bounds.getLong(0) - bounds.getLong(6)} null " +
        "doc_id rows found")
    val (mn1, mx1) =
      if (bounds.isNullAt(1)) (0L, 0L)
      else (bounds.getLong(1), bounds.getLong(2))
    val hasNull1 = bounds.getLong(3) != bounds.getLong(0)
    val (mnD, mxD) = (bounds.getLong(4), bounds.getLong(5))
    val w1 = math.max(1L, (mx1 - mn1) / zoneGridCells + 1L)
    // doc_id sub-cells are lexicographically valid intervals of the
    // sort order only when a primary cell holds ONE value (w1 == 1 and
    // no NULL sentinel sharing cells with real values); they bound the
    // window skew when the primary column is coarse (n_chars, zbucket)
    // and are redundant when it is doc_id itself
    val useSub = w1 == 1L && v1 != "doc_id" && !hasNull1
    val wD = math.max(1L, (mxD - mnD) / zoneSubCells + 1L)
    val splitRows = zoneRows.toLong * zoneSplitFiles
    // r16 verdict #2: hot-value refinement threshold. A dominant primary
    // value inside a multi-value grid cell used to serialize its whole
    // row_number window through one task — the straggler the range split
    // was built to kill, back in a narrower doorway. Any cell whose count
    // exceeds this re-cells (below), bounding the worst window regardless
    // of how Zipf-ish the primary column is.
    val hotCellRows = 4L * splitRows
    /** One refinement level: find HEAVY (keys) groups from a
      * metadata-sized agg of the cells frame, and sub-cell their rows —
      * a single-valued heavy cell splits on doc_id intervals (the value
      * is constant, so doc intervals ARE intervals of the sort order); a
      * multi-valued one splits on primary-value intervals within its own
      * [min, max]. Both rules are pure functions of STATE (no sampling),
      * so file boundaries stay oracle-replayable; non-heavy rows keep
      * sub-cell 0. Two stacked levels bound the worst window at
      * ~hotCellRows whenever the primary range per cell is ≤
      * zoneSubCells² (any realistic stat column); a hotter pathological
      * residual degrades to the pre-r17 one-window behavior, never to
      * wrong boundaries.
      */
    // The refinement sub-cell arithmetic shared by both levels: heavy
    // single-valued cells split on doc_id intervals (the value is
    // constant, so doc intervals ARE intervals of the sort order); heavy
    // multi-valued ones split on primary-value intervals within their own
    // [min, max]. Both rules are pure functions of STATE (no sampling),
    // so file boundaries stay oracle-replayable; non-heavy rows keep
    // sub-cell 0.
    def refineJoin(
        d: DataFrame, hot: DataFrame, keys: Seq[String],
        outCol: String): DataFrame =
      d.join(hot, keys, "left")
        .withColumn(outCol,
          when(col("__hv0").isNull, lit(0L)) // not a heavy cell
            .when(col("__hv0") === col("__hv1"), expr(
              s"(doc_id - __hd0) div " +
                s"greatest(1L, (__hd1 - __hd0) div ${zoneSubCells}L + 1L)"))
            .otherwise(expr(
              s"(__v - __hv0) div " +
                s"greatest(1L, (__hv1 - __hv0) div ${zoneSubCells}L + 1L)")))
        .drop("__hv0", "__hv1", "__hd0", "__hd1")
    // NULL primary values take the sentinel mn1 − 1: strictly below every
    // real value, so __v-ordering ≡ the writer's ascending NULLS FIRST
    // and NULL rows can share a grid cell with mn1 rows without breaking
    // the interval property (they are its contiguous prefix).
    val base = df
      .withColumn("__v",
        expr(s"coalesce(cast($v1 as bigint), ${mn1}L - 1L)"))
      .withColumn("__c1", expr(s"(__v - ${mn1}L) div ${w1}L"))
      .withColumn("__c2",
        if (useSub) expr(s"(doc_id - ${mnD}L) div ${wD}L") else lit(0L))
    // ONE metadata-sized cell-counts agg (≤ zoneGridCells·zoneSubCells
    // rows per lang, map-side combined) serves BOTH the hot-cell
    // detection and — in the common skew-free case — the rank-start
    // prefix sums: the pre-r18 shape ran detection and starts as TWO
    // separate corpus-sized aggs of the same input, and the skew-free
    // commit (every harness commit; any well-distributed production one)
    // paid both. Level-2 detection (only reached when level 1 found a
    // heavy cell) keeps its own agg — sub-partitioning the refined rows
    // genuinely needs fresh counts there.
    val gridKeys = zoneGridKeys
    val cellCounts = base.groupBy(col("lang"), col("__c1"), col("__c2"))
      .agg(count(lit(1)).as("__hn"),
        min(col("__v")).as("__hv0"), max(col("__v")).as("__hv1"),
        min(col("doc_id")).as("__hd0"), max(col("doc_id")).as("__hd1"))
      .localCheckpoint() // materialized once: the emptiness probe, the
    // refinement join, and the skew-free starts all reuse it
    val hot1 = cellCounts.filter(col("__hn") > hotCellRows).drop("__hn")
    val startsWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(gridKeys.map(col): _*)
      .rowsBetween(Long.MinValue, -1)
    val (cells, starts) =
      if (hot1.head(1).isEmpty) {
        // skew-free: no refinement join, and the starts table IS the
        // cell-counts frame with the (constant-zero) refinement keys
        // attached — zero additional corpus passes
        (base.withColumn("__r1", lit(0L)).withColumn("__r2", lit(0L)),
          cellCounts
            .select(col("lang"), col("__c1"), col("__c2"),
              lit(0L).as("__r1"), lit(0L).as("__r2"), col("__hn").as("__cnt"))
            .withColumn("__start",
              coalesce(sum(col("__cnt")).over(startsWindow), lit(0L)))
            .drop("__cnt"))
      } else {
        val d1 = refineJoin(base, hot1, Seq("lang", "__c1", "__c2"), "__r1")
        // level 2: fresh counts over the refined groups (rare path)
        val hot2 = d1.groupBy(col("lang"), col("__c1"), col("__c2"),
            col("__r1"))
          .agg(count(lit(1)).as("__hn"),
            min(col("__v")).as("__hv0"), max(col("__v")).as("__hv1"),
            min(col("doc_id")).as("__hd0"), max(col("doc_id")).as("__hd1"))
          .filter(col("__hn") > hotCellRows)
          .drop("__hn")
          .localCheckpoint()
        val refined =
          if (hot2.head(1).isEmpty) d1.withColumn("__r2", lit(0L))
          else refineJoin(d1, hot2,
            Seq("lang", "__c1", "__c2", "__r1"), "__r2")
        (refined,
          refined.groupBy((("lang" +: gridKeys)).map(col): _*)
            .agg(count(lit(1)).as("__cnt"))
            .withColumn("__start",
              coalesce(sum(col("__cnt")).over(startsWindow), lit(0L)))
            .drop("__cnt"))
      }
    val rest = sortCols.drop(1)
    Some(cells.join(starts, "lang" +: gridKeys)
      .withColumn("__grp", expr(s"(__start - 1 + row_number() over (" +
        s"partition by lang, ${gridKeys.mkString(", ")} order by " +
        s"${rest.mkString(", ")})) div ${splitRows}L")))
  }

  /** Write version 0 of the versioned store: data files under `d0/`,
    * plus the v0 manifest — per-file (path, zone map) rows partitioned
    * by lang, the metadata-sized artifact every later version builds
    * on. The one-time init stats pass reads only the zone-map columns
    * of what it just wrote (the corpus pass "day 0" already paid).
    */
  def versionedInit(
      spark: SparkSession, docs: DataFrame, root: String,
      zoneRows: Int = 0): Unit = {
    writeLayout(spark, docs.select(storeCols.map(col): _*), root, 0,
      zoneRows, byDocId)
  }

  /** Read the store AS OF a version: the manifest names the files, the
    * scan unions one pruned file-list read per partition value. Nothing
    * about later versions is visible — old manifests keep pointing at
    * their files, which commits never mutate (copy-on-write + rename).
    * `langs` prunes the MANIFEST read itself (only those partitions'
    * metadata is listed or collected); `bands` additionally admits only
    * files whose zone map overlaps every (column, lo, hi) band — zone
    * maps have no false negatives, so with the exact predicate
    * re-applied on top the skipped read is hash-identical to the full
    * one.
    */
  def readVersion(
      spark: SparkSession, root: String, v: Int,
      langs: Seq[String] = Nil,
      bands: Seq[(String, Long, Long)] = Nil,
      workloadLog: Option[(String, Long)] = None): DataFrame =
    readManifest(spark, s"$root/m/v=$v", langs, bands, workloadLog)

  /** The manifest TABLE of a version/branch, optionally pruned to a
    * lang subset — the partition predicate reaches the manifest's own
    * parquet scan as a PartitionFilter (CdcSpec pins the listing), so
    * the collect below it is bounded by the pruned partitions' rows.
    * Read with [[manifestSchema]], so no inference job runs.
    */
  def manifestFrame(
      spark: SparkSession, manifestPath: String,
      langs: Seq[String] = Nil): DataFrame = {
    val m = spark.read.schema(manifestSchema).parquet(manifestPath)
    if (langs.isEmpty) m else m.where(col("lang").isin(langs: _*))
  }

  /** As-of read through an arbitrary manifest path (a published version
    * or a staged WAP branch): the manifest names the files, the scan
    * unions one pruned file-list read per partition value. The driver
    * collects ONLY the pruned partitions' file groups (and, under
    * `bands`, only the zone-map-admitted files of those).
    */
  def readManifest(
      spark: SparkSession, manifestPath: String,
      langs: Seq[String] = Nil,
      bands: Seq[(String, Long, Long)] = Nil,
      workloadLog: Option[(String, Long)] = None): DataFrame = {
    // WORKLOAD CAPTURE (r18): when a log sink is given, record the band
    // predicates this read actually issues — (query id, column, lo, hi),
    // a few rows per read, appended before any data is touched — so the
    // layout advisor can consume OBSERVED reads ([[adviseLayoutLogged]])
    // instead of a hand-authored workload. The append is metadata-sized
    // by construction (|bands| rows); a production deployment batches
    // these through the streaming commit discipline rather than one
    // parquet file per read, which is fine at advisor cadence.
    workloadLog.foreach { case (logDir, qid) =>
      if (bands.nonEmpty) {
        import spark.implicits._
        bands.map { case (c, lo, hi) => (qid, c, lo, hi) }
          .toDF("qid", "col_name", "lo", "hi")
          .coalesce(1)
          .write.mode("append").parquet(logDir)
      }
    }
    val m = manifestFrame(spark, manifestPath, langs)
    val pruned = if (bands.isEmpty) m else m.where(admits(bands))
    scanFiles(spark, pruned.select("lang", "path")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq)
  }

  /** The store rows of the given (lang, path) manifest entries, read
    * with [[dataFileSchema]]: the as-of read behind [[readManifest]], and
    * a commit's read of the parent files it already holds.
    */
  private def scanFiles(
      spark: SparkSession, manifest: Seq[(String, String)]): DataFrame = {
    if (manifest.isEmpty)
      // zone maps legitimately admit ZERO files when no file's range
      // overlaps the band — an empty frame with the store schema, not a
      // zero-path read error. The schema is a compile-time constant of
      // the store (every commit writes exactly these columns), so the
      // zero case costs no filesystem round trip.
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchema)
    // ONE scan over the admitted files of ALL partitions, each row's
    // lang re-attached by joining its file path against the manifest's
    // own (path, lang) rows (broadcast, |files| entries — metadata). The
    // pre-r18 shape unioned one scan leg PER LANG with lang as a
    // literal: a 3-version manifest query ran 15 scans where this runs
    // 3. The join, not a `lang=` path regex, because RTBF replacement
    // files live under `purge/fidx=N/` — only the manifest knows their
    // partition. BOTH sides reduce to the same key ([[scanKey]] on the
    // manifest's raw paths, the same [[scanPathNormRe]] strip on the
    // scan's URL-encoded `input_file_name`), and the left join below
    // turns any residual mismatch into a loud per-row error instead of
    // silent row loss (no extra pass — the null check rides the join's
    // own projection).
    import spark.implicits._
    val pathLang = manifest
      .map { case (l, p) => (scanKey(p), l) }
      .toDF("__p", "__mlang")
    spark.read.schema(dataFileSchema).parquet(manifest.map(_._2).sorted: _*)
      .withColumn("__p",
        regexp_replace(input_file_name(), scanPathNormRe, ""))
      .join(broadcast(pathLang), Seq("__p"), "left")
      .withColumn("lang", coalesce(col("__mlang"), raise_error(concat(
        lit("as-of read: scanned file missing from the manifest after " +
          "path normalization (join would have dropped the row): "),
        col("__p")))))
      .drop("__p", "__mlang")
  }

  /** The zone-map admission test of a conjunction of (column, lo, hi)
    * bands: a file is admitted iff its recorded [min, max] of every
    * band's column overlaps the band — no false negatives by
    * construction. The one overlap rule behind manifest pruning, the
    * skipping gauges and the layout advisor.
    */
  private def admits(bands: Seq[(String, Long, Long)]): Column =
    bands.map { case (c, lo, hi) =>
      col(s"max_$c") >= lo && col(s"min_$c") <= hi
    }.reduce(_ && _)

  /** The ONE scan-path normalizer of the as-of read: strips
    * `scheme:` / `scheme://authority` so `file:/a`, `file:///a`, and
    * `s3a://bucket/a`-style URIs all reduce to the bare path. Applied
    * TEXTUALLY IDENTICALLY on both join sides (regexp_replace on the
    * scan's input_file_name, String.replaceFirst on the manifest's
    * listing — both java.util.regex), so the two sides cannot diverge
    * the way regex-vs-URI.getPath did on authority-bearing URIs.
    */
  private[graft] val scanPathNormRe: String =
    "^[a-zA-Z][a-zA-Z0-9.+-]*:(//[^/]*)?"

  private[graft] def normalizeScanPath(p: String): String =
    p.replaceFirst(scanPathNormRe, "")

  /** The join key of a RAW manifest path (Hadoop `Path.toString`, as
    * written at commit): URL-encoded the way Spark's scan reports
    * `input_file_name` (a space becomes `%20`, a literal `%` `%25`),
    * then normalized — so a store root holding such characters keys
    * identically on both sides. Driver-side, O(files).
    */
  private[graft] def scanKey(p: String): String =
    normalizeScanPath(org.apache.spark.paths.SparkPath.fromPathString(p).urlEncoded)

  /** Commit version `toV` on top of `fromV`: apply one day's rules to
    * the as-of dirty-partition view, write ONLY the rewritten partitions
    * as new files under `d<toV>/`, and write the new manifest = clean
    * partitions' rows carried over VERBATIM from the parent manifest
    * (zero data copied — the same physical files are shared by every
    * version that didn't touch them, CdcSpec pins path identity) plus
    * the new files. This is the snapshot-isolation contract at 100 TB:
    * a daily commit costs |dirty| partitions of data and |files| rows of
    * metadata, and every historical version stays readable.
    */
  def versionedMerge(
      spark: SparkSession, root: String, fromV: Int, toV: Int,
      rules: DeltaRules, dirty: Seq[String] = dirtyLangs,
      zoneRows: Int = 0): Unit =
    mergeCommit(spark, s"$root/m/v=$fromV", s"$root/d$toV",
      s"$root/m/v=$toV", rules, dirty, zoneRows)

  /** The commit core shared by published versions and staged WAP
    * branches: apply one day's rules to the parent manifest's as-of
    * dirty-partition view, write the rewritten partitions to `dataDir`,
    * and write a manifest = parent's clean rows VERBATIM + the fresh
    * files.
    */
  private def mergeCommit(
      spark: SparkSession, fromManifest: String, dataDir: String,
      toManifest: String, rules: DeltaRules,
      dirty: Seq[String] = dirtyLangs, zoneRows: Int = 0): Unit = {
    // ONE collect of the parent manifest (|files| rows, metadata): its
    // dirty rows name the files the merge reads, its clean rows carry
    // over to the new manifest verbatim
    val (dirtyRows, clean) = manifestRows(spark, Seq(fromManifest)).head
      .partition(e => dirty.contains(e.lang))
    val cur = scanFiles(spark, dirtyRows.map(e => (e.lang, e.path)))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val batch = cur.localCheckpoint()
    val changed = deletesBy(batch, rules)
      .union(updatesBy(batch, rules).select("doc_id"))
    val cols = batch.columns.map(col).toSeq
    writeData(
      batch.join(changed, Seq("doc_id"), "left_anti")
        .unionByName(updatesBy(batch, rules).select(cols: _*))
        .unionByName(insertsBy(batch, rules).select(cols: _*)),
      dataDir, zoneRows)
    writeManifest(spark, clean ++ manifestEntries(spark, dataDir, dirty),
      toManifest)
  }

  /** Registered time-travel query: build v0 → v1 (day-1 rules) → v2
    * (day-2 rules), then — with all three versions live — manifest each
    * as-of read per (version, lang). The oracle recomputes every
    * version's corpus state from scratch (documents / day-1 merge /
    * chained day-2 merge), so one hash proves both directions of the
    * versioning contract: each commit produced exactly the next merge
    * state, AND committing never disturbed a prior version's read.
    */
  def timeTravelStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=2") {
      versionedInit(spark, docs, scratch)
      versionedMerge(spark, scratch, 0, 1, day1Rules)
      versionedMerge(spark, scratch, 1, 2, day2Rules)
    }

  def timeTravelManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    timeTravelStore(spark, docs, scratch)
    (0 to 2).map { v =>
      Governance.releaseManifestBy(readVersion(spark, scratch, v), "lang")
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("version", "lang", "n_docs", "sum_chars", "fp_xor")
  }

  /** Expire versions and vacuum: drop the manifests not in `keep`, then
    * delete every data file no surviving manifest references. The
    * refcount is over MANIFEST rows, not directories — a file written
    * for v0 but still pointed at by v2's manifest (the zero-copy clean-
    * partition share) survives, while v0's superseded dirty files and
    * the whole d1 generation of an expired intermediate version go.
    * This is the GC contract a table format needs once commits share
    * files: the refcount is a DataFrame ANTI-JOIN of the file inventory
    * against the union of surviving manifests — the live set (10⁶–10⁷
    * entries at 100 TB) never materializes on the driver; only the
    * ORPHAN list (the actual delete work list, bounded by what the
    * expiry frees) is collected. CdcSpec pins both directions — shared
    * files kept, orphans physically deleted — and that the surviving
    * version's read is byte-identical after the sweep.
    */
  def expireVersions(
      spark: SparkSession, root: String, keep: Seq[Int]): Unit = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    val keepSet = keep.toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/m")).foreach { st =>
      val v = st.getPath.getName.stripPrefix("v=").toInt
      if (!keepSet(v)) fs.delete(st.getPath, true)
    }
    // file inventory: what a format's inventory table provides (here a
    // recursive listing of the data generations, metadata rows only)
    val partDirs = fs.listStatus(rootP)
      .filter(_.getPath.getName.startsWith("d"))
      .flatMap(gen => fs.listStatus(gen.getPath))
      .filter(_.getPath.getName.startsWith("lang="))
    val candidates = partDirs
      .flatMap(part => fs.listStatus(part.getPath))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSeq.toDF("path")
    val live = keep
      .map(v => manifestFrame(spark, s"$root/m/v=$v").select(col("path")))
      .reduce(_ unionByName _)
    val orphans = candidates.join(live, Seq("path"), "left_anti")
      .collect().map(_.getString(0))
    orphans.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), false))
    // prune now-empty partition dirs and generations (metadata listing)
    partDirs.foreach { part =>
      if (fs.listStatus(part.getPath)
          .forall(!_.getPath.getName.startsWith("part-")))
        fs.delete(part.getPath, true)
    }
    fs.listStatus(rootP).filter(_.getPath.getName.startsWith("d")).foreach {
      gen =>
        if (fs.listStatus(gen.getPath).isEmpty) fs.delete(gen.getPath, true)
    }
  }

  /** Registered vacuum query: the full retention lifecycle — three
    * versions committed, v0/v1 expired, the store vacuumed, THEN the
    * surviving version manifested from what physically remains. The
    * oracle recomputes the day-2 corpus state from scratch, so the hash
    * proves the sweep deleted nothing v2 still references (including
    * the clean-partition files v2 shares with the expired v0 — the
    * refcount case a directory-level GC would get wrong).
    */
  def vacuumedStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=2") {
      versionedInit(spark, docs, scratch)
      versionedMerge(spark, scratch, 0, 1, day1Rules)
      versionedMerge(spark, scratch, 1, 2, day2Rules)
      expireVersions(spark, scratch, keep = Seq(2))
    }

  def vacuumedManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    vacuumedStore(spark, docs, scratch)
    Governance.releaseManifestBy(readVersion(spark, scratch, 2), "lang")
  }

  /** Incremental consumption between two versions: the MANIFEST diff
    * names the files only one version references (retired vs fresh);
    * the row-level change feed is computed by reading ONLY those — the
    * clean partitions both manifests share verbatim are never opened.
    * That is the incremental-consumer contract at 100 TB: a downstream
    * reader pays |changed files|, not a corpus scan, and the file-set
    * pruning costs one driver pass over two metadata-sized manifests.
    * The full-outer join classifying added/deleted/changed/same is
    * dirty-partition-sized for the same reason.
    */
  def incrementalDiff(
      spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    // the manifest set-diff runs as DataFrame anti-joins over the two
    // manifest tables; the driver materializes ONLY the changed-file
    // lists (dirty-partition-bounded — the read work lists it must hand
    // the scheduler anyway), never a full manifest
    val mOld = manifestFrame(spark, s"$root/m/v=$fromV")
      .select("lang", "path")
    val mNew = manifestFrame(spark, s"$root/m/v=$toV")
      .select("lang", "path")
    def changed(a: DataFrame, b: DataFrame): Seq[(String, String)] =
      a.exceptAll(b).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    def readSet(rows: Seq[(String, String)]): DataFrame =
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, ps) =>
        spark.read.schema(dataFileSchema).parquet(ps.map(_._2).sorted: _*)
          .select(col("doc_id"), lit(lang).as("lang"), col("text"))
      }.reduce(_ unionByName _)
    val o = readSet(changed(mOld, mNew))
    val n = readSet(changed(mNew, mOld))
    o.withColumnRenamed("lang", "o_lang").withColumnRenamed("text", "o_text")
      .join(n, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("o_lang"), col("lang")).as("lang"),
        when(col("o_text").isNull, lit("added"))
          .when(col("text").isNull, lit("deleted"))
          .when(col("o_text") =!= col("text"), lit("changed"))
          .otherwise(lit("same")).as("status"))
      .groupBy("lang", "status")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Registered incremental read: commit v1 on v0, then emit the change
    * feed from the manifest diff. The oracle full-outer joins the two
    * from-scratch version states over the dirty languages — the engine
    * never reads the clean partitions at all (their manifest entries are
    * identical, so the diff is empty there), which is exactly why the
    * scopes agree.
    */
  def incrementalStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=1") {
      versionedInit(spark, docs, scratch)
      versionedMerge(spark, scratch, 0, 1, day1Rules)
    }

  def incrementalManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    incrementalStore(spark, docs, scratch)
    incrementalDiff(spark, scratch, 0, 1)
  }

  /** [[logEntries]] with a partition-aware delete image: D rows carry
    * their lang/source (joined back from the batch) alongside the NULL
    * data image — the Debezium-style feed shape whose before-image names
    * the partition, which is what lets a versioned committer rewrite
    * only the touched partitions without a key-location lookup.
    */
  def partitionedLogEntries(batch: DataFrame, rules: DeltaRules): DataFrame =
    deletesBy(batch, rules)
      .join(batch.select("doc_id", "lang", "source"), Seq("doc_id"))
      .withColumn("op", lit("D"))
      .withColumn("text", lit(null).cast("string"))
      .withColumn("n_chars", lit(null).cast("long"))
      .select("op", "doc_id", "text", "lang", "source", "n_chars")
      .unionByName(updatesBy(batch, rules).withColumn("op", lit("U"))
        .select("op", "doc_id", "text", "lang", "source", "n_chars"))
      .unionByName(insertsBy(batch, rules).withColumn("op", lit("I"))
        .select("op", "doc_id", "text", "lang", "source", "n_chars"))

  /** Commit ONE op-tagged log batch as version `toV` on top of `fromV`:
    * the batch's langs name the dirty partitions (partition-aware feed),
    * only those are read as-of and rewritten, the manifest carries the
    * untouched partitions' entries verbatim. Within a batch the key sets
    * are disjoint by the feed contract (one op per key per batch), so
    * anti-join(D ∪ U) + union(U ∪ I images) is the whole merge.
    *
    * Slot replay is valid ONLY while `toV` is the head version — the
    * foreachBatch contract, where a restart replays at most the latest
    * batch id. Rewriting a NON-tail slot would regenerate `d$toV` with
    * fresh part-file names while descendant manifests (which copy parent
    * rows verbatim for untouched langs) still reference the old paths —
    * dangling references, not idempotence. The guard below turns that
    * misuse into an immediate failure instead of a corrupted chain.
    */
  def commitLogBatch(
      spark: SparkSession, root: String, fromV: Int, toV: Int,
      log: DataFrame): Unit = {
    val head = headVersion(spark, root)
    require(toV == head || toV == head + 1,
      s"commitLogBatch: v=$toV is not the tail (head=$head) — replaying " +
        "a non-tail slot would dangle descendant manifests' file paths")
    val logB = log.localCheckpoint()
    val touched = logB.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // one collect of the parent manifest: the touched langs' rows name
    // the files to read, the others carry over verbatim (same discipline
    // as mergeCommit). No checkpoint: the as-of read feeds exactly one
    // consumer (the anti-join∪union write below), so materializing it
    // first was a pure extra pass per streamed commit.
    val (touchedRows, clean) = manifestRows(spark, Seq(s"$root/m/v=$fromV"))
      .head.partition(e => touched.contains(e.lang))
    val cur = scanFiles(spark, touchedRows.map(e => (e.lang, e.path)))
      .select("doc_id", "text", "lang", "source", "n_chars")
    cur.join(logB.where(col("op").isin("D", "U")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .unionByName(logB.where(col("op").isin("U", "I"))
        .select("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(s"$root/d$toV")
    writeManifest(spark,
      clean ++ manifestEntries(spark, s"$root/d$toV", touched),
      s"$root/m/v=$toV")
  }

  /** Streaming versioned commits: every arriving micro-batch of
    * op-tagged log rows lands as ONE new version (`v = batchId + 1` on
    * the v0 [[versionedInit]] wrote), so a live feed produces a
    * time-travelable chain — each batch's commit rewrites only its
    * touched partitions and every prior version stays readable while
    * the stream runs. Checkpoint replay of a batch id rewrites the same
    * data dir and manifest (both mode=overwrite), making the commit
    * idempotent the way the MOR log generations are.
    */
  def versionedLogStream(delta: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    delta.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitLogBatch(batch.sparkSession, root,
          fromV = batchId.toInt, toV = batchId.toInt + 1, log = batch)
      }

  /** Streamed ingestion end to end as one registered lifecycle: v0
    * snapshot, then the day-1 op log arrives as THREE micro-batches
    * (split by doc_id % 3 — the feed contract keeps one op per key per
    * day, so the split composes delivery-order-free), each committed by
    * [[versionedLogStream]] as one readable version. After batch 1's
    * commit the SAME batch is delivered again — the at-least-once
    * duplicate every stream transport eventually produces, exactly what
    * a foreachBatch sink sees when the driver restarts and the
    * checkpoint replays the last batch id. The replay maps to the same
    * (fromV=1, toV=2) commit and rewrites it from the same PARENT state:
    * a commit is a pure function of (parent version, batch), never an
    * append to current state, so the duplicate changes nothing — had the
    * sink instead re-APPLIED the batch on top of its own output, the
    * batch's INSERT images would land beside the copies the first
    * application already wrote (duplicate keys; CdcSpec exhibits the
    * corruption) and the oracle's counts and checksum would flip. Final
    * state therefore equals the one-shot day-1 merge, which is what the
    * oracle recomputes.
    *
    * The driver-side batch list is DELTA-sized (the day's op rows, never
    * the corpus) — the offline stand-in for a stream transport in this
    * zero-egress environment; at scale the transport delivers the same
    * op rows and the commit path below is unchanged.
    */
  def streamIngestStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=3") {
      versionedInit(spark, docs, scratch)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val logCols = Seq("op", "doc_id", "text", "lang", "source", "n_chars")
      val entries = partitionedLogEntries(feed(docs), day1Rules).collect()
        .map(r => (r.getAs[String]("op"), r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[String]("lang"),
          r.getAs[String]("source"),
          Option(r.getAs[java.lang.Long]("n_chars")).map(_.longValue)))
      val batches = (0L to 2L).map(i => entries.filter(_._2 % 3 == i).toSeq)
      batches.zipWithIndex.foreach { case (b, i) =>
        require(b.nonEmpty, s"stream-ingest fixture batch $i is empty at " +
          s"this corpus — the 3-batch split no longer covers the delta")
      }
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, String, String, String, Option[Long])]
      val q = versionedLogStream(input.toDF().toDF(logCols: _*), scratch)
        .start()
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          input.addData(b)
          q.processAllAvailable()
          if (i == 1)
            // checkpoint-replay duplicate: same batch, same batch id →
            // the same (fromV, toV) slot, recomputed from the same parent
            commitLogBatch(spark, scratch, fromV = 1, toV = 2,
              log = spark.createDataset(b).toDF(logCols: _*))
        }
      } finally q.stop()
    }

  /** Registered read leg of [[streamIngestStore]]: the per-lang release
    * manifest of the stream's FINAL version plus the chain length — 3
    * versions from 4 deliveries (the duplicate rewrote its slot instead
    * of minting a version), content hash-equal to the one-shot day-1
    * merge the oracle recomputes.
    */
  def streamIngestManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    streamIngestStore(spark, docs, scratch)
    val head = headVersion(spark, scratch)
    Governance.releaseManifestBy(readVersion(spark, scratch, head), "lang")
      .withColumn("n_versions", lit(head))
      .select("lang", "n_docs", "sum_chars", "fp_xor", "n_versions")
  }

  // ---- write-audit-publish --------------------------------------------

  /** Stage the next commit on a BRANCH: same merge core as a published
    * version, but the manifest lands at `m/b_<branch>` — outside the
    * `v=` namespace readers resolve — so the staged data is durable and
    * auditable while completely invisible to consumers of the version
    * chain.
    */
  def wapStage(
      spark: SparkSession, root: String, fromV: Int, branch: String,
      rules: DeltaRules, dirty: Seq[String] = dirtyLangs): Unit =
    mergeCommit(spark, s"$root/m/v=$fromV", s"$root/db_$branch",
      s"$root/m/b_$branch", rules, dirty)

  /** Audit the staged branch before anyone can read it: every language
    * present in the parent version must survive with documents and
    * characters — the guard against a bad feed (or a bad rules bug)
    * silently wiping a partition. The audit reads STAGED data through
    * the branch manifest, exactly what a consumer would see after
    * publish.
    */
  def wapAudit(
      spark: SparkSession, root: String, fromV: Int,
      branch: String): Boolean = {
    val staged = Governance
      .releaseManifestBy(readManifest(spark, s"$root/m/b_$branch"), "lang")
      .collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars")))).toMap
    // the manifest is partitioned by lang, so the parent's lang set is a
    // directory listing, not a scan job
    val mp = new org.apache.hadoop.fs.Path(s"$root/m/v=$fromV")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val parentLangs = fs.listStatus(mp).map(_.getPath.getName)
      .collect { case s if s.startsWith("lang=") => s.stripPrefix("lang=") }
    parentLangs.forall(l =>
      staged.get(l).exists { case (n, c) => n > 0 && c > 0 })
  }

  /** Audit-then-finalize: on pass, publishing is ONE metadata rename of
    * the branch manifest into the version namespace (the data files were
    * already durable — this is the atomic commit point); on fail, the
    * branch manifest and its data directory are dropped and the version
    * chain never saw the commit. Returns whether the branch published.
    */
  def wapFinalize(
      spark: SparkSession, root: String, fromV: Int, branch: String,
      toV: Int): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (wapAudit(spark, root, fromV, branch)) {
      require(fs.rename(
        new org.apache.hadoop.fs.Path(s"$root/m/b_$branch"),
        new org.apache.hadoop.fs.Path(s"$root/m/v=$toV")),
        s"WAP publish rename failed for branch $branch")
      true
    } else {
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/m/b_$branch"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/db_$branch"), true)
      false
    }
  }

  /** Registered WAP query: stage day 1 on a branch, audit the staged
    * read, publish, and manifest the published version. The oracle is
    * the from-scratch day-1 merge — the hash proves the staged-then-
    * renamed commit is byte-identical to a direct one, i.e. the audit
    * detour added durability and a gate without changing a single row.
    */
  def wapStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=1") {
      // the publish RENAME is not idempotent into a leftover m/v=1 from a
      // prior rep (every other step is mode=overwrite) — start clean
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      versionedInit(spark, docs, scratch)
      wapStage(spark, scratch, 0, "day1", day1Rules)
      require(wapFinalize(spark, scratch, 0, "day1", 1),
        "WAP audit unexpectedly rejected the day-1 merge")
    }

  def wapManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    wapStore(spark, docs, scratch)
    Governance.releaseManifestBy(readVersion(spark, scratch, 1),
      "lang", "source")
  }

  // ---- optimistic concurrency (conflict-checked commit) ---------------

  /** The second concurrent writer's dirty partition set — disjoint from
    * [[dirtyLangs]], which is exactly what makes its rebase legal.
    */
  val dirtyLangsB: Seq[String] = Seq("es")

  /** Writer B's delta arithmetic (moduli coprime to both days' so the
    * scenario composes with the daily chain if ever layered).
    */
  val writerBRules: DeltaRules =
    DeltaRules(23L, 3L, 29L, "cdcb", "insb", 3000000L)

  /** Highest committed version: the head the optimistic protocol
    * re-checks at commit time. Metadata-only (one directory listing).
    */
  def headVersion(spark: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$root/m")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toInt }.max
  }

  /** A committed version's WRITE SET, recovered purely from metadata:
    * the partitions whose manifest file entries differ from the parent
    * manifest's (clean partitions are carried VERBATIM, so set equality
    * per lang is exact). The symmetric (lang, path) difference runs as
    * DataFrame anti-joins over the two manifest tables; the driver
    * receives ONLY the distinct dirty langs — never a manifest row set.
    */
  def commitWriteSet(spark: SparkSession, root: String, v: Int)
      : Set[String] = {
    val cur = manifestFrame(spark, s"$root/m/v=$v").select("lang", "path")
    val par = manifestFrame(spark, s"$root/m/v=${v - 1}")
      .select("lang", "path")
    cur.exceptAll(par).unionByName(par.exceptAll(cur))
      .select("lang").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** Optimistic-concurrency commit of a staged branch whose parent may
    * have gone stale while the writer worked. The protocol a table
    * format runs under snapshot isolation:
    *
    *   1. re-read the head (one listing);
    *   2. CONFLICT CHECK: this writer's dirty set against the write set
    *      of every commit that landed after its parent — write sets come
    *      from manifest diffs ([[commitWriteSet]]), so the check is
    *      metadata-sized no matter the corpus;
    *   3. overlap → REJECT: drop the branch, the chain is untouched (the
    *      writer must re-stage from the new head — its merge read
    *      partitions someone else changed);
    *   4. disjoint → REBASE + publish: re-parent the branch manifest
    *      onto the head (head's rows for every partition this writer
    *      didn't touch, the branch's fresh rows for those it did) and
    *      commit with the same ONE-rename atomicity as WAP. The rebase
    *      is semantically exact, not heuristic: the writer's merge read
    *      only its dirty partitions, which no interleaved commit
    *      touched, so its staged output is bit-identical to what a
    *      restage from head would produce.
    *
    * At 100 TB the entire retry loop moves KB of manifest metadata; data
    * files are never re-read or re-written on rebase.
    */
  def commitStaged(
      spark: SparkSession, root: String, parentV: Int, branch: String,
      dirty: Seq[String]): Either[String, Int] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val head = headVersion(spark, root)
    val conflicts = ((parentV + 1) to head)
      .flatMap(v => commitWriteSet(spark, root, v)).toSet
      .intersect(dirty.toSet)
    if (conflicts.nonEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/m/b_$branch"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/db_$branch"), true)
      Left("write-write conflict on partitions " +
        conflicts.toSeq.sorted.mkString(","))
    } else {
      val toV = head + 1
      val publishFrom =
        if (head == parentV) s"$root/m/b_$branch"
        else {
          // rebase: head's rows for untouched partitions + the branch's
          // fresh rows for its dirty ones, staged then renamed — the
          // same one-rename commit point as a clean publish
          val Seq(headM, branchM) = manifestRows(spark,
            Seq(s"$root/m/v=$head", s"$root/m/b_$branch"))
          writeManifest(spark,
            headM.filterNot(e => dirty.contains(e.lang)) ++
              branchM.filter(e => dirty.contains(e.lang)),
            s"$root/m/rb_$branch")
          fs.delete(new org.apache.hadoop.fs.Path(s"$root/m/b_$branch"), true)
          s"$root/m/rb_$branch"
        }
      require(fs.rename(
        new org.apache.hadoop.fs.Path(publishFrom),
        new org.apache.hadoop.fs.Path(s"$root/m/v=$toV")),
        s"concurrent publish rename failed for branch $branch")
      Right(toV)
    }
  }

  /** Registered concurrent-commit query: writers A and B both stage from
    * v0 (B starts first and is still in flight when A lands); A commits
    * clean as v1, B's commit detects the interleaved v1, proves
    * disjointness from metadata alone, REBASES onto v1 and publishes as
    * v2; then writer C — staged from v0 but touching a partition A
    * changed — is REJECTED and the chain stays at v2. The oracle
    * recomputes v1 (A's merge) and v2 (A's merge + B's merge of the
    * partitions B read AT v0) from scratch: the v2 hash is the rebase
    * theorem — a rebased concurrent commit lands the exact state a
    * serial A-then-B execution would have — and v0/v1 hashing clean
    * proves neither B's rebase nor C's rejected attempt disturbed
    * history.
    */
  def concurrentStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=2") {
      // publish renames are not idempotent into leftover v= dirs — start
      // clean
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      versionedInit(spark, docs, scratch)
      wapStage(spark, scratch, 0, "wb", writerBRules, dirtyLangsB)
      wapStage(spark, scratch, 0, "wa", day1Rules, dirtyLangs)
      require(commitStaged(spark, scratch, 0, "wa", dirtyLangs) == Right(1),
        "writer A's clean commit did not land as v1")
      require(commitStaged(spark, scratch, 0, "wb", dirtyLangsB) == Right(2),
        "writer B's disjoint commit did not rebase onto v1 as v2")
      wapStage(spark, scratch, 0, "wc", day2Rules, Seq("de"))
      require(commitStaged(spark, scratch, 0, "wc", Seq("de")).isLeft,
        "writer C's overlapping commit was not rejected")
    }

  def concurrentManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    concurrentStore(spark, docs, scratch)
    (0 to 2).map { v =>
      Governance.releaseManifestBy(readVersion(spark, scratch, v), "lang")
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("version", "lang", "n_docs", "sum_chars", "fp_xor")
  }

  /** Right-to-be-forgotten purge: remove every row with
    * `doc_id % purgeMod == purgeRes` from EVERY live version — the one
    * operation that legitimately rewrites history. The cost discipline:
    * ONE pass over the DISTINCT file set named by the live manifests
    * tags the affected files (`input_file_name`); only those are
    * rewritten (minus the purged rows) and their originals physically
    * deleted — the purged bytes must be GONE, not merely unreferenced.
    * Unaffected files keep their manifest entries verbatim, so the
    * zero-copy sharing survives the purge (CdcSpec pins path identity
    * for the untouched partition). Every manifest is then rewritten
    * with old→new path substitution, and because a shared file is
    * rewritten ONCE, all versions referencing it stay consistent. At
    * 100 TB the affected-file tagging is what a bloom/zone index
    * prunes; the rewrite set is bounded by where the purged ids
    * actually live, not by corpus size.
    *
    * The metadata side runs on the driver. One collect reads every live
    * manifest (|versions| × |files| rows, metadata-sized); the
    * replacement files' zone maps come from their footers
    * ([[fileZoneMap]]); the path substitution is a driver map over the
    * held rows; each manifest is rewritten by [[writeManifest]]. Spark
    * jobs run only for the data: the tagging scan and the rewrite.
    */
  def rtbfPurge(
      spark: SparkSession, root: String, versions: Seq[Int],
      purgeMod: Long, purgeRes: Long): Unit = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val manifests: Seq[(Int, Seq[ManifestEntry])] =
      versions.zip(manifestRows(spark, versions.map(v => s"$root/m/v=$v")))
    // the distinct file set IS the tagging scan's work list — the one
    // path list a driver must hand the scheduler to start any read
    val distinctPaths = manifests.flatMap(_._2.map(_.path)).distinct.sorted
    // scanned files key back to their manifest paths through the as-of
    // read's shared key ([[scanKey]]) — the one scan/manifest path
    // mapping, whatever characters the root or the URI scheme carry
    val affected: Set[String] =
      spark.read.schema(dataFileSchema).parquet(distinctPaths: _*)
        .where(col("doc_id") % purgeMod === purgeRes)
        .select(input_file_name()).distinct()
        .collect().map(r => normalizeScanPath(r.getString(0))).toSet
    // rewrite ALL affected files in ONE job: rows keyed back to their
    // source file, repartitioned so each replacement directory gets
    // exactly one file. A fully-purged file yields no output directory
    // and its manifest entries simply drop — the data is gone, so is the
    // pointer.
    val (affectedPaths, affectedKeys) = distinctPaths
      .map(p => (p, scanKey(p))).filter { case (_, k) => affected(k) }.unzip
    require(affectedKeys.distinct.size == affectedKeys.size,
      "ambiguous scan keys in the purge rewrite")
    if (affectedPaths.isEmpty) return
    // broadcast-joined key table, not a literal map expression: at
    // corpus scale the affected-file list is hundreds of entries and a
    // giant literal would trip the 64 KB codegen fallback
    val keys = affectedKeys.zipWithIndex.toDF("__p", "fidx")
    spark.read.schema(dataFileSchema).parquet(affectedPaths: _*)
      .where(col("doc_id") % purgeMod =!= purgeRes)
      .withColumn("__p",
        regexp_replace(input_file_name(), scanPathNormRe, ""))
      .join(broadcast(keys), Seq("__p")).drop("__p")
      .repartition(col("fidx"))
      .write.mode("overwrite").partitionBy("fidx").parquet(s"$root/purge")
    // old path → its replacement (path, fresh zone map: the rewritten
    // file shrank, so its stats come from its own footer), or None when
    // every row of the file was purged
    val renames: Map[String, Option[(String, ZoneMap)]] =
      affectedPaths.zipWithIndex.map { case (p, idx) =>
        val files = partFiles(spark, s"$root/purge/fidx=$idx")
        require(files.size <= 1,
          s"rtbf purge: ${files.size} replacement files for $p, expected one")
        p -> files.headOption.map(np => (np, fileZoneMap(spark, np)))
      }.toMap
    affectedPaths.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), false))
    manifests.foreach { case (v, rows) =>
      writeManifest(spark, rows.flatMap { e =>
        renames.get(e.path) match {
          case None => Some(e) // untouched: carried verbatim
          case Some(repl) => repl.map { case (np, z) => e.copy(path = np, zone = z) }
        }
      }, s"$root/m/v=$v")
    }
  }

  /** Registered RTBF query: three versions committed, then ~1% of doc
    * ids purged from all of them, then every version manifested from
    * what physically remains. The oracle recomputes each version's
    * state from scratch WITH the purge filter applied, so one hash
    * proves the purge removed exactly the requested rows from every
    * version and disturbed nothing else — including the untouched
    * clean-partition files all three manifests still share.
    */
  /** One RTBF call that hits the store AND every derived artifact — the
    * consistency contract a 100 TB pipeline actually needs: purging the
    * versioned store ([[rtbfPurge]]) while a doc's vectors stay
    * searchable in the ANN posting artifact and its shingles keep
    * colliding in the dedup bucket index is the compliance gap, not a
    * smaller purge. The id set each sweep removes is read FROM the
    * artifact itself (filter on the same `id % mod == res` predicate the
    * store purge used), so the call needs no external id list and never
    * rescans the corpus: the ANN sweep is an O(|purged|) tombstone
    * append ([[graft.operators.Similarity.purgeIvfPqPostings]] — physical
    * removal lands at the next compact), the dedup sweep is the standing
    * index-rewrite cadence ([[graft.operators.Dedup.purgeBucketIndex]]).
    */
  def rtbfPurgeAll(
      spark: SparkSession, root: String, versions: Seq[Int],
      purgeMod: Long, purgeRes: Long,
      annIndexDir: Option[String] = None,
      dedupIndexDir: Option[String] = None): Unit = {
    rtbfPurge(spark, root, versions, purgeMod, purgeRes)
    annIndexDir.foreach { d =>
      Similarity.purgeIvfPqPostings(spark, d,
        spark.read.parquet(s"$d/postings").select(col("vec_id"))
          .where(col("vec_id") % purgeMod === purgeRes))
    }
    dedupIndexDir.foreach { d =>
      Dedup.purgeBucketIndex(spark, d,
        spark.read.parquet(d).select(col("doc_id"))
          .where(col("doc_id") % purgeMod === purgeRes))
    }
  }

  def rtbfStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/m/v=2") {
      versionedInit(spark, docs, scratch)
      versionedMerge(spark, scratch, 0, 1, day1Rules)
      versionedMerge(spark, scratch, 1, 2, day2Rules)
      rtbfPurge(spark, scratch, Seq(0, 1, 2), 101L, 7L)
    }

  def rtbfManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    rtbfStore(spark, docs, scratch)
    (0 to 2).map { v =>
      Governance.releaseManifestBy(readVersion(spark, scratch, v), "lang")
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("version", "lang", "n_docs", "sum_chars", "fp_xor")
  }

  /** Streaming CDC ingest: every arriving micro-batch of op-tagged log
    * rows commits as one MOR log generation (`day=<batchId>`, mode
    * overwrite — a checkpoint replay of the same batch id rewrites the
    * same directory, so the commit is idempotent: the ExactlyOnceParquet
    * discipline without a marker because the directory IS the marker).
    * A live feed thus lands with ZERO base rewrites; readers run the
    * same [[morRead]], whose latest-day-wins resolution makes the
    * stream's monotone batch ids the commit order; [[compactMorLogs]]
    * folds the accumulated generations down on whatever cadence the
    * deployment chooses. CdcSpec pins stream-ingested ≡ batch-merged on
    * a replayed delta.
    */
  def morLogStream(delta: DataFrame, logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    delta.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$logPath/day=$batchId")
      }

  /** Registered merge-on-read form: base + day-1 log, resolved at read
    * time, manifested per (lang, source). Hash-matches the COW oracle's
    * corpus state — same delta, opposite cost placement (zero-rewrite
    * ingest, merge-paying read).
    */
  def morStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/log") {
      writeSnapshot(docs, s"$scratch/base")
      appendMorLog(feed(docs), day1Rules, s"$scratch/log", day = 1)
    }

  def morManifest(spark: SparkSession, docs: DataFrame, scratch: String)
      : DataFrame = {
    morStore(spark, docs, scratch)
    Governance.releaseManifestBy(
      morRead(spark, s"$scratch/base", s"$scratch/log"), "lang", "source")
  }

  /** Registered two-day lifecycle: base + day-1 log + day-2 log (derived
    * from the day-1 RESOLVED view, the way a real feed reflects current
    * state), then compaction folds both into the base and the manifest
    * is read merge-free. The oracle recomputes both day merges from
    * scratch, so the hash match proves log append × latest-day-wins
    * resolution × compaction all compose to exactly the two sequential
    * merges.
    */
  def morCompactedStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/base") {
      val base = s"$scratch/base"
      val log = s"$scratch/log"
      writeSnapshot(docs, base)
      appendMorLog(feed(docs), day1Rules, log, day = 1)
      val feed2 = morRead(spark, base, log)
        .where(col("lang").isin(dirtyLangs: _*))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint()
      appendMorLog(feed2, day2Rules, log, day = 2)
      compactMorLogs(spark, base, log)
    }

  def morCompacted(spark: SparkSession, docs: DataFrame, scratch: String)
      : DataFrame = {
    morCompactedStore(spark, docs, scratch)
    Governance.releaseManifestBy(
      spark.read.parquet(s"$scratch/base"), "lang", "source")
  }

  // ---- zone-mapped reads (file-level data skipping) ---------------------

  /** The (column, lo, hi) band the zone-map queries select on a store
    * column: the middle [25%, 40%] of the base corpus's range of that
    * column, computed from the corpus with integer arithmetic (one
    * scalar agg — both engines run the same subquery), so the predicate
    * scales with the SF instead of going stale as a constant.
    */
  def band(docs: DataFrame, column: String): (String, Long, Long) = {
    val mx = docs.agg(max(col(column))).head.getLong(0)
    (column, (mx * 25L) / 100L, (mx * 40L) / 100L)
  }

  /** One file layout of the zoned store: the label the gauges and the
    * advisor report, the total within-lang sort order the zoned write
    * rolls files along (every order ends in the unique doc_id, so file
    * boundaries are a deterministic function of state and the DuckDB
    * oracle replays every layout's chunking), and the keying function
    * that attaches any clustering column the sort names (never stored —
    * the write projects the store columns).
    */
  final case class Layout(
      label: String, sortCols: Seq[String], keyed: DataFrame => DataFrame)

  /** Z-order bucket resolution of the Z layouts: 8 bits = 256 Morton
    * cells over the 16-bit quantized (doc_id, n_chars) plane — finer
    * than any lang's file count at the harness SFs, so the 128-row roll,
    * not the bucket granularity, sets file boundaries.
    */
  val zorderBits: Int = 8

  /** The ingest layout: (lang, doc_id)-sorted runs. Re-rolled at a
    * larger size it is OPTIMIZE — the small-files compaction of the
    * fine-grained zoned layout (file count drops ~zoneRows/targetRows
    * while every read and every zone-map skip stays correct).
    */
  val byDocId: Layout = Layout("by_doc_id", Seq("lang", "doc_id"), identity)

  /** SORT-KEY EVOLUTION: (lang, n_chars, doc_id). Zone maps only skip
    * for predicates CORRELATED with the sort key, so the recorded
    * n_chars ranges are wide under the doc_id layout and tight under
    * this one — which predicates skip is a LAYOUT property, evolved by a
    * rewrite-only commit, never by rewriting history.
    */
  val byNChars: Layout =
    Layout("by_n_chars", Seq("lang", "n_chars", "doc_id"), identity)

  /** OPTIMIZE ZORDER: clustered by the Morton interleave of min-max
    * quantized (doc_id, n_chars) — a 1-D sort serves ONE predicate
    * column and abandons the other; the curve spends the same rewrite
    * making BOTH columns' zone maps partially tight. Quantization bounds
    * span the whole state (not per lang), which the oracle recomputes
    * from the same frame.
    */
  val zorder: Layout = Layout("zorder", Seq("lang", "zbucket", "doc_id"),
    StorageLayout.zorderKeyed(_, "doc_id", "n_chars", zorderBits))

  /** OPTIMIZE ZORDER with EQUI-DEPTH quantization
    * ([[zorderEquiDepthKeyed]]) — the fix for the skew-squashed id space
    * the min-max curve loses on. The keying is multi-pass over its input
    * (its rank joins re-read it several times), so it checkpoints the
    * as-of read first; the zoned write then materializes the KEYED frame
    * once more so the rank joins run a single time.
    */
  val zorderEd: Layout = Layout("zorder_ed", Seq("lang", "zbucket", "doc_id"),
    df => zorderEquiDepthKeyed(df.localCheckpoint(), zorderBits))

  /** Every layout a commit can apply, by label ([[optimizeAutoCommit]]
    * resolves the advisor's winner here).
    */
  val layouts: Seq[Layout] = Seq(byDocId, byNChars, zorder, zorderEd)

  /** Equi-depth (rank-based) clustering key — the quantization fix for
    * skewed key spaces that the [[zorder]] layout's min-max gauge measured
    * itself losing on: the CDC insert convention (+1M/+2M/+3M) squashes
    * base ids into <1% of the min-max-quantized range, so the curve's
    * doc_id bits carry nothing. Ranks are uniform BY CONSTRUCTION, so
    * rank-quantized dimensions spend their bits where the data is.
    * Both ranks compute distributedly and deterministically:
    * doc_id (unique) via the same interval-grid prefix-sum discipline as
    * [[writeData]] (cell counts → tiny prefix window → within-cell
    * row_number — never one global sort task); n_chars via VALUE-level
    * prefix sums (rank() semantics — ties share the min rank, so the
    * quantized value is a pure function of the value and the oracle's
    * `rank() OVER (ORDER BY n_chars)` reproduces it exactly).
    */
  private[graft] def zorderEquiDepthKeyed(
      df: DataFrame, bucketBits: Int, keepKeys: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val bounds = df.agg(min(col("doc_id")), max(col("doc_id")),
      count(lit(1)), min(col("n_chars")), max(col("n_chars"))).head
    // empty input: no ranks to compute and every min/max agg cell is
    // NULL — return the (empty) frame with the key column attached
    // rather than letting an unconditional getLong surface as an NPE
    if (bounds.getLong(2) == 0L) return df.withColumn("zbucket", lit(0L))
    val (mn, mx, n) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val (mnC, mxC) = (bounds.getLong(3), bounds.getLong(4))
    val wd = math.max(1L, (mx - mn) / 4096L + 1L)
    val cells = df.withColumn("__c", expr(s"(doc_id - ${mn}L) div ${wd}L"))
    // CLUSTERED-id refinement (the zoneGrid refineHot discipline, r17
    // verdict #4): RTBF holes or id-space migrations can pile one fixed-
    // width __c cell with rows (ids dense in a narrow band of a wide
    // [mn, mx]), serializing that cell's row_number window through one
    // task. Any cell whose count exceeds the uniform-fill expectation by
    // 4× re-cells on doc_id intervals WITHIN its own [min, max] — ids
    // are unique, so a sub-cell of width ceil(range/256) holds at most
    // that many rows, cutting the worst window 256× in one level. The
    // split is a pure function of STATE (counts + per-cell id bounds, no
    // sampling), and ranks are unchanged — sub-cells are intervals of
    // the id order — so the oracle's rank() replay is untouched.
    // Skew-free inputs detect (one map-side-combinable agg) and skip the
    // refinement join entirely.
    val hotCellRows = math.max(1024L, 4L * (n / 4096L + 1L))
    val hot = cells.groupBy(col("__c"))
      .agg(count(lit(1)).as("__hn"),
        min(col("doc_id")).as("__hd0"), max(col("doc_id")).as("__hd1"))
      .filter(col("__hn") > hotCellRows)
      .drop("__hn")
      .localCheckpoint() // materialized once: emptiness probe + join
    val celled =
      if (hot.head(1).isEmpty) cells.withColumn("__r", lit(0L))
      else cells.join(hot, Seq("__c"), "left")
        .withColumn("__r",
          when(col("__hd0").isNull, lit(0L)).otherwise(expr(
            "(doc_id - __hd0) div " +
              "greatest(1L, (__hd1 - __hd0) div 256L + 1L)")))
        .drop("__hd0", "__hd1")
    val starts = celled.groupBy(col("__c"), col("__r"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__start", coalesce(sum(col("__cnt")).over(
        w.orderBy(col("__c"), col("__r")).rowsBetween(Long.MinValue, -1)),
        lit(0L)))
      .drop("__cnt")
    val ra = celled.join(starts, Seq("__c", "__r"))
      .withColumn("__ra", col("__start") +
        row_number().over(
          w.partitionBy(col("__c"), col("__r")).orderBy(col("doc_id"))))
    // the value rank ALSO goes through the interval grid: per-value
    // counts bucket into ≤4096 value cells, the cell prefix sum runs
    // over that metadata-sized frame, and the within-cell running sum
    // partitions BY CELL — so a high-cardinality stat column costs a
    // |distinct|/4096-row window, never one global single-task window
    // (rank() semantics preserved exactly: __rb = rows with value < v,
    // plus 1)
    val wc = math.max(1L, (mxC - mnC) / 4096L + 1L)
    val vcnt = df.groupBy(col("n_chars")).agg(count(lit(1)).as("__vc"))
      .withColumn("__vcell", expr(s"(n_chars - ${mnC}L) div ${wc}L"))
    val vstarts = vcnt.groupBy(col("__vcell")).agg(sum(col("__vc")).as("__cc"))
      .withColumn("__cstart", coalesce(sum(col("__cc")).over(
        w.orderBy(col("__vcell")).rowsBetween(Long.MinValue, -1)), lit(0L)))
      .drop("__cc")
    val vrank = vcnt.join(vstarts, Seq("__vcell"))
      .withColumn("__rb", col("__cstart") + coalesce(sum(col("__vc")).over(
        w.partitionBy(col("__vcell")).orderBy(col("n_chars"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)) + 1L)
      .select(col("n_chars"), col("__rb"))
    val keyed = ra.join(vrank, Seq("n_chars"))
      .withColumn("qa", expr(s"((__ra - 1) * 65536) div ${n}L"))
      .withColumn("qb", expr(s"((__rb - 1) * 65536) div ${n}L"))
      .withColumn("zbucket",
        shiftright(StorageLayout.morton(col("qa"), col("qb")), 32 - bucketBits))
    if (keepKeys) keyed.drop("__start", "__rb", "qa", "qb")
    else keyed.drop("__c", "__r", "__start", "__ra", "__rb", "qa", "qb")
  }

  /** Write `df` as version `v`'s data under `layout` at `zoneRows` per
    * file, then its manifest from the written files' footers.
    */
  private def writeLayout(spark: SparkSession, df: DataFrame, root: String,
      v: Int, zoneRows: Int, layout: Layout): Unit = {
    writeData(layout.keyed(df), s"$root/d$v", zoneRows, layout.sortCols,
      outCols = storeCols)
    writeManifest(spark, manifestEntries(spark, s"$root/d$v",
      dataLangs(spark, s"$root/d$v")), s"$root/m/v=$v")
  }

  /** A layout rewrite AS A COMMIT: v(toV)'s state is bit-identical to
    * v(fromV)'s (rewrite-only, nothing inserted/deleted/updated), its
    * files are `layout`'s sorted runs rolled every `targetRows` records,
    * and its manifest carries freshly computed zone maps. Modeling
    * OPTIMIZE, re-sort and Z-order as commits keeps every invariant the
    * store already has: v(fromV) keeps reading its own files (snapshot
    * isolation), vacuum's manifest-row refcount reclaims them when the
    * old version expires, and readers switch atomically.
    */
  def layoutCommit(
      spark: SparkSession, root: String, fromV: Int, toV: Int,
      targetRows: Int, layout: Layout): Unit =
    writeLayout(spark, readVersion(spark, root, fromV)
      .select(storeCols.map(col): _*), root, toV, targetRows, layout)

  /** OPTIMIZE roll size: 4× the ingest zone size — big enough that the
    * compaction ratio is visible at sf0.01, small enough that sf0.1
    * still rolls many files per lang.
    */
  val optimizeTargetRows: Int = 512

  /** The zoned-store chain, one row per version: (version, layout,
    * rows per file). v0–v2 are the day-0 snapshot and the two daily
    * merges written ZONED — (lang, doc_id)-sorted runs rolled every
    * [[defaultZoneRows]] records, so file k of a partition holds its
    * k-th sorted run and the oracle reproduces every zone map. v3 is
    * OPTIMIZE at [[optimizeTargetRows]]; v4–v6 re-lay v2's state at the
    * INGEST roll so the layout is the only variable between them and
    * v2 (a coarser roll would confound clustering with file size).
    */
  private val zonedChain: Seq[(Int, Layout, Int)] = Seq(
    (2, byDocId, defaultZoneRows),
    (3, byDocId, optimizeTargetRows),
    (4, byNChars, defaultZoneRows),
    (5, zorder, defaultZoneRows),
    (6, zorderEd, defaultZoneRows))

  /** Build the zoned-store chain up to version `v` (2–6), one memoized
    * level per version: each level first builds its parent, then commits
    * its own row of [[zonedChain]], so any read leg pays only for the
    * levels it needs and a rep on an already-built store pays nothing.
    */
  def zonedStore(
      spark: SparkSession, docs: DataFrame, scratch: String,
      v: Int = 2): Unit = {
    val (_, layout, rows) = zonedChain.find(_._1 == v).getOrElse(
      throw new IllegalArgumentException(s"zoned-store chain has no v=$v"))
    buildOnce(spark, s"$scratch#v=$v", s"$scratch/m/v=$v") {
      if (v == 2) {
        versionedInit(spark, docs, scratch, rows)
        versionedMerge(spark, scratch, 0, 1, day1Rules, dirtyLangs, rows)
        versionedMerge(spark, scratch, 1, 2, day2Rules, dirtyLangs, rows)
      } else {
        zonedStore(spark, docs, scratch, v - 1)
        layoutCommit(spark, scratch, v - 1, v, rows, layout)
      }
    }
  }

  /** The candidate layouts of the zoned-store chain, as (label, version)
    * — every version holding the SAME state under a different layout at
    * the same 128-row roll.
    */
  val zedLayouts: Seq[(String, Int)] = zonedChain.collect {
    case (v, l, rows) if rows == defaultZoneRows => (l.label, v)
  }

  /** The band read of version `v` of the zoned chain: the exact
    * conjunction of `columns`' [[band]]s over the as-of read, manifested
    * per lang. `skip` lets the manifest's zone maps admit only the files
    * overlapping every band; the unskipped twin opens the full file list
    * and shares the skipped read's oracle SQL — the hash match IS the
    * proof that file skipping changed nothing (zone maps have no false
    * negatives; the exact predicate rejects anything extra an admitted
    * file carries). At 100 TB this is the difference between opening
    * every file of a partition and the ~15% whose zone overlaps.
    */
  def bandRead(
      spark: SparkSession, docs: DataFrame, scratch: String, v: Int,
      columns: Seq[String], skip: Boolean): DataFrame = {
    zonedStore(spark, docs, scratch, v)
    val bands = columns.map(band(docs, _))
    Governance.releaseManifestBy(
      readVersion(spark, scratch, v, bands = if (skip) bands else Nil)
        .where(bands.map { case (c, lo, hi) => col(c).between(lo, hi) }
          .reduce(_ && _)),
      "lang")
  }

  /** Data-skipping gauge (the
    * [[graft.operators.StorageLayout.zorderSkippingGauge]] discipline
    * applied to the CDC store): the SAME conjunction of `columns`'
    * bands priced against each (label, version) layout's zone maps —
    * per (layout, lang), how many FILES the bands admit vs total, how
    * many rows those files force the scan to read vs the partition's
    * total, and the skipped share in basis points. Pure manifest
    * arithmetic — O(files) rows, the corpus is never read — and every
    * chunking is total-order deterministic, so the oracle replays
    * quantization, Morton ladder, chunking and admit arithmetic in SQL.
    *
    * MEASURED LESSON (hash-pinned at both SFs): on THIS store the
    * min-max Z-order layout loses the 2-D box to both 1-D sorts (sf0.1:
    * 2304 rows forced vs 1408/1536), for two compounding reasons a
    * 100 TB deployment must check before paying for a Z-order rewrite.
    * (a) Min-max quantization collapses under id-space skew: the CDC
    * insert convention spaces keys at +1M/+2M/+3M, so the base corpus
    * squashes into <1% of the quantized doc_id range and the curve's
    * doc_id bits carry no information (the equi-depth layout's rank
    * quantization is the fix). (b) The file count is below the curve's
    * resolution floor: at 41 files against a 16×16 cell grid each file
    * spans ~6 cells, so clustering cannot localize the box. CdcSpec's
    * dense-id 256-file fixture sits ABOVE the floor and pins the
    * crossover where Z-order beats both 1-D layouts. The gauge is the
    * tool that tells an operator which regime their store is in BEFORE
    * they pay for the rewrite.
    */
  def layoutGauge(
      spark: SparkSession, docs: DataFrame, scratch: String,
      layouts: Seq[(String, Int)], columns: Seq[String]): DataFrame = {
    zonedStore(spark, docs, scratch, layouts.map(_._2).max)
    val bands = columns.map(band(docs, _))
    layouts.map { case (layout, v) =>
      manifestFrame(spark, s"$scratch/m/v=$v")
        .select(col("lang"), admits(bands).as("admitted"), col("n_rows"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("files_total"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("files_admitted"),
          sum(when(col("admitted"), col("n_rows")).otherwise(0L))
            .as("rows_scanned"),
          sum(col("n_rows")).as("rows_total"))
        .withColumn("skip_bp",
          expr("(rows_total - rows_scanned) * 10000 div rows_total"))
        .withColumn("layout", lit(layout))
    }.reduce(_ unionByName _)
      .select("layout", "lang", "files_total", "files_admitted",
        "rows_scanned", "rows_total", "skip_bp")
  }

  /** Registered OPTIMIZE query: the zoned store's v2 (128-row files)
    * compacted into v3 (512-row files), read back per lang WITH the
    * before/after file counts beside the state checksum — one hash
    * proves (a) compaction changed no row (same n_docs / sum_chars /
    * fp_xor the time-travel v2 leg pins), (b) the deterministic
    * re-chunking landed exactly ceil(n/512) files per lang, and (c) the
    * 128-row layout it replaced had its own deterministic count — the
    * oracle recomputes BOTH chunkings from the corpus state.
    */
  def optimizeManifest(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    zonedStore(spark, docs, scratch, 3)
    val counts = manifestFrame(spark, s"$scratch/m/v=2")
      .groupBy(col("lang")).agg(count(lit(1)).as("files_before"))
      .join(manifestFrame(spark, s"$scratch/m/v=3")
        .groupBy(col("lang")).agg(count(lit(1)).as("files_after")),
        Seq("lang"))
    Governance.releaseManifestBy(readVersion(spark, scratch, 3), "lang")
      .join(counts, Seq("lang"))
  }

  // ---- layout advisor (r17) ---------------------------------------------

  /** LAYOUT ADVISOR — turn the gauge into a decision: rank candidate
    * layouts by the total rows a WORKLOAD of band predicates forces each
    * layout's zone maps to scan, derived from the layouts' MANIFESTS
    * alone (the corpus is never read — at 10⁷ files per version this is
    * a metadata aggregate per layout). `workload` is a bag of queries,
    * each a conjunction of (column, lo, hi) bands over zone-mapped
    * columns; a file admitted by two queries costs its rows twice, which
    * is exactly the workload's scan bill. Ranking is deterministic
    * (rows_scanned asc, layout asc), so the DuckDB oracle replays the
    * decision from recomputed chunk tables — the registered query
    * hash-pins WHICH layout wins, not just the numbers.
    */
  def adviseLayout(
      spark: SparkSession, root: String,
      layouts: Seq[(String, Int)],
      workload: Seq[Seq[(String, Long, Long)]]): DataFrame =
    adviseLayoutWeighted(spark, root, layouts, workload.map((_, 1L)))

  /** [[adviseLayout]] with per-query REPLAY WEIGHTS — the bill of a
    * workload where queries repeat at different rates: a query of weight
    * w contributes w × its admitted files/rows per traffic replay, so a
    * layout that slightly loses the 1:1 ranking can win once the hot
    * query is priced at its observed frequency (the registered weighted
    * query pins exactly that flip). Weight 1 everywhere degenerates to
    * [[adviseLayout]] — same arithmetic, same frame.
    */
  def adviseLayoutWeighted(
      spark: SparkSession, root: String,
      layouts: Seq[(String, Int)],
      workload: Seq[(Seq[(String, Long, Long)], Long)]): DataFrame = {
    // advisor contract: a workload is a non-empty bag of queries, each a
    // non-empty conjunction of bands at a positive replay weight —
    // anything else has no scan bill to rank by, so fail with the
    // contract named instead of the opaque empty.reduce error the
    // Seq#reduce calls below would raise
    require(layouts.nonEmpty && workload.nonEmpty &&
        workload.forall { case (q, w) => q.nonEmpty && w > 0L },
      "adviseLayout contract: layouts and workload must be non-empty, " +
        "every workload query must carry at least one (column, lo, hi) " +
        "band, and every replay weight must be positive")
    val ranked = layouts.map { case (label, v) =>
      manifestFrame(spark, s"$root/m/v=$v").agg(
        count(lit(1)).as("files_total"),
        workload.map { case (q, wt) =>
          sum(when(admits(q), lit(wt)).otherwise(0L))
        }.reduce(_ + _).as("files_admitted"),
        workload.map { case (q, wt) =>
          sum(when(admits(q), lit(wt) * col("n_rows")).otherwise(0L))
        }.reduce(_ + _).as("rows_scanned"),
        sum(col("n_rows")).as("rows_total"))
        .withColumn("layout", lit(label))
    }.reduce(_ unionByName _)
    // the window runs over exactly |layouts| rows — driver-bounded
    ranked.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("rows_scanned"), col("layout"))).cast("long"))
      .select("layout", "files_total", "files_admitted", "rows_scanned",
        "rows_total", "rank")
  }

  /** The registered advisor query: the zoned-store chain's four layouts
    * ranked for the standard 2-D box workload (the same box every zorder
    * read leg uses, so the decision is comparable with the gauges).
    */
  def layoutAdvice(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    zonedStore(spark, docs, scratch, 6)
    adviseLayout(spark, scratch, zedLayouts,
      Seq(Seq(band(docs, "doc_id"), band(docs, "n_chars"))))
  }

  /** The advisor under a MIXED workload — one band query per dimension,
    * the textbook multi-dimensional case: a 1-D sort serves its own
    * dimension's query class and scans ~everything for the other, while
    * a space-filling curve trades both. Whether the curve actually wins
    * HERE is a property of this store's file-count resolution — which is
    * exactly what the advisor exists to decide from the manifests
    * instead of folklore; the oracle replays the argmin so the hash pins
    * the true answer.
    */
  def layoutAdviceMixed(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    zonedStore(spark, docs, scratch, 6)
    adviseLayout(spark, scratch, zedLayouts,
      Seq(Seq(band(docs, "doc_id")), Seq(band(docs, "n_chars"))))
  }

  /** The advisor fed from a CAPTURED workload log ([[readManifest]]'s
    * `workloadLog` sink) instead of a hand-authored band list — the
    * advisor's real-world form: nothing about the workload is written
    * down by a human; the reads themselves left the record. Each logged
    * qid's bands re-assemble into one conjunction (grouped engine-side,
    * collected at |log| rows — the log is metadata-sized by
    * construction), ordered by qid for determinism, then ranked by the
    * same [[adviseLayout]] arithmetic. CdcSpec pins log-fed ≡ hand-fed
    * on identical bands.
    */
  def adviseLayoutLogged(
      spark: SparkSession, root: String,
      layouts: Seq[(String, Int)], logDir: String,
      weighted: Boolean = false): DataFrame = {
    // each read logs one row PER BAND per issue, so duplicate counts on
    // a (qid, band) row ARE the observed replay counts. weighted=false
    // collapses them (the workload as a SET of query shapes — the
    // io_cdc_layout_advise_logged contract); weighted=true prices each
    // qid at its logged frequency. The grouped count runs engine-side;
    // the collect is |distinct log rows| — metadata-sized by
    // construction.
    val logged = spark.read.parquet(logDir)
      .groupBy("qid", "col_name", "lo", "hi")
      .agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)), r.getLong(4)))
    val workload = logged.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (qid, rows) =>
        val wts = rows.map(_._3).distinct
        // bands of one read are logged atomically (one append per read,
        // all bands in it), so unequal counts within a qid mean the log
        // mixes different query shapes under one id — refuse loudly
        // rather than guess a weight
        require(wts.size == 1,
          s"workload log $logDir: qid $qid has bands with differing " +
            s"replay counts ${rows.map(r => (r._2, r._3)).mkString(", ")} " +
            "— one qid must mean one query shape issued atomically")
        (rows.map(_._2).sortBy(_._1).toSeq, if (weighted) wts.head else 1L)
      }
    adviseLayoutWeighted(spark, root, layouts, workload)
  }

  /** Registered logged-advisor chain: the two mixed-workload band
    * shapes are ISSUED against v6 with the workload log attached — the
    * doc_id band `docIdReps` times, then the n_chars band once (each
    * read prunes through its band and leaves its record; the frames
    * themselves are discarded — manifest pruning happens eagerly, so
    * logging costs no data scan) — and the advisor is fed from the log
    * alone, pricing each qid at its logged frequency when the doc_id
    * band repeats.
    *
    * At `docIdReps = 1` the bands are those of [[layoutAdviceMixed]],
    * so the oracle — and the decision — must match the hand-fed mixed
    * advisor exactly. At 3 the point is the DECISION, not the numbers:
    * at 1:1 the per-dimension mix favors the equi-depth Z layout; at
    * 3:1 the hot doc_id band drags the bill toward the 1-D doc_id sort
    * — the flip a set-semantics advisor can never see. That oracle
    * replays the weighted ranking with the 3× multiplier inlined, so the
    * hash pins capture → frequency → flipped winner in one artifact.
    */
  def layoutAdviceLogged(
      spark: SparkSession, docs: DataFrame, scratch: String,
      docIdReps: Int = 1): DataFrame = {
    zonedStore(spark, docs, scratch, 6)
    val logDir = s"$scratch/wlog" + (if (docIdReps == 1) "" else docIdReps)
    val (dBand, nBand) = (band(docs, "doc_id"), band(docs, "n_chars"))
    buildOnce(spark, logDir, s"$logDir/_logged") {
      val fs = new org.apache.hadoop.fs.Path(logDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(logDir), true)
      (1 to docIdReps).foreach { _ =>
        readVersion(spark, scratch, 6, bands = Seq(dBand),
          workloadLog = Some((logDir, 0L)))
      }
      readVersion(spark, scratch, 6, bands = Seq(nBand),
        workloadLog = Some((logDir, 1L)))
      fs.create(new org.apache.hadoop.fs.Path(s"$logDir/_logged"), true)
        .close()
    }
    adviseLayoutLogged(spark, scratch, zedLayouts, logDir,
      weighted = docIdReps > 1)
  }

  /** Apply an advice frame's winner as a rewrite-only commit — the
    * auto-OPTIMIZE decision step. The winner read is ONE metadata row;
    * the commit is the same [[layoutCommit]] the manual OPTIMIZE /
    * resort / zorder chain levels already price. Returns the chosen
    * label; a label no [[layouts]] entry carries throws before anything
    * is written.
    */
  def optimizeAutoCommit(
      spark: SparkSession, root: String, fromV: Int, toV: Int,
      targetRows: Int, advice: DataFrame): String = {
    val winner = advice.orderBy(col("rank")).select("layout").head.getString(0)
    val layout = layouts.find(_.label == winner).getOrElse(
      throw new IllegalArgumentException(
        s"adviseLayout returned an unknown layout label: $winner"))
    layoutCommit(spark, root, fromV, toV, targetRows, layout)
    winner
  }

  /** COST GATE for auto-OPTIMIZE (r18): the decision row that says
    * whether applying the advisor's winner pays for itself — projected
    * saving vs rewrite cost, BOTH from manifests alone. Saving per
    * workload replay = current layout's scan bill − winner's (the
    * advice frame already carries both); rewrite cost = the store's row
    * count (a layout commit rewrites every row once). The rule: rewrite
    * iff saving × `nReplays` (how many times the workload is expected
    * to run before the next layout decision) exceeds the rewrite, and
    * never when the winner IS the current layout. All integer
    * arithmetic over ≤|layouts| metadata rows, so the DuckDB oracle
    * replays the decision itself — not just the numbers.
    */
  def optimizeGateDecision(
      advice: DataFrame, current: String, nReplays: Long): DataFrame = {
    val w = advice.filter(col("rank") === 1L)
      .select(col("layout").as("winner"),
        col("rows_scanned").as("win_rows"), col("rows_total"))
    val c = advice.filter(col("layout") === current)
      .select(col("rows_scanned").as("cur_rows"))
    w.crossJoin(c)
      .select(col("winner"),
        (col("cur_rows") - col("win_rows")).as("saving_rows"),
        col("rows_total").as("rewrite_rows"),
        when(col("winner") === current, lit("keep"))
          .when((col("cur_rows") - col("win_rows")) * nReplays >
            col("rows_total"), lit("rewrite"))
          .otherwise(lit("keep")).as("action"),
        lit(nReplays).as("n_replays"))
  }

  /** [[optimizeAutoCommit]] behind the cost gate: the rewrite-only
    * commit happens ONLY when [[optimizeGateDecision]] says it pays; a
    * "keep" decision writes NOTHING (no new version, no data files) —
    * the branch the ungated r17 auto-OPTIMIZE lacked. Returns the
    * decision row's (winner, action).
    */
  def optimizeAutoGatedCommit(
      spark: SparkSession, root: String, fromV: Int, toV: Int,
      targetRows: Int, advice: DataFrame, current: String,
      nReplays: Long): (String, String) = {
    val d = optimizeGateDecision(advice, current, nReplays)
      .select("winner", "action").head
    val (winner, action) = (d.getString(0), d.getString(1))
    if (action == "rewrite")
      optimizeAutoCommit(spark, root, fromV, toV, targetRows, advice)
    (winner, action)
  }

  /** One-time build: the 4-layout chain, the advisor decision, and the
    * winner applied as the v7 commit.
    */
  def optimizeAutoStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, s"$scratch#auto", s"$scratch/m/v=7") {
      zonedStore(spark, docs, scratch, 6)
      optimizeAutoCommit(spark, scratch, 6, 7, defaultZoneRows,
        layoutAdvice(spark, docs, scratch))
    }

  /** The auto-OPTIMIZE read leg: v7's per-lang state checksum with the
    * chosen layout label beside it. The oracle recomputes the state
    * (version-invariant) and replays the argmin over the recomputed
    * chunk tables, so one hash proves the advisor picked the predicted
    * winner AND the commit moved no row.
    */
  def optimizeAutoRead(
      spark: SparkSession, docs: DataFrame, scratch: String): DataFrame = {
    optimizeAutoStore(spark, docs, scratch)
    val winner = layoutAdvice(spark, docs, scratch)
      .orderBy(col("rank")).limit(1).select(col("layout"))
    Governance.releaseManifestBy(readVersion(spark, scratch, 7), "lang")
      .crossJoin(broadcast(winner))
  }

  // ---- deletion vectors (position deletes) -----------------------------

  /** Write the snapshot with explicit (partition, pos) row addressing:
    * `pos` is the row's ordinal within its partition directory (dense,
    * deterministic — row_number over doc_id). In a real table format the
    * position is implicit in the parquet file; Spark's reader exposes no
    * row ordinal, so the ordinal is materialized as a column at write
    * time — the ADDRESSING SCHEME is the honest part (a row is named by
    * where it sits, never by its key), the stored column is the
    * sandbox stand-in, exactly the multimodal-codec-stub discipline.
    */
  def writePositionedSnapshot(docs: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    docs.select(storeCols.map(col): _*)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))).cast("long"))
      .write.mode("overwrite").partitionBy("lang").parquet(path)
  }

  /** Build the deletion vectors for a key set: ONE lookup pass over the
    * snapshot (at 100 TB this is the pass a bloom/zone index prunes —
    * [[graft.operators.StorageLayout.bloomLookup]] is that front) maps
    * each doomed key to its (lang, pos) address. The result is the
    * DV artifact: |deletes| tiny rows, the per-file position bitmap of
    * Iceberg v2 / Delta DVs as a frame. Zero data files are rewritten —
    * a delete costs METADATA, the rewrite is deferred to compaction.
    */
  def buildDeletionVectors(
      spark: SparkSession, basePath: String, deleteKeys: DataFrame)
      : DataFrame = {
    spark.read.parquet(basePath)
      .join(broadcast(deleteKeys.select("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("lang"), col("pos"))
  }

  /** The DV-resolved read: live rows = base ANTI-JOIN dv ON (partition,
    * pos) — POSITIONS ONLY, the row key never participates. That is the
    * semantic difference from the tombstone-key log of [[morRead]]: a
    * position delete removes exactly the addressed physical row, works
    * on tables with no key (or duplicate keys — spec-pinned: one of two
    * same-key rows survives), and at scan time is a per-file ordinal
    * filter a vectorized reader applies while decoding, not a join
    * against a key set. The DV side is |deletes| rows, always broadcast;
    * base rows never shuffle (PlanSpec pins the broadcast anti-join).
    */
  def dvRead(spark: SparkSession, basePath: String, dv: DataFrame)
      : DataFrame =
    spark.read.parquet(basePath)
      .join(broadcast(dv), Seq("lang", "pos"), "left_anti")

  /** Registered lifecycle: positioned base → day-1 delete keys become
    * deletion vectors (one indexed-shaped lookup pass, zero rewrites) →
    * DV-resolved read → per-(lang, source) manifest. Oracle recomputes
    * the live set from the unsplit table, so the hash proves position
    * addressing deletes exactly the doomed rows and nothing else.
    */
  def dvStore(
      spark: SparkSession, docs: DataFrame, scratch: String): Unit =
    buildOnce(spark, scratch, s"$scratch/base") {
      writePositionedSnapshot(docs, s"$scratch/base")
    }

  def dvManifest(spark: SparkSession, docs: DataFrame, scratch: String)
      : DataFrame = {
    val base = s"$scratch/base"
    dvStore(spark, docs, scratch)
    val dv = buildDeletionVectors(spark, base, deletes(feed(docs)))
      .localCheckpoint() // the KB-scale DV artifact; cut its build lineage
    Governance.releaseManifestBy(
      dvRead(spark, base, dv), "lang", "source")
  }
}
