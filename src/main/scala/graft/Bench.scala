package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

object Bench {

  /** 1-minute system load average (or -1 where the JVM can't see it). A
    * loaded machine inflates every wall-clock number silently — r4's
    * driver artifact recorded 2-3x join times from exactly that — so the
    * bench records load at start AND end, making a distorted run
    * diagnosable from the JSON alone.
    */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Fixed host-speed calibration: two DATA-INDEPENDENT probes — a seeded
    * 20M-row range shuffle-aggregation (CPU + hash-exchange path) and a
    * constant generated text fold (the array-expression/codegen path) —
    * timed with the same noop-write action as the measured queries. The
    * workload never reads testdata and never changes across rounds, so
    * the ratio of two rounds' `calibration_s` IS the host-speed ratio:
    * it separates "the machine got slower" from "the engine got slower"
    * inside one artifact read (the r10 ~1.9× total shift was
    * environmental, and no committed artifact could show it). Three reps
    * per control point; the bench runs the control at START (before the
    * cold passes), MIDDLE (between the cold and warm phases), and END
    * (after the warm phase) so a load shift in ANY phase is visible.
    * Flagging: the headline `calibration_s` is the min over all reps of
    * all three points (a spike should not mislabel the round slow);
    * `calibration_spread` = max/min of the three per-point mins, and
    * `calibration_flagged` fires above 1.5 — above that the host moved
    * mid-run and per-phase numbers under-normalize whatever ran during
    * the spike. All nine raw reps are emitted (`calibration_reps`), so a
    * cross-round comparison can normalize per phase without a manual
    * interleaved A/B.
    */
  private def calibration(spark: SparkSession): Vector[Double] = {
    import org.apache.spark.sql.functions._
    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def once(): Double = {
      val t0 = System.nanoTime()
      exec(spark.range(20000000L)
        .selectExpr("id % 1000 AS k", "(id * 2654435761) % 1000000007 AS h")
        .groupBy("k").agg(sum("h"), count(lit(1))))
      exec(spark.range(100000L)
        .selectExpr("concat_ws(' ', transform(sequence(0, 49), " +
          "i -> concat('w', (id * 53 + i) % 997))) AS text")
        .selectExpr("aggregate(split(text, ' '), 0L, " +
          "(a, x) -> a + length(x) * 31 + ascii(x)) AS f"))
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).toVector
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = Posture.session()
    // Stats-ON default posture (r15 verdict #1): the benched binary plans
    // with ANALYZE'd catalog statistics + CBO, the same posture Verify
    // checks. The one-time ANALYZE cost is priced into setup_total
    // (emitted separately as stats_s so rounds before the flip stay
    // comparable by subtraction); `env.stats` names the posture in force.
    val statsT0 = System.nanoTime()
    val stats = Posture.statsOn(spark, sfDir)
    val statsS: Double =
      if (stats == "off") 0.0 else (System.nanoTime() - statsT0) / 1e9
    val loadStart = loadAvg
    // Pruning-proof action: a noop-format write consumes every output
    // column of every row, so Catalyst cannot collapse projection-only
    // pipelines into a parquet row count the way `.count()` could (column
    // pruning under count(1) deleted the very work being measured).
    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // Warm the executor/codegen/scan paths once so the first measured query
    // doesn't pay JVM/JIT startup: a tiny shuffle, the parquet footers, the
    // array-expression path, and a tiny run of the heaviest operator shape
    // (so Janino compiles the shingle/hash pipeline before the measured
    // pass). Warmup is best effort — a missing table must not kill the run.
    def warm(f: => Unit): Unit = try f catch { case NonFatal(_) => () }
    warm(spark.range(10000).selectExpr("id % 7 k").groupBy("k").count().collect())
    warm(spark.read.parquet(s"$sfDir/region.parquet").count())
    warm(exec(spark.read.parquet(s"$sfDir/embeddings.parquet").limit(8)
      .selectExpr("size(embedding) s")))
    warm(exec(graft.operators.Dedup.minhashSignatures(
      spark.read.parquet(s"$sfDir/documents.parquet").limit(64))))
    // TWO rep series per query, so totals stay comparable across the r6
    // methodology break (r5 measured back-to-back warm mins; r6 switched
    // to interleaved cold mins and the series broke — judge-verified as
    // measurement, not plans):
    //   1. COLD (the headline `value`/`queries`, r6-comparable): `reps`
    //      full INTERLEAVED passes over all queries — a transient host
    //      spike lands on one rep of many queries (min-of-reps discards
    //      it) instead of every rep of one query (nothing could). The min
    //      prices the plan with cold intermediate caches.
    //   2. WARM (`total_warm`/`queries_warm`, r5-comparable): after the
    //      passes, `warm_reps` BACK-TO-BACK runs per query — page cache,
    //      JIT, and broadcast reuse primed by the immediately preceding
    //      run, the r5 rep discipline.
    // ALL rep times are emitted (`reps_all` in pass order, `reps_warm_all`
    // in block order): a rep spread far above its min is the loaded-
    // machine signature, visible in the artifact without a rerun. A rep
    // that throws contributes nothing (a fast failure must not masquerade
    // as a fast query); all-reps-failed reports -1 so breakage is visible
    // in the JSON instead of a bogus latency.
    val warmReps =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_REPS", "2").toInt)
    val calStartReps = calibration(spark)
    val calStart = calStartReps.min
    val qseq = Registry.benchQueries.toSeq.sortBy(_._1)
    // Deterministic checkpoint reclaim between reps: the split/checkpoint
    // operators (quality gates, decontamination, LM scoring, gap-fill,
    // mixtures — see Registry's eagerness scaladoc) pin localCheckpoint
    // partitions in executor storage at construction time, and reclaim
    // normally waits on ContextCleaner GC. Across 100+ queries × 5
    // constructions at sf0.1 the debris outpaces the cleaner, inflating
    // the LATE series (warm ran slower than cold; streaming rates sank
    // ~8×) purely through heap/storage pressure. Every constructed frame
    // is rep-local garbage by definition, so dropping ALL persistent RDDs
    // after the timed action is always safe here — and puts the bench
    // back to measuring plans instead of leak accumulation.
    def reclaim(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Failed reps per query (cold + warm), emitted as `failed_reps`: a
    // rep that throws drops out of the min, so a query that failed some
    // of its reps would otherwise look exactly like a clean one.
    val failedReps = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def timed(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try { exec(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(_) => failedReps(name) += 1; None }
      finally reclaim()
    }
    // One-time store builds (the mutation half of the CDC lifecycle
    // queries), priced SEPARATELY before the rep passes: setup_s carries
    // the build/commit cost once per query, and the per-rep times below
    // then measure the terminal read leg on the already-built store
    // (QuerySpec.setup memoizes per process) — so io_cdc_* numbers are
    // comparable with pure-read queries while setup + measured still
    // prices the full lifecycle (r13 What's-wrong #3).
    // A setup that throws gets ONE retry (transient scratch hiccups);
    // a query whose setup still fails is excluded from the rep passes
    // entirely and stays -1 in the output — otherwise the first cold rep
    // would silently rebuild the store inside run(), min-of-reps would
    // discard that rep, and the build cost would vanish from both
    // setup_s and the headline while the query looked green.
    val setupTimes: Seq[(String, Double)] =
      Registry.all.filter(q => q.benchmark && q.setup.nonEmpty)
        .sortBy(_.name).map { q =>
          val t0 = System.nanoTime()
          def attempt(): Boolean =
            try { q.setup.get(spark, sfDir); true }
            catch { case NonFatal(_) => false }
          val ok = attempt() || attempt()
          reclaim()
          q.name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
    val setupFailed: Set[String] =
      setupTimes.collect { case (n, t) if t < 0 => n }.toSet
    val setupTotal = setupTimes.map(_._2).filter(_ >= 0).sum + statsS
    val acc = scala.collection.mutable.LinkedHashMap(
      qseq.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    for (_ <- 1 to reps; (name, fn) <- qseq if !setupFailed(name))
      timed(name, fn).foreach(t => acc(name) = acc(name) :+ t)
    // middle control: between the cold passes and the warm phase, so a
    // load shift inside either phase is attributable from the JSON alone
    val calMidReps = calibration(spark)
    val calMid = calMidReps.min
    val accWarm = scala.collection.mutable.LinkedHashMap(
      qseq.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    for ((name, fn) <- qseq if !setupFailed(name); _ <- 1 to warmReps)
      timed(name, fn).foreach(t => accWarm(name) = accWarm(name) :+ t)
    def minsOf(m: scala.collection.Map[String, Vector[Double]]): Seq[(String, Double)] =
      qseq.map { case (k, _) =>
        k -> m(k).minOption.getOrElse(-1.0)
      }
    def obj(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def objArr(m: scala.collection.Map[String, Vector[Double]]): String =
      qseq.map { case (k, _) =>
        s"\"" + k + "\":" + m(k).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val mins = minsOf(acc)
    val minsWarm = minsOf(accWarm)
    // The headline total covers benchmark=true queries only; name the
    // excluded set in the output so totals are comparable across rounds.
    val excluded = Registry.all.filterNot(_.benchmark).map(_.name).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Totals sum the successful queries only — a failed query stays -1 in
    // `queries` (visible breakage) but must not drag the headline negative.
    // Lifecycle setups count ONCE into each headline so totals stay
    // comparable with rounds that priced setup inside every rep.
    val total = mins.map(_._2).filter(_ >= 0).sum + setupTotal
    val totalWarm = minsWarm.map(_._2).filter(_ >= 0).sum + setupTotal
    // Per-family subtotals so round-over-round comparison survives surface
    // growth without per-query spelunking; families derive from the name
    // conventions the inventory already uses (failed queries count as 0 in
    // the family sum but remain -1 in `queries`).
    def famObj(ms: Seq[(String, Double)]): String = {
      val byFam = ms.groupBy { case (k, _) => family(k) }.toSeq.sortBy(_._1)
      byFam.map { case (f, qs) =>
        s"\"" + f + "\":" + qs.map(_._2).filter(_ >= 0).sum
      }.mkString("{", ",", "}")
    }
    val calEndReps = calibration(spark)
    val calEnd = calEndReps.min
    // The calibration headline is the fastest of the three control points
    // (a load spike at any phase boundary shouldn't mislabel the whole
    // round slow); every raw rep is emitted so mid-run drift stays
    // visible and per-phase normalization needs no manual A/B.
    val cal = Seq(calStart, calMid, calEnd).min
    // Host-normalized headline: wall seconds divided by the calibration
    // seconds — a dimensionless "engine work in units of this host's
    // fixed-workload time" that survives a host swap. Compare
    // total_per_cal across rounds to see ENGINE movement; compare
    // calibration_s to see HOST movement.
    def perCal(v: Double): Double = if (cal > 0) v / cal else -1.0
    // Honesty band: the start/end calibration RATIO. ~1.0 = stable host;
    // above ~1.5 the host moved mid-run and total_per_cal (normalized by
    // the min) under-normalizes whatever ran during the spike — the
    // artifact self-flags instead of a judge having to diff load fields.
    val calSpread =
      if (cal > 0) Seq(calStart, calMid, calEnd).max / cal else -1.0
    def calJson =
      s""""calibration_s":$cal,"calibration_start_s":$calStart,""" +
        s""""calibration_mid_s":$calMid,""" +
        s""""calibration_end_s":$calEnd,"calibration_spread":$calSpread,""" +
        s""""calibration_flagged":${calSpread > 1.5},""" +
        s""""calibration_reps":{"start":${calStartReps.mkString("[", ",", "]")},""" +
        s""""mid":${calMidReps.mkString("[", ",", "]")},""" +
        s""""end":${calEndReps.mkString("[", ",", "]")}},""" +
        s""""total_per_cal":${perCal(total)},""" +
        s""""total_warm_per_cal":${perCal(totalWarm)}"""
    val loadMid = loadAvg
    // `cpus` is what the JVM sees; the rest is the session posture in
    // force, so the artifact explains its own numbers.
    def env(loadEnd: Double) =
      s"""{"cpus":${Runtime.getRuntime.availableProcessors},""" +
        s""""load_start":$loadStart,"load_end":$loadEnd,""" +
        s""""cores":${Posture.cores},""" +
        s""""codegen_cache_entries":${Posture.codegenCacheEntries},""" +
        s""""stats":"$stats",""" +
        Posture.streamingEnv(spark).map { case (k, v) => s""""$k":"$v"""" }.mkString(",") + "}"
    // The batch readout prints BEFORE the streaming section runs: the
    // driver's r7 artifact came back rc 124 / parsed:null because a timeout
    // inside the streaming bench killed the process before the (then
    // streaming-inclusive) headline line ever printed, zeroing the round's
    // perf signal even though all queries had been timed. Batch lines first,
    // streaming as its own trailing JSON line, and the short self-contained
    // total line both before streaming (kill-proof) and last (tail-window-
    // proof; the driver's tail-parse tolerates multiple lines).
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_warm":$totalWarm,"setup_total":$setupTotal,"stats_s":$statsS,$calJson,"queries":${obj(mins)},"queries_warm":${obj(minsWarm)},"setup_s":${obj(setupTimes)},"families":${famObj(mins)},"families_warm":${famObj(minsWarm)},"reps_all":${objArr(acc)},"reps_warm_all":${objArr(accWarm)},"env":${env(loadMid)},"sf":"$sfDir","reps":$reps,"warm_reps":$warmReps,"action":"noop-write","excluded":$excluded}""")
    def failedObj: String = qseq.map { case (k, _) =>
      s"\"" + k + "\":" + failedReps(k)
    }.mkString("{", ",", "}")
    // The FINAL line must also carry the per-query maps: the driver tail-
    // parses the LAST JSON line only, and r17/r18's short headline left
    // its per-query/scaling channels empty (PERF per_query: {}). Same
    // fields as the first full line, additions-only — totals and the
    // early line are unchanged, so cross-round comparisons stay valid.
    def headline(): String =
      s"""{"metric":"total","value":$total,"unit":"sec","total_warm":$totalWarm,"setup_total":$setupTotal,"stats_s":$statsS,$calJson,"sf":"$sfDir","reps":$reps,"warm_reps":$warmReps,"action":"noop-write","nqueries":${mins.size},"queries":${obj(mins)},"queries_warm":${obj(minsWarm)},"setup_s":${obj(setupTimes)},"families":${famObj(mins)},"failed_reps":$failedObj,"env":${env(loadAvg)}}"""
    println(headline())
    Console.out.flush()
    // Optional deadline (seconds, from process start): when the elapsed
    // batch phase has eaten most of the budget, scale the streaming replay
    // volumes down proportionally instead of letting an external timeout
    // kill the run mid-stream. No deadline -> full volumes.
    val t0Wall = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val streamScale = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE").map(_.toDouble)
      .map { dl =>
        val left = dl - (System.currentTimeMillis() - t0Wall) / 1000.0
        // full volumes need ~180 s of headroom; scale linearly below that
        math.min(1.0, math.max(0.0, left / 180.0))
      }.getOrElse(1.0)
    // Enter the streaming phase on a clean heap: drop any remaining
    // checkpoint debris and let one full GC run, so streaming throughput
    // measures the stateful operators, not the batch phase's leftovers.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    val streaming =
      if (sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0")
        || streamScale <= 0.0) "{}"
      else streamingBench(spark, sfDir, streamScale)
    println(s"""{"metric":"streaming","streaming":$streaming,"stream_scale":$streamScale,"env":${env(loadAvg)}}""")
    println(headline())
    spark.stop()
  }

  /** Bench family of a query name, from the §2 inventory's own naming
    * conventions (q* relational, dedup_/decontaminate_ dedup, ...). Every
    * registered name maps to a named family (RegistrySpec pins it); an
    * unknown prefix lands in "unmapped" instead of padding another
    * family's subtotal.
    */
  private[graft] def family(name: String): String = name match {
    case n if n.startsWith("q") && n.length > 1 && n(1).isDigit => "relational"
    case n if n.startsWith("dedup_") || n.startsWith("decontaminate_") => "dedup"
    case n if n.startsWith("sim_") || n.startsWith("emb_") => "similarity"
    case n if n.startsWith("text_") || n.startsWith("vocab_") ||
      n.startsWith("chunk_") || n.startsWith("sample_") ||
      n.startsWith("tokenize_") || n.startsWith("doc_") => "text"
    case n if n.startsWith("mm_") => "multimodal"
    case n if n.startsWith("ts_") => "timeseries"
    case n if n.startsWith("sketch_") => "sketches"
    case n if n.startsWith("pack_") || n.startsWith("mix_") ||
      n.startsWith("split_") || n.startsWith("shuffle_") => "packing"
    case n if n.startsWith("io_") => "io"
    case n if n.startsWith("gov_") => "governance"
    case n if n.startsWith("graph_") => "graph"
    case n if n.startsWith("er_") => "entity_resolution"
    case n if n.startsWith("dim_") => "dimensions"
    case n if n.startsWith("mine_") => "mining"
    case n if n.startsWith("candlestick_") || n.startsWith("sliding_") ||
      n.startsWith("tick_") => "windows"
    case _ => "unmapped"
  }

  /** Streaming-path throughput over a FIXED replay, so regressions in the
    * stateful operators show up round-over-round. Volumes are sized so
    * STEADY-STATE trigger time dominates micro-batch startup (the r6
    * artifact's 199 rows/s for curation was ~all startup on a 5k-doc
    * corpus): 10^6 synthetic ticks for the tick pipelines (the reference
    * candlestick and sliding MIN, and the two-level MIN form), and the
    * docs corpus replicated `SPARK_GRAFT_BENCH_DOC_REPS`x (re-keyed ids;
    * content replicas are exactly what the dedup stage evicts, so state
    * stays |distinct fps|) for curation. The SimHash near-dup stream runs
    * on a SYNTHETIC mostly-unique corpus (`SPARK_GRAFT_BENCH_SIMDOCS`
    * docs, one true pair per 100): replicating a real corpus into a
    * near-dup detector manufactures a quadratic pair explosion, which
    * would bench the blow-up, not the operator — see the generation
    * comment below. Each pipeline drains under
    * Trigger.AvailableNow into a noop sink on the RocksDB state store
    * ([[Posture.session]]'s, as in the job mains). Readouts per
    * pipeline: processing rows/s = sum(numInputRows) /
    * sum(triggerExecution) (input generation and query startup
    * excluded), plus the final state-store footprint
    * (`*_state_rows` / `*_state_bytes` -- the bounded-state claims made
    * per operator, now measured). A failed pipeline reports -1 rather
    * than vanishing.
    */
  private def streamingBench(
      spark: SparkSession, sfDir: String, scale: Double = 1.0): String = {
    import org.apache.spark.sql.functions._
    import graft.streaming._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_bench").toString
    // The deadline scale shrinks volumes (with a floor so the readout stays
    // steady-state-ish); an explicit env volume at scale=1 is honored as-is.
    def scaled(raw: Long, floor: Long): Long =
      if (scale >= 1.0) raw else math.max(floor, (raw * scale).toLong)
    val nTicks = scaled(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TICKS", "1000000").toLong, 50000L)
    val docReps = scaled(math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DOC_REPS", "100").toInt), 5L).toInt
    // Fixed tick replay: the seeded producer shape over 16 JSON files (the
    // file-per-task parallelism a sharded source would have), wire format
    // = the SQL timestamp standard the sources declare.
    TickSource.syntheticBatch(spark, nTicks).repartition(16)
      .write.mode("overwrite").option("timestampFormat", Tick.TsFormatSql)
      .json(s"$tmp/ticks")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    val nDocs = docs.count()
    docs
      .select(col("doc_id"), col("text"), col("lang"),
        explode(sequence(lit(0L), lit(docReps - 1L))).as("rep"))
      .select((col("doc_id") * docReps + col("rep")).as("doc_id"),
        col("text"), col("lang"))
      .repartition(16)
      .write.mode("overwrite").json(s"$tmp/docs")
    // Near-dup stream input: a SYNTHETIC mostly-unique corpus, because
    // neither real option measures the operator at volume — the raw
    // corpus is startup-dominated (5k docs) and replicating it
    // manufactures a quadratic pair explosion. Here each doc carries 64
    // doc-unique tokens except ids with `id % 100 < 2`, which share their
    // hundred's base text — exactly one true near-dup pair per 100 docs,
    // linear in corpus size. Random cross-doc bucket collisions still
    // happen (16-bit halves over a corpus larger than 2^16) and are
    // REJECTED by the exact hamming check — that candidate-verify work is
    // precisely the cost being measured. Event times spread over 10
    // minutes, inside one state horizon.
    val nSimDocs = scaled(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SIMDOCS", "20000").toLong, 2000L)
    spark.range(nSimDocs)
      .selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 63), i -> concat('t', " +
          "CASE WHEN id % 100 < 2 THEN id - id % 100 ELSE id END, '_', i))) AS text",
        "timestampadd(SECOND, cast(id % 600 AS int), " +
          "timestamp'2024-01-01 00:00:00') AS utc")
      .repartition(16)
      .write.mode("overwrite").option("timestampFormat", Tick.TsFormatSql)
      .json(s"$tmp/simdocs")
    // (rps, state_rows, state_bytes) from the drained query's progress feed
    def run(out: DataFrame): (Double, Double, Double) = {
      val q = TickSink.start(out, TickSink.Noop, availableNow = true)
      q.awaitTermination()
      val ps = q.recentProgress
      val rows = ps.map(_.numInputRows).sum
      val ms = ps.flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.toLong)).sum
      val withState = ps.filter(_.stateOperators.nonEmpty)
      val stateRows = withState.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
      val stateBytes = withState.lastOption
        .map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
      (if (ms <= 0) -1.0 else rows * 1000.0 / ms, stateRows, stateBytes)
    }
    // Each section runs `streamReps` times (fresh query + fresh TEMP
    // checkpoint per rep — the noop sink never pins one) and the headline
    // `*_rps` is the MAX of reps: the r8 artifacts showed the two newest
    // sections swinging 2-3x between single-shot runs (grid-fill
    // 256k<->103k, heavy hitters 83k<->38k), which hid any streaming
    // regression smaller than the swing. A transient host stall only ever
    // SLOWS a rep, so max-of-reps prices the operator the way min-of-reps
    // prices the batch plans; every rep is emitted (`*_rps_rep{i}`) so a
    // spread far above the max stays diagnosable from the JSON. Under a
    // deadline scale < 1 the reps drop to 1 — honest volumes first.
    val streamReps =
      if (scale < 1.0) 1
      else math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM_REPS", "2").toInt)
    // `*_codegen_compiles` counts the Janino compiles over all of a
    // section's reps: the first query of a plan shape compiles, a repeat
    // of it should not (Posture's artifact-isolation conf).
    def one(name: String, f: => (Double, Double, Double)): Seq[(String, Double)] = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val outcomes = (1 to streamReps).map { _ =>
        try f catch { case NonFatal(_) => (-1.0, -1.0, -1.0) }
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val ok = outcomes.filter(_._1 >= 0)
      val best = if (ok.isEmpty) (-1.0, -1.0, -1.0) else ok.maxBy(_._1)
      Seq(s"${name}_rps" -> best._1, s"${name}_state_rows" -> best._2,
        s"${name}_state_bytes" -> best._3,
        s"${name}_codegen_compiles" -> compiles.toDouble) ++
        (if (streamReps > 1)
          outcomes.zipWithIndex.map { case (o, i) => s"${name}_rps_rep${i + 1}" -> o._1 }
        else Seq.empty)
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
    val simDocSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("utc", TimestampType)))
    val lines =
      one("candlestick", run(StreamingQueries.candlestick(
        TickSource.fileJson(spark, s"$tmp/ticks")))) ++
      one("sliding_min", run(StreamingQueries.slidingMin(
        TickSource.fileJson(spark, s"$tmp/ticks")))) ++
      one("sliding_min_two_level", run(StreamingQueries.slidingMinTwoLevel(
        TickSource.fileJson(spark, s"$tmp/ticks")))) ++
      one("doc_curation", run(DocPipeline.curate(
        DocPipeline.fileJson(spark, s"$tmp/docs")))) ++
      one("simhash_pairs", {
        import spark.implicits._
        run(StreamingQueries.simhashPairsStream(spark,
          spark.readStream.schema(simDocSchema).json(s"$tmp/simdocs")
            .as[StreamingQueries.SimhashDoc]).toDF())
      }) ++
      one("grid_fill", {
        import spark.implicits._
        run(StreamingQueries.gridForwardFillTws(spark,
          TickSource.fileJson(spark, s"$tmp/ticks")
            .select(col("ticker").as("event_type"), col("utc"),
              col("price").as("value"))
            .as[StreamingQueries.FillEvent]).toDF())
      }) ++
      one("heavy_hitters", {
        import spark.implicits._
        run(StreamingQueries.heavyHittersTws(spark,
          DocPipeline.fileJson(spark, s"$tmp/docs")
            .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
            .as[String]).toDF())
      })
    (lines ++ Seq("tick_rows" -> nTicks.toDouble,
      "doc_rows" -> nDocs.toDouble * docReps,
      "simdoc_rows" -> nSimDocs.toDouble))
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
  }
}
