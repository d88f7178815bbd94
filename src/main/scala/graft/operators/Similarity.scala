package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an `ArrayType(FloatType)` embedding column.
  *
  * All arithmetic is cross-engine-exact: float→double casts are lossless,
  * per-element products are IEEE-deterministic, and every reduction goes
  * through the floor-scaled-long trick (round each product to 1e-6, sum
  * exact integers) so accumulation order never matters. Scores are then
  * bit-identical between Spark and the DuckDB oracle, which makes the
  * top-k ranking itself deterministic.
  *
  * Scale design (100 TB stance):
  *   - Brute force: the query set is broadcast; the corpus is scanned once,
  *     embarrassingly parallel, with no shuffle of corpus rows. The only
  *     exchange is the per-query top-k, and the `rn <= k` filter triggers
  *     Spark's WindowGroupLimit pushdown: each partition keeps at most k
  *     rows per query before the shuffle.
  *   - LSH-bucketed: a deterministic sign-random-projection (hyperplane
  *     components ±1 derived from md5(bit:dim)) maps every vector to one of
  *     2^bits buckets at scan time. Queries probe only their own bucket —
  *     the candidate join is an equi-join on bucket id, pruning the corpus
  *     by ~2^bits before any distance math. This is the IVF/LSH shape:
  *     partition the corpus by cell, route queries to cells.
  */
object Similarity {

  private def vecs(emb: DataFrame): DataFrame =
    emb.selectExpr("vec_id", "cast(embedding as array<double>) AS v")

  /** Brute-force cosine top-k: every query (vec_id < nQueries) against the
    * whole corpus. The baseline every ANN variant is checked against.
    * Scoring runs through the native codegen'd [[graft.functions
    * .CosineSimilarity]] expression — same scaled-integer arithmetic as the
    * DuckDB oracle, one tight loop per pair instead of HOF intermediates.
    */
  def cosineTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = vecs(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("qv"), col("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** Margin-based bitext mining (the CCMatrix/LASER pipeline step that
    * builds translation-pair training data): candidate pairs between two
    * language slices of the embedding space, kept only when the match is
    * MUTUAL (x's best y AND y's best x — the intersection criterion) and
    * reported with the absolute margin cos(best) − cos(runner-up), the
    * score that separates true translations from hubness artifacts
    * (Artetxe & Schwenk's margin family; the runner-up term is what a
    * plain threshold misses). Output: (a_id, b_id, cos, margin).
    *
    * Scoring runs through the same codegen'd exact-scaled-long
    * [[graft.functions.CosineSimilarity]] as every other cosine here, so
    * the oracle hash-matches. The pair table is scored ONCE
    * (checkpointed) and both rank directions replay it. At harness scale
    * the B slice broadcasts and the exact all-pairs scoring IS the
    * operator; at 100 TB the candidate generator is the ANN ladder
    * (IVFADC probes), with this same mutual+margin scorer applied to
    * candidates — the composition `decontaminate_semantic` already
    * demonstrates for the LSH front.
    */
  def bitextMine(
      docs: DataFrame, emb: DataFrame,
      langA: String = "en", langB: String = "de"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vecs(emb)
    val langs = docs.select(col("doc_id").as("vec_id"), col("lang"))
    val a = e.join(langs.where(col("lang") === langA), Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.join(langs.where(col("lang") === langB), Seq("vec_id"))
      .select(col("vec_id").as("b_id"), col("v").as("bv"))
    val scored = a.crossJoin(broadcast(b))
      .withColumn("score",
        graft.functions.GraftFunctions.cosine_sim(col("av"), col("bv")))
      .select(col("a_id"), col("b_id"), col("score"))
      .localCheckpoint(false)
    mutualMarginPairs(scored)
  }

  /** The mutual-best + margin tail shared by [[bitextMine]] (exact
    * all-pairs candidates) and [[bitextMineBlocked]] (LSH candidates):
    * per a-side best match with the runner-up margin, kept only when the
    * b side agrees. Expects a checkpointed (a_id, b_id, score) table.
    *
    * When an a_id has exactly ONE candidate (common under the LSH
    * blocker: a bucket holding a single cross-lingual partner) there is
    * no runner-up and the margin is NULL — not the full cosine, which
    * would let a downstream margin threshold over-accept singleton-
    * bucket pairs whose comparison pool was simply empty. Consumers see
    * the distinction directly: NULL = nothing to compare against,
    * number = a real best-vs-runner-up separation.
    */
  private def mutualMarginPairs(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wA = Window.partitionBy(col("a_id")).orderBy(desc("score"), asc("b_id"))
    val wB = Window.partitionBy(col("b_id")).orderBy(desc("score"), asc("a_id"))
    val aTop = scored.withColumn("ra", row_number().over(wA))
      .where(col("ra") <= 2)
      .groupBy(col("a_id"))
      .agg(
        max(when(col("ra") === 1, col("b_id"))).as("b_id"),
        max(when(col("ra") === 1, col("score"))).as("cos"),
        (max(when(col("ra") === 1, col("score"))) -
          max(when(col("ra") === 2, col("score"))))
          .as("margin"))
    val bBest = scored.withColumn("rb", row_number().over(wB))
      .where(col("rb") === 1)
      .select(col("a_id"), col("b_id"))
    aTop.join(bBest, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("cos"), col("margin"))
  }

  /** [[bitextMine]] behind the LSH blocker — the deployment shape: the
    * candidate set is same-sign-bucket cross-lingual pairs (an equi-join
    * on the scan-side bucket projection, never all-pairs), with the
    * mutual+margin scorer applied WITHIN candidates. Margins are
    * computed over the candidate set, so a blocked margin is ≥ the exact
    * one (the runner-up pool shrank), and NULL when the bucket held a
    * single cross-lingual candidate (no pool at all — see
    * [[mutualMarginPairs]]); [[bitextRecall]] is the gauge that says
    * whether the bucket width is costing real pairs.
    */
  def bitextMineBlocked(
      docs: DataFrame, emb: DataFrame,
      langA: String = "en", langB: String = "de", bits: Int = 6): DataFrame = {
    val e = vecs(emb).join(lshBuckets(emb, bits, probeDim(emb)), Seq("vec_id"))
    val langs = docs.select(col("doc_id").as("vec_id"), col("lang"))
    val a = e.join(langs.where(col("lang") === langA), Seq("vec_id"))
      .select(col("vec_id").as("a_id"), col("v").as("av"), col("bucket"))
    val b = e.join(langs.where(col("lang") === langB), Seq("vec_id"))
      .select(col("vec_id").as("b_id"), col("v").as("bv"), col("bucket"))
    val scored = a.join(b, Seq("bucket"))
      .withColumn("score",
        graft.functions.GraftFunctions.cosine_sim(col("av"), col("bv")))
      .select(col("a_id"), col("b_id"), col("score"))
      .localCheckpoint(false)
    mutualMarginPairs(scored)
  }

  /** Bitext blocking gauge: pair counts of the exact and LSH-blocked
    * miners and their overlap, recall in integer basis points — the
    * contract that justifies (or revokes) the blocked path, like every
    * other `*_recall` twin here.
    */
  def bitextRecall(
      docs: DataFrame, emb: DataFrame,
      langA: String = "en", langB: String = "de", bits: Int = 6): DataFrame = {
    val exact = bitextMine(docs, emb, langA, langB)
      .select(col("a_id"), col("b_id")).withColumn("ex", lit(1L))
    val blocked = bitextMineBlocked(docs, emb, langA, langB, bits)
      .select(col("a_id"), col("b_id")).withColumn("bl", lit(1L))
    exact.join(blocked, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(coalesce(col("ex"), lit(0L))).as("n_exact"),
        sum(coalesce(col("bl"), lit(0L))).as("n_blocked"),
        sum(when(col("ex") === 1L && col("bl") === 1L, 1L).otherwise(0L))
          .as("n_common"))
      .select(col("n_exact"), col("n_blocked"), col("n_common"),
        expr("n_common * 10000 DIV nullif(n_exact, 0)").as("recall_bp"))
  }

  /** Embedding-corpus hygiene stats: exact per-vector scaled-long squared
    * L2 norm, aggregated per dimensionality — the QA pass before any ANN
    * build (catches zero vectors, norm drift, mixed dims in one readout).
    * One corpus scan, all aggregates map-side combinable.
    */
  def normStats(emb: DataFrame): DataFrame =
    vecs(emb)
      .select(size(col("v")).as("dim"),
        expr("aggregate(v, 0L, (acc, x) -> acc + cast(floor(x*x*1e6 + 0.5) as bigint))")
          .as("nrm"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("nrm")).as("min_nrm"),
        max(col("nrm")).as("max_nrm"),
        sum(col("nrm")).as("sum_nrm"),
        sum(when(col("nrm") === 0L, 1L).otherwise(0L)).as("n_zero"))

  /** Deterministic signed random projection (Achlioptas ±1 scheme): reduce
    * each embedding to `outDim` components p_j = Σ_i c(j,i)·round(v_i·1e6)
    * with c(j,i) = ±1 from the high bit of md5("rp:j:i") — the cheap
    * Johnson–Lindenstrauss dimensionality reduction a pipeline runs before
    * clustering or coarse filtering. The sign matrix is a pure function of
    * (j,i), materialized as literal arrays: the whole reduction is ONE
    * scan-side projection (zip_with + aggregate per component), no
    * shuffle, no per-row hashing, exact integer arithmetic — and therefore
    * bit-reproducible across engines and runs. Emitted in long (vec_id,
    * j, p) form, one row per component.
    */
  def randomProjection(emb: DataFrame, outDim: Int = 8, dim: Int = 64): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Long = {
      val h = digest.digest(s"rp:$j:$i".getBytes("UTF-8"))
      digest.reset()
      if ((h(0) & 0x80) != 0) 1L else -1L
    }
    val projs = (0 until outDim).map { j =>
      val signs = (0 until dim).map(i => sign(j, i))
      aggregate(
        zip_with(col("sv"), typedLit(signs), (e, s) => e * s),
        lit(0L), (acc, x) => acc + x)
    }
    vecs(emb)
      .withColumn("sv", expr("transform(v, e -> CAST(FLOOR(e * 1e6 + 0.5) AS BIGINT))"))
      .select(col("vec_id"), posexplode(array(projs: _*)))
      .select(col("vec_id"), col("pos").cast("long").as("j"), col("col").as("p"))
  }

  /** Symmetric int8 quantization per vector: scale = max|x| / 127,
    * q_i = round(x_i / scale) ∈ [−127, 127] — the 4× memory cut a corpus
    * takes before building ANN structures at 100 TB (int8 codes + one
    * float scale per vector instead of float32 components). Emitted in
    * long (vec_id, i, q, scale) form, one row per component, so the
    * driver's scalar hash compare applies; q is exact integer arithmetic
    * after one IEEE division (x / (amax/127) — identical op sequence in
    * the oracle), and round-half-up (`floor(r + 0.5)`) is deterministic
    * for negatives on both engines. Zero vectors quantize to q = 0 with
    * scale 0. Pure scan-side projection: no shuffle, no row expansion
    * beyond the declared per-component unpivot.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    vecs(emb)
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale", col("amax") / lit(127.0))
      .select(col("vec_id"), col("scale"),
        posexplode(expr(
          """transform(v, x ->
               CASE WHEN amax > CAST(0.0 AS DOUBLE)
                    THEN CAST(FLOOR(x / (amax / 127.0) + 0.5) AS BIGINT)
                    ELSE 0L END)""")).as(Seq("i", "q")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("q"), col("scale"))

  /** The quantized corpus frame: (vec_id, qv int8-code array), zero-norm
    * vectors dropped (no direction — and their score division would need
    * an engine-specific 0/0 convention).
    *
    * The zero-vector drop filters on `amax > 0`, NOT on the quantized
    * norm, though they are equivalent (amax > 0 ⟹ the max-|x| component
    * quantizes to ±127 ⟹ qn > 0; amax = 0 ⟹ all-zero codes): predicate
    * pushdown re-inlines a computed column's defining expression into the
    * pushed Filter, and for `qn` that inlined form re-evaluates the
    * array_max INSIDE the per-element transform lambda — O(dim²) work +
    * allocations per row, MEASURED as the whole query running 3× slower
    * (1.10 s vs 0.36 s steady-state, SURVEY §8.7). The amax predicate
    * re-inlines as one O(dim) pass.
    */
  private def quantizedVecs(emb: DataFrame): DataFrame =
    vecs(emb)
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("amax") > 0.0)
      .withColumn("qv", expr(
        """transform(v, x ->
             CAST(FLOOR(x / (amax / 127.0) + 0.5) AS BIGINT))"""))
      .select(col("vec_id"), col("qv"))

  /** Brute-force cosine top-k over the INT8-quantized corpus — the search
    * path [[quantizeInt8]] exists for. The per-vector scales cancel in
    * cosine (dot·s_a·s_b / (|a|s_a · |b|s_b)), so the quantized score is
    * the pure integer ratio dot(qa,qb)/√(qn_a·qn_b): exact cross-engine
    * arithmetic with ONE IEEE division, no float accumulation anywhere.
    * Memory per corpus vector is dim bytes + one long instead of 4·dim —
    * the 4× cut that decides whether a 100 TB corpus's search structures
    * fit the cluster. Same plan shape as [[cosineTopK]]: broadcast query
    * set, one corpus scan, WindowGroupLimit pre-prune. Scoring runs
    * through the codegen'd [[graft.functions.QuantizedCosine]] tight
    * integer loop, bit-identical to the zip_with + aggregate HOF form it
    * replaces (the expression's integer norms equal the precomputed
    * `qn`); at local test scales the two tie — the query is
    * plan-overhead-dominated — and the native loop is the form that
    * holds up as |queries| × |corpus| grows (the cosine_sim precedent).
    * SimilaritySpec reports recall vs the float top-k (int8 on these
    * embeddings loses almost nothing).
    */
  def cosineTopKQuantized(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val e = quantizedVecs(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    e.crossJoin(broadcast(q))
      .withColumn("score",
        graft.functions.GraftFunctions.quantized_cosine(col("qqv"), col("qv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** Cheap one-row dimensionality probe for internal callers: safe WITHOUT
    * the full-corpus uniformity validation because [[lshBuckets]]'s
    * projection raises loudly on any row whose size disagrees — a ragged
    * corpus still fails, just at execution instead of planning.
    */
  private def probeDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** ±1 hyperplane component c(j,i): high bit of the first hex digit of
    * md5("j:i"). Pure function of (j, i) — materialized driver-side as
    * literal arrays so bucket assignment needs no per-row hashing.
    */
  private def hyperplaneSigns(bits: Int, dim: Int): Seq[Seq[Long]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until bits).map { j =>
      (1 to dim).map { i =>
        val h = digest.digest(s"$j:$i".getBytes("UTF-8"))
        digest.reset()
        if ((h(0) & 0x80) != 0) 1L else -1L
      }
    }
  }

  /** Deterministic sign-LSH bucket id per vector: bit j of the bucket is the
    * sign of Σ_i c(j,i)·x_i where c(j,i) = ±1 from the high bit of the first
    * hex digit of md5(j:i). Vectors are floor-scaled once so the projection
    * sum is exact integer arithmetic.
    *
    * The sign matrix is constant, so the whole assignment is a per-row
    * projection (zip_with + aggregate against literal arrays): the corpus is
    * scanned once with NO shuffle and no row expansion — the property that
    * lets the bucketing run scan-side at 100 TB.
    */
  def lshBuckets(emb: DataFrame, bits: Int = 6, dim: Int = -1): DataFrame = {
    // The sign matrix is a constant of the dimensionality. Callers that
    // know their embedding dim pass it (no driver job at all); otherwise
    // one min/max aggregation both discovers it and validates that the
    // corpus is NOT ragged — a vector longer than the probed dim would
    // otherwise zip_with into null products and silently bucket as if its
    // tail were zero.
    val d = if (dim > 0) dim else {
      val row = emb.agg(
        min(size(col("embedding"))), max(size(col("embedding")))).head()
      if (row.isNullAt(0)) 0
      else {
        val (lo, hi) = (row.getInt(0), row.getInt(1))
        require(lo == hi,
          s"lshBuckets: ragged embedding dims [$lo, $hi] — pass a fixed dim " +
            "or repair the corpus; silent truncation would mis-bucket")
        hi
      }
    }
    val signs = hyperplaneSigns(bits, d)
    val bucket = (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(col("xs"), typedLit(signs(j)), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    vecs(emb)
      .select(col("vec_id"),
        // fail loudly on a dim mismatch (reachable when dim was passed):
        // a wrong-length vector must not silently land in bucket 0
        when(size(col("v")) === lit(d),
          transform(col("v"), x => floor(x * lit(1e6) + lit(0.5)).cast("long")))
          .otherwise(raise_error(concat(
            lit(s"lshBuckets: expected dim $d, got "),
            size(col("v")).cast("string")))).as("xs"))
      .select(col("vec_id"), bucket.as("bucket"))
  }

  /** LSH-bucketed ANN: queries probe only their own bucket, exact cosine
    * rank within. Returns (qid, vec_id, score, rn) like [[cosineTopK]] —
    * recall vs the brute-force baseline is the quality metric.
    */
  def annLsh(emb: DataFrame, nQueries: Int = 8, k: Int = 10, bits: Int = 6): DataFrame = {
    val e = vecs(emb).join(lshBuckets(emb, bits, probeDim(emb)), "vec_id")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket"))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("qv"), col("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** Multi-probe sign-LSH ANN: each query probes its own bucket plus every
    * bucket at Hamming distance 1 (bits+1 probes total) — the standard
    * recall/cost knob for LSH (neighbors that fall just across one
    * hyperplane are recovered). Probe buckets are distinct, so no result
    * dedup is needed; candidate volume grows by ~(bits+1)/2^bits of the
    * corpus, still a tiny fraction.
    */
  def annLshMultiProbe(
      emb: DataFrame, nQueries: Int = 8, k: Int = 10, bits: Int = 6): DataFrame = {
    val e = vecs(emb).join(lshBuckets(emb, bits, probeDim(emb)), "vec_id")
    val masks = array((0L +: (0 until bits).map(1L << _)).map(lit): _*)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket").as("qbucket"))
      .withColumn("probe", explode(masks))
      .withColumn("probe", col("qbucket").bitwiseXOR(col("probe")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    e.join(broadcast(q), col("bucket") === col("probe"))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** IVF cell assignment with a deterministic coarse quantizer: the first
    * `nCells` vectors act as centroids (a reproducible stand-in for a
    * k-means codebook — swapping in trained centroids changes only the
    * `cents` frame), every vector joins its argmax-cosine centroid.
    * Centroids broadcast; assignment is one corpus scan + a per-vector
    * top-1 (WindowGroupLimit prunes before the exchange).
    */
  def ivfCells(emb: DataFrame, nCells: Int = 16): DataFrame = {
    val cents = vecs(emb).filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(desc("score"), asc("cent_id"))
    vecs(emb).crossJoin(broadcast(cents))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("v"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
  }

  /** IVF-style ANN (single probe): queries search only their own cell —
    * the coarse-quantizer member of the ANN family next to [[annLsh]].
    * Returns (qid, vec_id, score, rn) like [[cosineTopK]].
    */
  def annIvf(emb: DataFrame, nQueries: Int = 8, k: Int = 10, nCells: Int = 16): DataFrame =
    annIvfOver(emb, ivfCells(emb, nCells), nQueries, k)

  /** Single-probe IVF search against a GIVEN (vec_id, cell) assignment —
    * the core shared by [[annIvf]] (in-plan assignment) and
    * [[annIvfPersisted]] (assignment loaded from its parquet artifact).
    */
  private def annIvfOver(
      emb: DataFrame, cells: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = vecs(emb).join(cells, "vec_id")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell").as("qcell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    e.join(broadcast(q), col("cell") === col("qcell"))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** Materialize the IVF cell assignment as a parquet ARTIFACT — the
    * standing cluster index of the embedding corpus (16 bytes/row, the
    * ANN analogue of [[Dedup.writeBucketIndex]]'s dedup index; the same
    * (vec_id, cell) table [[Packing.mixClusterBalanced]] checkpoints
    * in-plan). A production pipeline assigns each vector ONCE at ingest
    * and every search replays the artifact instead of re-running the
    * codebook scan.
    */
  def writeIvfCells(emb: DataFrame, indexPath: String, nCells: Int = 16): Unit =
    ivfCells(emb, nCells)
      .write.mode("overwrite").parquet(indexPath)

  /** [[annIvf]] against the LOADED artifact: search trades the
    * assignment's codebook scan + per-vector top-1 for one artifact scan
    * and a vec_id equi-join — the standing-index shape. Results are
    * identical by construction; the registered query hash-matches the
    * SAME oracle as `sim_ann_ivf`, proving the write → load → search
    * round trip loses nothing.
    */
  def annIvfPersisted(
      emb: DataFrame, indexPath: String,
      nQueries: Int = 8, k: Int = 10): DataFrame =
    annIvfOver(emb,
      emb.sparkSession.read.parquet(indexPath).select("vec_id", "cell"),
      nQueries, k)

  /** Scan-side cell assignment against a driver-side codebook: every row
    * scores all centroids through the codegen'd cosine expression against
    * LITERAL arrays and takes its argmax in the same projection — no
    * crossJoin, no window, no shuffle. Ties break toward the smallest
    * cent_id (struct max over (score, −cent_id), mirroring the oracle's
    * ORDER BY score DESC, cent_id).
    */
  private def cellScores(cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column =
    array(cents.map { case (j, cv) =>
      struct(
        graft.functions.GraftFunctions.cosine_sim(col("v"), typedLit(cv)).as("score"),
        lit(-j).as("ncid"))
    }: _*)

  private def bestCell(cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column =
    (-array_max(cellScores(cents)).getField("ncid")).cast("int")

  /** The query-side probe list: the `nProbe` closest cells, ranked
    * (score desc, cent_id asc) — ascending struct sort on (score, −cid)
    * then reverse gives exactly that order.
    */
  private def topCells(
      cents: Seq[(Int, Seq[Double])], nProbe: Int): org.apache.spark.sql.Column =
    transform(slice(reverse(array_sort(cellScores(cents))), 1, nProbe),
      x => (-x.getField("ncid")).cast("int"))

  /** Lloyd-trained IVF codebook: `iters` deterministic k-means rounds from
    * the first-`nCells` init. Each round is ONE corpus scan: cells assign
    * scan-side via [[bestCell]], then the update is a map-side-combinable
    * aggregation over the posexploded components whose EXACT scaled-long
    * sums make the new centroids independent of partitioning and
    * accumulation order — the property that keeps the codebook (and
    * therefore the oracle) reproducible. Driver traffic per round is
    * nCells × dim rows — metadata, not data (the distributed-k-means
    * shape). Empty cells keep their previous centroid; the fixed
    * iteration count (no convergence test) keeps the result a pure
    * function of the corpus.
    */
  def ivfCentroidsTrained(
      emb: DataFrame, nCells: Int = 16, iters: Int = 2): Seq[(Int, Seq[Double])] = {
    val e = vecs(emb)
    var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < nCells)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq
    for (_ <- 1 to iters) {
      val sums = e
        .select(bestCell(cents).as("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("s"),
          count(lit(1)).as("nn"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.map { case (j, prev) =>
        // mean component = (Σ round(x·1e6)) / n / 1e6 — both divisions in
        // this exact order on both engines (the oracle mirrors it)
        if (sums.contains((j, 0)))
          (j, prev.indices.map { p =>
            val (s, n) = sums((j, p)); s.toDouble / n / 1e6
          })
        else (j, prev) // empty cell: keep the previous centroid
      }
    }
    cents
  }

  /** IVF ANN over the Lloyd-trained codebook ([[ivfCentroidsTrained]]):
    * each query probes its `nProbe` closest cells. Training BALANCES the
    * cells (the first-N codebook's recall rides on a few giant cells that
    * would hot-spot at scale), so the recall lost to tighter boundaries is
    * bought back with extra probes — candidate volume stays ~nProbe/
    * nCells of the corpus, and the per-cell work is even. Probe cells are
    * distinct, so no result dedup is needed.
    *
    * Defaults (iters=1, nProbe=3) come from the IVF recall grid (SURVEY
    * §8.6): on this corpus one balanced-update round + 3 probes beats the
    * first-N single-probe baseline (0.888 vs 0.875 recall@10), while
    * further rounds keep re-balancing boundaries without improving
    * neighbor containment — near-random embeddings have no cluster
    * structure for Lloyd to find, so extra iterations only move the
    * boundaries that split true neighbor sets.
    */
  def annIvfTrained(
      emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      nCells: Int = 16, iters: Int = 1, nProbe: Int = 3): DataFrame = {
    val cents = ivfCentroidsTrained(emb, nCells, iters)
    val e = vecs(emb).withColumn("cell", bestCell(cents))
    val q = vecs(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        topCells(cents, nProbe).as("probes"))
      .select(col("qid"), col("qv"), explode(col("probes")).as("qcell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(desc("score"), asc("vec_id"))
    e.join(broadcast(q), col("cell") === col("qcell"))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("qv"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
  }

  /** Product-quantization codes + reconstruction error — the compression
    * standard behind billion-scale ANN (Jégou et al., PQ): the `dim`-dim
    * vector splits into `m` subspaces of dim/m dims, each subspace is
    * vector-quantized against its own `nCents`-entry codebook, and the
    * vector stores only the m code bytes (here 8 codes ≈ 8 bytes vs 256
    * float bytes — a 32× memory cut that keeps distance computation
    * table-driven). Codebooks use the deterministic first-`nCents`
    * stand-in (the [[ivfCells]] precedent — swapping in Lloyd-trained
    * sub-codebooks changes only the driver-side table).
    *
    * Exactness: every distance is computed over floor-scaled-long
    * components — d(sub, cent) = Σ_j (sx_j − sc_j)², exact BIGINT,
    * order-free — so the argmin codes and the summed reconstruction
    * error hash-match the oracle with no IEEE accumulation anywhere.
    * Shape: the codebook is O(nCents·dim) DRIVER metadata baked as
    * literals (the IVF-centroid class); assignment is ONE corpus scan of
    * three stacked projections (scaled components → per-(sub, cent)
    * distances → per-sub struct argmin), no shuffle, no join.
    */
  /** Per-vector floor-scaled-long components as wide columns `x_0..` —
    * the exact-integer projection shared by the PQ/L2 family.
    */
  private def scaledLongs(emb: DataFrame, dim: Int): DataFrame =
    vecs(emb).select(col("vec_id") +:
      (0 until dim).map(i =>
        expr(s"CAST(FLOOR(v[$i]*1e6 + 0.5) AS BIGINT)").as(s"x_$i")): _*)

  /** Driver-side PQ codebook: scaled-long components of the first
    * `nCents` vectors (O(nCents·dim) rows — the documented metadata
    * class, same as the IVF centroids).
    */
  private def pqCodebook(emb: DataFrame, nCents: Int): Map[Long, Array[Long]] =
    vecs(emb)
      .filter(col("vec_id") < nCents)
      .select(col("vec_id"), expr(
        "transform(v, x -> CAST(FLOOR(x*1e6 + 0.5) AS BIGINT))").as("sv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap

  def pqCodes(emb: DataFrame, m: Int = 8, nCents: Int = 16): DataFrame =
    pqCodesWith(emb, pqCodebook(emb, nCents), m)

  /** [[pqCodes]] against a GIVEN codebook — the core shared by the
    * first-16 and the Lloyd-trained ([[pqCodebookTrained]]) variants.
    */
  /** The per-subspace argmin struct columns `best_0..best_{m-1}` over
    * wide scaled-long components `x_i` — the PQ assignment core SHARED by
    * [[pqCodesWith]] (standalone codes + reconstruction error) and
    * [[annIvfPqWith]] (codes alongside the IVF cell in one scan). Ties
    * break toward the smallest cent_id via the (dd, cent_id) struct min —
    * the tie-break the oracle's `ORDER BY dd, cent_id` mirrors; ONE
    * definition so the composed index can never desync from standalone PQ.
    */
  private def pqBestStructs(
      cents: Map[Long, Array[Long]], m: Int, sub: Int)
      : Seq[org.apache.spark.sql.Column] = {
    val centIds = cents.keys.toSeq.sorted
    // The codebook slice per subspace is ONE typedlit Literal (an
    // ArrayData value, not per-element expression nodes) and the
    // distance is a zip_with/aggregate loop over it. The fully-unrolled
    // per-centroid arithmetic this replaces (m·nCents·sub squared-diff
    // nodes in one Project) grew the generated method past Janino's
    // 64 KB limit, silently disabling whole-stage codegen for the WHOLE
    // stage — the plan ran interpreted (measured 3.0 s/rep at sf0.001,
    // data-independent). The loop form keeps the tree small, stays
    // inside WSCG, and does the identical exact-long arithmetic with
    // the identical (dd, cent_id) struct-min tie-break.
    val xs = array((0 until m * sub).map(i => col(s"x_$i")): _*)
    (0 until m).map { s =>
      val cb = typedlit(centIds.map(c =>
        (c, cents(c).slice(s * sub, (s + 1) * sub).toSeq)))
      array_min(transform(cb, c => struct(
        aggregate(
          zip_with(slice(xs, s * sub + 1, sub), c.getField("_2"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, d) => acc + d).as("dd"),
        c.getField("_1").as("cent_id")))).as(s"best_$s")
    }
  }

  private def pqCodesWith(
      emb: DataFrame, cents: Map[Long, Array[Long]], m: Int): DataFrame = {
    val dim = probeDim(emb)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val scaled = scaledLongs(emb, dim)
    scaled.select(col("vec_id") +: pqBestStructs(cents, m, sub): _*)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"best_$s.cent_id").as(s"code_$s")) :+
        (0 until m).map(s => col(s"best_$s.dd")).reduce(_ + _).as("err"): _*)
  }

  /** Lloyd-trained PQ sub-codebooks: `iters` deterministic k-means rounds
    * PER SUBSPACE from the first-`nCents` seed — the training step real
    * PQ indexes run, next to [[ivfCentroidsTrained]]'s full-vector twin.
    * Each round assigns every vector's subvectors to their nearest
    * sub-centroids (exact scaled-long distances) and recomputes each
    * non-empty (centroid, subspace) slice as the member mean with the
    * SAME two-IEEE-division + rescale chain the IVF update uses
    * (Σsx / n / 1e6, floor-rescaled — mirrored verbatim in the oracle);
    * empty cells keep their slice. Per round the driver holds only the
    * O(nCents·dim) updated codebook — the corpus moves through one
    * assignment scan + one (sub, code, dim) aggregation.
    */
  def pqCodebookTrained(
      emb: DataFrame, m: Int = 8, nCents: Int = 16,
      iters: Int = 1): Map[Long, Array[Long]] = {
    val dim = probeDim(emb)
    val sub = dim / m
    var cents = pqCodebook(emb, nCents)
    for (_ <- 1 to iters) {
      // ONE assignment scan: each component rides out beside ITS
      // subspace's argmin code as a (code, sx) struct, so the update
      // sums need no second scan and no vec_id-keyed join of the melted
      // components against the codes (the pre-r18 shape — two corpus
      // scans plus a shuffle join per round for identical arithmetic)
      val scaled = scaledLongs(emb, dim)
      val sums = scaled
        .select((Seq(col("vec_id")) ++ (0 until dim).map(i => col(s"x_$i"))
          ++ pqBestStructs(cents, m, sub)): _*)
        .select(posexplode(array((0 until dim).map(i =>
          struct(col(s"best_${i / sub}.cent_id").as("code"),
            col(s"x_$i").as("sx"))): _*)).as(Seq("i", "cs")))
        .groupBy(col("cs.code").as("code"), col("i"))
        .agg(sum(col("cs.sx")).as("s"), count(lit(1)).as("nn"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.map { case (c, prev) =>
        c -> prev.indices.map { i =>
          sums.get((c, i)) match {
            // mean = Σsx / n / 1e6 then floor-rescale — the exact IEEE
            // chain the oracle mirrors
            case Some((s, n)) =>
              math.floor((s.toDouble / n / 1e6) * 1e6 + 0.5).toLong
            case None => prev(i) // empty (cell, sub): keep the slice
          }
        }.toArray
      }
    }
    cents
  }

  /** [[pqCodes]] with the Lloyd-trained codebook — registered as
    * `emb_pq_codes_trained`; PQSpec pins the trained codebook's total
    * reconstruction error strictly below the first-16 seed's.
    */
  def pqCodesTrained(
      emb: DataFrame, m: Int = 8, nCents: Int = 16, iters: Int = 1): DataFrame =
    pqCodesWith(emb, pqCodebookTrained(emb, m, nCents, iters), m)

  /** Exact L2 top-k over the scaled-long components — the metric-matched
    * baseline for [[annPqAdc]] (PQ quantizes L2, so its recall contract
    * must be judged against exact L2, not cosine). Every distance is an
    * exact BIGINT Σ(Δ²) — no IEEE accumulation — so ranks and distances
    * hash-match. Same brute-force shape as [[cosineTopK]]: queries
    * broadcast, one corpus scan, WindowGroupLimit prunes the top-k.
    */
  def l2TopK(emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      allowed: Option[DataFrame] = None): DataFrame = {
    val dim = probeDim(emb)
    val sv = scaledLongs(emb, dim)
    val q = sv.select(col("vec_id").as("qid") +:
      (0 until dim).map(i => col(s"x_$i").as(s"q_$i")): _*)
      .filter(col("qid") < nQueries)
    val dist = (0 until dim).map { i =>
      val d = col(s"x_$i") - col(s"q_$i"); d * d
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(asc("dist"), asc("vec_id"))
    // an allowed set restricts the CORPUS side only — query points stay
    // unrestricted, matching the filtered-search contract ("neighbors of
    // q among the German docs", whatever language q is)
    val corpus = allowed.fold(sv)(a =>
      sv.join(a.select("vec_id"), Seq("vec_id"), "left_semi"))
    corpus.crossJoin(broadcast(q))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
  }

  /** PQ asymmetric-distance top-k (ADC): the search side of [[pqCodes]] —
    * the query stays EXACT while the corpus is its code bytes, and the
    * per-query distance table (query subvector vs every codebook entry,
    * nq·m·nCents exact-long entries — driver metadata, built from the
    * O(nq) collected query rows) turns each corpus distance into m table
    * lookups + an integer sum. This is the memory-bound scan shape PQ
    * exists for: at 100 TB the corpus side reads 8 code bytes per vector
    * instead of 256 float bytes, the table broadcasts, and the only
    * exchange is the per-(qid, vec) sum's. Distances are exact BIGINTs
    * end-to-end, so the ranking hash-matches; recall vs exact L2 is the
    * gate-checked [[annRecallPq]] contract.
    */
  def annPqAdc(
      emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      m: Int = 8, nCents: Int = 16): DataFrame =
    annPqAdcWith(emb, pqCodebook(emb, nCents), nQueries, k, m)

  /** [[annPqAdc]] against a GIVEN codebook — shared by the first-16 and
    * Lloyd-trained variants (both the corpus codes and the query
    * distance table derive from the same `cents`).
    */
  private def annPqAdcWith(
      emb: DataFrame, cents: Map[Long, Array[Long]],
      nQueries: Int, k: Int, m: Int): DataFrame = {
    val spark = emb.sparkSession
    val dim = probeDim(emb)
    val sub = dim / m
    val queries: Array[(Long, Array[Long])] = scaledLongs(emb, dim)
      .filter(col("vec_id") < nQueries)
      .collect()
      .map(r => r.getLong(0) -> (1 to dim).map(r.getLong).toArray)
    import spark.implicits._
    val tbl = (for {
      (qid, qv) <- queries.toSeq
      s <- 0 until m
      (c, cv) <- cents.toSeq
    } yield {
      val dsub = (0 until sub).map { j =>
        val d = qv(s * sub + j) - cv(s * sub + j); d * d
      }.sum
      (qid, s.toLong, c, dsub)
    }).toDF("qid", "sub", "code", "dsub")
    val codes = pqCodesWith(emb, cents, m)
      .select(col("vec_id"),
        posexplode(array((0 until m).map(s => col(s"code_$s")): _*))
          .as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(asc("dist"), asc("vec_id"))
    codes.join(broadcast(tbl), Seq("sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dsub")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
  }

  /** ANN recall contract for the PQ-ADC path, judged against exact L2
    * (the metric PQ quantizes) — the same gate-checked shape as
    * [[annRecall]]/[[annRecallIvf]].
    */
  def annRecallPq(emb: DataFrame, k: Int = 10): DataFrame =
    annRecallAgainst(l2TopK(emb, k = k), annPqAdc(emb, k = k))

  /** [[annRecallPq]] for the Lloyd-trained sub-codebooks — the second
    * operating point of the PQ recall/compression curve, registered so
    * the training step's effect is a gate-checked number (the
    * IVF trained/untrained precedent).
    */
  def annRecallPqTrained(
      emb: DataFrame, k: Int = 10, iters: Int = 1): DataFrame =
    annRecallAgainst(l2TopK(emb, k = k),
      annPqAdcWith(emb, pqCodebookTrained(emb, iters = iters),
        nQueries = 8, k = k, m = 8))

  /** Embedding-cosine near-duplicate pairs: vectors sharing an LSH bucket
    * whose exact cosine meets `minScore` — the embedding-space member of
    * the dedup family (SURVEY.md §2-B). The bucket equi-join is the
    * blocker (bucketing is a scan-side projection, so each side is one
    * cheap pass); exact scoring runs only within buckets.
    */
  def embeddingNearDupPairs(
      emb: DataFrame, bits: Int = 6, minScore: Double = 0.35): DataFrame = {
    val e = vecs(emb).join(lshBuckets(emb, bits, probeDim(emb)), "vec_id")
    val l = e.select(col("bucket"), col("vec_id").as("vec_a"), col("v").as("va"))
    val r = e.select(col("bucket").as("bucket_b"), col("vec_id").as("vec_b"),
      col("v").as("vb"))
    l.join(r, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
      .withColumn("score", graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")))
      .filter(col("score") >= minScore)
      .select(col("vec_a"), col("vec_b"), col("score"))
  }

  /** Semantic (embedding-space) train/eval decontamination — the embedding
    * twin of [[graft.operators.Dedup.decontaminateNear]]: the eval side is
    * the same deterministic md5-coin slice ([[TextAnalysis.sampleCoin]],
    * here over vec_id), and a training vector LEAKS if it shares an LSH
    * bucket with an eval vector and their exact cosine reaches `minScore`.
    * Lexical MinHash catches shared phrasing; this catches the paraphrase
    * an embedding model maps next to the eval answer — the two checks a
    * pipeline runs together before shipping a corpus. Bucketing is
    * corpus-independent and scan-side on both sides (filtering before
    * bucketing changes nothing), and the eval slice is ~`evalPct`% of the
    * corpus, so it rides a broadcast while the training side streams
    * through ONE scan — no shuffle of training vectors at all.
    */
  def decontaminateSemantic(
      emb: DataFrame,
      bits: Int = 6,
      minScore: Double = 0.35,
      evalPct: Int = 10): DataFrame = {
    val coin = TextAnalysis.sampleCoin(idCol = col("vec_id"))
    val e = vecs(emb).join(lshBuckets(emb, bits, probeDim(emb)), "vec_id")
    val train = e.filter(coin >= evalPct)
      .select(col("bucket"), col("vec_id").as("train_vec_id"), col("v").as("va"))
    val ev = e.filter(coin < evalPct)
      .select(col("bucket").as("bucket_b"), col("vec_id").as("eval_vec_id"),
        col("v").as("vb"))
    train.join(broadcast(ev), col("bucket") === col("bucket_b"))
      .withColumn("score",
        graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")))
      .filter(col("score") >= minScore)
      .select(col("train_vec_id"), col("eval_vec_id"), col("score"))
  }

  /** End-to-end SEMANTIC dedup: [[embeddingNearDupPairs]] →
    * [[Dedup.connectedComponents]] (min-label + pointer-halving, O(log
    * diameter) rounds) → per-cluster membership counts, singletons
    * labelling themselves. The embedding-space twin of the MinHash
    * cluster pipeline — same clustering core, different pair predicate —
    * so a corpus can run lexical and semantic dedup off one harness and
    * diff the decisions. Cluster id = min vec_id = the canonical keeper.
    * Like the MinHash clusters, wall time is propagation-round-dominated
    * (benchmark=false); every per-round exchange keys on vec ids.
    */
  def semanticClusters(
      emb: DataFrame, bits: Int = 6, minScore: Double = 0.35): DataFrame = {
    val pairs = embeddingNearDupPairs(emb, bits, minScore)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val (labels, _) = Dedup.connectedComponents(pairs)
    vecs(emb).select(col("vec_id").as("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .withColumn("cluster", col("doc_id"))
      .unionByName(labels)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
  }

  /** ANN recall CONTRACT, in-engine: per query, how many of the exact
    * brute-force top-k ([[cosineTopK]]) the LSH index ([[annLsh]] or
    * [[annLshMultiProbe]]) actually returned. Registering this as an
    * oracle-checked query moves the "recall@10 = X" claim from a
    * measurement note into the per-round correctness gate — the same
    * discipline as the sketch error-bound queries: an index change that
    * silently costs recall becomes a hash mismatch, not a footnote.
    *
    * Both sides are the already-pinned top-k pipelines; the join and
    * roll-up run over nQueries·k rows — driver-free, negligible next to
    * either index scan.
    */
  def annRecall(
      emb: DataFrame, multiProbe: Boolean = false,
      nQueries: Int = 8, k: Int = 10): DataFrame =
    annRecallAgainst(
      cosineTopK(emb, nQueries, k),
      if (multiProbe) annLshMultiProbe(emb, nQueries, k)
      else annLsh(emb, nQueries, k))

  /** [[annRecall]] for the Lloyd-trained IVF index — the contract behind
    * the high-recall probe8 operating point.
    */
  def annRecallIvf(
      emb: DataFrame, iters: Int = 2, nProbe: Int = 8,
      nQueries: Int = 8, k: Int = 10): DataFrame =
    annRecallAgainst(
      cosineTopK(emb, nQueries, k),
      annIvfTrained(emb, nQueries, k, iters = iters, nProbe = nProbe))

  private def annRecallAgainst(exactK: DataFrame, approxK: DataFrame): DataFrame =
    exactK.select(col("qid"), col("vec_id"))
      .join(approxK.select(col("qid"), col("vec_id"), lit(1L).as("hit")),
        Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))

  // ---- IVFADC: the composed billion-scale index ---------------------------

  /** IVFADC — the composed billion-scale ANN layout (Jégou et al.: IVF
    * coarse quantizer × PQ fine quantizer): the Lloyd-trained IVF
    * codebook prunes the corpus to each query's `nProbe` closest cells,
    * and PQ asymmetric distances (exact query vs trained code bytes)
    * rank ONLY those members. Both halves are the engine's existing
    * pinned parts — [[ivfCentroidsTrained]]'s coarse codebook +
    * [[annIvfTrained]]'s probe-list expressions on one side,
    * [[pqCodebookTrained]] + [[annPqAdc]]'s distance-table search on the
    * other — composed so the candidate volume is ~nProbe/nCells of the
    * corpus AND each candidate costs m table lookups instead of a
    * dim-wide float scan.
    *
    * Shape at 100 TB: the corpus side is ONE scan producing
    * (vec_id, cell, code_0..code_{m-1}) — cell assignment and PQ codes
    * are both scan-side projections against driver-metadata codebooks
    * baked as literals. The probe list (O(nq·nProbe) rows) and the ADC
    * distance table (O(nq·m·nCents) rows) broadcast; the only exchanges
    * are the per-(qid, vec) sum's and the WindowGroupLimit-pruned
    * top-k's. Distances are exact BIGINTs end-to-end, so the ranking
    * hash-matches the oracle's fully-unrolled training + search SQL.
    */
  def annIvfPq(
      emb: DataFrame, nQueries: Int = 8, k: Int = 10,
      nCells: Int = 16, ivfIters: Int = 1, nProbe: Int = 3,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): DataFrame =
    annIvfPqWith(emb, ivfCentroidsTrained(emb, nCells, ivfIters),
      pqCodebookTrained(emb, m, nCents, pqIters), nQueries, k, nProbe, m)

  /** [[annIvfPq]] against GIVEN codebooks — the core shared by the
    * in-plan-trained and the persisted-artifact variants: one posting
    * scan ([[ivfPqPostings]]) feeding the broadcast-probe ADC search
    * ([[ivfPqSearch]]).
    */
  private def annIvfPqWith(
      emb: DataFrame, ivfCents: Seq[(Int, Seq[Double])],
      pqCents: Map[Long, Array[Long]],
      nQueries: Int, k: Int, nProbe: Int, m: Int): DataFrame =
    ivfPqSearch(ivfPqPostings(emb, ivfCents, pqCents, m), emb,
      ivfCents, pqCents, nQueries, k, nProbe, m)

  /** The IVFADC posting projection — (vec_id, cell, code_0..code_{m-1})
    * from ONE corpus scan: cell assignment and PQ codes are both
    * scan-side expressions against the codebooks baked as literals. This
    * IS the standing index's per-vector payload: ~m code bytes + a cell
    * id per vector, and because assignment never looks at other rows it
    * is the append unit too — new vectors code up against the FROZEN
    * codebooks with zero retraining ([[appendIvfPqPostings]]).
    */
  private def ivfPqPostings(
      emb: DataFrame, ivfCents: Seq[(Int, Seq[Double])],
      pqCents: Map[Long, Array[Long]], m: Int): DataFrame = {
    val dim = probeDim(emb)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val scaled = vecs(emb).select(
      col("vec_id") +: bestCell(ivfCents).as("cell") +:
        (0 until dim).map(i =>
          expr(s"CAST(FLOOR(v[$i]*1e6 + 0.5) AS BIGINT)").as(s"x_$i")): _*)
    scaled
      .select(col("vec_id") +: col("cell") +: pqBestStructs(pqCents, m, sub): _*)
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map(s => col(s"best_$s.cent_id").as(s"code_$s")): _*)
  }

  /** ADC search over a GIVEN posting table: probe lists and the
    * per-query distance table broadcast (driver metadata), candidates =
    * the probed cells' postings, each priced at m table lookups. The
    * final top-k windows partition by qid only, but the
    * WindowGroupLimit pin (PlanSpec) prunes to k per map partition
    * first, so the funnel carries k·partitions rows — not the candidate
    * set — into the single per-query task; that pin is what keeps the
    * shape survivable at 100 TB (the BM25 top-k argument).
    */
  private def ivfPqSearch(
      postings: DataFrame, emb: DataFrame,
      ivfCents: Seq[(Int, Seq[Double])], pqCents: Map[Long, Array[Long]],
      nQueries: Int, k: Int, nProbe: Int, m: Int): DataFrame =
    // query probe list: the same in-plan expression chain annIvfTrained pins
    ivfPqSearchWith(postings, emb,
      vecs(emb).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"),
          topCells(ivfCents, nProbe).as("probes"))
        .select(col("qid"), explode(col("probes")).as("qcell")),
      pqCents, nQueries, k, m)

  /** [[ivfPqSearch]] against a GIVEN (qid, qcell) probe list — the core
    * shared with the filter-adaptive search, whose probe list widens per
    * query instead of taking a fixed top-nProbe slice.
    */
  private def ivfPqSearchWith(
      postings: DataFrame, emb: DataFrame, q: DataFrame,
      pqCents: Map[Long, Array[Long]],
      nQueries: Int, k: Int, m: Int): DataFrame = {
    val spark = emb.sparkSession
    val dim = probeDim(emb)
    val sub = dim / m
    // ADC distance table: O(nq·m·nCents) driver metadata from O(nq) rows
    val queries: Array[(Long, Array[Long])] = scaledLongs(emb, dim)
      .filter(col("vec_id") < nQueries)
      .collect()
      .map(r => r.getLong(0) -> (1 to dim).map(r.getLong).toArray)
    import spark.implicits._
    val tbl = (for {
      (qid, qv) <- queries.toSeq
      s <- 0 until m
      (c, cv) <- pqCents.toSeq
    } yield {
      val dsub = (0 until sub).map { j =>
        val d = qv(s * sub + j) - cv(s * sub + j); d * d
      }.sum
      (qid, s.toLong, c, dsub)
    }).toDF("qid", "sub", "code", "dsub")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(asc("dist"), asc("vec_id"))
    postings.join(broadcast(q), col("cell") === col("qcell"))
      .select(col("qid"), col("vec_id"),
        posexplode(array((0 until m).map(s => col(s"code_$s")): _*))
          .as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
      .join(broadcast(tbl), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dsub")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
  }

  /** Persist BOTH trained codebooks of the IVFADC index as parquet
    * artifacts — `$dir/ivf_centroids` (cent_id, cv double[]) and
    * `$dir/pq_codebook` (cent_id, comps bigint[]) — the standing index
    * metadata a production corpus trains ONCE and every search replays
    * (the [[writeIvfCells]] artifact discipline applied to the composed
    * index; each file is O(nCents·dim) rows — pure metadata).
    */
  def writeIvfPqIndex(
      emb: DataFrame, indexDir: String,
      nCells: Int = 16, ivfIters: Int = 1,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    ivfCentroidsTrained(emb, nCells, ivfIters)
      .toDF("cent_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/ivf_centroids")
    pqCodebookTrained(emb, m, nCents, pqIters)
      .toSeq.map { case (c, a) => (c, a.toSeq) }
      .toDF("cent_id", "comps")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/pq_codebook")
  }

  /** [[annIvfPq]] against the LOADED artifacts: search skips both
    * training loops and reads two O(nCents·dim) metadata files instead
    * — the production amortized shape. Doubles and longs round-trip
    * parquet bit-exactly, so the registered query hash-matches the SAME
    * oracle as `sim_ann_ivfpq`, proving the write → load → search round
    * trip loses nothing.
    */
  def annIvfPqPersisted(
      emb: DataFrame, indexDir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 3, m: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val ivfCents: Seq[(Int, Seq[Double])] =
      spark.read.parquet(s"$indexDir/ivf_centroids")
        .select(col("cent_id"), col("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    val pqCents: Map[Long, Array[Long]] =
      spark.read.parquet(s"$indexDir/pq_codebook")
        .select(col("cent_id"), col("comps"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    annIvfPqWith(emb, ivfCents, pqCents, nQueries, k, nProbe, m)
  }

  /** Load both IVFADC codebook artifacts back as driver metadata — the
    * shared read side of [[annIvfPqPersisted]], [[appendIvfPqPostings]]
    * and [[annIvfPqAppended]].
    */
  private def loadIvfPqCodebooks(
      spark: org.apache.spark.sql.SparkSession, indexDir: String)
      : (Seq[(Int, Seq[Double])], Map[Long, Array[Long]]) = {
    val ivfCents = spark.read.parquet(s"$indexDir/ivf_centroids")
      .select(col("cent_id"), col("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq
    val pqCents = spark.read.parquet(s"$indexDir/pq_codebook")
      .select(col("cent_id"), col("comps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    (ivfCents, pqCents)
  }

  /** Persist the FULL standing IVFADC index: both codebooks
    * ([[writeIvfPqIndex]]) PLUS the assigned posting table
    * (vec_id, cell, code_0..m−1) — the layout a growing corpus needs,
    * because appends extend the postings while the codebooks stay
    * frozen. Postings are computed with the codebooks READ BACK from
    * their artifacts, so index rows can never desync from the metadata a
    * later append or search will load. Written partitioned by `cell`, so
    * a probe-limited search prunes to its probed cells' files — the
    * on-disk analogue of the inverted list.
    */
  def writeIvfPqIndexFull(
      emb: DataFrame, indexDir: String,
      nCells: Int = 16, ivfIters: Int = 1,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): Unit = {
    writeIvfPqIndex(emb, indexDir, nCells, ivfIters, m, nCents, pqIters)
    val (ivfCents, pqCents) = loadIvfPqCodebooks(emb.sparkSession, indexDir)
    // cluster the shuffle by the partition column: one posting file per
    // cell instead of every scan task fragmenting every cell directory
    // (guide §6) — a probed search then opens nProbe files, not
    // nProbe × numTasks
    ivfPqPostings(emb, ivfCents, pqCents, m)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/postings")
  }

  /** Append NEW vectors to the standing index WITHOUT retraining — the
    * [[graft.operators.Dedup]] incremental-index discipline applied to
    * ANN: load the frozen codebooks (O(nCents·dim) metadata), assign the
    * delta's cells + codes scan-side, and append the rows to the posting
    * table. Full retrain per ingest batch is exactly what IVF exists to
    * avoid; the price of freezing is quantization drift if the delta's
    * distribution wanders from the training corpus — monitored, not
    * prevented, here ([[annRecallIvfPq]] is the drift gauge).
    */
  def appendIvfPqPostings(
      embDelta: DataFrame, indexDir: String, m: Int = 8): Unit =
    assignPostings(embDelta, indexDir, m)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$indexDir/postings")

  /** Scan-side posting assignment of a delta against the FROZEN
    * persisted codebooks — the shared body of [[appendIvfPqPostings]]
    * and the streaming maintenance slot ([[graft.streaming
    * .StreamingQueries.maintainAnnBatch]]): O(nCents·dim) metadata
    * loaded, then one pure per-row projection. Because it never looks
    * at other rows, the SAME batch always assigns the SAME postings —
    * the property the exactly-once replay slot and the fold's
    * set-merge both lean on.
    */
  def assignPostings(
      embDelta: DataFrame, indexDir: String, m: Int = 8): DataFrame = {
    val (ivfCents, pqCents) =
      loadIvfPqCodebooks(embDelta.sparkSession, indexDir)
    ivfPqPostings(embDelta, ivfCents, pqCents, m)
  }

  /** Fold a maintenance stream's batch-keyed posting window back into
    * the standing posting artifact — the dedup-index flush cadence
    * ([[graft.operators.Dedup.foldStreamIndex]]) applied to ANN: the
    * stream externalized each micro-batch's frozen-codebook postings as
    * `batch=N` partitions; the fold set-merges that window into the
    * base artifact every persisted search reads, one sorted file per
    * cell, staged swap, then truncates the window. Assignment is a pure
    * function of the frozen codebooks, so the folded index is
    * row-identical to one-shot indexing of base ∪ streamed — the spec
    * pins search equality — and the DISTINCT absorbs the crash-replay
    * overlap (a batch folded twice, or re-emitted into the window after
    * a fold, merges to the same set).
    */
  def foldStreamPostings(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, streamRoot: String, m: Int = 8): Unit = {
    val colNames = "vec_id" +: "cell" +: (0 until m).map(s => s"code_$s")
    val cs = col("vec_id") +: col("cell").cast("int").as("cell") +:
      (0 until m).map(s => col(s"code_$s"))
    StorageLayout.foldPartitionedIndex(spark, s"$indexDir/postings",
      streamRoot, cs, colNames, "cell", Seq("vec_id"))
  }

  /** Search the appended index: postings (base ∪ every appended delta)
    * stream from the artifact — the corpus parquet is NOT rescanned —
    * while probe lists and the ADC table come from the frozen codebooks.
    * Because assignment is a pure per-row function of the frozen
    * codebooks, base∪delta postings are IDENTICAL to what one-shot
    * indexing of the whole corpus would produce, so this hash-matches an
    * oracle that trains on the base and assigns everything.
    */
  def annIvfPqAppended(
      emb: DataFrame, indexDir: String,
      nQueries: Int = 8, k: Int = 10, nProbe: Int = 3, m: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val (ivfCents, pqCents) = loadIvfPqCodebooks(spark, indexDir)
    ivfPqSearch(loadPostings(spark, indexDir, m), emb,
      ivfCents, pqCents, nQueries, k, nProbe, m)
  }

  /** The SERVING read of the posting artifact, shared by every persisted
    * search path: postings from the cell-partitioned files, minus any
    * standing TOMBSTONES ([[purgeIvfPqPostings]]) — the anti-join is the
    * read-side half of the tombstone-then-compact purge protocol, and it
    * is attached only when a tombstone set exists, so an index that was
    * never purged serves with exactly the pre-purge plan (the benched
    * exec-audit pins stay byte-identical).
    */
  private def loadPostings(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, m: Int): DataFrame = {
    val postings = spark.read.parquet(s"$indexDir/postings")
      .select(col("vec_id") +: col("cell").cast("int").as("cell") +:
        (0 until m).map(s => col(s"code_$s")): _*)
    val tp = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tp)) postings
    else postings.join(
      spark.read.parquet(tp.toString).select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** Compact the appended posting table: every append batch adds one
    * file set per touched cell partition, so after N ingest batches a
    * cell's inverted list is N fragments — N file opens + N row-group
    * headers per probe at search time, the small-files tax that
    * eventually dominates a probe-limited read. Compaction rewrites the
    * postings into ONE sorted file per cell (hash-repartition on cell →
    * every cell's rows in exactly one task → partitionBy emits exactly
    * one file per cell directory, rows sorted by vec_id for row-group
    * locality), closing the index lifecycle: train → persist → append →
    * compact → search.
    *
    * Rows are untouched — same (vec_id, cell, codes) set, so a search
    * over the compacted index is IDENTICAL to the fragmented one (the
    * registered query hash-matches the same oracle as
    * `sim_ann_ivfpq_appended`) and still partition-prunes to the probed
    * cells. The rewrite stages into `postings_compacting` and swaps via
    * rename — the loaded frame is fully materialized by the staging
    * write before the old directory is deleted.
    */
  def compactIvfPqPostings(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val tp = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tp)) {
      StorageLayout.compactPartitioned(
        spark, s"$indexDir/postings", "cell", Seq("vec_id"))
      return
    }
    // tombstones standing: the compact is also the purge's PHYSICAL half
    // — rewrite with the tombstoned rows dropped, then retire the
    // tombstone set. Order matters for crash safety: the tombstone dir is
    // deleted only AFTER the swapped-in postings no longer contain the
    // purged rows, so a crash anywhere in between leaves tombstones
    // standing over already-purged postings — the anti-join then removes
    // nothing, and the next compact retires them.
    val path = s"$indexDir/postings"
    val staging = s"${path}_compacting"
    loadPostingsRaw(spark, indexDir)
      .join(spark.read.parquet(tp.toString).select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    val p = new org.apache.hadoop.fs.Path(path)
    fs.delete(p, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), p),
      s"compaction swap failed: could not rename $staging to $path")
    fs.delete(tp, true)
  }

  /** The posting artifact WITHOUT the tombstone anti-join — the
    * compaction read (the rewrite applies tombstones itself) and the
    * spec's physical-content probe.
    */
  private[graft] def loadPostingsRaw(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/postings")

  /** RTBF PURGE of the persisted ANN index — the derived-artifact half of
    * [[graft.operators.Cdc.rtbfPurge]]: a doc purged from the store must
    * also stop being SEARCHABLE through the standing posting artifact,
    * or the forgotten doc survives via `annIvfPqRerankPersisted` /
    * `annIvfPqFilteredAdaptivePersisted` until a full index rebuild.
    *
    * Protocol = tombstone now, rewrite at compaction (the
    * deletion-vector discipline of [[graft.operators.Cdc
    * .buildDeletionVectors]] applied to the index): the purge call
    * appends the purged ids to `$indexDir/tombstones` — O(|purged|)
    * metadata, no corpus- or index-sized work — and every persisted
    * search anti-joins the set ([[loadPostings]]), so the ids are
    * unsearchable the moment the append lands. The next
    * [[compactIvfPqPostings]] makes the removal PHYSICAL (the purged
    * rows drop from the rewritten postings, the tombstone set retires) —
    * at 100 TB that schedule is exactly how a compliance deadline is
    * met without paying a full index rewrite per request. A tombstoned
    * id stays dead across later appends (the anti-join outranks any
    * append — re-adding a purged doc requires compacting first, which
    * retires the tombstone): resurrection-by-append is the RTBF bug this
    * exists to prevent. SimilaritySpec pins never-returned,
    * no-resurrect-after-append, and purge+compact ≡
    * rebuild-from-surviving-rows by posting-content hash.
    */
  def purgeIvfPqPostings(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      purgedIds: DataFrame): Unit =
    purgedIds
      .select(col(purgedIds.columns.head).cast("long").as("vec_id"))
      .distinct()
      .write.mode("append").parquet(s"$indexDir/tombstones")

  /** DRIFT-GATED REBUILD decision (r18) — the ANN-lifecycle twin of
    * [[graft.operators.Cdc.optimizeGateDecision]]: appends quantize
    * against codebooks trained before the delta existed, so recall
    * decays monotonically-ish with drift ([[annRecallIvfPqAppended]] is
    * the gauge this reads); the full retrain+re-encode that restores it
    * is the one corpus-sized job the frozen-codebook discipline exists
    * to avoid paying per batch. The gate makes "when" a decided,
    * replayable fact instead of an operator's hunch: ONE row with the
    * overall measured recall in basis points (integer arithmetic —
    * hits × 10000 div exact — so the DuckDB oracle replays the decision
    * itself) and the action `rebuild` iff recall_bp < floorBp (the SLA
    * floor the serving contract promises). The gauge's cost is
    * nQueries × corpus exact-L2 — the price every sim_recall gauge
    * already pays, nothing corpus-quadratic.
    */
  def annRebuildGateDecision(
      emb: DataFrame, indexDir: String, floorBp: Long,
      k: Int = 10): DataFrame =
    annRecallIvfPqAppended(emb, indexDir, k)
      .agg(sum(col("n_exact")).as("n_exact"), sum(col("n_hit")).as("n_hit"))
      .select(col("n_exact"), col("n_hit"),
        expr("n_hit * 10000 div n_exact").as("recall_bp"),
        lit(floorBp).as("floor_bp"),
        when(expr("n_hit * 10000 div n_exact") < floorBp, lit("rebuild"))
          .otherwise(lit("keep")).as("action"))

  /** Full retrain + re-encode as a STAGED SWAP — the "pay the rebuild"
    * arm of the drift gate: both codebooks retrain on the CURRENT
    * corpus and every vector re-encodes, written whole into a staging
    * dir and renamed over the old index (the delete-then-rename
    * discipline every artifact rewrite here uses; searches race the
    * swap, never read half an index on rename-atomic filesystems).
    * Everything inside the old dir retires with it — including any
    * standing tombstone set: the rebuild is FROM the current corpus, so
    * purged rows (absent from `emb`) stay gone physically, which makes
    * rebuild the third way a tombstone set resolves (read-side
    * anti-join, compact, rebuild).
    */
  def rebuildIvfPqIndex(
      emb: DataFrame, indexDir: String,
      nCells: Int = 16, ivfIters: Int = 1,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): Unit = {
    val spark = emb.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val staging = s"${indexDir}_rebuilding"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    writeIvfPqIndexFull(emb, staging, nCells, ivfIters, m, nCents, pqIters)
    fs.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(indexDir)),
      s"rebuild swap failed: could not rename $staging to $indexDir")
    indexBuilt.put(indexDir, true)
  }

  /** The gated rebuild APPLIED, returning the post-action search: gauge
    * → decide → (maybe) rebuild → serve. A `keep` decision touches
    * nothing — the search is the appended frozen-codebook index
    * verbatim; a `rebuild` decision leaves an index whose search is
    * indistinguishable from one trained on the full corpus in-plan
    * (the persisted-round-trip pin), which is exactly what the
    * registered queries' two oracles check branch by branch.
    */
  def annRebuildGated(
      emb: DataFrame, indexDir: String, floorBp: Long,
      nQueries: Int = 8, k: Int = 10): DataFrame = {
    val action = annRebuildGateDecision(emb, indexDir, floorBp, k)
      .head.getAs[String]("action")
    if (action == "rebuild") rebuildIvfPqIndex(emb, indexDir)
    annIvfPqAppended(emb, indexDir, nQueries, k)
  }

  /** The IVFADC recall contract vs exact L2 (the metric PQ quantizes) —
    * the gate-checked number for the composed index: coarse pruning to
    * nProbe/nCells of the corpus costs recall on top of PQ's code
    * approximation, and this query prices exactly that composition.
    */
  def annRecallIvfPq(emb: DataFrame, k: Int = 10): DataFrame =
    annRecallAgainst(l2TopK(emb, k = k), annIvfPq(emb, k = k))

  /** Recall contract of the APPENDED index vs exact L2 — the drift gauge
    * a frozen-codebook index publishes after every append batch: the
    * delta's vectors quantize against codebooks trained before they
    * existed, so this is the number that says when quantization drift
    * has eaten enough recall to warrant a retrain (the monitored-not-
    * prevented price [[appendIvfPqPostings]] documents).
    */
  def annRecallIvfPqAppended(
      emb: DataFrame, indexDir: String, k: Int = 10): DataFrame =
    annRecallAgainst(l2TopK(emb, k = k), annIvfPqAppended(emb, indexDir, k = k))

  // ---- two-stage search: ADC shortlist -> exact re-rank ------------------

  private val indexBuilt =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Memoized FULL IVFADC index build (the [[graft.operators.Cdc]]
    * buildOnce discipline): train + persist both codebooks AND the
    * assigned posting table once per process, with a sentinel-path
    * existence check so a scratch swept mid-process rebuilds instead of
    * failing every later read.
    */
  def ensureIvfPqIndex(emb: DataFrame, indexDir: String): Unit = {
    val spark = emb.sparkSession
    def sentinelExists: Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    if (!indexBuilt.contains(indexDir) || !sentinelExists) {
      indexBuilt.remove(indexDir)
      writeIvfPqIndexFull(emb, indexDir)
      indexBuilt.put(indexDir, true)
    }
  }

  /** EXACT re-rank of a (qid, vec_id) shortlist: join the shortlist back
    * to the scaled-long vectors and rank by TRUE L2 to top-k. The
    * shortlist is O(nq·shortlist) driver-bounded rows, so it broadcasts
    * into the corpus scan (a semi-join — exact floats are read for only
    * the shortlisted vectors), and the final window carries k rows per
    * query. Exact BIGINT distances end-to-end, hash-stable.
    */
  private def rerankExact(
      emb: DataFrame, short: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val dim = probeDim(emb)
    val sv = scaledLongs(emb, dim)
    val q = sv.select(col("vec_id").as("qid") +:
      (0 until dim).map(i => col(s"x_$i").as(s"q_$i")): _*)
      .filter(col("qid") < nQueries)
    val dist = (0 until dim).map { i =>
      val d = col(s"x_$i") - col(s"q_$i"); d * d
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(asc("dist"), asc("vec_id"))
    sv.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("dist"), col("rn"))
  }

  /** Two-stage IVFADC search — ADC shortlist, then exact re-rank: stage 1
    * prices every probed candidate at m code-byte lookups and keeps only
    * the top `shortlist` (= 4k) rows per query; stage 2 re-ranks exactly
    * those by true L2. The standard recall fix for a quantized index:
    * any true neighbor the code bytes mis-RANK inside the shortlist is
    * recovered exactly, so the only remaining losses are coarse-probe
    * misses and mis-ranks past the shortlist boundary —
    * [[annRecallIvfPqRerank]] gauges the lift over the one-stage
    * [[annRecallIvfPq]]. At 100 TB the exact-float read touches
    * ~nq·shortlist vectors, not the corpus: the funnel is
    * corpus → probed cells (code bytes) → shortlist (exact floats) → k.
    */
  def annIvfPqRerank(
      emb: DataFrame, nQueries: Int = 8, k: Int = 10, shortlist: Int = 40,
      nCells: Int = 16, ivfIters: Int = 1, nProbe: Int = 3,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): DataFrame =
    rerankExact(emb,
      annIvfPq(emb, nQueries, shortlist, nCells, ivfIters, nProbe, m,
        nCents, pqIters).select(col("qid"), col("vec_id")),
      nQueries, k)

  /** [[annIvfPqRerank]] against the persisted FULL index — the
    * production amortized shape (train + assign once via
    * [[ensureIvfPqIndex]], search many): stage 1 reads the probed
    * cells' POSTINGS from the cell-partitioned artifact (dynamic
    * partition pruning, never a corpus re-encode), stage 2 reads exact
    * floats for only the shortlist. The benchmarked two-stage
    * representative — per-search cost is the funnel, not the training
    * loops or the posting projection.
    */
  def annIvfPqRerankPersisted(
      emb: DataFrame, indexDir: String,
      nQueries: Int = 8, k: Int = 10, shortlist: Int = 40,
      nProbe: Int = 3, m: Int = 8): DataFrame = {
    ensureIvfPqIndex(emb, indexDir)
    rerankExact(emb,
      annIvfPqAppended(emb, indexDir, nQueries, shortlist, nProbe, m)
        .select(col("qid"), col("vec_id")),
      nQueries, k)
  }

  /** Recall contract of the TWO-STAGE search vs exact L2 — the lift the
    * re-rank leg buys over [[annRecallIvfPq]]'s one-stage number, at the
    * cost of reading ~shortlist exact vectors per query.
    */
  def annRecallIvfPqRerank(emb: DataFrame, k: Int = 10): DataFrame =
    annRecallAgainst(l2TopK(emb, k = k), annIvfPqRerank(emb, k = k))

  /** FILTERED ANN — predicate-constrained vector search, the
    * metadata+vector query every retrieval corpus runs ("nearest
    * neighbors among the German docs"): the metadata predicate
    * PRE-filters the posting table with a semi-join on vec_id before any
    * distance math, so the top-k is exact over the allowed subset — the
    * correctness-preserving strategy. The POST-filter alternative
    * (search first, filter the top-k after) silently returns FEWER than
    * k when the predicate is selective; pre-filtering pays one semi-join
    * on the posting table's key instead. At 100 TB the allowed set is
    * corpus-scale (never broadcastable) — the semi-join shuffles
    * posting-table keys against the filtered dimension, or rides
    * partition pruning when the store is partitioned by the predicate
    * column (the [[graft.operators.Cdc]] layout).
    */
  def annIvfPqFiltered(
      emb: DataFrame, docs: DataFrame, lang: String = "de",
      nQueries: Int = 8, k: Int = 10,
      nCells: Int = 16, ivfIters: Int = 1, nProbe: Int = 3,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): DataFrame = {
    val ivfCents = ivfCentroidsTrained(emb, nCells, ivfIters)
    val pqCents = pqCodebookTrained(emb, m, nCents, pqIters)
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    ivfPqSearch(
      ivfPqPostings(emb, ivfCents, pqCents, m)
        .join(allowed, Seq("vec_id"), "left_semi"),
      emb, ivfCents, pqCents, nQueries, k, nProbe, m)
  }

  /** Recall gauge of FILTERED ANN against the exact FILTERED L2 truth —
    * the honest number for predicate-constrained search (coarse-probe
    * misses under a filter are not the unfiltered gauge's: a probed
    * cell can hold zero allowed members while the true allowed neighbor
    * sits in an unprobed one). Same per-qid roll-up as the other recall
    * gauges; both sides restrict the corpus, never the query points.
    */
  def annRecallIvfPqFiltered(
      emb: DataFrame, docs: DataFrame, lang: String = "de",
      k: Int = 10): DataFrame = {
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    annRecallAgainst(
      l2TopK(emb, k = k, allowed = Some(allowed)),
      annIvfPqFiltered(emb, docs, lang, k = k))
  }

  /** FILTERED ANN with filter-aware probe WIDENING + exact re-rank — the
    * fix for the honest 0.51 recall [[annRecallIvfPqFiltered]] measured:
    * under a selective predicate a query's fixed nProbe closest cells
    * can hold few (or zero) allowed members, so the candidate set
    * under-fills and the true allowed neighbors sit in unprobed cells.
    * The widening rule is deterministic, so the oracle replays it: rank
    * ALL cells per query (score desc, cent_id asc) and probe the minimal
    * prefix whose cumulative ALLOWED-member count reaches the re-rank
    * `shortlist` — never fewer than the unfiltered `nProbe`. The
    * per-cell allowed counts are ONE metadata-sized aggregate of the
    * filtered posting table (nCells rows); the widened probe list stays
    * O(nq·nCells) driver metadata and broadcasts like the fixed one.
    * Stage 2 re-ranks the allowed ADC shortlist by exact L2 — candidates
    * are allowed-only throughout, so the result is exact over the probed
    * allowed subset. At 100 TB this reads as "scale probes by the
    * predicate's selectivity, per query, from the index's own
    * statistics": cells are probed in distance order, so the widened
    * search cost tracks ~1/selectivity of the fixed-probe cost instead
    * of degrading to a corpus scan.
    */
  def annIvfPqFilteredAdaptive(
      emb: DataFrame, docs: DataFrame, lang: String = "de",
      nQueries: Int = 8, k: Int = 10, shortlist: Int = 40,
      nCells: Int = 16, ivfIters: Int = 1, nProbe: Int = 3,
      m: Int = 8, nCents: Int = 16, pqIters: Int = 1): DataFrame = {
    val ivfCents = ivfCentroidsTrained(emb, nCells, ivfIters)
    val pqCents = pqCodebookTrained(emb, m, nCents, pqIters)
    val allowedPostings = ivfPqPostings(emb, ivfCents, pqCents, m)
      .join(allowedIds(docs, lang), Seq("vec_id"), "left_semi")
    adaptiveFilteredSearch(emb, allowedPostings, ivfCents, pqCents,
      nQueries, k, shortlist, nProbe, m)
  }

  /** The allowed-id set of a metadata predicate, keyed like the posting
    * table — the semi-join side every filtered search variant shares.
    */
  private def allowedIds(docs: DataFrame, lang: String): DataFrame =
    docs.filter(col("lang") === lang).select(col("doc_id").as("vec_id"))

  /** The shared funnel of the ADAPTIVE filtered search, over a GIVEN
    * allowed posting table (in-plan-assigned or loaded from the persisted
    * index — the two callers): per-cell allowed counts (one
    * metadata-sized aggregate), the deterministic probe-widening rule,
    * the ADC shortlist over allowed candidates only, then the exact
    * re-rank.
    */
  private def adaptiveFilteredSearch(
      emb: DataFrame, allowedPostings: DataFrame,
      ivfCents: Seq[(Int, Seq[Double])], pqCents: Map[Long, Array[Long]],
      nQueries: Int, k: Int, shortlist: Int, nProbe: Int, m: Int)
      : DataFrame = {
    val nCells = ivfCents.length
    val cellCnt = allowedPostings.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"))
    // prior = allowed members in STRICTLY closer-ranked cells; probe
    // while the prefix has not yet filled the shortlist (rn0 0-based)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rn0"))
      .rowsBetween(Long.MinValue, -1)
    val probes = vecs(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"),
        posexplode(topCells(ivfCents, nCells)).as(Seq("rn0", "qcell")))
      .join(cellCnt, col("qcell") === col("cell"), "left")
      .withColumn("prior", coalesce(sum(col("cnt")).over(wq), lit(0L)))
      .filter(col("rn0") < nProbe || col("prior") < shortlist)
      .select(col("qid"), col("qcell"))
      .localCheckpoint() // O(nq·nCells) rows — the count scan runs once
    rerankExact(emb,
      ivfPqSearchWith(allowedPostings, emb, probes, pqCents,
        nQueries, shortlist, m).select(col("qid"), col("vec_id")),
      nQueries, k)
  }

  /** [[annIvfPqFilteredAdaptive]] served from the PERSISTED full index —
    * the production filtered-search shape (train + assign once via
    * [[ensureIvfPqIndex]], search many): stage 1's candidates AND the
    * per-cell allowed counts both derive from the cell-partitioned
    * posting artifact semi-joined to the predicate — the corpus is never
    * re-encoded, let alone re-trained, per search. The widening rule and
    * the exact re-rank are unchanged, and assignment is a pure function
    * of the frozen codebooks, so this hash-matches the SAME oracle as
    * the in-plan-trained variant (SimilaritySpec pins result identity).
    * At 100 TB the difference is the whole game: the in-plan variant
    * pays several corpus passes (Lloyd + PQ training + assignment) per
    * query; this one pays the funnel — counts aggregate, probed
    * postings, shortlist floats.
    */
  def annIvfPqFilteredAdaptivePersisted(
      emb: DataFrame, docs: DataFrame, indexDir: String, lang: String = "de",
      nQueries: Int = 8, k: Int = 10, shortlist: Int = 40,
      nProbe: Int = 3, m: Int = 8): DataFrame = {
    ensureIvfPqIndex(emb, indexDir)
    val spark = emb.sparkSession
    val (ivfCents, pqCents) = loadIvfPqCodebooks(spark, indexDir)
    val allowedPostings = loadPostings(spark, indexDir, m)
      .join(allowedIds(docs, lang), Seq("vec_id"), "left_semi")
    adaptiveFilteredSearch(emb, allowedPostings, ivfCents, pqCents,
      nQueries, k, shortlist, nProbe, m)
  }

  /** Recall of the ADAPTIVE filtered search vs the exact FILTERED L2
    * truth — the lift the widening + re-rank buys over
    * [[annRecallIvfPqFiltered]]'s fixed-probe number.
    */
  def annRecallIvfPqFilteredAdaptive(
      emb: DataFrame, docs: DataFrame, lang: String = "de",
      k: Int = 10): DataFrame = {
    val allowed = docs.filter(col("lang") === lang)
      .select(col("doc_id").as("vec_id"))
    annRecallAgainst(
      l2TopK(emb, k = k, allowed = Some(allowed)),
      annIvfPqFilteredAdaptive(emb, docs, lang, k = k))
  }
}
