package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Planted-geometry embedding fixture: a deterministic clustered corpus
  * on which the blocking gauges can demonstrate their ACCEPT verdict.
  *
  * The harness `embeddings` table is near-random (no cluster structure),
  * so every recall gauge over it can only ever emit the honest REVOKE
  * number (e.g. `sim_bitext_recall`: 363 bp at 6 bits — SURVEY §8.13).
  * That proves the gauges catch a bad blocker but never that they pass a
  * good one. This fixture plants the geometry the blockers exist for —
  * tight cosine clusters (intra-cluster cos ≈ 0.999) with one "en" and
  * one "de" member per cluster acting as a planted translation pair —
  * and the SAME gauge queries run over it hash-matched with high
  * blocked recall. Same query, both verdicts, both oracle-carried.
  *
  * Construction (pure function — no RNG, no I/O):
  *   - dim=16 components in exact units of 1/256 (lossless in float32,
  *     double, and as SQL `CAST(k AS DOUBLE)/256` — both engines see
  *     bit-identical values from integer literals).
  *   - Cluster base vectors: candidate t has component i drawn from
  *     md5("pf:t:i") with magnitude 33..64; a candidate is KEPT only if
  *     its projection onto every one of the engine's 6 sign-LSH
  *     hyperplanes (the md5("j:i") ±1 matrix of Similarity.lshBuckets)
  *     has |margin| ≥ 25 units — first 8 survivors become the clusters.
  *   - Members: base plus a perturbation of ≤3 dims by ≤3/256 each
  *     (total scaled shift < 35 200 < the 25-unit ≈ 97 656 scaled
  *     margin), so every member PROVABLY lands in its base's bucket:
  *     cluster ⊆ bucket by construction, not by luck.
  *   - vec_id = member·8 + cluster, so the engine's fixed `vec_id < 8`
  *     query set is member 0 of each of the 8 clusters, and the 12
  *     members per cluster mean each query's exact top-10 is entirely
  *     intra-cluster — LSH recall@10 over the planted corpus is exactly
  *     1.0 unless the blocker breaks.
  *   - langs: member 0 = en, member 1 = de (8 planted translation pairs
  *     at cos ≈ 0.999), everything else xx (present in the ANN corpus,
  *     invisible to the bitext miner).
  */
object PlantedFixture {
  val dim = 16
  val bits = 6
  val nClusters = 8
  val members = 12

  private def md5Bytes(s: String): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8"))
  }

  /** The engine's ±1 hyperplane matrix — same formula as
    * Similarity.lshBuckets (high bit of md5("j:i"), i 1-based).
    */
  private def sign(j: Int, i: Int): Long =
    if ((md5Bytes(s"$j:$i")(0) & 0x80) != 0) 1L else -1L

  /** Candidate base t: component i in ±[33, 64] units from md5. */
  private def baseCandidate(t: Int): Array[Long] =
    Array.tabulate(dim) { i =>
      val h = md5Bytes(s"pf:$t:$i")
      val mag = 33L + (h(1) & 0x1f)
      if ((h(0) & 0x80) != 0) mag else -mag
    }

  /** Scaled-long projection margin check: every hyperplane must see
    * |Σ s(j,i)·k_i| ≥ 25 units so member perturbations (≤ 9 units of
    * total shift plus rounding slop) can never flip a bucket bit.
    */
  private def marginOk(ks: Array[Long]): Boolean =
    (0 until bits).forall { j =>
      val p = (0 until dim).map(i => sign(j, i + 1) * ks(i)).sum
      math.abs(p) >= 25
    }

  /** The 8 cluster bases: first 8 margin-passing candidates. */
  private lazy val bases: Seq[Array[Long]] =
    Iterator.from(0).map(baseCandidate).filter(marginOk).take(nClusters).toSeq

  /** Member m of cluster c: base + ≤3-dim perturbation (member 0 is the
    * base itself). Perturbed dims/magnitudes/signs all from md5.
    */
  private def memberVec(c: Int, m: Int): Array[Long] = {
    val v = bases(c).clone()
    if (m > 0) (0 until 3).foreach { r =>
      val h = md5Bytes(s"pf:$c:$m:$r")
      val d = java.lang.Byte.toUnsignedInt(h(0)) % dim
      val mag = 1L + (java.lang.Byte.toUnsignedInt(h(1)) % 3)
      v(d) += (if ((h(2) & 0x80) != 0) mag else -mag)
    }
    v
  }

  /** (vec_id, components-in-1/256-units, lang), 96 rows. */
  lazy val rows: Seq[(Long, Seq[Long], String)] =
    for {
      m <- 0 until members
      c <- 0 until nClusters
    } yield {
      val lang = m match { case 0 => "en"; case 1 => "de"; case _ => "xx" }
      ((m * nClusters + c).toLong, memberVec(c, m).toSeq, lang)
    }

  /** The fixture as the engine's embeddings shape:
    * (vec_id bigint, embedding array<float>) — k/256 is exact in float32.
    */
  def embDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.map { case (id, ks, _) => (id, ks.map(_.toFloat / 256.0f).toArray) }
      .toDF("vec_id", "embedding")
  }

  /** The fixture's documents shape: (doc_id, lang). */
  def docsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.map { case (id, _, lang) => (id, lang) }.toDF("doc_id", "lang")
  }

  /** Oracle CTEs `pk` + `v(vec_id, v DOUBLE[])` generated from the SAME
    * rows the Spark side serves — integer literals, divided by 256 as
    * doubles in-engine, so both engines compute on identical values.
    */
  def vSql: String = {
    val vals = rows.map { case (id, ks, _) =>
      s"(CAST($id AS BIGINT), [${ks.mkString(", ")}])"
    }.mkString(",\n           ")
    s"""pk(vec_id, ks) AS (VALUES
           $vals),
        v AS (SELECT vec_id,
                     list_transform(ks, k -> CAST(k AS DOUBLE)/256) AS v
              FROM pk)"""
  }

  /** Oracle CTE `docs_pf(doc_id, lang)` — the planted language labels. */
  def docsSql: String = {
    val vals = rows.map { case (id, _, lang) =>
      s"(CAST($id AS BIGINT), '$lang')"
    }.mkString(",\n           ")
    s"""docs_pf(doc_id, lang) AS (VALUES
           $vals)"""
  }
}
