package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Cdc, Dedup, Dimensions, EntityResolution, Governance, Graphs, Joins, Mining, Multimodal, Packing, Pca, Percentiles, Similarity, Sketches, StorageLayout, TextAnalysis, TimeSeries}
import org.apache.spark.sql.functions.{col, max}

/** LLM-data-pipeline extension operators (SURVEY.md §2-B): dedup,
  * similarity search, text analysis, time series, multimodal columns.
  * Implementations live in graft.operators.*; this file registers each one
  * with its DuckDB oracle.
  *
  * Oracle notes (DuckDB v1.0 specifics, verified against the driver's
  * compare semantics):
  *   - SUM(BIGINT) is HUGEINT in DuckDB → every exposed sum is wrapped in
  *     CAST(... AS BIGINT)/(AS DOUBLE) to match Spark's LongType/DoubleType.
  *   - generate_series is not lateral-joinable on column bounds → per-list
  *     iteration uses `unnest(list_transform(range(...), ...))` or aligned
  *     dual `unnest(v), unnest(range(1, len(v)+1))` instead.
  *   - All hashing is md5/sha256 over UTF-8 (identical in both engines);
  *     all float reductions go through the floor-scaled-long trick so
  *     accumulation order can never flip a bit (see the operators package).
  */
object ExtensionQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def part(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")

  /** Scratch path for persisted-artifact queries: keyed by sfDir so reps
    * WITHIN a run stay idempotent (each writer overwrites its own
    * directory), and by pid so two concurrent harness processes over the
    * same sfDir never race on one directory (one process's
    * mode=overwrite would delete files the other is mid-read on).
    */
  private lazy val procTag: String =
    java.lang.ProcessHandle.current().pid().toString
  private def scratchPath(kind: String, dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${kind}_p${procTag}_${
      Integer.toHexString(dir.hashCode)}"

  /** Oracle-side corpus state after the synthetic CDC delta of
    * [[graft.operators.Cdc]] is merged: untouched rows (clean langs, or
    * dirty-lang rows hit by neither delete nor update), updated images,
    * inserted rows — same arithmetic, same delete-beats-update
    * precedence as the engine's delta derivation. Shared by the
    * copy-on-write merge and the manifest-IVM oracles so both verify
    * against the identical corpus state.
    */
  private val cdcFinalCte = """
    cdc_final AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
       WHERE lang NOT IN ('de', 'fr')
          OR (doc_id % 11 <> 0 AND doc_id % 7 <> 0)
      UNION ALL
      SELECT doc_id, 'cdc1 ' || text, lang, source,
             length('cdc1 ' || text)
        FROM documents
       WHERE lang IN ('de', 'fr') AND doc_id % 7 = 0 AND doc_id % 11 <> 0
      UNION ALL
      SELECT doc_id + 1000000, 'ins ' || text, lang, source,
             length('ins ' || text)
        FROM documents
       WHERE lang IN ('de', 'fr') AND doc_id % 13 = 0)"""

  /** Oracle twin of the [[graft.operators.Cdc.zorder]] layout's clustering
    * key over the day-2 corpus state: exact 16-bit quantization over
    * the state's (doc_id, n_chars) bounds, the magic-number Morton
    * interleave ladder, top-8-bit bucket — identical BIGINT arithmetic
    * to the engine's `zorderKeyed`, so per-file zone maps derived from
    * the (zbucket, doc_id) chunking are bit-equal by construction.
    */
  private val zcdcCtes = """
    zb AS (SELECT CAST(min(doc_id) AS BIGINT) AS mn_a,
                  CAST(max(doc_id) AS BIGINT) AS mx_a,
                  CAST(min(n_chars) AS BIGINT) AS mn_b,
                  CAST(max(n_chars) AS BIGINT) AS mx_b
           FROM cdc_final2),
    zq AS (SELECT lang, doc_id, n_chars,
                  ((doc_id - mn_a) * 65536) // (mx_a - mn_a + 1) AS qa,
                  ((n_chars - mn_b) * 65536) // (mx_b - mn_b + 1) AS qb
           FROM cdc_final2, zb),
    zm1 AS (SELECT lang, doc_id, n_chars,
                   (qa | (qa << 8)) & 16711935 AS sa,
                   (qb | (qb << 8)) & 16711935 AS sb FROM zq),
    zm2 AS (SELECT lang, doc_id, n_chars,
                   (sa | (sa << 4)) & 252645135 AS sa,
                   (sb | (sb << 4)) & 252645135 AS sb FROM zm1),
    zm3 AS (SELECT lang, doc_id, n_chars,
                   (sa | (sa << 2)) & 858993459 AS sa,
                   (sb | (sb << 2)) & 858993459 AS sb FROM zm2),
    zm4 AS (SELECT lang, doc_id, n_chars,
                   (sa | (sa << 1)) & 1431655765 AS sa,
                   (sb | (sb << 1)) & 1431655765 AS sb FROM zm3),
    zk AS (SELECT lang, doc_id, n_chars,
                  (sa | (sb << 1)) >> 24 AS zbucket FROM zm4)"""

  /** Oracle twin of the [[graft.operators.Cdc.zorderEd]] layout's
    * rank-quantized clustering key: row_number over doc_id (unique, so
    * it equals the engine's grid-computed rank), rank() over n_chars
    * (tie-min — value-pure, matching the engine's value-level prefix
    * sums), both scaled to 16 bits over the state's row count, then the
    * same Morton ladder. Ends with `zke (lang, doc_id, n_chars,
    * zbucket)`.
    */
  private val zcdcEdCtes = """
    zrk AS (SELECT lang, doc_id, n_chars,
                   row_number() OVER (ORDER BY doc_id) AS ra,
                   rank() OVER (ORDER BY n_chars) AS rb,
                   COUNT(*) OVER () AS nt
            FROM cdc_final2),
    zqe AS (SELECT lang, doc_id, n_chars,
                   ((ra - 1) * 65536) // nt AS qa,
                   ((rb - 1) * 65536) // nt AS qb FROM zrk),
    zme1 AS (SELECT lang, doc_id, n_chars,
                    (qa | (qa << 8)) & 16711935 AS sa,
                    (qb | (qb << 8)) & 16711935 AS sb FROM zqe),
    zme2 AS (SELECT lang, doc_id, n_chars,
                    (sa | (sa << 4)) & 252645135 AS sa,
                    (sb | (sb << 4)) & 252645135 AS sb FROM zme1),
    zme3 AS (SELECT lang, doc_id, n_chars,
                    (sa | (sa << 2)) & 858993459 AS sa,
                    (sb | (sb << 2)) & 858993459 AS sb FROM zme2),
    zme4 AS (SELECT lang, doc_id, n_chars,
                    (sa | (sa << 1)) & 1431655765 AS sa,
                    (sb | (sb << 1)) & 1431655765 AS sb FROM zme3),
    zke AS (SELECT lang, doc_id, n_chars,
                   (sa | (sb << 1)) >> 24 AS zbucket FROM zme4)"""

  /** The 2-D box both zorder read legs and the gauge share: the middle
    * [25%, 40%] band of each base-table dimension.
    */
  private val zcdcBands = """
    dband AS (SELECT (max(doc_id) * 25) // 100 AS dlo,
                     (max(doc_id) * 40) // 100 AS dhi FROM documents),
    nband AS (SELECT (max(n_chars) * 25) // 100 AS nlo,
                     (max(n_chars) * 40) // 100 AS nhi FROM documents)"""

  /** All four layouts' per-file zone maps derived from STATE + the
    * 128-row roll rule — the shared chunk table of the 4-layout gauge,
    * the layout advisor, and the auto-OPTIMIZE oracles. Ends with
    * `g (layout, lang, chunk, mnd, mxd, mnc, mxc, n)`; needs
    * `cdc_final2`, `zk` ([[zcdcCtes]]) and `zke` ([[zcdcEdCtes]])
    * upstream.
    */
  private val zcdcLayoutChunksCtes = """
        r2 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        r4 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        r5 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY zbucket, doc_id)
                       - 1) // 128 AS chunk
               FROM zk),
        r6 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY zbucket, doc_id)
                       - 1) // 128 AS chunk
               FROM zke),
        g AS (
          SELECT 'by_doc_id' AS layout, lang, chunk,
                 min(doc_id) AS mnd, max(doc_id) AS mxd,
                 min(n_chars) AS mnc, max(n_chars) AS mxc, COUNT(*) AS n
          FROM r2 GROUP BY 2, 3
          UNION ALL
          SELECT 'by_n_chars' AS layout, lang, chunk,
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 COUNT(*)
          FROM r4 GROUP BY 2, 3
          UNION ALL
          SELECT 'zorder' AS layout, lang, chunk,
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 COUNT(*)
          FROM r5 GROUP BY 2, 3
          UNION ALL
          SELECT 'zorder_ed' AS layout, lang, chunk,
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 COUNT(*)
          FROM r6 GROUP BY 2, 3)"""

  /** Oracle twin of the full-width orders row fingerprint
    * ([[graft.operators.StorageLayout]]'s format round trips): the same
    * canonical rendering — integers verbatim, price through the exact
    * DECIMAL(18,2) text, NTZ timestamp at fixed microsecond width — so
    * the 60-bit md5 term matches Spark's engine-to-engine.
    */
  private val ordersFpXorSql = """bit_xor(('0x' || substring(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                 strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                 o_orderpriority), 1, 15))::BIGINT) AS fp_xor"""

  /** Oracle twin of [[graft.operators.StorageLayout.zorderKeyed]]: exact
    * 16-bit quantization over the min/max bounds, then the magic-number
    * Morton interleave ladder — identical BIGINT arithmetic on both
    * engines, so bucket ids (and everything derived from them) are
    * bit-equal by construction.
    */
  private val zorderCtes = """
    bounds AS (
      SELECT CAST(min(l_partkey) AS BIGINT) AS mn_a,
             CAST(max(l_partkey) AS BIGINT) AS mx_a,
             CAST(min(l_suppkey) AS BIGINT) AS mn_b,
             CAST(max(l_suppkey) AS BIGINT) AS mx_b
      FROM lineitem),
    q AS (
      SELECT l_orderkey,
             ((l_partkey - mn_a) * 65536) // (mx_a - mn_a + 1) AS qa,
             ((l_suppkey - mn_b) * 65536) // (mx_b - mn_b + 1) AS qb
      FROM lineitem, bounds),
    m1 AS (SELECT l_orderkey, qa, qb,
                  (qa | (qa << 8)) & 16711935 AS sa,
                  (qb | (qb << 8)) & 16711935 AS sb FROM q),
    m2 AS (SELECT l_orderkey, qa, qb,
                  (sa | (sa << 4)) & 252645135 AS sa,
                  (sb | (sb << 4)) & 252645135 AS sb FROM m1),
    m3 AS (SELECT l_orderkey, qa, qb,
                  (sa | (sa << 2)) & 858993459 AS sa,
                  (sb | (sb << 2)) & 858993459 AS sb FROM m2),
    m4 AS (SELECT l_orderkey, qa, qb,
                  (sa | (sa << 1)) & 1431655765 AS sa,
                  (sb | (sb << 1)) & 1431655765 AS sb FROM m3),
    bkt AS (SELECT l_orderkey, qa, qb,
                   (sa | (sb << 1)) >> 26 AS zbucket,
                   qa >> 10 AS lbucket FROM m4)"""

  /** Day 2 of the CDC lifecycle: the same merge shape applied ON TOP of
    * [[cdcFinalCte]]'s output (a real feed reflects current state, so
    * day-2 rows are derived from the day-1-resolved view), with day-2
    * moduli/tags ([[graft.operators.Cdc.day2Rules]]). Chaining two
    * copies of one CTE shape is exactly how the engine chains two
    * [[graft.operators.Cdc.DeltaRules]] days.
    */
  private val cdcFinal2Cte = cdcFinalCte + """,
    cdc_final2 AS (
      SELECT doc_id, text, lang, source, n_chars FROM cdc_final
       WHERE lang NOT IN ('de', 'fr')
          OR (doc_id % 17 <> 0 AND doc_id % 5 <> 0)
      UNION ALL
      SELECT doc_id, 'cdc2 ' || text, lang, source,
             length('cdc2 ' || text)
        FROM cdc_final
       WHERE lang IN ('de', 'fr') AND doc_id % 5 = 0 AND doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 2000000, 'ins2 ' || text, lang, source,
             length('ins2 ' || text)
        FROM cdc_final
       WHERE lang IN ('de', 'fr') AND doc_id % 19 = 0)"""

  /** Shared oracle CTE: whitespace tokens of lowercased trimmed text
    * (mirrors Dedup.tokens ON THE HARNESS CORPUS, which is ASCII — there
    * the seam's segmentation regex is a pinned no-op; the multiscript
    * fixture queries below carry the cross-engine evidence for the
    * segmented form).
    */
  private val toksCte =
    """toks AS (
         SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
         FROM documents)"""

  /** DuckDB mirror of the Dedup.tokens seam (RE2 `\x{...}` spelling of
    * the same Han/kana/Thai class).
    */
  private val segSplitSql =
    """string_split_regex(lower(trim(regexp_replace(text,
       '([\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{0E00}-\x{0E7F}])',
       ' \1 ', 'g'))), '\s+')"""

  /** The multiscript tokenization fixture — one doc per script family
    * (space-delimited EN pair, unsegmented ZH near-dup pair, JA, TH),
    * identical literals on both engines. Pre-seam, docs 3-6 each
    * tokenized as ONE token (no spaces), so they had no shingles and
    * were invisible to every n-gram operator — the blindness the seam
    * fixes.
    */
  private val multiscriptFixtureSql =
    """fx(doc_id, text) AS (VALUES
         (CAST(1 AS BIGINT), 'the quick brown fox jumps over the lazy dog'),
         (CAST(2 AS BIGINT), 'the quick brown fox jumps over the lazy cat'),
         (CAST(3 AS BIGINT), '大规模语言模型的训练数据质量'),
         (CAST(4 AS BIGINT), '大规模语言模型的训练数据工程'),
         (CAST(5 AS BIGINT), '機械学習モデルを訓練する'),
         (CAST(6 AS BIGINT), 'ยินดีต้อนรับสู่กรุงเทพ'))"""

  private def multiscriptDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "大规模语言模型的训练数据质量"),
      (4L, "大规模语言模型的训练数据工程"),
      (5L, "機械学習モデルを訓練する"),
      (6L, "ยินดีต้อนรับสู่กรุงเทพ")).toDF("doc_id", "text")
  }

  /** One unrolled BPE round for the `vocab_bpe_merges` oracle: from the
    * dense-position token table t$i, pick the argmax adjacent pair (b$i),
    * select greedy non-overlapping occurrences via gaps-and-islands (s$i),
    * rewrite survivors (r$i), re-number to t${i+1} — the SQL mirror of one
    * `TextAnalysis.bpeMerges` iteration.
    */
  private def bpeRoundCte(i: Int): String = s"""
        p$i AS (SELECT doc_id, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
               FROM t$i),
        b$i AS (SELECT tok AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS n
                FROM p$i WHERE nxt IS NOT NULL
                GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
        o$i AS (SELECT p.doc_id, p.pos
                FROM p$i p JOIN b$i ON p.tok = b$i.a AND p.nxt = b$i.b),
        s$i AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY doc_id, grp ORDER BY pos) AS rn
                  FROM (SELECT doc_id, pos, pos - row_number() OVER (
                          PARTITION BY doc_id ORDER BY pos) AS grp FROM o$i))
                WHERE rn % 2 = 1),
        r$i AS (SELECT p.doc_id, p.pos,
                       CASE WHEN s.pos IS NOT NULL THEN p.tok || ' ' || p.nxt
                            ELSE p.tok END AS tok
                FROM p$i p
                LEFT JOIN s$i s ON p.doc_id = s.doc_id AND p.pos = s.pos
                LEFT JOIN s$i d ON p.doc_id = d.doc_id AND p.pos = d.pos + 1
                WHERE d.pos IS NULL),
        t${i + 1} AS (SELECT doc_id, row_number() OVER (
                        PARTITION BY doc_id ORDER BY pos) AS pos, tok
                      FROM r$i)"""

  /** [[bpeRoundCte]] with the multiply-referenced CTEs MATERIALIZED:
    * p$i is referenced 3× and s$i 2× per round, so an un-materialized
    * k-round chain inlines ~3^k-fold (the k-core oracle lesson — 79 GB
    * of temp at sf0.1). Mandatory for the 8-round trainer oracles.
    */
  private def bpeRoundCteM(i: Int): String = s"""
        p$i AS MATERIALIZED (SELECT doc_id, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
               FROM t$i),
        b$i AS MATERIALIZED (SELECT tok AS a, nxt AS b,
                CAST(COUNT(*) AS BIGINT) AS n
                FROM p$i WHERE nxt IS NOT NULL
                GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
        o$i AS (SELECT p.doc_id, p.pos
                FROM p$i p JOIN b$i ON p.tok = b$i.a AND p.nxt = b$i.b),
        s$i AS MATERIALIZED (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY doc_id, grp ORDER BY pos) AS rn
                  FROM (SELECT doc_id, pos, pos - row_number() OVER (
                          PARTITION BY doc_id ORDER BY pos) AS grp FROM o$i))
                WHERE rn % 2 = 1),
        r$i AS (SELECT p.doc_id, p.pos,
                       CASE WHEN s.pos IS NOT NULL THEN p.tok || ' ' || p.nxt
                            ELSE p.tok END AS tok
                FROM p$i p
                LEFT JOIN s$i s ON p.doc_id = s.doc_id AND p.pos = s.pos
                LEFT JOIN s$i d ON p.doc_id = d.doc_id AND p.pos = d.pos + 1
                WHERE d.pos IS NULL),
        t${i + 1} AS MATERIALIZED (SELECT doc_id, row_number() OVER (
                        PARTITION BY doc_id ORDER BY pos) AS pos, tok
                      FROM r$i)"""

  /** Shared oracle CTE: word 3-gram shingles (mirrors Dedup.shingled;
    * DuckDB lists are 1-based where Spark arrays are 0-based — both
    * enumerate the n-2 consecutive triples).
    */
  private val shingleCte =
    s"""$toksCte,
        sh AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
          FROM toks WHERE len(t) >= 3)"""

  /** Shared oracle CTE: k=8 MinHash signatures from the shingles —
    * h_j = (a_j·h) mod (2^31−1) over one 48-bit md5 truncation per
    * shingle, multipliers/modulus shared with Dedup.minhashWide.
    */
  private val minhashCte = {
    val as = graft.operators.Dedup.minhashMultipliers
      .zipWithIndex.map { case (a, j) => s"($j, ${a}::BIGINT)" }.mkString(", ")
    s"""$shingleCte,
        hp AS (
          SELECT doc_id,
                 ('0x' || substring(md5(shingle), 1, 12))::BIGINT AS h
          FROM sh),
        mh AS (
          SELECT doc_id, j,
                 min((a * h) % ${graft.operators.Dedup.minhashMod}) AS minhash
          FROM hp CROSS JOIN (VALUES $as) c(j, a)
          GROUP BY doc_id, j)"""
  }

  /** Shared oracle CTEs: embedding vectors as double[], exact scaled-long
    * norms (mirrors Similarity.vecs/withNorm).
    */
  private val normTailCte =
    """n AS (
         SELECT vec_id, v,
                CAST(list_sum(list_transform(v,
                     x -> CAST(FLOOR(x*x*1e6 + 0.5) AS BIGINT))) AS BIGINT) AS nrm
         FROM v)"""

  private val vecNormCte =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       """ + normTailCte

  /** [[vecNormCte]] with `v` sourced from the planted-geometry fixture's
    * generated VALUES instead of the embeddings parquet — everything
    * downstream (`n`, `bk`, the miners, the recall tails) reuses
    * unchanged, which is the point: the SAME gauge SQL runs over both
    * corpora.
    */
  private lazy val plantedNormCte: String =
    PlantedFixture.vSql + ",\n       " + normTailCte

  /** Shared oracle CTEs: IVF cell assignment under the deterministic
    * first-16 coarse quantizer (mirrors Similarity.ivfCells; needs
    * [[vecNormCte]] in scope) — used by `sim_ann_ivf` and
    * `mix_cluster_balanced`.
    */
  private val ivfCellCte =
    """cents AS (
          SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
          FROM n WHERE vec_id < 16),
        cpx AS (
          SELECT n.vec_id, c.cent_id, n.nrm, c.cnrm,
                 unnest(n.v) AS x, unnest(c.cv) AS cx
          FROM n CROSS JOIN cents c),
        cd AS (
          SELECT vec_id, cent_id, nrm, cnrm,
                 CAST(SUM(CAST(FLOOR(x*cx*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM cpx GROUP BY vec_id, cent_id, nrm, cnrm),
        csc AS (
          SELECT vec_id, cent_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(nrm AS DOUBLE) * CAST(cnrm AS DOUBLE)) AS score
          FROM cd),
        cell AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cent_id) AS rn
            FROM csc) WHERE rn = 1)"""

  /** Shared oracle CTEs: sign-LSH bucket per vector (mirrors
    * Similarity.lshBuckets; needs [[vecNormCte]] in scope).
    */
  private val lshBucketCte =
    """xi AS (
         SELECT vec_id, unnest(v) AS x,
                unnest(range(1, len(v) + 1)) AS i
         FROM v),
       pj AS (
         SELECT vec_id, j,
                CAST(SUM(CASE WHEN substring(md5(concat(
                         CAST(j AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 1)
                       IN ('8','9','a','b','c','d','e','f')
                     THEN CAST(FLOOR(x*1e6 + 0.5) AS BIGINT)
                     ELSE -CAST(FLOOR(x*1e6 + 0.5) AS BIGINT) END)
                  AS BIGINT) AS proj
         FROM xi CROSS JOIN generate_series(0, 5) g(j)
         GROUP BY vec_id, j),
       bk AS (
         SELECT vec_id,
                CAST(SUM(CASE WHEN proj > 0 THEN CAST(2 ** j AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS bucket
         FROM pj GROUP BY vec_id)"""

  /** Oracle CTE block: assign every vector to its argmax-cosine centroid
    * from codebook CTE `prevC(cent_id, cv)` — mirrors Similarity.bestCell
    * (ties → smallest cent_id; scaled-long dot/norms like cosine_sim).
    * Emits `cn$i/apx$i/ad$i/sc$i` internals and the result `cell$i
    * (vec_id, cell)`. Needs [[vecNormCte]]'s `n` in scope.
    */
  private def lloydAssignCte(i: Int, prevC: String, src: String = "n"): String =
    s"""cn$i AS (
          SELECT cent_id, cv,
                 CAST(list_sum(list_transform(cv,
                      x -> CAST(FLOOR(x*x*1e6 + 0.5) AS BIGINT))) AS BIGINT) AS cnrm
          FROM $prevC),
        apx$i AS (
          SELECT n.vec_id, c.cent_id, n.nrm, c.cnrm,
                 unnest(n.v) AS x, unnest(c.cv) AS cx
          FROM $src n CROSS JOIN cn$i c),
        ad$i AS (
          SELECT vec_id, cent_id, nrm, cnrm,
                 CAST(SUM(CAST(FLOOR(x*cx*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM apx$i GROUP BY vec_id, cent_id, nrm, cnrm),
        sc$i AS (
          SELECT vec_id, cent_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(nrm AS DOUBLE) * CAST(cnrm AS DOUBLE)) AS score
          FROM ad$i),
        cell$i AS (
          SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cent_id) AS rn
            FROM sc$i) WHERE rn = 1)"""

  /** Oracle CTE block: Lloyd update — per-cell mean over `cell$i` members
    * as EXACT scaled-long component sums (mirrors ivfCentroidsTrained's
    * `Σ round(x·1e6) / n / 1e6`, divisions in that order). Empty cells
    * keep their `prevC` centroid. Emits `upx$i/um$i` internals and the
    * new codebook `c$i (cent_id, cv)`.
    */
  private def lloydUpdateCte(i: Int, prevC: String): String =
    s"""upx$i AS (
          SELECT a.cell, unnest(n.v) AS x,
                 unnest(range(1, len(n.v) + 1)) AS pos
          FROM n JOIN cell$i a ON n.vec_id = a.vec_id),
        um$i AS (
          SELECT cell, pos,
                 CAST(SUM(CAST(FLOOR(x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s,
                 COUNT(*) AS nn
          FROM upx$i GROUP BY cell, pos),
        c$i AS (
          SELECT cell AS cent_id,
                 list(CAST(s AS DOUBLE) / nn / 1e6 ORDER BY pos) AS cv
          FROM um$i GROUP BY cell
          UNION ALL
          SELECT cent_id, cv FROM $prevC
          WHERE cent_id NOT IN (SELECT cell FROM um$i))"""

  /** Oracle top-k tail over a `s(qid, vec_id, score)` CTE. */
  private def topkTail(k: Int): String =
    s"""SELECT qid, vec_id, score, rn FROM (
          SELECT qid, vec_id, score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM s) WHERE rn <= $k"""

  /** Exact 13-gram decontamination oracle — shared verbatim by
    * `decontaminate_ngram` and its bloom-fronted variant (identical
    * semantics by construction).
    */
  private val ngramDecontOracle = s"""
    WITH $toksCte,
    pos AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(t) - 13 + 1),
               p -> ('0x' || substring(md5(array_to_string(
                      list_slice(t, p + 1, p + 13), ' ')), 1, 12))::BIGINT))
               AS whash
      FROM toks WHERE len(t) >= 13),
    d AS (SELECT DISTINCT doc_id, whash FROM pos),
    coin AS (
      SELECT doc_id,
             ('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS c
      FROM documents)
    SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM d t
    JOIN coin ct ON t.doc_id = ct.doc_id AND ct.c >= 10
    JOIN d e ON t.whash = e.whash
    JOIN coin ce ON e.doc_id = ce.doc_id AND ce.c < 10
    GROUP BY 1, 2"""

  /** Shared oracle CTEs: the perceptual aHash re-derived arithmetically
    * from document bytes (padded plane → integer luma → 8×8 grid cells →
    * two 32-bit halves) — used by `mm_phash_pairs` and
    * `mm_phash_clusters` (mirrors Multimodal.aHash).
    */
  private val phashHashesCte =
    """b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        d AS (
          SELECT doc_id, hx, n,
                 greatest(1, CAST(ceil(n / 24.0) AS BIGINT)) AS h
          FROM b),
        idx AS (SELECT doc_id, hx, n, h, unnest(range(0, h * 24)) AS i FROM d),
        vals AS (
          SELECT doc_id, h, i // 3 AS p, i % 3 AS c,
                 CASE WHEN i < n
                      THEN ('0x' || substring(hx, CAST(2*i + 1 AS INT), 2))::BIGINT
                      ELSE 0 END AS v
          FROM idx),
        px AS (
          SELECT doc_id, h, p,
                 SUM(v * CASE c WHEN 0 THEN 299 WHEN 1 THEN 587 ELSE 114 END) AS l
          FROM vals GROUP BY 1, 2, 3),
        cells AS (
          SELECT doc_id, ((p // 8) * 8) // h AS oy, p % 8 AS ox,
                 SUM(l) AS cs, COUNT(*) AS cc
          FROM px GROUP BY 1, 2, 3),
        tot AS (SELECT doc_id, SUM(cs) AS ts, SUM(cc) AS tc FROM cells GROUP BY 1),
        bits AS (
          SELECT c.doc_id, oy * 8 + ox AS k
          FROM cells c JOIN tot t ON c.doc_id = t.doc_id
          WHERE cs * tc > ts * cc),
        hashes AS (
          SELECT d.doc_id,
                 COALESCE(SUM(CASE WHEN k < 32
                   THEN CAST(2 ** k AS BIGINT) ELSE 0 END), 0) AS lo,
                 COALESCE(SUM(CASE WHEN k >= 32
                   THEN CAST(2 ** (k - 32) AS BIGINT) ELSE 0 END), 0) AS hi
          FROM d LEFT JOIN bits ON d.doc_id = bits.doc_id
          GROUP BY 1)"""

  /** Shared oracle CTEs for the PQ/L2 family: `sv` = every vector's
    * floor-scaled-long components (one row per (vec, dim)), `cv` = the
    * first-16 codebook's components (mirrors Similarity.scaledLongs /
    * pqCodebook).
    */
  private val pqSvCvCte =
    """sv AS (
          SELECT vec_id, i - 1 AS i, CAST(FLOOR(x*1e6 + 0.5) AS BIGINT) AS sx
          FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings)),
        cv AS (SELECT vec_id AS cent_id, i, sx AS cx FROM sv WHERE vec_id < 16)"""

  /** PQ assignment CTEs (needs [[pqSvCvCte]]): exact scaled-long L2 per
    * (vec, centroid, subspace), then the per-subspace argmin ranking —
    * parametrized by round suffix + codebook CTE so the trained variant
    * can chain rounds (mirrors the lloydAssignCte pattern).
    */
  private def pqAssignCteN(n: String, cvName: String, src: String = "sv"): String =
    s"""pqd$n AS (
          SELECT s.vec_id, c.cent_id, s.i // 8 AS sub,
                 CAST(SUM((s.sx - c.cx) * (s.sx - c.cx)) AS BIGINT) AS dd
          FROM $src s JOIN $cvName c ON s.i = c.i
          GROUP BY 1, 2, 3),
        pqbest$n AS (
          SELECT vec_id, sub, cent_id, dd,
                 row_number() OVER (PARTITION BY vec_id, sub
                                    ORDER BY dd, cent_id) AS rn
          FROM pqd$n)"""

  private val pqAssignCte = pqAssignCteN("", "cv")

  /** One PQ Lloyd round (needs [[pqSvCvCte]] + a prior assignment round):
    * member means per (centroid, subspace) slice with the exact
    * two-IEEE-division + rescale chain (Σsx / n / 1e6, floor-rescaled —
    * verbatim the Spark update), empty cells keeping the previous slice.
    */
  private def pqUpdateCte(n: String, prevBest: String, prevCv: String): String =
    s"""codes$n AS (
          SELECT vec_id, sub, cent_id AS code FROM $prevBest WHERE rn = 1),
        upd$n AS (
          SELECT c1.code AS cent_id, s.i,
                 CAST(FLOOR((CAST(SUM(s.sx) AS DOUBLE) / COUNT(*) / 1e6)
                   * 1e6 + 0.5) AS BIGINT) AS cx
          FROM codes$n c1 JOIN sv s
            ON s.vec_id = c1.vec_id AND s.i // 8 = c1.sub
          GROUP BY 1, 2),
        cv$n AS (
          SELECT c.cent_id, c.i, COALESCE(u.cx, c.cx) AS cx
          FROM $prevCv c LEFT JOIN upd$n u
            ON u.cent_id = c.cent_id AND u.i = c.i)"""

  /** ADC CTEs (need [[pqSvCvCte]] + an assignment round): per-vector
    * codes, the per-query distance table, and the table-lookup
    * distances — parametrized by round suffix + codebook like the
    * assignment builder.
    */
  private def pqAdcCteN(n: String, best: String, cvName: String): String =
    s"""adcodes$n AS (
          SELECT vec_id, sub, cent_id AS code FROM $best WHERE rn = 1),
        q$n AS (SELECT vec_id AS qid, i, sx AS qx FROM sv WHERE vec_id < 8),
        tbl$n AS (
          SELECT q$n.qid, c.i // 8 AS sub, c.cent_id AS code,
                 CAST(SUM((q$n.qx - c.cx) * (q$n.qx - c.cx)) AS BIGINT) AS dsub
          FROM q$n JOIN $cvName c ON q$n.i = c.i
          GROUP BY 1, 2, 3),
        ad$n AS (
          SELECT t.qid, adcodes$n.vec_id, CAST(SUM(t.dsub) AS BIGINT) AS dist
          FROM adcodes$n JOIN tbl$n t
            ON adcodes$n.sub = t.sub AND adcodes$n.code = t.code
          GROUP BY 1, 2)"""

  /** Single-probe IVF ANN oracle — shared verbatim by `sim_ann_ivf`
    * (in-plan assignment) and `sim_ann_ivf_persisted` (assignment loaded
    * from its parquet artifact): the persisted path hash-matching the
    * same SQL proves the write → load → search round trip is lossless.
    */
  private lazy val simAnnIvfOracle = Some(s"""
    WITH $vecNormCte,
    $ivfCellCte,
    e AS (
      SELECT n.vec_id, n.v, n.nrm, cell.cell
      FROM n JOIN cell ON n.vec_id = cell.vec_id),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell AS qcell
      FROM e WHERE vec_id < 8),
    px AS (
      SELECT q.qid, c.vec_id, q.qnrm, c.nrm,
             unnest(q.qv) AS qx, unnest(c.v) AS x
      FROM e c JOIN q ON c.cell = q.qcell),
    dots AS (
      SELECT qid, vec_id, qnrm, nrm,
             CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
      FROM px GROUP BY qid, vec_id, qnrm, nrm),
    s AS (
      SELECT qid, vec_id,
             CAST(dot AS DOUBLE) /
               sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
      FROM dots)
    ${topkTail(10)}""")

  /** Shared retrieval CTE prefix, BUILT from [[TextAnalysis.Bm25Queries]]
    * so both engines always score the same terms: per-doc term
    * frequencies + doc length (`base`), the one-row corpus stats
    * (`stats`), and their cross join (`scored`) — the inputs every
    * lexical ranker reads.
    */
  private val retrievalCtes: String = {
    val terms = TextAnalysis.Bm25Queries.flatMap(_._2).distinct
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n             ")
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    ).mkString(",\n             ")
    s"""$toksCte,
      base AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
             $tfCols
        FROM toks),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_dl,
             $dfCols
        FROM base),
      scored AS (SELECT * FROM base CROSS JOIN stats)"""
  }

  /** Per-query BM25 score union (log-free idf, k1 = 1.2, b = 0.75 —
    * verbatim the Spark IEEE op chain, floor-scaled to longs).
    */
  private val bm25ScoreUnion: String = {
    val queries = TextAnalysis.Bm25Queries
    val terms = queries.flatMap(_._2).distinct
    val idx = terms.zipWithIndex.toMap
    def term(i: Int) =
      s"CAST(FLOOR(1000000.0 * ((((CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE)" +
        s" + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5)) * (CAST(tf_$i AS DOUBLE) * 2.2))" +
        s" / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)" +
        s" / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))) AS BIGINT)"
    queries.map { case (qid, qterms) =>
      s"SELECT CAST($qid AS BIGINT) AS qid, doc_id,\n" +
        s"       (${qterms.map(t => term(idx(t))).mkString("\n        + ")}) AS score\n" +
        s"FROM scored"
    }.mkString("\nUNION ALL\n")
  }

  /** Per-query rarity-weighted tf score union (Σ tf·(N − df), exact
    * BIGINT) — the second ranker [[TextAnalysis.hybridRrf]] fuses.
    */
  private val rareScoreUnion: String = {
    val queries = TextAnalysis.Bm25Queries
    val terms = queries.flatMap(_._2).distinct
    val idx = terms.zipWithIndex.toMap
    queries.map { case (qid, qterms) =>
      s"SELECT CAST($qid AS BIGINT) AS qid, doc_id,\n" +
        s"       CAST(${qterms.map(t => s"tf_${idx(t)} * (n_docs - df_${idx(t)})")
          .mkString(" + ")} AS BIGINT) AS score\nFROM scored"
    }.mkString("\nUNION ALL\n")
  }

  /** BM25 oracle: the shared retrieval prefix + the BM25 score union,
    * top-20 per query by (score DESC, doc_id).
    */
  private val bm25Oracle: String = s"""
      WITH $retrievalCtes,
      q AS ($bm25ScoreUnion)
      SELECT qid, doc_id, score, rn FROM (
        SELECT qid, doc_id, score,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rn
        FROM q WHERE score > 0)
      WHERE rn <= 20"""

  /** Reciprocal-rank-fusion oracle: both ranked lists from the SAME
    * shared prefix, fused over their full outer join with the identical
    * two-IEEE-op chain the Spark side declares (one division per list,
    * one addition in (bm25, rare) order).
    */
  private val hybridRrfOracle: String = s"""
      WITH $retrievalCtes,
      bq AS ($bm25ScoreUnion),
      br AS (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS bm25_rn
        FROM bq WHERE score > 0),
      brk AS (SELECT qid, doc_id, bm25_rn FROM br WHERE bm25_rn <= 20),
      rq AS ($rareScoreUnion),
      rr AS (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rare_rn
        FROM rq WHERE score > 0),
      rrk AS (SELECT qid, doc_id, rare_rn FROM rr WHERE rare_rn <= 20),
      f AS (
        SELECT qid, doc_id, bm25_rn, rare_rn,
               COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + bm25_rn AS DOUBLE),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + rare_rn AS DOUBLE),
                          CAST(0.0 AS DOUBLE)) AS rrf
        FROM brk FULL OUTER JOIN rrk USING (qid, doc_id))
      SELECT qid, doc_id, bm25_rn, rare_rn, rrf, rn FROM (
        SELECT qid, doc_id, bm25_rn, rare_rn, rrf,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY rrf DESC, doc_id) AS rn
        FROM f)
      WHERE rn <= 20"""

  /** Incremental delta-vs-index dedup oracle — shared verbatim by
    * `dedup_incremental` (in-plan coin split) and
    * `dedup_incremental_persisted` (parquet-artifact round trip): the
    * persisted path hash-matching the same SQL proves the write → load →
    * check loop loses nothing vs the single-plan form.
    */
  private val incrementalDedupOracle = Some(s"""
    WITH $minhashCte,
    bk AS (
      SELECT doc_id, j // 2 AS band,
             string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash)
               AS bucket_key
      FROM mh GROUP BY doc_id, j // 2),
    coin AS (
      SELECT doc_id,
             ('0x' || substring(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS c
      FROM documents),
    idx AS (
      SELECT DISTINCT band, bucket_key
      FROM bk JOIN coin USING (doc_id) WHERE c >= 10),
    hits AS (
      SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bucket_hits
      FROM bk JOIN coin USING (doc_id)
      JOIN idx ON bk.band = idx.band AND bk.bucket_key = idx.bucket_key
      WHERE coin.c < 10 GROUP BY bk.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n_bucket_hits, 0) AS BIGINT) AS n_bucket_hits,
           (COALESCE(h.n_bucket_hits, 0) > 0) AS is_dup
    FROM documents d
    JOIN coin c ON d.doc_id = c.doc_id AND c.c < 10
    LEFT JOIN hits h ON d.doc_id = h.doc_id""")

  /** IVF recall-contract oracle: the exact brute-force top-k against the
    * Lloyd-trained IVF top-k (training rounds unrolled like
    * [[ivfTrainedOracle]], approx-side CTEs renamed to coexist with the
    * exact side), joined per query into (n_exact, n_hit, recall).
    */
  private def ivfRecallOracleSql(
      nProbe: Int, iters: Int, vCte: String = vecNormCte): String = {
    val rounds = (1 to iters).map(i =>
      s"${lloydAssignCte(i, s"c${i - 1}")},\n${lloydUpdateCte(i, s"c${i - 1}")}")
      .mkString(",\n")
    val fin = iters + 1
    s"""
      WITH $vCte,
      qe AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 8),
      pxe AS (
        SELECT qe.qid, c.vec_id, qe.qnrm, c.nrm,
               unnest(qe.qv) AS qx, unnest(c.v) AS x
        FROM n c CROSS JOIN qe),
      dotse AS (
        SELECT qid, vec_id, qnrm, nrm,
               CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
        FROM pxe GROUP BY qid, vec_id, qnrm, nrm),
      se AS (
        SELECT qid, vec_id,
               CAST(dot AS DOUBLE) /
                 sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
        FROM dotse),
      te AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM se) WHERE rn <= 10),
      c0 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 16),
      $rounds,
      ${lloydAssignCte(fin, s"c$iters")},
      e AS (
        SELECT n.vec_id, n.v, n.nrm, a.cell
        FROM n JOIN cell$fin a ON n.vec_id = a.vec_id),
      qp AS (
        SELECT vec_id AS qid, cent_id AS qcell FROM (
          SELECT vec_id, cent_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY score DESC, cent_id) AS rn
          FROM sc$fin WHERE vec_id < 8) WHERE rn <= $nProbe),
      qa AS (
        SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 8),
      pxa AS (
        SELECT qa.qid, c.vec_id, qa.qnrm, c.nrm,
               unnest(qa.qv) AS qx, unnest(c.v) AS x
        FROM e c JOIN qp ON c.cell = qp.qcell JOIN qa ON qa.qid = qp.qid),
      dotsa AS (
        SELECT qid, vec_id, qnrm, nrm,
               CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
        FROM pxa GROUP BY qid, vec_id, qnrm, nrm),
      sa AS (
        SELECT qid, vec_id,
               CAST(dot AS DOUBLE) /
                 sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
        FROM dotsa),
      ta AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM sa) WHERE rn <= 10)
      SELECT te.qid,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
             CAST(SUM(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
      FROM te LEFT JOIN ta ON te.qid = ta.qid AND te.vec_id = ta.vec_id
      GROUP BY te.qid"""
  }

  /** ANN recall-contract oracle: the exact brute-force top-k and the LSH
    * top-k (single- or multi-probe), both as their already-verified
    * pipelines, joined per query into (n_exact, n_hit, recall).
    */
  private def recallOracleSql(
      multiProbe: Boolean, vCte: String = vecNormCte): String = {
    val probeQa =
      if (multiProbe)
        """qa AS (
             SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
                    xor(bucket, m) AS qprobe
             FROM e CROSS JOIN (
               SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT) AS m)
             WHERE vec_id < 8)"""
      else
        """qa AS (
             SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket AS qprobe
             FROM e WHERE vec_id < 8)"""
    s"""
      WITH $vCte,
      $lshBucketCte,
      qe AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 8),
      pxe AS (
        SELECT qe.qid, c.vec_id, qe.qnrm, c.nrm,
               unnest(qe.qv) AS qx, unnest(c.v) AS x
        FROM n c CROSS JOIN qe),
      dotse AS (
        SELECT qid, vec_id, qnrm, nrm,
               CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
        FROM pxe GROUP BY qid, vec_id, qnrm, nrm),
      se AS (
        SELECT qid, vec_id,
               CAST(dot AS DOUBLE) /
                 sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
        FROM dotse),
      te AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM se) WHERE rn <= 10),
      e AS (
        SELECT n.vec_id, n.v, n.nrm, bk.bucket
        FROM n JOIN bk ON n.vec_id = bk.vec_id),
      $probeQa,
      pxa AS (
        SELECT qa.qid, c.vec_id, qa.qnrm, c.nrm,
               unnest(qa.qv) AS qx, unnest(c.v) AS x
        FROM e c JOIN qa ON c.bucket = qa.qprobe),
      dotsa AS (
        SELECT qid, vec_id, qnrm, nrm,
               CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
        FROM pxa GROUP BY qid, vec_id, qnrm, nrm),
      sa AS (
        SELECT qid, vec_id,
               CAST(dot AS DOUBLE) /
                 sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
        FROM dotsa),
      ta AS (
        SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, vec_id) AS rn
          FROM sa) WHERE rn <= 10)
      SELECT te.qid,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
             CAST(SUM(CASE WHEN ta.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
      FROM te LEFT JOIN ta ON te.qid = ta.qid AND te.vec_id = ta.vec_id
      GROUP BY te.qid"""
  }

  /** Full Lloyd-trained IVF oracle (the training rounds unrolled in SQL),
    * parameterized by probe count and training rounds — shared by
    * `sim_ann_ivf_trained` (nProbe=3, iters=1) and the high-recall
    * `sim_ann_ivf_probe8` operating point (nProbe=8, iters=2).
    */
  private def ivfTrainedOracle(nProbe: Int, iters: Int = 1): String = {
    val rounds = (1 to iters).map(i =>
      s"${lloydAssignCte(i, s"c${i - 1}")},\n${lloydUpdateCte(i, s"c${i - 1}")}")
      .mkString(",\n")
    val fin = iters + 1 // final assignment under the trained codebook
    s"""
        WITH $vecNormCte,
        c0 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 16),
        $rounds,
        ${lloydAssignCte(fin, s"c$iters")},
        e AS (
          SELECT n.vec_id, n.v, n.nrm, a.cell
          FROM n JOIN cell$fin a ON n.vec_id = a.vec_id),
        qp AS (
          SELECT vec_id AS qid, cent_id AS qcell FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cent_id) AS rn
            FROM sc$fin WHERE vec_id < 8) WHERE rn <= $nProbe),
        q AS (
          SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 8),
        px AS (
          SELECT q.qid, c.vec_id, q.qnrm, c.nrm,
                 unnest(q.qv) AS qx, unnest(c.v) AS x
          FROM e c JOIN qp ON c.cell = qp.qcell JOIN q ON q.qid = qp.qid),
        dots AS (
          SELECT qid, vec_id, qnrm, nrm,
                 CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY qid, vec_id, qnrm, nrm),
        s AS (
          SELECT qid, vec_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
          FROM dots)
        ${topkTail(10)}"""
  }

  /** Shared CTE prefix for the LM-tercile family (`text_lm_buckets` +
    * `mix_lm_tiers`): the bigram-LM scores, per-language rank-convention
    * cutoffs, and the `tiers (doc_id, lang, sc, tier)` assignment.
    */
  private lazy val lmTierCtes: String = s"""
    WITH $toksCte,
    pr AS (
      SELECT doc_id, t[i] AS a, t[i+1] AS b
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
    uni AS (
      SELECT a, COUNT(*) AS ca
      FROM (SELECT unnest(t) AS a FROM toks) GROUP BY 1),
    voc AS (SELECT COUNT(*) AS vocab FROM uni),
    model AS (
      SELECT a, b,
             CAST(FLOOR(1e6 * CAST(cab + 1 AS DOUBLE) /
                  CAST(ca + vocab AS DOUBLE)) AS BIGINT) AS pq
      FROM (SELECT a, b, COUNT(*) AS cab FROM pr GROUP BY 1, 2)
      JOIN uni USING (a) CROSS JOIN voc),
    lms AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(pq) AS lm_score
      FROM pr JOIN model USING (a, b) GROUP BY 1),
    sc AS (
      SELECT d.doc_id, d.lang,
             CAST(FLOOR((CASE WHEN s.n_bigrams IS NOT NULL
                   THEN CAST(s.lm_score AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE)
                   ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS sc
      FROM documents d LEFT JOIN lms s USING (doc_id)),
    r AS (
      SELECT lang, sc,
             row_number() OVER (PARTITION BY lang ORDER BY sc) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM sc),
    cuts AS (
      SELECT lang, list_sort(list(sc)) AS cl
      FROM r JOIN (SELECT unnest(range(1, 3)) AS tt) ts
        ON r.rn = CEIL(r.n * (tt / 3.0))
      GROUP BY lang),
    tiers AS (
      SELECT s.doc_id, s.lang, s.sc,
             CAST(1 + len(list_filter(c.cl, x -> s.sc > x)) AS BIGINT) AS tier
      FROM sc s JOIN cuts c USING (lang))"""

  /** Shared CTE prefix for the quality-model family: tokenization →
    * gopher weak labels (`lab`) → hashed features → per-bucket class
    * counts → smoothed rate-contrast weights → per-doc raw score (`sc`);
    * [[qualityModelOracle]] appends the scoring tail and
    * `text_quality_model_eval` the confusion-matrix tail.
    */
  private lazy val qualityModelCtes: String = s"""
    WITH $toksCte,
    x AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY 1, 2),
    d AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * len(tok)) AS BIGINT) AS sum_len,
             CAST(MAX(c) AS BIGINT) AS max_cnt,
             CAST(SUM(CASE WHEN tok IN ('the','be','to','of','and',
               'that','have','with','a','in') THEN 1 ELSE 0 END)
               AS BIGINT) AS n_stop_distinct
      FROM tc GROUP BY 1),
    lab AS (
      SELECT doc_id,
             ((n_tokens >= 30 AND n_tokens <= 100000)
               AND (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
               AND (n_stop_distinct >= 2)
               AND (5 * max_cnt <= n_tokens)) AS pass
      FROM d),
    feat AS (
      SELECT doc_id, ('0x' || substring(md5(tok), 1, 4))::BIGINT % 1024 AS b
      FROM x),
    bc AS (
      SELECT b,
             CAST(SUM(CASE WHEN lab.pass THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
             CAST(SUM(CASE WHEN lab.pass THEN 0 ELSE 1 END) AS BIGINT) AS cneg
      FROM feat JOIN lab ON feat.doc_id = lab.doc_id GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(cpos) AS BIGINT) AS npos,
             CAST(SUM(cneg) AS BIGINT) AS nneg
      FROM bc),
    wt AS (
      SELECT b,
             CAST(FLOOR(1e6 * (
               CAST((cpos + 1) * (nneg + 1024)
                  - (cneg + 1) * (npos + 1024) AS DOUBLE) /
               CAST((cpos + 1) * (nneg + 1024)
                  + (cneg + 1) * (npos + 1024) AS DOUBLE))) AS BIGINT) AS w
      FROM bc CROSS JOIN tot),
    sc AS (
      SELECT f.doc_id, CAST(SUM(wt.w) AS BIGINT) AS raw
      FROM feat f JOIN wt ON f.b = wt.b GROUP BY 1)"""

  private lazy val qualityModelOracle = Some(s"""
    $qualityModelCtes
    SELECT d.doc_id, d.n_tokens, sc.raw,
           CAST(FLOOR(CAST(sc.raw AS DOUBLE) / CAST(d.n_tokens AS DOUBLE))
             AS BIGINT) AS score,
           (CAST(FLOOR(CAST(sc.raw AS DOUBLE) / CAST(d.n_tokens AS DOUBLE))
             AS BIGINT) > 0) AS model_pass
    FROM d JOIN sc ON d.doc_id = sc.doc_id""")

  /** [[qualityModelCtes]] extended with the CALIBRATED-gate tail: per-doc
    * (pass, score), the rank row rn = max(n − npos, 1), the score
    * histogram with running counts, and the cut value at ascending rank
    * rn (the Percentiles rank convention — `cum >= rn AND cum − cnt < rn`
    * picks the bin containing that rank). Ends with `scored` and `cutv`;
    * callers append the per-doc verdict or the confusion-matrix tail.
    */
  private lazy val qualityCalibratedCtes: String = s"""
    $qualityModelCtes,
    scored AS (
      SELECT d.doc_id, lab.pass,
             CAST(FLOOR(CAST(sc.raw AS DOUBLE) / CAST(d.n_tokens AS DOUBLE))
               AS BIGINT) AS score
      FROM d JOIN sc ON d.doc_id = sc.doc_id
           JOIN lab ON d.doc_id = lab.doc_id),
    rk AS (
      SELECT GREATEST(CAST(COUNT(*) AS BIGINT) -
               CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT),
             CAST(1 AS BIGINT)) AS rn
      FROM scored),
    hist AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY 1),
    cumh AS (
      SELECT score, cnt, CAST(SUM(cnt) OVER (ORDER BY score) AS BIGINT) AS cum
      FROM hist),
    cutv AS (
      SELECT score AS cut FROM cumh CROSS JOIN rk
      WHERE cum >= rn AND cum - cnt < rn)"""

  /** IVFADC CTE prefix (training + search fully unrolled): one Lloyd IVF
    * round (c0 → c1) + final assignment (cell2/sc2) + the 3-probe list,
    * then one PQ Lloyd round (cv → cv1) + final codes (pqbest2), the
    * per-query ADC distance table against cv1, and ADC distances
    * restricted to each query's probed cells — composes the
    * already-verified [[ivfTrainedOracle]] and PQ-trained CTE builders.
    * Ends with the `ad (qid, vec_id, dist)` CTE; callers append their
    * own tail (top-k or recall roll-up).
    */
  private def ivfPqCtes(nProbe: Int = 3, trainOnBase: Boolean = false,
      probeCtes: Option[String] = None): String = {
    // trainOnBase: BOTH training loops see only the base (vec_id < cut,
    // cut = 80% of max+1 — ids arrive in order, so the delta is the
    // tail), while the final assignments (cell2 / pqbest2) cover the
    // full corpus — the frozen-codebook append semantics. Seeds stay
    // `vec_id < 16`, which is inside the base whenever the corpus has
    // ≥20 vectors.
    val split = if (trainOnBase) s"""
    cutoff AS (SELECT ((MAX(vec_id) + 1) * 8) // 10 AS cut FROM embeddings),
    nb AS (SELECT n.* FROM n CROSS JOIN cutoff WHERE n.vec_id < cut),""" else ""
    val svSplit = if (trainOnBase) s"""
    svb AS (SELECT sv.* FROM sv CROSS JOIN cutoff WHERE sv.vec_id < cut),"""
    else ""
    val nSrc = if (trainOnBase) "nb" else "n"
    val svSrc = if (trainOnBase) "svb" else "sv"
    s"""
    WITH $vecNormCte,$split
    c0 AS (SELECT vec_id AS cent_id, v AS cv FROM $nSrc WHERE vec_id < 16),
    ${lloydAssignCte(1, "c0", nSrc)},
    ${lloydUpdateCte(1, "c0")},
    ${lloydAssignCte(2, "c1")},
    ${probeCtes.getOrElse(s"""qp AS (
      SELECT vec_id AS qid, cent_id AS qcell FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cent_id) AS rn
        FROM sc2 WHERE vec_id < 8) WHERE rn <= $nProbe)""")},
    $pqSvCvCte,$svSplit
    ${pqAssignCteN("1", "cv", svSrc)},
    ${pqUpdateCte("1", "pqbest1", "cv")},
    ${pqAssignCteN("2", "cv1")},
    adcodes AS (SELECT vec_id, sub, cent_id AS code FROM pqbest2 WHERE rn = 1),
    qq AS (SELECT vec_id AS qid, i, sx AS qx FROM sv WHERE vec_id < 8),
    tbl AS (
      SELECT qq.qid, c.i // 8 AS sub, c.cent_id AS code,
             CAST(SUM((qq.qx - c.cx) * (qq.qx - c.cx)) AS BIGINT) AS dsub
      FROM qq JOIN cv1 c ON qq.i = c.i
      GROUP BY 1, 2, 3),
    cand AS (
      SELECT qp.qid, a.vec_id FROM cell2 a JOIN qp ON a.cell = qp.qcell),
    ad AS (
      SELECT cand.qid, cand.vec_id, CAST(SUM(t.dsub) AS BIGINT) AS dist
      FROM cand JOIN adcodes ac ON ac.vec_id = cand.vec_id
      JOIN tbl t ON t.qid = cand.qid AND t.sub = ac.sub AND t.code = ac.code
      GROUP BY 1, 2)"""
  }

  /** Recall@10 roll-up appended after an [[ivfPqCtes]] chain: the ADC
    * top-10 (`ad`) against exact L2 over the full corpus (`sv`/`qq` are
    * always corpus-wide — recall is judged against ALL vectors even when
    * training saw only the base).
    */
  private def ivfPqRecallCtesFrom(src: String, exactJoin: String = "") = s"""
        approx AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM $src) WHERE rn <= 10),
        l2 AS (
          SELECT qq.qid, s.vec_id,
                 CAST(SUM((s.sx - qq.qx) * (s.sx - qq.qx)) AS BIGINT) AS dist
          FROM sv s JOIN qq ON s.i = qq.i
          $exactJoin
          GROUP BY 1, 2),
        exact AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM l2) WHERE rn <= 10)"""

  private def ivfPqRecallTailFrom(src: String, exactJoin: String = "") =
    ivfPqRecallCtesFrom(src, exactJoin) + """
        SELECT e.qid,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid"""

  private lazy val ivfPqRecallTail = ivfPqRecallTailFrom("ad")

  /** The two-stage CTE step: ADC shortlist (top-40 per query from `ad`)
    * re-ranked by exact L2 over ONLY the shortlisted vectors — the SQL
    * twin of [[graft.operators.Similarity.annIvfPqRerank]]'s funnel.
    */
  private val ivfPqRerankCtes = """
        short AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM ad) WHERE rn <= 40),
        l2r AS (
          SELECT sh.qid, sh.vec_id,
                 CAST(SUM((s.sx - qq.qx) * (s.sx - qq.qx)) AS BIGINT) AS dist
          FROM short sh
          JOIN sv s ON s.vec_id = sh.vec_id
          JOIN qq ON qq.qid = sh.qid AND qq.i = s.i
          GROUP BY 1, 2)"""

  /** Filter-adaptive probe block (replaces the fixed-nProbe `qp` inside
    * [[ivfPqCtes]]): per-cell ALLOWED counts from the final assignments,
    * every cell ranked per query, and qp = the minimal ranked prefix
    * whose cumulative allowed count reaches the re-rank shortlist —
    * never fewer than the baseline nProbe. The SQL twin of
    * [[graft.operators.Similarity.annIvfPqFilteredAdaptive]]'s rule.
    */
  private def ivfPqAdaptiveProbeCtes(
      lang: String = "de", nProbe: Int = 3, shortlist: Int = 40): String = s"""
    acnt AS (
      SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cell2 a JOIN documents dx
        ON dx.doc_id = a.vec_id AND dx.lang = '$lang'
      GROUP BY 1),
    qr AS (
      SELECT vec_id AS qid, cent_id AS qcell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cent_id) AS rn
      FROM sc2 WHERE vec_id < 8),
    qp AS (
      SELECT qid, qcell FROM (
        SELECT qr.qid, qr.qcell, qr.rn,
               COALESCE(SUM(acnt.cnt) OVER (PARTITION BY qr.qid
                 ORDER BY qr.rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS prior
        FROM qr LEFT JOIN acnt ON acnt.cell = qr.qcell)
      WHERE rn <= $nProbe OR prior < $shortlist)"""

  /** The filtered two-stage tail: ADC distances restricted to the
    * allowed set, shortlist, exact-L2 re-rank — appended after an
    * [[ivfPqCtes]] chain whose qp is the adaptive block above.
    */
  private def ivfPqFilteredRerankCtes(lang: String = "de"): String = s"""
        adf AS (
          SELECT ad.qid, ad.vec_id, ad.dist
          FROM ad JOIN documents d
            ON d.doc_id = ad.vec_id AND d.lang = '$lang'),
        shortf AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM adf) WHERE rn <= 40),
        l2rf AS (
          SELECT sh.qid, sh.vec_id,
                 CAST(SUM((s.sx - qq.qx) * (s.sx - qq.qx)) AS BIGINT) AS dist
          FROM shortf sh
          JOIN sv s ON s.vec_id = sh.vec_id
          JOIN qq ON qq.qid = sh.qid AND qq.i = s.i
          GROUP BY 1, 2)"""

  /** IVFADC top-k oracle — shared verbatim by `sim_ann_ivfpq` (in-plan
    * training) and `sim_ann_ivfpq_persisted` (codebooks loaded from
    * their parquet artifacts): the persisted path hash-matching the same
    * SQL proves the two-artifact write → load → search round trip is
    * lossless.
    */
  private lazy val ivfPqOracle = Some(s"""
    ${ivfPqCtes()}
    SELECT qid, vec_id, dist, rn FROM (
      SELECT qid, vec_id, dist,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dist, vec_id) AS rn
      FROM ad) WHERE rn <= 10""")

  /** Profiled lineitem columns and how each min/max renders to text on
    * BOTH engines (shared by the gov_profile_columns query builder and
    * its oracle — the Spark side applies the same rendering rule by
    * type in [[graft.operators.Governance.profileColumns]]).
    */
  private val profiledCols: Seq[(String, String => String)] = {
    val plain = (e: String) => s"CAST($e AS VARCHAR)"
    val dec = (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"
    val date = (e: String) => s"CAST(CAST($e AS DATE) AS VARCHAR)"
    Seq(
      "l_orderkey" -> plain, "l_partkey" -> plain, "l_suppkey" -> plain,
      "l_quantity" -> dec, "l_extendedprice" -> dec, "l_discount" -> dec,
      "l_returnflag" -> plain, "l_linestatus" -> plain,
      "l_shipdate" -> date)
  }

  /** Bitext-mining oracle CTE chain with a name suffix (so the recall
    * gauge can carry the exact AND blocked chains in one query).
    * Requires `n` (vecNormCte) in scope; blocked additionally requires
    * `bk` (lshBucketCte). Produces `pairs$sfx` (a_id, b_id, cos,
    * margin).
    */
  private def bitextCtes(
      sfx: String, blocked: Boolean, docsRel: String = "documents"): String = {
    val bkA = if (blocked) ", bk.bucket" else ""
    val bkJoin = if (blocked) "JOIN bk ON bk.vec_id = n.vec_id" else ""
    val cand =
      if (blocked) s"la$sfx JOIN lb$sfx ON la$sfx.bucket = lb$sfx.bucket"
      else s"la$sfx CROSS JOIN lb$sfx"
    s"""la$sfx AS (
          SELECT n.vec_id AS a_id, n.v AS av, n.nrm AS anrm$bkA
          FROM n JOIN $docsRel d ON d.doc_id = n.vec_id AND d.lang = 'en'
          $bkJoin),
        lb$sfx AS (
          SELECT n.vec_id AS b_id, n.v AS bv, n.nrm AS bnrm$bkA
          FROM n JOIN $docsRel d ON d.doc_id = n.vec_id AND d.lang = 'de'
          $bkJoin),
        px$sfx AS (
          SELECT a_id, b_id, anrm, bnrm, unnest(av) AS qx, unnest(bv) AS x
          FROM $cand),
        dots$sfx AS (
          SELECT a_id, b_id, anrm, bnrm,
                 CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px$sfx GROUP BY 1, 2, 3, 4),
        sc$sfx AS (
          SELECT a_id, b_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(anrm AS DOUBLE) * CAST(bnrm AS DOUBLE)) AS score
          FROM dots$sfx),
        ar$sfx AS (
          SELECT a_id, b_id, score,
                 row_number() OVER (PARTITION BY a_id
                                    ORDER BY score DESC, b_id) AS ra
          FROM sc$sfx),
        atop$sfx AS (
          SELECT a_id,
                 max(CASE WHEN ra = 1 THEN b_id END) AS b_id,
                 max(CASE WHEN ra = 1 THEN score END) AS cos,
                 max(CASE WHEN ra = 1 THEN score END)
                   - max(CASE WHEN ra = 2 THEN score END) AS margin
          FROM ar$sfx WHERE ra <= 2 GROUP BY 1),
        bbest$sfx AS (
          SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   row_number() OVER (PARTITION BY b_id
                                      ORDER BY score DESC, a_id) AS rb
            FROM sc$sfx)
          WHERE rb = 1),
        pairs$sfx AS (
          SELECT t.a_id, t.b_id, t.cos, t.margin
          FROM atop$sfx t
          JOIN bbest$sfx bb ON bb.a_id = t.a_id AND bb.b_id = t.b_id)"""
  }

  /** Shared oracle CTE tail for the entity-resolution cluster queries:
    * distinct entities, the brute-forced ≤2-edit pair graph, and its
    * transitive closure (the engine's SymSpell blocking + min-label CC
    * must land on the same fixpoint).
    */
  private val erGraphCte =
    """n AS (
          SELECT p_name AS name, min(p_partkey) AS ent_id, count(*) AS support
          FROM part GROUP BY 1),
        pairs AS (
          SELECT a.ent_id AS src, b.ent_id AS dst FROM n a JOIN n b
            ON a.name < b.name AND levenshtein(a.name, b.name) <= 2),
        edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        reach(src, node) AS (
          SELECT ent_id, ent_id FROM n
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)"""

  /** Oracle twin of [[graft.Dimensions.scd2Dim]]: same-day
    * collapse by `arg_max` over the unique order key, no-op-update
    * suppression by `lag` compare, effective dating by `lead` — the
    * exact window chain the engine runs, shared by the build and the
    * temporal-join oracles.
    */
  private val scd2VerCte = """
    ev AS (
      SELECT o_custkey AS custkey, o_orderdate AS eff_from,
             arg_max(o_orderpriority, o_orderkey) AS tier
      FROM orders GROUP BY 1, 2),
    chg AS (
      SELECT custkey, eff_from, tier,
             lag(tier) OVER (PARTITION BY custkey ORDER BY eff_from) AS prev
      FROM ev),
    ver AS (
      SELECT custkey,
             CAST(row_number() OVER w AS INT) AS version_no,
             tier, eff_from,
             lead(eff_from) OVER w AS eff_to
      FROM chg WHERE prev IS NULL OR prev <> tier
      WINDOW w AS (PARTITION BY custkey ORDER BY eff_from))"""

  val specs: Seq[QuerySpec] = Seq(

    // ---- deduplication -----------------------------------------------------
    // Exact dedup: one hash aggregate on the dedup key, deterministic
    // min-tiebreak winner per group.
    QuerySpec(
      "dedup_exact",
      (s, dir) => Dedup.exactDedup(events(s, dir)),
      Some("""
        SELECT user_id, event_type, min(event_id) AS event_id,
               arg_min(value, event_id) AS value
        FROM events GROUP BY user_id, event_type""")),

    // Canonical doc dedup: min-id keeper per content fingerprint.
    QuerySpec(
      "dedup_exact_docs",
      (s, dir) => Dedup.canonicalDocs(docs(s, dir)),
      Some("""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1""")),

    // MinHash signatures: shingle → k=8 hash minima, all scan-side.
    QuerySpec(
      "dedup_minhash_signatures",
      (s, dir) => Dedup.minhashSignatures(docs(s, dir)),
      Some(s"""
        WITH $minhashCte
        SELECT doc_id, j, minhash FROM mh""")),

    // LSH banding over the signatures → candidate pairs via per-bucket
    // equi-join (never all-pairs).
    QuerySpec(
      "dedup_minhash_pairs",
      (s, dir) => Dedup.minhashCandidatePairs(docs(s, dir)),
      Some(s"""
        WITH $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket_key = b.bucket_key
         AND a.doc_id < b.doc_id""")),

    // Leakage-guarded train/val/test split: the md5 coin lands on the
    // near-dup CLUSTER label, so a candidate pair can never straddle
    // splits — eval contamination by near-duplicates of training docs is
    // ruled out structurally (the failure mode of doc-keyed splits).
    // Rolled per (split, source) with doc/cluster counts, char volume,
    // and the manifest xor checksum.
    QuerySpec(
      "split_leakage_safe",
      (s, dir) => Dedup.leakageSafeSplit(docs(s, dir)),
      benchmark = false, // iterative clustering core, like dedup_clusters
      oracle = Some(s"""
        WITH RECURSIVE
        $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
        cl AS (SELECT src AS doc_id, min(node) AS cluster FROM reach GROUP BY src),
        asg AS (
          SELECT d.doc_id, d.source, d.n_chars, d.text, c.cluster,
                 ('0x' || substring(md5('split:' || CAST(c.cluster AS VARCHAR)),
                   1, 8))::BIGINT % 100 AS coin
            FROM documents d JOIN cl c ON d.doc_id = c.doc_id)
        SELECT CASE WHEN coin < 80 THEN 'train'
                    WHEN coin < 90 THEN 'val' ELSE 'test' END AS split,
               source, COUNT(*) AS n_docs,
               COUNT(DISTINCT cluster) AS n_clusters,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
          FROM asg GROUP BY 1, 2""")),

    // Lexical-vs-semantic decision diff: MinHash candidate pairs vs
    // embedding-cosine near-dup pairs, full-outer rolled into counts +
    // integer-bp coverage both ways — the gauge that says whether the
    // expensive semantic pass adds anything over the lexical blocker on
    // THIS corpus (doc_id ≡ vec_id here).
    QuerySpec(
      "dedup_decision_diff",
      (s, dir) => Dedup.decisionDiff(docs(s, dir), emb(s, dir)),
      benchmark = false, // both pair pipelines priced individually
      oracle = Some(s"""
        WITH $minhashCte,
        mbk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        lex AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM mbk a JOIN mbk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        $vecNormCte,
        $lshBucketCte,
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket
          FROM n JOIN bk ON n.vec_id = bk.vec_id),
        px AS (
          SELECT a.vec_id AS va_id, b.vec_id AS vb_id, a.nrm AS na, b.nrm AS nb,
                 unnest(a.v) AS xa, unnest(b.v) AS xb
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        dd AS (
          SELECT va_id, vb_id, na, nb,
                 CAST(SUM(CAST(FLOOR(xa*xb*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY va_id, vb_id, na, nb),
        sem AS (
          SELECT va_id AS doc_a, vb_id AS doc_b FROM dd
          WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35),
        u AS (
          SELECT CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS lx,
                 CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sm
          FROM lex l FULL OUTER JOIN sem s
            ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b),
        agg AS (
          SELECT CAST(SUM(lx) AS BIGINT) AS n_lexical,
                 CAST(SUM(sm) AS BIGINT) AS n_semantic,
                 CAST(SUM(CASE WHEN lx = 1 AND sm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
          FROM u)
        SELECT n_lexical, n_semantic, n_both,
               n_both * 10000 // nullif(n_lexical, 0) AS lexical_covered_bp,
               n_both * 10000 // nullif(n_semantic, 0) AS semantic_covered_bp
        FROM agg""")),

    // Cross-source contamination matrix: near-dup pair counts by ordered
    // (source, source) cell — which feeds copy each other vs themselves.
    QuerySpec(
      "dedup_cross_source_stats",
      (s, dir) => Dedup.crossSourceDupStats(docs(s, dir)),
      Some(s"""
        WITH $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        s AS (SELECT doc_id, source FROM documents)
        SELECT least(sa.source, sb.source) AS src_lo,
               greatest(sa.source, sb.source) AS src_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
        JOIN s sa ON pairs.doc_a = sa.doc_id
        JOIN s sb ON pairs.doc_b = sb.doc_id
        GROUP BY 1, 2""")),

    // Pairs -> clusters: connected components over the candidate-pair
    // graph (iterative min-label propagation; oracle walks the same graph
    // with a recursive CTE). Cluster id = min doc_id = the canonical
    // representative to keep.
    QuerySpec(
      "dedup_clusters",
      (s, dir) => Dedup.nearDupClusters(docs(s, dir)),
      benchmark = false, // iterative: wall time = propagation rounds, not throughput
      oracle = Some(s"""
        WITH RECURSIVE
        $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)
        SELECT src AS doc_id, min(node) AS cluster
        FROM reach GROUP BY src""")),

    // The curation decision: keep the best-quality doc per near-dup
    // cluster (bucketed-score max, min-id tiebreak) with multiplicity.
    QuerySpec(
      "dedup_canonical_near",
      (s, dir) => Dedup.nearDupCanonical(docs(s, dir)),
      benchmark = false, // same iterative clustering core as dedup_clusters
      oracle = Some(s"""
        WITH RECURSIVE
        $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
        labels AS (
          SELECT src AS doc_id, min(node) AS cluster
          FROM reach GROUP BY src),
        t AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents),
        q AS (
          SELECT doc_id,
                 COALESCE(CAST(FLOOR((
                   CAST(0.4 AS DOUBLE) *
                     (CAST(len(list_filter(toks, w -> w IN
                        ('the','a','and','of','to','in','is','it','on','for'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(least(len(toks), 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 ) * 1000 + 0.5) AS BIGINT), -1) AS qs
          FROM t),
        r AS (
          SELECT l.cluster, l.doc_id, q.qs,
                 row_number() OVER (PARTITION BY l.cluster
                                    ORDER BY q.qs DESC, l.doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY l.cluster) AS n_members
          FROM labels l JOIN q USING (doc_id))
        SELECT cluster, doc_id AS keeper, qs, n_members FROM r WHERE rn = 1""")),

    // Cluster quality metrics: size distribution of the near-dup
    // components — the dedup-pipeline health readout (how much of the
    // corpus is duplicated, at what multiplicity).
    QuerySpec(
      "dedup_cluster_sizes",
      (s, dir) => Dedup.nearDupClusters(docs(s, dir))
        .groupBy(col("cluster"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1),
      benchmark = false, // same iterative core as dedup_clusters
      oracle = Some(s"""
        WITH RECURSIVE
        $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
        labels AS (
          SELECT src AS doc_id, min(node) AS cluster
          FROM reach GROUP BY src)
        SELECT cluster, count(*) AS n_docs
        FROM labels GROUP BY cluster HAVING count(*) > 1""")),

    // 32-bit SimHash fingerprint, one constant-work pass per doc.
    QuerySpec(
      "dedup_simhash",
      (s, dir) => Dedup.simhash(docs(s, dir)),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 ('0x' || substring(md5(unnest(
                    string_split_regex(lower(trim(text)), '\s+'))), 1, 8))::BIGINT AS h
          FROM documents),
        b AS (
          SELECT doc_id, i,
                 CAST(SUM(((h >> i) & 1) * 2 - 1) AS BIGINT) AS s
          FROM w CROSS JOIN generate_series(0, 31) g(i)
          GROUP BY doc_id, i)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN CAST(2 ** i AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM b GROUP BY doc_id""")),

    // Train/eval decontamination: the 10% md5-coin slice is the "eval set",
    // the rest the training corpus; any training doc sharing a MinHash-LSH
    // bucket with an eval doc is a near-dup leak. Per-doc signatures are
    // corpus-independent, so the oracle buckets everything once and splits
    // by the same coin.
    QuerySpec(
      "decontaminate_near",
      // split form: buckets the corpus ONCE (checkpointed) instead of
      // running the signature pass per side — same results, half the scans
      (s, dir) => Dedup.decontaminateNearSplit(docs(s, dir)),
      Some(s"""
        WITH $minhashCte,
        coin AS (
          SELECT doc_id,
                 ('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS c
          FROM documents),
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2)
        SELECT DISTINCT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id
        FROM bk t JOIN coin ct ON t.doc_id = ct.doc_id AND ct.c >= 10
        JOIN bk e ON t.band = e.band AND t.bucket_key = e.bucket_key
        JOIN coin ce ON e.doc_id = ce.doc_id AND ce.c < 10""")),

    // Incremental delta-vs-index dedup: the daily-crawl shape — a 10%
    // coin-split delta checked against the standing corpus bucket index
    // via an explicitly SHUFFLE_HASH-hinted join (the index grows with
    // the corpus; broadcast is the wrong plan at production scale).
    QuerySpec(
      "dedup_incremental",
      (s, dir) => Dedup.incrementalDedup(docs(s, dir)),
      incrementalDedupOracle),

    // The persisted round trip of the same check: the standing index is
    // written as a parquet artifact, the delta is verdicted against the
    // LOADED artifact, and the delta's buckets are appended — the full
    // read-check-update loop a daily crawl runs. SAME oracle as
    // dedup_incremental: the hash-match proves the parquet round trip
    // loses nothing vs the in-plan split.
    QuerySpec(
      "dedup_incremental_persisted",
      (s, dir) => {
        val d = docs(s, dir)
        val coin = TextAnalysis.sampleCoin("inc")
        // deterministic scratch path per SF; the overwrite in
        // writeBucketIndex resets it, so reps stay idempotent
        val path = scratchPath("inc_index", dir)
        Dedup.writeBucketIndex(d.filter(coin >= 10), path)
        Dedup.incrementalDedupPersisted(d.filter(coin < 10), path)
      },
      incrementalDedupOracle),

    // The dedup index lifecycle closed, like the IVFADC twin: write the
    // base (coin >= 20), APPEND a daily batch (10-19) through the
    // read-check-update loop, COMPACT to one sorted file per band, then
    // verdict the final delta (coin < 10) against the compacted index.
    // Index content at check time = buckets of coin >= 10 exactly, so
    // this hash-matches the SAME oracle as dedup_incremental_persisted —
    // the proof that write → append → compact → check loses nothing.
    QuerySpec(
      "dedup_incremental_compacted",
      (s, dir) => {
        val d = docs(s, dir)
        val coin = TextAnalysis.sampleCoin("inc")
        val path = scratchPath("inc_compacted", dir)
        Dedup.writeBucketIndex(d.filter(coin >= 20), path)
        Dedup.incrementalDedupPersisted(
          d.filter(coin >= 10 && coin < 20), path) // appends batch buckets
        Dedup.compactBucketIndex(s, path)
        Dedup.incrementalDedupPersisted(d.filter(coin < 10), path,
          append = false)
      },
      benchmark = false, // full maintenance loop re-run each time, like
      // the persisted/appended/compacted ANN twins
      oracle = incrementalDedupOracle),

    // RTBF PURGE of the standing bucket index (r18): write the base
    // index (coin >= 10), purge every doc_id ≡ 3 (mod 7) — the staged
    // index rewrite — then verdict the delta (coin < 10) against what
    // remains, without appending. The oracle rebuilds the index over
    // base-minus-purged, so the hash proves a forgotten doc's buckets no
    // longer collide: a delta doc whose ONLY near-dup was purged now
    // verdicts clean, everything else is untouched.
    QuerySpec(
      "dedup_incremental_purged",
      (s, dir) => {
        val d = docs(s, dir)
        val coin = TextAnalysis.sampleCoin("inc")
        val path = scratchPath("inc_purged", dir)
        Dedup.writeBucketIndex(d.filter(coin >= 10), path)
        Dedup.purgeBucketIndex(s, path,
          d.select(col("doc_id")).where(col("doc_id") % 7 === 3))
        Dedup.incrementalDedupPersisted(d.filter(coin < 10), path,
          append = false)
      },
      benchmark = false, // full write → purge → check loop re-run each
      // time, like the other index-lifecycle twins
      oracle = Some(s"""
        WITH $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash)
                   AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        coin AS (
          SELECT doc_id,
                 ('0x' || substring(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS c
          FROM documents),
        idx AS (
          SELECT DISTINCT band, bucket_key
          FROM bk JOIN coin USING (doc_id)
          WHERE c >= 10 AND doc_id % 7 <> 3),
        hits AS (
          SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bucket_hits
          FROM bk JOIN coin USING (doc_id)
          JOIN idx ON bk.band = idx.band AND bk.bucket_key = idx.bucket_key
          WHERE coin.c < 10 GROUP BY bk.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(h.n_bucket_hits, 0) AS BIGINT) AS n_bucket_hits,
               (COALESCE(h.n_bucket_hits, 0) > 0) AS is_dup
        FROM documents d
        JOIN coin c ON d.doc_id = c.doc_id AND c.c < 10
        LEFT JOIN hits h ON d.doc_id = h.doc_id""")),

    // Exact n-gram-collision decontamination: the third triad member next
    // to MinHash (near-dup) and embedding (semantic) — train docs sharing
    // a VERBATIM 13-token window with an eval doc, the copied-sentence
    // case neither whole-doc check moves on. Same coin split; window
    // table computed once (checkpointed), eval side broadcast.
    QuerySpec(
      "decontaminate_ngram",
      (s, dir) => Dedup.decontaminateNgramSplit(docs(s, dir)),
      Some(ngramDecontOracle)),

    // The bloom-fronted variant of decontaminate_ngram: SAME oracle —
    // bloom false positives only admit rows the exact whash join then
    // rejects, so the hash-match proves the fast path drops nothing.
    QuerySpec(
      "decontaminate_ngram_bloom",
      (s, dir) => Dedup.decontaminateNgramBloom(docs(s, dir)),
      Some(ngramDecontOracle)),

    // Substring-level dedup: w-token window hashes at a stride; windows in
    // >= 2 distinct docs are duplicated; per-doc duplicated-window ratio.
    QuerySpec(
      "dedup_dup_windows",
      (s, dir) => Dedup.duplicatedWindowStats(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        pos AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, (len(t) - 16) // 4 + 1),
                   p -> ('0x' || substring(md5(array_to_string(
                          list_slice(t, p*4 + 1, p*4 + 16), ' ')), 1, 12))::BIGINT))
                   AS whash
          FROM toks WHERE len(t) >= 16),
        shared AS (
          SELECT whash FROM (
            SELECT whash, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY 1)
          WHERE nd >= 2),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_windows,
                 CAST(SUM(CASE WHEN whash IN (SELECT whash FROM shared)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
          FROM pos GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_windows,
               CASE WHEN COALESCE(a.n_windows, 0) > 0
                    THEN CAST(a.n_dup AS DOUBLE) / CAST(a.n_windows AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS dup_window_ratio
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""")),

    // Exact char-level verification behind the stride-hash signal (Lee
    // et al. discipline): per flagged pair, how many aligned windows are
    // character-identical (precision of the stride hash — catches
    // case-differing/hash-collision false positives) and how many raw
    // windows the pair truly shares at stride 1 (catches
    // stride-straddling misses). Pair-bounded work; DF cap 50.
    QuerySpec(
      "dedup_dup_windows_verified",
      (s, dir) => Dedup.dupWindowVerification(docs(s, dir)),
      Some("""
        WITH rt AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS rt
          FROM documents
          WHERE len(string_split_regex(trim(text), '\s+')) >= 16),
        pos AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, (len(rt) - 16) // 4 + 1),
                   p -> ('0x' || substring(md5(lower(array_to_string(
                          list_slice(rt, p*4 + 1, p*4 + 16), ' '))), 1, 12))
                          ::BIGINT)) AS whash,
                 unnest(list_transform(range(0, (len(rt) - 16) // 4 + 1),
                   p -> array_to_string(
                          list_slice(rt, p*4 + 1, p*4 + 16), ' '))) AS raw
          FROM rt),
        occ AS (SELECT DISTINCT doc_id, whash, raw FROM pos),
        flagged AS (
          SELECT whash FROM (
            SELECT whash, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY 1)
          WHERE nd >= 2 AND nd <= 50),
        pw AS (
          SELECT a.whash, a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.raw AS raw_a, b.raw AS raw_b
          FROM occ a JOIN occ b
            ON a.whash = b.whash AND a.doc_id < b.doc_id
          WHERE a.whash IN (SELECT whash FROM flagged)),
        fp AS (
          SELECT doc_a, doc_b, COUNT(DISTINCT whash) AS n_flagged,
                 COUNT(DISTINCT CASE WHEN raw_a = raw_b THEN whash END)
                   AS n_char_exact
          FROM pw GROUP BY 1, 2),
        ds AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM fp
            UNION ALL SELECT doc_b FROM fp)),
        s1raw AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, len(rt) - 16 + 1),
                   p -> array_to_string(
                          list_slice(rt, p + 1, p + 16), ' '))) AS rw
          FROM rt JOIN ds USING (doc_id)),
        s1 AS (SELECT DISTINCT doc_id, rw FROM s1raw),
        t1 AS (
          SELECT f.doc_a, f.doc_b, COUNT(DISTINCT x.rw) AS n_true_s1
          FROM fp f
          JOIN s1 x ON x.doc_id = f.doc_a
          JOIN s1 y ON y.doc_id = f.doc_b AND y.rw = x.rw
          GROUP BY 1, 2),
        t1m AS (SELECT doc_a, doc_b, n_true_s1 FROM t1)
        SELECT f.doc_a, f.doc_b, f.n_flagged, f.n_char_exact,
               COALESCE(t.n_true_s1, 0) AS n_true_s1,
               (10000 * f.n_char_exact) // f.n_flagged AS precision_bp
        FROM fp f LEFT JOIN t1m t USING (doc_a, doc_b)""")),

    // Passage-level exact dedup: non-overlapping 32-token passages, first
    // corpus-wide occurrence (by doc_id, window idx) survives; per-doc
    // surviving passage/token counts. One rank exchange keyed by passage.
    QuerySpec(
      "dedup_passages",
      (s, dir) => Dedup.passageDedup(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        np AS (
          SELECT doc_id, t,
                 greatest(1, (len(t) + 31) // 32) AS n_p
          FROM toks),
        p AS (
          SELECT doc_id, t, unnest(range(0, n_p)) AS widx FROM np),
        pp AS (
          SELECT doc_id, widx,
                 array_to_string(list_slice(t, widx*32 + 1, widx*32 + 32), ' ')
                   AS ptext,
                 len(list_slice(t, widx*32 + 1, widx*32 + 32)) AS ntok
          FROM p),
        r AS (
          SELECT doc_id, ntok,
                 row_number() OVER (PARTITION BY ptext ORDER BY doc_id, widx)
                   AS rn
          FROM pp)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_passages,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_dropped,
               CAST(SUM(CASE WHEN rn = 1 THEN ntok ELSE 0 END) AS BIGINT)
                 AS n_tokens_kept
        FROM r GROUP BY doc_id""")),

    // SimHash near-dup pairs: pigeonhole + multi-probe over 16-bit halves
    // (Hamming <= 3 leaves <= 1 flip in some half), exact-key x probe-key
    // equi-join, bit_count(xor) verify — all-pairs never materializes.
    QuerySpec(
      "dedup_simhash_pairs",
      (s, dir) => Dedup.simhashNearDupPairs(docs(s, dir)),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 ('0x' || substring(md5(unnest(
                    string_split_regex(lower(trim(text)), '\s+'))), 1, 8))::BIGINT AS h
          FROM documents),
        bsum AS (
          SELECT doc_id, i,
                 CAST(SUM(((h >> i) & 1) * 2 - 1) AS BIGINT) AS s
          FROM w CROSS JOIN generate_series(0, 31) g(i)
          GROUP BY doc_id, i),
        sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN CAST(2 ** i AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS simhash
          FROM bsum GROUP BY doc_id),
        ex AS (
          SELECT doc_id, simhash, half,
                 (simhash >> (16 * half)) & 65535 AS hv
          FROM sh CROSS JOIN generate_series(0, 1) g(half)),
        pr AS (
          SELECT doc_id, simhash, half,
                 xor(hv, CASE WHEN m = 0 THEN 0
                              ELSE CAST(2 ** (m - 1) AS BIGINT) END) AS hv
          FROM ex CROSS JOIN generate_series(0, 16) g(m)),
        cand AS (
          SELECT e.doc_id AS doc_a, p.doc_id AS doc_b,
                 CAST(bit_count(xor(e.simhash, p.simhash)) AS BIGINT) AS hamming
          FROM ex e JOIN pr p
            ON e.half = p.half AND e.hv = p.hv AND e.doc_id < p.doc_id)
        SELECT DISTINCT doc_a, doc_b, hamming
        FROM cand WHERE hamming <= 3""")),

    // N-gram Jaccard over shingle-sharing pairs (inverted-index blocking).
    // The oracle mirrors the operator's document-frequency cap (maxDf=100):
    // set sizes stay FULL, but intersections ignore corpus-common shingles.
    // benchmark=false: the Jaccard/containment siblings share their pair
    // core exactly, and the bench prices that core ONCE via the fused
    // dedup_ngram_pair_stats below — both siblings stay oracle-checked.
    QuerySpec(
      "dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $shingleCte,
        d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        hotsh AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) > 100),
        dc AS (SELECT doc_id, shingle FROM d
               WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        cm AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM dc a JOIN dc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) /
                 CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        FROM cm
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) /
                CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.05""")),

    // LSH quality gauge: MinHash-candidate pairs vs exact Jaccard >= 0.1
    // — the confusion matrix + integer-bp recall/precision that justifies
    // running the probabilistic blocker (the sim_recall_* contract
    // discipline applied to dedup). One shingle scan feeds both sides.
    QuerySpec(
      "dedup_minhash_eval",
      (s, dir) => Dedup.minhashEval(docs(s, dir)),
      benchmark = false, // re-runs the minhash + ngram pair cores priced elsewhere
      oracle = Some(s"""
        WITH $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        mpairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        hotsh AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) > 100),
        dc AS (SELECT doc_id, shingle FROM d
               WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        cm AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM dc a JOIN dc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jac AS (
          SELECT doc_a, doc_b,
                 CAST(n_common AS DOUBLE) /
                   CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
          FROM cm
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) /
                  CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.05),
        u AS (
          SELECT coalesce(j.jaccard, 0.0) AS j,
                 CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS p
          FROM jac j FULL OUTER JOIN mpairs m
            ON j.doc_a = m.doc_a AND j.doc_b = m.doc_b),
        agg AS (
          SELECT CAST(sum(CASE WHEN j >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                 CAST(sum(p) AS BIGINT) AS n_pred,
                 CAST(sum(CASE WHEN j >= 0.1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
                 CAST(sum(CASE WHEN j >= 0.1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
                 CAST(sum(CASE WHEN j < 0.1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
          FROM u)
        SELECT n_true, n_pred, n_tp, n_fn, n_fp,
               n_tp * 10000 // nullif(n_true, 0) AS recall_bp,
               n_tp * 10000 // nullif(n_pred, 0) AS precision_bp
        FROM agg""")),

    // Asymmetric containment over the same blocked pairs: catches the
    // small-doc-inside-large-doc (quote/boilerplate) case Jaccard scores
    // low. Shares the inverted-index core and DF cap with the Jaccard op.
    // benchmark=false: priced once via dedup_ngram_pair_stats (see above).
    QuerySpec(
      "dedup_ngram_containment",
      (s, dir) => Dedup.ngramContainmentPairs(docs(s, dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $shingleCte,
        d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        hotsh AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) > 100),
        dc AS (SELECT doc_id, shingle FROM d
               WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        cm AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM dc a JOIN dc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
               CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b
        FROM cm
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE greatest(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE),
                       CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.5""")),

    // Fused Jaccard + containment: both measures from ONE pair-count pass
    // (the siblings above recompute the identical inverted-index core; at
    // 100 TB that is a full corpus shingle pass bought twice for three
    // ratio columns). A pair survives if EITHER measure flags it.
    QuerySpec(
      "dedup_ngram_pair_stats",
      (s, dir) => Dedup.ngramPairStats(docs(s, dir)),
      Some(s"""
        WITH $shingleCte,
        d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        hotsh AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) > 100),
        dc AS (SELECT doc_id, shingle FROM d
               WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        cm AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM dc a JOIN dc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        r AS (
          SELECT doc_a, doc_b, n_common,
                 CAST(n_common AS DOUBLE) /
                   CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard,
                 CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
                 CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b
          FROM cm
          JOIN sz sa ON sa.doc_id = doc_a
          JOIN sz sb ON sb.doc_id = doc_b)
        SELECT doc_a, doc_b, n_common, jaccard, containment_a, containment_b
        FROM r
        WHERE jaccard >= 0.05
           OR greatest(containment_a, containment_b) >= 0.5""")),

    // ---- similarity search -------------------------------------------------
    // Margin-based bitext mining (CCMatrix/LASER): mutual-best
    // cross-lingual pairs with the absolute margin over the runner-up —
    // the translation-pair construction step for multilingual training
    // data. Scored once through the codegen'd exact cosine.
    QuerySpec(
      "sim_bitext_mine",
      (s, dir) => Similarity.bitextMine(docs(s, dir), emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        ${bitextCtes("", blocked = false)}
        SELECT a_id, b_id, cos, margin FROM pairs""")),

    // The deployment shape: the same mutual+margin scorer behind the
    // sign-LSH blocker (same-bucket cross-lingual candidates only —
    // the equi-join replaces the all-pairs scoring at corpus scale).
    QuerySpec(
      "sim_bitext_mine_blocked",
      (s, dir) => Similarity.bitextMineBlocked(docs(s, dir), emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        ${bitextCtes("", blocked = true)}
        SELECT a_id, b_id, cos, margin FROM pairs""")),

    // Bitext blocking gauge: exact vs blocked pair overlap, recall in
    // integer bp — the contract that prices the blocker's bucket width.
    QuerySpec(
      "sim_bitext_recall",
      (s, dir) => Similarity.bitextRecall(docs(s, dir), emb(s, dir)),
      benchmark = false, // re-runs both miners priced elsewhere
      oracle = Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        ${bitextCtes("e", blocked = false)},
        ${bitextCtes("b", blocked = true)},
        u AS (
          SELECT CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
                 CASE WHEN b.a_id IS NOT NULL THEN 1 ELSE 0 END AS bl
          FROM pairse e FULL OUTER JOIN pairsb b
            ON e.a_id = b.a_id AND e.b_id = b.b_id),
        agg AS (
          SELECT CAST(SUM(ex) AS BIGINT) AS n_exact,
                 CAST(SUM(bl) AS BIGINT) AS n_blocked,
                 CAST(SUM(CASE WHEN ex = 1 AND bl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
          FROM u)
        SELECT n_exact, n_blocked, n_common,
               n_common * 10000 // nullif(n_exact, 0) AS recall_bp
        FROM agg""")),

    // The SAME gauge over the planted-geometry corpus — the accept-path
    // verdict the near-random harness corpus can never produce: 8
    // translation pairs planted at cos ≈ 0.999 inside clusters that
    // provably co-bucket (margin-checked bases), so blocked recall is
    // 10000 bp unless the blocker breaks. One gauge, both verdicts,
    // both hash-matched (the oracle is pure generated VALUES — no
    // parquet at all).
    QuerySpec(
      "sim_bitext_recall_planted",
      (s, dir) => Similarity.bitextRecall(
        PlantedFixture.docsDf(s), PlantedFixture.embDf(s)),
      benchmark = false, // gauge twin of sim_bitext_recall (fixture-sized)
      oracle = Some(s"""
        WITH $plantedNormCte,
        ${PlantedFixture.docsSql},
        $lshBucketCte,
        ${bitextCtes("e", blocked = false, docsRel = "docs_pf")},
        ${bitextCtes("b", blocked = true, docsRel = "docs_pf")},
        u AS (
          SELECT CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS ex,
                 CASE WHEN b.a_id IS NOT NULL THEN 1 ELSE 0 END AS bl
          FROM pairse e FULL OUTER JOIN pairsb b
            ON e.a_id = b.a_id AND e.b_id = b.b_id),
        agg AS (
          SELECT CAST(SUM(ex) AS BIGINT) AS n_exact,
                 CAST(SUM(bl) AS BIGINT) AS n_blocked,
                 CAST(SUM(CASE WHEN ex = 1 AND bl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
          FROM u)
        SELECT n_exact, n_blocked, n_common,
               n_common * 10000 // nullif(n_exact, 0) AS recall_bp
        FROM agg""")),

    // Brute-force cosine top-k: broadcast query set, one corpus scan,
    // WindowGroupLimit prunes to k per query pre-shuffle.
    QuerySpec(
      "sim_cosine_topk",
      (s, dir) => Similarity.cosineTopK(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 8),
        px AS (
          SELECT q.qid, c.vec_id, q.qnrm, c.nrm,
                 unnest(q.qv) AS qx, unnest(c.v) AS x
          FROM n c CROSS JOIN q),
        dots AS (
          SELECT qid, vec_id, qnrm, nrm,
                 CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY qid, vec_id, qnrm, nrm),
        s AS (
          SELECT qid, vec_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
          FROM dots)
        ${topkTail(10)}""")),

    // Sign-LSH-bucketed ANN: queries probe only their own bucket.
    QuerySpec(
      "sim_ann_lsh",
      (s, dir) => Similarity.annLsh(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket
          FROM n JOIN bk ON n.vec_id = bk.vec_id),
        q AS (
          SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket AS qbucket
          FROM e WHERE vec_id < 8),
        px AS (
          SELECT q.qid, c.vec_id, q.qnrm, c.nrm,
                 unnest(q.qv) AS qx, unnest(c.v) AS x
          FROM e c JOIN q ON c.bucket = q.qbucket),
        dots AS (
          SELECT qid, vec_id, qnrm, nrm,
                 CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY qid, vec_id, qnrm, nrm),
        s AS (
          SELECT qid, vec_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
          FROM dots)
        ${topkTail(10)}""")),

    // Multi-probe LSH: query probes its bucket + all Hamming-1 neighbours.
    QuerySpec(
      "sim_ann_lsh_multiprobe",
      (s, dir) => Similarity.annLshMultiProbe(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket
          FROM n JOIN bk ON n.vec_id = bk.vec_id),
        q AS (
          SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
                 xor(bucket, m) AS probe
          FROM e CROSS JOIN (
            SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT) AS m)
          WHERE vec_id < 8),
        px AS (
          SELECT q.qid, c.vec_id, q.qnrm, c.nrm,
                 unnest(q.qv) AS qx, unnest(c.v) AS x
          FROM e c JOIN q ON c.bucket = q.probe),
        dots AS (
          SELECT qid, vec_id, qnrm, nrm,
                 CAST(SUM(CAST(FLOOR(qx*x*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY qid, vec_id, qnrm, nrm),
        s AS (
          SELECT qid, vec_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(qnrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS score
          FROM dots)
        ${topkTail(10)}""")),

    // ANN recall contracts: per-query recall@10 of the LSH index vs the
    // exact brute force, oracle-checked — an index change that silently
    // costs recall becomes a hash mismatch (sketch-bound discipline).
    // benchmark=false: each contract re-runs the exact AND approx top-k
    // pipelines that are already benchmarked individually — including
    // them in the headline would double-count both.
    QuerySpec(
      "sim_recall_lsh",
      (s, dir) => Similarity.annRecall(emb(s, dir)),
      Some(recallOracleSql(multiProbe = false)),
      benchmark = false),
    QuerySpec(
      "sim_recall_lsh_probe",
      (s, dir) => Similarity.annRecall(emb(s, dir), multiProbe = true),
      Some(recallOracleSql(multiProbe = true)),
      benchmark = false),
    // The LSH recall contract over the planted-geometry corpus: 12-member
    // clusters co-bucket by construction and each query's exact top-10 is
    // entirely intra-cluster, so recall@10 is exactly 1.0 per query —
    // the accept verdict, hash-matched through the IDENTICAL oracle SQL
    // as sim_recall_lsh with only the `v` source swapped to the fixture.
    QuerySpec(
      "sim_recall_lsh_planted",
      (s, dir) => Similarity.annRecall(PlantedFixture.embDf(s)),
      Some(recallOracleSql(multiProbe = false, vCte = plantedNormCte)),
      benchmark = false),
    // The IVF recall contract's accept verdict on the planted corpus:
    // the first-16 Lloyd seed is members 0 and 1 of every cluster (two
    // near-identical centroids per cluster), assignment keeps clusters
    // whole, and every query's probe list covers its own cluster's
    // cells — recall@10 = 1.0 per query; identical unrolled-training
    // oracle SQL as sim_recall_ivf with only the `v` source swapped.
    QuerySpec(
      "sim_recall_ivf_planted",
      (s, dir) => Similarity.annRecallIvf(
        PlantedFixture.embDf(s), iters = 1, nProbe = 3),
      Some(ivfRecallOracleSql(nProbe = 3, iters = 1, vCte = plantedNormCte)),
      benchmark = false),
    // The high-recall IVF operating point's contract: probe8 over the
    // 2-round Lloyd codebook vs exact brute force.
    QuerySpec(
      "sim_recall_ivf_probe8",
      (s, dir) => Similarity.annRecallIvf(emb(s, dir), iters = 2, nProbe = 8),
      Some(ivfRecallOracleSql(nProbe = 8, iters = 2)),
      benchmark = false),
    // And the cheap operating point (probe3, 1 round): registering both
    // ends makes the recall/cost knob's effect a gate-checked curve, not
    // a tuning anecdote.
    QuerySpec(
      "sim_recall_ivf",
      (s, dir) => Similarity.annRecallIvf(emb(s, dir), iters = 1, nProbe = 3),
      Some(ivfRecallOracleSql(nProbe = 3, iters = 1)),
      benchmark = false),

    // IVF ANN: deterministic coarse quantizer (first-16 centroids),
    // single-probe search in the query's own cell.
    QuerySpec(
      "sim_ann_ivf",
      (s, dir) => Similarity.annIvf(emb(s, dir)),
      simAnnIvfOracle),

    // Product quantization: m=8 subspaces x 16-entry codebooks (first-16
    // deterministic stand-in), exact scaled-long L2 distances -> argmin
    // codes + summed reconstruction error, all BIGINT (no IEEE
    // accumulation anywhere). The oracle replays the same distances via
    // an unnest join and pivots the per-subspace winners.
    QuerySpec(
      "emb_pq_codes",
      (s, dir) => Similarity.pqCodes(emb(s, dir)),
      Some(s"""
        WITH $pqSvCvCte,
        $pqAssignCte
        SELECT vec_id,
               MAX(CASE WHEN sub = 0 THEN cent_id END) AS code_0,
               MAX(CASE WHEN sub = 1 THEN cent_id END) AS code_1,
               MAX(CASE WHEN sub = 2 THEN cent_id END) AS code_2,
               MAX(CASE WHEN sub = 3 THEN cent_id END) AS code_3,
               MAX(CASE WHEN sub = 4 THEN cent_id END) AS code_4,
               MAX(CASE WHEN sub = 5 THEN cent_id END) AS code_5,
               MAX(CASE WHEN sub = 6 THEN cent_id END) AS code_6,
               MAX(CASE WHEN sub = 7 THEN cent_id END) AS code_7,
               CAST(SUM(dd) AS BIGINT) AS err
        FROM pqbest WHERE rn = 1 GROUP BY vec_id""")),

    // Lloyd-trained PQ: one deterministic k-means round per subspace from
    // the first-16 seed (assign -> exact-mean update -> re-assign), the
    // oracle unrolling the round verbatim. PQSpec pins total
    // reconstruction error strictly below the untrained seed's.
    QuerySpec(
      "emb_pq_codes_trained",
      (s, dir) => Similarity.pqCodesTrained(emb(s, dir)),
      benchmark = false, // iterative: every run re-trains the sub-codebooks
      // (driver-looped rounds, the sim_ann_ivf_trained precedent)
      oracle = Some(s"""
        WITH $pqSvCvCte,
        ${pqAssignCteN("1", "cv")},
        ${pqUpdateCte("1", "pqbest1", "cv")},
        ${pqAssignCteN("2", "cv1")}
        SELECT vec_id,
               MAX(CASE WHEN sub = 0 THEN cent_id END) AS code_0,
               MAX(CASE WHEN sub = 1 THEN cent_id END) AS code_1,
               MAX(CASE WHEN sub = 2 THEN cent_id END) AS code_2,
               MAX(CASE WHEN sub = 3 THEN cent_id END) AS code_3,
               MAX(CASE WHEN sub = 4 THEN cent_id END) AS code_4,
               MAX(CASE WHEN sub = 5 THEN cent_id END) AS code_5,
               MAX(CASE WHEN sub = 6 THEN cent_id END) AS code_6,
               MAX(CASE WHEN sub = 7 THEN cent_id END) AS code_7,
               CAST(SUM(dd) AS BIGINT) AS err
        FROM pqbest2 WHERE rn = 1 GROUP BY vec_id""")),

    // Exact L2 top-k over scaled-long components — the metric-matched
    // baseline for the PQ search path (exact BIGINT distances, no IEEE
    // accumulation anywhere).
    QuerySpec(
      "sim_l2_topk",
      (s, dir) => Similarity.l2TopK(emb(s, dir)),
      Some(s"""
        WITH $pqSvCvCte,
        q AS (SELECT vec_id AS qid, i, sx AS qx FROM sv WHERE vec_id < 8),
        l2 AS (
          SELECT q.qid, s.vec_id,
                 CAST(SUM((s.sx - q.qx) * (s.sx - q.qx)) AS BIGINT) AS dist
          FROM sv s JOIN q ON s.i = q.i
          GROUP BY 1, 2)
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM l2) WHERE rn <= 10""")),

    // PQ asymmetric-distance search (ADC): exact query vs code-byte
    // corpus through the per-query distance table — the memory-bound
    // scan shape PQ exists for. Exact BIGINT distances end-to-end.
    QuerySpec(
      "sim_ann_pq_adc",
      (s, dir) => Similarity.annPqAdc(emb(s, dir)),
      Some(s"""
        WITH $pqSvCvCte,
        $pqAssignCte,
        ${pqAdcCteN("", "pqbest", "cv")}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad) WHERE rn <= 10""")),

    // The PQ recall contract, judged against exact L2 (the metric PQ
    // quantizes): approximation quality is a gate-checked number, not a
    // footnote — same discipline as the LSH/IVF recall queries.
    QuerySpec(
      "sim_recall_pq",
      (s, dir) => Similarity.annRecallPq(emb(s, dir)),
      benchmark = false, // contract query: re-runs the already-priced
      // l2/adc pipelines to compare them
      oracle = Some(s"""
        WITH $pqSvCvCte,
        $pqAssignCte,
        ${pqAdcCteN("", "pqbest", "cv")},
        approx AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM ad) WHERE rn <= 10),
        l2 AS (
          SELECT q.qid, s.vec_id,
                 CAST(SUM((s.sx - q.qx) * (s.sx - q.qx)) AS BIGINT) AS dist
          FROM sv s JOIN q ON s.i = q.i
          GROUP BY 1, 2),
        exact AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM l2) WHERE rn <= 10)
        SELECT e.qid,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid""")),

    // The trained-PQ recall contract — the second operating point of the
    // PQ recall/compression curve (IVF trained/untrained precedent): the
    // Lloyd round's effect on search quality is a gate-checked number.
    QuerySpec(
      "sim_recall_pq_trained",
      (s, dir) => Similarity.annRecallPqTrained(emb(s, dir)),
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        WITH $pqSvCvCte,
        ${pqAssignCteN("1", "cv")},
        ${pqUpdateCte("1", "pqbest1", "cv")},
        ${pqAssignCteN("2", "cv1")},
        ${pqAdcCteN("2", "pqbest2", "cv1")},
        approx AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM ad2) WHERE rn <= 10),
        l2 AS (
          SELECT q2.qid, s.vec_id,
                 CAST(SUM((s.sx - q2.qx) * (s.sx - q2.qx)) AS BIGINT) AS dist
          FROM sv s JOIN q2 ON s.i = q2.i
          GROUP BY 1, 2),
        exact AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, vec_id) AS rn
            FROM l2) WHERE rn <= 10)
        SELECT e.qid,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM exact e LEFT JOIN approx a
          ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY e.qid""")),

    // The persisted round trip of the same search: the cell assignment is
    // written as the standing parquet cluster index, then single-probe
    // search runs against the LOADED artifact. SAME oracle as sim_ann_ivf
    // — the hash-match proves write -> load -> search loses nothing.
    QuerySpec(
      "sim_ann_ivf_persisted",
      (s, dir) => {
        val e = emb(s, dir)
        val path = scratchPath("ivf_index", dir)
        Similarity.writeIvfCells(e, path)
        Similarity.annIvfPersisted(e, path)
      },
      simAnnIvfOracle),

    // IVF over a Lloyd-TRAINED codebook: one deterministic k-means round
    // (exact scaled-long update means the codebook is a pure function of
    // the corpus), then 3-probe search (training balances cells; the
    // extra probes buy the recall back) — the oracle re-runs the whole
    // training loop in SQL, unrolled.
    QuerySpec(
      "sim_ann_ivf_trained",
      (s, dir) => Similarity.annIvfTrained(emb(s, dir)),
      benchmark = false, // iterative: every run re-trains the codebook (driver-looped
      // Lloyd jobs, like the dedup_clusters fixpoint); production trains once and
      // amortizes — sim_ann_ivf is the benchmarked single-shot ANN representative
      oracle = Some(ivfTrainedOracle(nProbe = 3))),

    // The high-recall IVF operating point from the IVF recall grid
    // (SURVEY §8.7): two training rounds + 8 of 16 cells probed reaches
    // recall@10 = 0.95 (vs 0.825 at the iters=1/nProbe=3 default on the
    // same grid), with candidate volume still the nProbe/nCells = 1/2
    // corpus fraction —
    // the knob a production corpus turns when the similarity consumer
    // needs ≥0.95 recall. Plan shape identical to _trained.
    QuerySpec(
      "sim_ann_ivf_probe8",
      (s, dir) => Similarity.annIvfTrained(emb(s, dir), iters = 2, nProbe = 8),
      benchmark = false, // same driver-looped Lloyd training as _trained
      oracle = Some(ivfTrainedOracle(nProbe = 8, iters = 2))),

    // IVFADC — the composed billion-scale index: trained IVF coarse
    // quantizer prunes to 3 of 16 cells, trained-PQ asymmetric distances
    // rank only those members. Oracle unrolls BOTH training loops + the
    // composed search in SQL.
    QuerySpec(
      "sim_ann_ivfpq",
      (s, dir) => Similarity.annIvfPq(emb(s, dir)),
      benchmark = false, // iterative: re-trains both codebooks per run
      // (driver-looped Lloyd, the sim_ann_ivf_trained precedent);
      // production trains once — sim_ann_ivfpq_persisted is that shape,
      // and sim_ann_pq_adc remains the benchmarked ADC representative
      oracle = ivfPqOracle),

    // The persisted round trip of the same search: BOTH codebooks written
    // as parquet artifacts, then search runs against the LOADED metadata.
    // SAME oracle as sim_ann_ivfpq — the hash-match proves the
    // two-artifact write -> load -> search round trip loses nothing.
    QuerySpec(
      "sim_ann_ivfpq_persisted",
      (s, dir) => {
        val e = emb(s, dir)
        val path = scratchPath("ivfpq_index", dir)
        Similarity.writeIvfPqIndex(e, path)
        Similarity.annIvfPqPersisted(e, path)
      },
      benchmark = false, // the builder re-trains + rewrites the artifacts
      // each invocation so the round trip is always exercised fresh
      oracle = ivfPqOracle),

    // The grid-selected IVFADC operating point (SURVEY §8.12, sf0.01):
    // nProbe=2 reaches recall@10 = 0.45 vs the default nProbe=3's 0.388
    // AND the full-corpus trained-ADC ceiling's 0.425 — on structure-free
    // embeddings the coarse shortlist filters PQ quantization-noise false
    // positives, so FEWER probes rank better at 1/8 the candidate volume.
    QuerySpec(
      "sim_ann_ivfpq_probe2",
      (s, dir) => Similarity.annIvfPq(emb(s, dir), nProbe = 2),
      benchmark = false, // same re-trained pipeline as sim_ann_ivfpq
      oracle = Some(s"""
        ${ivfPqCtes(nProbe = 2)}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad) WHERE rn <= 10""")),

    // Incremental ANN maintenance: train the IVFADC codebooks on the
    // BASE 80% (ids arrive in order — the delta is the tail), persist
    // codebooks + assigned postings, APPEND the delta's postings against
    // the FROZEN codebooks (zero retraining — the thing IVF exists to
    // avoid), then search the union from the artifact. The oracle trains
    // on the base and assigns the full corpus — identical by
    // construction because assignment is a pure per-row function of the
    // frozen codebooks; the hash-match proves the append round trip.
    QuerySpec(
      "sim_ann_ivfpq_appended",
      (s, dir) => {
        val e = emb(s, dir)
        val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) * 8L / 10L
        val path = scratchPath("ivfpq_appended", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= cut), path)
        Similarity.annIvfPqAppended(e, path)
      },
      benchmark = false, // re-trains + rewrites + re-appends each run so
      // the full maintenance loop is always exercised fresh
      oracle = Some(s"""
        ${ivfPqCtes(trainOnBase = true)}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad) WHERE rn <= 10""")),

    // The full index LIFECYCLE closed: train on the base 80%, persist,
    // append the delta as TWO batches (each touched cell now holds 3
    // file fragments), COMPACT to one sorted file per cell, search.
    // Row set is untouched by compaction, so this hash-matches the SAME
    // oracle as sim_ann_ivfpq_appended — the proof that train → persist
    // → append → compact → search loses nothing; PlanSpec pins that the
    // compacted search still partition-prunes to the probed cells and
    // SimilaritySpec pins the one-file-per-cell layout.
    QuerySpec(
      "sim_ann_ivfpq_compacted",
      (s, dir) => {
        val e = emb(s, dir)
        val top = e.agg(max(col("vec_id"))).head.getLong(0) + 1L
        val (cut, mid) = (top * 8L / 10L, top * 9L / 10L)
        val path = scratchPath("ivfpq_compacted", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(
          e.filter(col("vec_id") >= cut && col("vec_id") < mid), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= mid), path)
        Similarity.compactIvfPqPostings(s, path)
        Similarity.annIvfPqAppended(e, path)
      },
      benchmark = false, // re-trains + rewrites + compacts each run so
      // the full maintenance loop is always exercised fresh
      oracle = Some(s"""
        ${ivfPqCtes(trainOnBase = true)}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad) WHERE rn <= 10""")),

    // RTBF PURGE of the persisted index (r18): train + persist the full
    // index, purge every vec_id ≡ 3 (mod 10) — the tombstone append —
    // then search the artifact. The oracle is the full-corpus IVFADC
    // chain with the purged ids dropped from the candidate table, so the
    // hash proves a purged id is never returned AND the survivors'
    // ranks re-close over the hole (codebooks are untouched — RTBF
    // removes rows, never retrains).
    QuerySpec(
      "sim_ann_ivfpq_purged",
      (s, dir) => {
        val e = emb(s, dir)
        val path = scratchPath("ivfpq_purged", dir)
        Similarity.writeIvfPqIndexFull(e, path)
        Similarity.purgeIvfPqPostings(s, path,
          e.select(col("vec_id")).where(col("vec_id") % 10 === 3))
        Similarity.annIvfPqAppended(e, path)
      },
      benchmark = false, // re-trains + rewrites + re-purges each run so
      // the full purge protocol is always exercised fresh
      oracle = Some(s"""
        ${ivfPqCtes()}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad WHERE vec_id % 10 <> 3) WHERE rn <= 10""")),

    // The purge made PHYSICAL: same chain plus the compact that rewrites
    // the postings without the tombstoned rows and retires the tombstone
    // set. SAME oracle as sim_ann_ivfpq_purged — the hash-match is the
    // proof that tombstone-then-compact ≡ logical purge (SimilaritySpec
    // additionally pins the artifact content against a
    // rebuild-from-surviving-rows index).
    QuerySpec(
      "sim_ann_ivfpq_purged_compacted",
      (s, dir) => {
        val e = emb(s, dir)
        val path = scratchPath("ivfpq_purged_c", dir)
        Similarity.writeIvfPqIndexFull(e, path)
        Similarity.purgeIvfPqPostings(s, path,
          e.select(col("vec_id")).where(col("vec_id") % 10 === 3))
        Similarity.compactIvfPqPostings(s, path)
        Similarity.annIvfPqAppended(e, path)
      },
      benchmark = false, // re-trains + rewrites + re-purges + compacts
      oracle = Some(s"""
        ${ivfPqCtes()}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad WHERE vec_id % 10 <> 3) WHERE rn <= 10""")),

    // The IVFADC recall contract vs exact L2: the composed index's
    // approximation cost (coarse pruning on top of PQ codes) as a
    // gate-checked number, per the recall-contract discipline.
    QuerySpec(
      "sim_recall_ivfpq",
      (s, dir) => Similarity.annRecallIvfPq(emb(s, dir)),
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        ${ivfPqCtes()},
        $ivfPqRecallTail""")),

    // The drift gauge of the appended index: recall@10 vs exact L2 AFTER
    // the frozen-codebook append — the number that says when quantization
    // drift warrants a retrain. Same base-trained CTEs as
    // sim_ann_ivfpq_appended, same recall roll-up as sim_recall_ivfpq.
    QuerySpec(
      "sim_recall_ivfpq_appended",
      (s, dir) => {
        val e = emb(s, dir)
        val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) * 8L / 10L
        val path = scratchPath("ivfpq_appended", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= cut), path)
        Similarity.annRecallIvfPqAppended(e, path)
      },
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        ${ivfPqCtes(trainOnBase = true)},
        $ivfPqRecallTail""")),

    // DRIFT-GATED REBUILD (r18) — the gauge turned into a DECISION, the
    // ANN twin of io_cdc_optimize_auto's cost gate: one row with the
    // appended index's overall recall in basis points (integer
    // arithmetic, so DuckDB replays the decision itself, not just the
    // gauge) and the action vs a 0.90 SLA floor. Quantized recall on
    // this corpus sits far below 9000 bp at every harness SF, so the
    // pinned action here is `rebuild`; the keep branch is pinned by
    // sim_ann_rebuild_kept's 2000 bp floor below.
    QuerySpec(
      "sim_ann_rebuild_decision",
      (s, dir) => {
        val e = emb(s, dir)
        val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) * 8L / 10L
        val path = scratchPath("ivfpq_rbd", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= cut), path)
        Similarity.annRebuildGateDecision(e, path, floorBp = 9000L)
      },
      benchmark = false, // re-trains + re-appends the fixture each run
      oracle = Some(s"""
        ${ivfPqCtes(trainOnBase = true)},
        ${ivfPqRecallCtesFrom("ad")},
        per AS (
          SELECT e.qid,
                 CAST(COUNT(*) AS BIGINT) AS n_exact,
                 CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hit
          FROM exact e LEFT JOIN approx a
            ON e.qid = a.qid AND e.vec_id = a.vec_id
          GROUP BY e.qid)
        SELECT CAST(SUM(n_exact) AS BIGINT) AS n_exact,
               CAST(SUM(n_hit) AS BIGINT) AS n_hit,
               CAST((SUM(n_hit) * 10000) // SUM(n_exact) AS BIGINT)
                 AS recall_bp,
               CAST(9000 AS BIGINT) AS floor_bp,
               CASE WHEN (SUM(n_hit) * 10000) // SUM(n_exact) < 9000
                    THEN 'rebuild' ELSE 'keep' END AS action
        FROM per""")),

    // The rebuild branch APPLIED: gauge says the appended index is below
    // the floor, so the gated call retrains BOTH codebooks on the
    // current corpus, re-encodes every vector, and swaps the staged
    // index in — after which the SAME serving read must be
    // indistinguishable from an index trained on the full corpus
    // in-plan. Oracle = the full-retrain IVFADC chain (ivfPqOracle),
    // NOT the base-trained one — the hash proves the gate fired AND the
    // swap actually replaced the drifted index (a keep, or a botched
    // swap, would still hash like the appended chain and fail here).
    QuerySpec(
      "sim_ann_rebuild_applied",
      (s, dir) => {
        val e = emb(s, dir)
        val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) * 8L / 10L
        val path = scratchPath("ivfpq_rba", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= cut), path)
        Similarity.annRebuildGated(e, path, floorBp = 9000L)
      },
      benchmark = false, // re-trains twice (fixture + gated rebuild)
      oracle = ivfPqOracle),

    // The keep branch APPLIED: a 0.20 floor sits below the measured
    // recall at every harness SF, so the gate must touch NOTHING — the
    // search hashes exactly like the frozen-codebook appended index
    // (same oracle as sim_ann_ivfpq_appended). A rebuild fired by
    // mistake would hash like the retrained chain and fail this pin.
    QuerySpec(
      "sim_ann_rebuild_kept",
      (s, dir) => {
        val e = emb(s, dir)
        val cut = (e.agg(max(col("vec_id"))).head.getLong(0) + 1L) * 8L / 10L
        val path = scratchPath("ivfpq_rbk", dir)
        Similarity.writeIvfPqIndexFull(e.filter(col("vec_id") < cut), path)
        Similarity.appendIvfPqPostings(e.filter(col("vec_id") >= cut), path)
        Similarity.annRebuildGated(e, path, floorBp = 2000L)
      },
      benchmark = false, // re-trains + re-appends the fixture each run
      oracle = Some(s"""
        ${ivfPqCtes(trainOnBase = true)}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM ad) WHERE rn <= 10""")),

    // Two-stage search (r15): ADC top-40 shortlist -> exact L2 re-rank
    // to top-10 — the standard recall fix for a quantized index.
    // Runs against the PERSISTED codebooks (ensureIvfPqIndex trains
    // once per process; setup prices the build separately in bench), so
    // the per-rep number is the production funnel cost: probed code
    // bytes -> 40 exact vectors per query -> k. Oracle = the unrolled
    // IVFADC chain + the shortlist re-rank CTEs.
    QuerySpec(
      "sim_ann_ivfpq_rerank",
      (s, dir) => Similarity.annIvfPqRerankPersisted(
        emb(s, dir), scratchPath("ivfpq_std", dir)),
      setup = Some((s, dir) => Similarity.ensureIvfPqIndex(
        emb(s, dir), scratchPath("ivfpq_std", dir))),
      benchmark = true,
      oracle = Some(s"""
        ${ivfPqCtes()},
        $ivfPqRerankCtes
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM l2r) WHERE rn <= 10""")),

    // FILTERED ANN (r15): "nearest neighbors among the German docs" —
    // the metadata predicate PRE-filters the posting table (semi-join on
    // vec_id) before any distance math, so top-k is exact over the
    // allowed subset; a post-filter would silently under-fill k. Oracle
    // = the unrolled IVFADC chain with the candidate set restricted by
    // the same documents join.
    QuerySpec(
      "sim_ann_ivfpq_filtered",
      (s, dir) => Similarity.annIvfPqFiltered(emb(s, dir), docs(s, dir)),
      benchmark = false, // same re-trained pipeline as sim_ann_ivfpq
      oracle = Some(s"""
        ${ivfPqCtes()},
        adf AS (
          SELECT ad.qid, ad.vec_id, ad.dist
          FROM ad JOIN documents d
            ON d.doc_id = ad.vec_id AND d.lang = 'de')
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM adf) WHERE rn <= 10""")),

    // The two-stage recall contract vs exact L2 — the lift the re-rank
    // leg buys over sim_recall_ivfpq's one-stage number (losses left:
    // coarse-probe misses + code mis-ranks past the 40-row shortlist).
    QuerySpec(
      "sim_recall_ivfpq_rerank",
      (s, dir) => Similarity.annRecallIvfPqRerank(emb(s, dir)),
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        ${ivfPqCtes()},
        $ivfPqRerankCtes,
        ${ivfPqRecallTailFrom("l2r")}""")),

    // Recall of FILTERED ANN vs the exact FILTERED L2 truth — the gauge
    // the r15 ledger left open: under a selective predicate the
    // coarse-probe loss differs from the unfiltered gauge's (a probed
    // cell can hold zero allowed members while the true allowed neighbor
    // sits unprobed), so the filtered path earns its own honest number.
    // Both sides restrict the CORPUS, never the query points.
    QuerySpec(
      "sim_recall_ivfpq_filtered",
      (s, dir) => Similarity.annRecallIvfPqFiltered(emb(s, dir), docs(s, dir)),
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        ${ivfPqCtes()},
        adf AS (
          SELECT ad.qid, ad.vec_id, ad.dist
          FROM ad JOIN documents d
            ON d.doc_id = ad.vec_id AND d.lang = 'de'),
        ${ivfPqRecallTailFrom("adf",
          "JOIN documents dd ON dd.doc_id = s.vec_id AND dd.lang = 'de'")}""")),

    // FILTERED ANN, filter-ADAPTIVE (r16): the fixed-probe filtered
    // search measured recall 0.51 because a selective predicate can
    // leave a query's nProbe closest cells with few or zero allowed
    // members. This variant widens the probe prefix per query until the
    // allowed candidates fill the re-rank shortlist (a deterministic
    // rule over the index's own per-cell allowed counts), then exact
    // re-ranks — exact over the probed allowed subset, same discipline
    // as the unfiltered two-stage. Oracle = the same unrolled chain with
    // the adaptive qp block and the filtered re-rank tail.
    QuerySpec(
      "sim_ann_ivfpq_filtered_adaptive",
      (s, dir) => Similarity.annIvfPqFilteredAdaptive(emb(s, dir), docs(s, dir)),
      benchmark = false, // contract query: proves the from-scratch chain
      // (train + assign + widen + re-rank) end-to-end; the BENCHED
      // representative is the _persisted variant below — production
      // searches a built index, it does not retrain codebooks per query
      // (the r16 verdict's perf_weak item)
      oracle = Some(s"""
        ${ivfPqCtes(probeCtes = Some(ivfPqAdaptiveProbeCtes()))},
        ${ivfPqFilteredRerankCtes()}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM l2rf) WHERE rn <= 10""")),

    // The SAME adaptive filtered search served from the PERSISTED full
    // index (r17, the benched production shape): stage-1 candidates and
    // the per-cell allowed counts both come from the cell-partitioned
    // posting artifact semi-joined to the predicate; nothing re-trains
    // or re-encodes the corpus per search. Assignment is a pure function
    // of the frozen codebooks, so the SAME oracle as the in-plan variant
    // hash-checks the full write → load → widen → re-rank round trip.
    QuerySpec(
      "sim_ann_ivfpq_filtered_adaptive_persisted",
      (s, dir) => Similarity.annIvfPqFilteredAdaptivePersisted(
        emb(s, dir), docs(s, dir), scratchPath("ivfpq_std", dir)),
      setup = Some((s, dir) => Similarity.ensureIvfPqIndex(
        emb(s, dir), scratchPath("ivfpq_std", dir))),
      benchmark = true, // per-rep cost = the widened funnel only:
      // counts aggregate + probed postings + shortlist re-rank
      oracle = Some(s"""
        ${ivfPqCtes(probeCtes = Some(ivfPqAdaptiveProbeCtes()))},
        ${ivfPqFilteredRerankCtes()}
        SELECT qid, vec_id, dist, rn FROM (
          SELECT qid, vec_id, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, vec_id) AS rn
          FROM l2rf) WHERE rn <= 10""")),

    // The adaptive filtered recall vs the exact FILTERED truth — the
    // lift widening + re-rank buys over sim_recall_ivfpq_filtered's
    // fixed-probe 0.51.
    QuerySpec(
      "sim_recall_ivfpq_filtered_adaptive",
      (s, dir) => Similarity.annRecallIvfPqFilteredAdaptive(
        emb(s, dir), docs(s, dir)),
      benchmark = false, // contract query over the re-trained pipeline
      oracle = Some(s"""
        ${ivfPqCtes(probeCtes = Some(ivfPqAdaptiveProbeCtes()))},
        ${ivfPqFilteredRerankCtes()},
        ${ivfPqRecallTailFrom("l2rf",
          "JOIN documents dd ON dd.doc_id = s.vec_id AND dd.lang = 'de'")}""")),

    // Embedding-cosine near-dup: LSH-bucket blocking + exact threshold.
    QuerySpec(
      "dedup_embedding_cosine",
      (s, dir) => Similarity.embeddingNearDupPairs(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket
          FROM n JOIN bk ON n.vec_id = bk.vec_id),
        px AS (
          SELECT a.vec_id AS va_id, b.vec_id AS vb_id, a.nrm AS na, b.nrm AS nb,
                 unnest(a.v) AS xa, unnest(b.v) AS xb
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        d AS (
          SELECT va_id, vb_id, na, nb,
                 CAST(SUM(CAST(FLOOR(xa*xb*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY va_id, vb_id, na, nb)
        SELECT va_id AS vec_a, vb_id AS vec_b,
               CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS score
        FROM d
        WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35""")),

    // Semantic decontamination: the embedding twin of decontaminate_near —
    // same md5-coin eval slice (over vec_id), leak = shared LSH bucket +
    // exact cosine over threshold. Catches the paraphrase the lexical
    // MinHash check misses.
    QuerySpec(
      "decontaminate_semantic",
      (s, dir) => Similarity.decontaminateSemantic(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $lshBucketCte,
        coin AS (
          SELECT vec_id,
                 ('0x' || substring(md5('s0:' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS c
          FROM embeddings),
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket, coin.c
          FROM n JOIN bk ON n.vec_id = bk.vec_id
          JOIN coin ON n.vec_id = coin.vec_id),
        px AS (
          SELECT t.vec_id AS train_vec_id, ev.vec_id AS eval_vec_id,
                 t.nrm AS na, ev.nrm AS nb,
                 unnest(t.v) AS xa, unnest(ev.v) AS xb
          FROM e t JOIN e ev ON t.bucket = ev.bucket
          WHERE t.c >= 10 AND ev.c < 10),
        d AS (
          SELECT train_vec_id, eval_vec_id, na, nb,
                 CAST(SUM(CAST(FLOOR(xa*xb*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY train_vec_id, eval_vec_id, na, nb)
        SELECT train_vec_id, eval_vec_id,
               CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS score
        FROM d
        WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35""")),

    // Semantic dedup end-to-end: embedding near-dup pairs -> connected
    // components -> cluster sizes; the embedding-space twin of the MinHash
    // cluster pipeline (same clustering core, different pair predicate).
    QuerySpec(
      "dedup_semantic_clusters",
      (s, dir) => Similarity.semanticClusters(emb(s, dir)),
      benchmark = false, // iterative: wall time = propagation rounds
      oracle = Some(s"""
        WITH RECURSIVE
        $vecNormCte,
        $lshBucketCte,
        e AS (
          SELECT n.vec_id, n.v, n.nrm, bk.bucket
          FROM n JOIN bk ON n.vec_id = bk.vec_id),
        px AS (
          SELECT a.vec_id AS va_id, b.vec_id AS vb_id, a.nrm AS na, b.nrm AS nb,
                 unnest(a.v) AS xa, unnest(b.v) AS xb
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        d AS (
          SELECT va_id, vb_id, na, nb,
                 CAST(SUM(CAST(FLOOR(xa*xb*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dot
          FROM px GROUP BY va_id, vb_id, na, nb),
        pairs AS (
          SELECT va_id AS doc_a, vb_id AS doc_b FROM d
          WHERE CAST(dot AS DOUBLE) /
                sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.node = ed.src)
        SELECT cluster, COUNT(*) AS n_members FROM (
          SELECT src AS doc_id, min(node) AS cluster
          FROM reach GROUP BY src)
        GROUP BY cluster""")),

    // Embedding hygiene: per-dim norm stats, the pre-ANN corpus QA pass.
    QuerySpec(
      "emb_norm_stats",
      (s, dir) => Similarity.normStats(emb(s, dir)),
      Some("""
        WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (
          SELECT len(v) AS dim,
                 COALESCE(CAST(list_sum(list_transform(v,
                      x -> CAST(FLOOR(x*x*1e6 + 0.5) AS BIGINT))) AS BIGINT), 0) AS nrm
          FROM v)
        SELECT dim, COUNT(*) AS n_vectors, MIN(nrm) AS min_nrm,
               MAX(nrm) AS max_nrm, CAST(SUM(nrm) AS BIGINT) AS sum_nrm,
               CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM n GROUP BY dim""")),

    // ---- text analysis -----------------------------------------------------
    QuerySpec(
      "text_quality",
      (s, dir) => TextAnalysis.qualityStats(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id,
                 len(toks) AS n_tokens,
                 length(text) AS n_chars,
                 len(list_filter(toks, w -> w IN
                   ('the','a','and','of','to','in','is','it','on','for'))) AS n_stop,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                 length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
          FROM t)
        SELECT doc_id, n_tokens, n_chars, n_stop, n_alpha, n_punct,
               CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
               CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio,
               CAST(0.4 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + CAST(0.3 AS DOUBLE) * (CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE))
                 + CAST(0.3 AS DOUBLE) *
                   (CAST(least(n_tokens, 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 AS quality_score
        FROM c""")),

    // Deterministic 10% sample: same slice on every engine and every run.
    QuerySpec(
      "sample_deterministic",
      (s, dir) => TextAnalysis.deterministicSample(docs(s, dir)),
      Some("""
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 10""")),

    // Char-3gram diversity: the compressibility-proxy quality signal
    // (low distinct ratio = character-level repetition the token stats
    // miss); exact integer basis points, scan-side only.
    QuerySpec(
      "text_compress_ratio",
      (s, dir) => TextAnalysis.compressRatio(docs(s, dir)),
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CAST(greatest(length(text) - 2, 0) AS BIGINT) AS n_grams,
                 CAST(CASE WHEN length(text) >= 3
                      THEN len(list_distinct(list_transform(
                             range(1, length(text) - 1),
                             i -> substring(text, CAST(i AS INT), 3))))
                      ELSE 0 END AS BIGINT) AS n_distinct
          FROM documents)
        SELECT doc_id, n_grams, n_distinct,
               CASE WHEN n_grams > 0
                    THEN n_distinct * 10000 // n_grams END AS diversity_bp
        FROM g""")),

    // Size-proportional (PPS Poisson) sample: inclusion probability
    // min(n_chars, 400)/400 on the md5 coin — keep big docs more often,
    // still a pure scan-side integer predicate.
    QuerySpec(
      "sample_weighted",
      (s, dir) => TextAnalysis.weightedSample(docs(s, dir)),
      Some("""
        SELECT doc_id, lang, n_chars AS w FROM documents
        WHERE ('0x' || substring(md5('w0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 400 < least(n_chars, 400)""")),

    // Stratified deterministic sample: per-language keep rates on the same
    // md5 coin — corpus rebalancing as a pure scan-side filter.
    QuerySpec(
      "sample_stratified",
      (s, dir) => TextAnalysis.stratifiedSample(docs(s, dir)),
      Some("""
        SELECT doc_id, lang FROM documents
        WHERE ('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 10 END""")),

    // BM25 top-k retrieval: log-free idf variant + floor-scaled-long
    // per-term scores (exact integer sums) so the ranking hash-matches;
    // tf columns are scan-side array folds, corpus stats one single-row
    // agg over the checkpointed projection. Oracle SQL is BUILT from the
    // same TextAnalysis.Bm25Queries list, so the engines can never score
    // different terms.
    QuerySpec(
      "text_bm25_topk",
      (s, dir) => TextAnalysis.bm25TopK(docs(s, dir)),
      Some(bm25Oracle)),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 list with the
    // rarity-weighted-tf list (RRF, kappa=60) — rank-only fusion, so the
    // two incomparable score scales never touch; fused score is one
    // division per list + one fixed-order addition, hash-exact.
    QuerySpec(
      "text_hybrid_rrf",
      (s, dir) => TextAnalysis.hybridRrf(docs(s, dir)),
      Some(hybridRrfOracle)),

    // CCNet-style per-language LM-score terciles: head/middle/tail from
    // the bigram-LM fluency score with rank-convention cutoffs (the
    // deciles/gate-by-lang precedent) — deterministic under ties where
    // ntile is not.
    QuerySpec(
      "text_lm_buckets",
      (s, dir) => TextAnalysis.lmBuckets(docs(s, dir)),
      Some(s"""
        $lmTierCtes
        SELECT doc_id, lang, sc, tier,
               CASE WHEN tier = 3 THEN 'head'
                    WHEN tier = 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM tiers""")),

    // CCNet's bucket POLICY as copy counts: head 2x, middle 1x, tail
    // dropped — the quality-curriculum mixture over the same tier CTEs.
    QuerySpec(
      "mix_lm_tiers",
      (s, dir) => Packing.mixLmTiers(docs(s, dir)),
      benchmark = false, // re-runs the already-priced text_lm_buckets
      // pipeline + a CASE projection
      oracle = Some(s"""
        $lmTierCtes
        SELECT doc_id, lang, tier,
               CAST(CASE WHEN tier = 3 THEN 2
                         WHEN tier = 2 THEN 1
                         ELSE 0 END AS BIGINT) AS n_copies
        FROM tiers""")),

    // Per-document TF-IDF top terms: two high-cardinality hash aggs, a
    // term-keyed join, and a WindowGroupLimit top-k.
    QuerySpec(
      "text_tfidf_topk",
      (s, dir) => TextAnalysis.tfidfTopK(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        x AS (SELECT doc_id, unnest(t) AS term FROM toks),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM x GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        r AS (
          SELECT doc_id, term, tf, df,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY CAST(tf AS DOUBLE) * n / df DESC, term ASC) AS rnk
          FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3""")),

    // Corpus-bigram LM scoring (KenLM-shaped quality filter): add-1
    // smoothed bigram probabilities floor-scaled to exact longs; the
    // per-doc sum is pure integer arithmetic, only the mean divides.
    QuerySpec(
      "text_lm_score",
      (s, dir) => TextAnalysis.lmScore(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        pr AS (
          SELECT doc_id, t[i] AS a, t[i+1] AS b
          FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        uni AS (
          SELECT a, COUNT(*) AS ca
          FROM (SELECT unnest(t) AS a FROM toks) GROUP BY 1),
        voc AS (SELECT COUNT(*) AS vocab FROM uni),
        model AS (
          SELECT a, b,
                 CAST(FLOOR(1e6 * CAST(cab + 1 AS DOUBLE) /
                      CAST(ca + vocab AS DOUBLE)) AS BIGINT) AS pq
          FROM (SELECT a, b, COUNT(*) AS cab FROM pr GROUP BY 1, 2)
          JOIN uni USING (a) CROSS JOIN voc),
        scored AS (
          SELECT doc_id, COUNT(*) AS n_bigrams, SUM(pq) AS lm_score
          FROM pr JOIN model USING (a, b) GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(s.lm_score, 0) AS BIGINT) AS lm_score,
               CASE WHEN s.n_bigrams IS NOT NULL
                    THEN CAST(s.lm_score AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE)
                    ELSE 0.0 END AS mean_p6
        FROM documents d LEFT JOIN scored s USING (doc_id)""")),

    // Signed random projection 64 -> 8: exact scaled-long JL reduction,
    // sign matrix from md5 high bits — scan-side, shuffle-free.
    QuerySpec(
      "emb_random_projection",
      (s, dir) => Similarity.randomProjection(emb(s, dir)),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        js AS (SELECT unnest(range(0, 8)) AS j)
        SELECT vec_id, j,
               CAST(list_sum(list_transform(range(1, len(v) + 1), i ->
                 (CASE WHEN ('0x' || substring(md5('rp:' || CAST(j AS VARCHAR)
                        || ':' || CAST(i - 1 AS VARCHAR)), 1, 2))::BIGINT >= 128
                       THEN 1 ELSE -1 END)
                 * CAST(FLOOR(v[i] * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS p
        FROM v CROSS JOIN js""")),

    // Symmetric int8 quantization: scale = max|x|/127, q = round(x/scale) —
    // the 4x memory cut before ANN at corpus scale; one IEEE division then
    // exact integers, scan-side.
    QuerySpec(
      "emb_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(emb(s, dir)),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax
          FROM v),
        x AS (
          SELECT vec_id, amax, amax / 127.0 AS scale,
                 unnest(v) AS xv,
                 unnest(range(1, len(v) + 1)) AS i1
          FROM m)
        SELECT vec_id, i1 - 1 AS i,
               CASE WHEN amax > CAST(0.0 AS DOUBLE)
                    THEN CAST(FLOOR(xv / (amax / 127.0) + 0.5) AS BIGINT)
                    ELSE 0 END AS q,
               scale
        FROM x""")),

    // Quantized-corpus cosine top-k: scales cancel in cosine, so the
    // int8 score is the exact integer ratio dot/sqrt(qn_a*qn_b) — the
    // 4x-smaller search path the quantization op feeds.
    QuerySpec(
      "sim_cosine_topk_q8",
      (s, dir) => Similarity.cosineTopKQuantized(emb(s, dir)),
      Some(s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (
          SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax
          FROM v),
        q8 AS (
          SELECT vec_id,
                 list_transform(v, x ->
                   CASE WHEN amax > CAST(0.0 AS DOUBLE)
                        THEN CAST(FLOOR(x / (amax / 127.0) + 0.5) AS BIGINT)
                        ELSE 0 END) AS qv
          FROM m),
        n AS (
          SELECT vec_id, qv,
                 CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn
          FROM q8),
        nn AS (SELECT vec_id, qv, qn FROM n WHERE qn > 0),
        q AS (SELECT vec_id AS qid, qv AS qqv, qn AS qqn FROM nn WHERE vec_id < 8),
        px AS (
          SELECT q.qid, c.vec_id, q.qqn, c.qn,
                 unnest(q.qqv) AS qx, unnest(c.qv) AS x
          FROM nn c CROSS JOIN q),
        dots AS (
          SELECT qid, vec_id, qqn, qn,
                 CAST(SUM(qx * x) AS BIGINT) AS dot
          FROM px GROUP BY qid, vec_id, qqn, qn),
        s AS (
          SELECT qid, vec_id,
                 CAST(dot AS DOUBLE) /
                   sqrt(CAST(qqn AS DOUBLE) * CAST(qn AS DOUBLE)) AS score
          FROM dots)
        ${topkTail(10)}""")),

    // Corpus-median quality gate: exact bucketed-percentile threshold.
    QuerySpec(
      "text_quality_gate",
      (s, dir) => TextAnalysis.qualityGate(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(FLOOR((
                   CAST(0.4 AS DOUBLE) *
                     (CAST(len(list_filter(toks, w -> w IN
                        ('the','a','and','of','to','in','is','it','on','for'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(least(len(toks), 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 ) * 1000 + 0.5) AS BIGINT) AS qs
          FROM t),
        r AS (
          SELECT qs, row_number() OVER (ORDER BY qs) AS rn,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n
          FROM c WHERE qs IS NOT NULL),
        thr AS (SELECT qs AS thr FROM r WHERE rn = CEIL(n * 0.5))
        SELECT c.doc_id, c.qs, thr.thr FROM c, thr WHERE c.qs >= thr.thr""")),

    // Percentile quality tiers: every scored doc gets its corpus decile
    // (1 = lowest) from the same rank-convention cutoffs the gate uses —
    // deterministic under ties where ntile is not.
    QuerySpec(
      "text_quality_deciles",
      (s, dir) => TextAnalysis.qualityDeciles(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id,
                 CAST(FLOOR((
                   CAST(0.4 AS DOUBLE) *
                     (CAST(len(list_filter(toks, w -> w IN
                        ('the','a','and','of','to','in','is','it','on','for'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(least(len(toks), 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 ) * 1000 + 0.5) AS BIGINT) AS qs
          FROM t),
        r AS (
          SELECT qs, row_number() OVER (ORDER BY qs) AS rn,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n
          FROM c WHERE qs IS NOT NULL),
        cuts AS (
          SELECT list_sort(list(qs)) AS cl
          FROM r JOIN (SELECT unnest(range(1, 10)) AS tt) ts
            ON r.rn = CEIL(r.n * (tt / 10.0)))
        SELECT c.doc_id, c.qs,
               CAST(1 + len(list_filter(cuts.cl, x -> c.qs > x)) AS BIGINT)
                 AS tier
        FROM c, cuts WHERE c.qs IS NOT NULL""")),

    // Per-language percentile gate: each language keeps its own top half,
    // so the dominant language's score distribution never gates the rest.
    QuerySpec(
      "text_quality_gate_by_lang",
      (s, dir) => TextAnalysis.qualityGateByLang(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, text, lang,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, lang,
                 CAST(FLOOR((
                   CAST(0.4 AS DOUBLE) *
                     (CAST(len(list_filter(toks, w -> w IN
                        ('the','a','and','of','to','in','is','it','on','for'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
                   + CAST(0.3 AS DOUBLE) *
                     (CAST(least(len(toks), 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 ) * 1000 + 0.5) AS BIGINT) AS qs
          FROM t),
        r AS (
          SELECT lang, qs,
                 row_number() OVER (PARTITION BY lang ORDER BY qs) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM c WHERE qs IS NOT NULL),
        thr AS (SELECT lang, qs AS thr FROM r WHERE rn = CEIL(n * 0.5))
        SELECT c.doc_id, c.lang, c.qs, thr.thr
        FROM c JOIN thr USING (lang) WHERE c.qs >= thr.thr""")),

    QuerySpec(
      "text_lang_id",
      (s, dir) => TextAnalysis.langId(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        h AS (
          SELECT doc_id,
                 len(list_filter(toks, w -> w IN
                   ('the','a','and','of','to','in','is','it','on','for'))) AS en_hits,
                 len(list_filter(toks, w -> w IN
                   ('der','die','das','und','ist','nicht','ein','zu','mit','ich'))) AS de_hits,
                 len(list_filter(toks, w -> w IN
                   ('le','la','les','et','est','un','une','dans','pour','que'))) AS fr_hits
          FROM t)
        SELECT doc_id, en_hits, de_hits, fr_hits,
               CASE WHEN greatest(en_hits, de_hits, fr_hits) = 0 THEN 'und'
                    WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM h""")),

    QuerySpec(
      "text_langid_confusion",
      (s, dir) => TextAnalysis.langIdConfusion(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        h AS (
          SELECT doc_id, lang,
                 len(list_filter(toks, w -> w IN
                   ('the','a','and','of','to','in','is','it','on','for'))) AS en_hits,
                 len(list_filter(toks, w -> w IN
                   ('der','die','das','und','ist','nicht','ein','zu','mit','ich'))) AS de_hits,
                 len(list_filter(toks, w -> w IN
                   ('le','la','les','et','est','un','une','dans','pour','que'))) AS fr_hits
          FROM t)
        SELECT lang,
               CASE WHEN greatest(en_hits, de_hits, fr_hits) = 0 THEN 'und'
                    WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS lang_pred,
               count(*) AS n
        FROM h GROUP BY 1, 2""")),

    QuerySpec(
      "text_token_counts",
      (s, dir) => TextAnalysis.tokenCounts(docs(s, dir)),
      Some("""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_words,
               len(regexp_extract_all(text, '\w+|[^\w\s]', 0)) AS n_bpeish
        FROM documents""")),

    // Seasonal-naive forecast backtest: MAE of "same day last week" per
    // stream — the baseline every real forecast must beat. Exact scaled
    // daily totals, exact long errors, one IEEE division at the end.
    QuerySpec(
      "ts_forecast_snaive",
      (s, dir) => TimeSeries.seasonalNaiveBacktest(events(s, dir)),
      Some("""
        WITH daily AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000) // 86400000000 AS day,
                 CAST(SUM(CAST(FLOOR(value*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
          FROM events GROUP BY 1, 2),
        j AS (
          SELECT d.event_type, abs(d.sq - p.sq) AS err
          FROM daily d JOIN daily p
            ON p.event_type = d.event_type AND p.day = d.day - 7)
        SELECT event_type, COUNT(*) AS n_days,
               CAST(SUM(err) AS BIGINT) AS sum_abs_err,
               CAST(SUM(err) AS DOUBLE) / 10000.0 / COUNT(*) AS mae
        FROM j GROUP BY 1""")),

    // Token-length histogram per language: the corpus length report.
    QuerySpec(
      "text_token_histogram",
      (s, dir) => TextAnalysis.tokenHistogram(docs(s, dir)),
      Some("""
        SELECT lang,
               CAST(FLOOR(len(string_split_regex(lower(trim(text)), '\s+')) / 10)
                 * 10 AS BIGINT) AS bucket_lo,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2""")),

    // Vocabulary coverage: share of token occurrences the top-20 token
    // types cover — the tokenizer-design metric, exact integer bp (k=20
    // sits below this corpus's type count, so the metric discriminates).
    QuerySpec(
      "text_vocab_coverage",
      (s, dir) => TextAnalysis.vocabCoverage(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        f AS (
          SELECT t2.tok, COUNT(*) AS cnt
          FROM toks, unnest(toks.t) AS t2(tok)
          GROUP BY 1),
        top AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
                 CAST(SUM(cnt) AS BIGINT) AS covered
          FROM (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
                FROM f)
          WHERE rnk <= 20),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM f)
        SELECT vocab_size, covered, total_tokens,
               covered * 10000 // total_tokens AS coverage_bp
        FROM top, tot""")),

    QuerySpec(
      "text_fingerprint",
      (s, dir) => TextAnalysis.fingerprints(docs(s, dir)),
      Some("""
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents""")),

    QuerySpec(
      "text_rolling_hash",
      (s, dir) => TextAnalysis.rollingHashFingerprints(docs(s, dir)),
      Some("""
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT,
                   list_transform(string_split_regex(lower(trim(text)), '\s+'),
                     w -> ('0x' || substring(md5(w), 1, 8))::BIGINT)),
                 (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
        FROM documents""")),

    // ---- time series -------------------------------------------------------
    QuerySpec(
      "ts_resample",
      (s, dir) => TimeSeries.resample(events(s, dir)),
      Some("""
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket,
               count(*) AS n,
               CAST(SUM(CAST(FLOOR(value*10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 10000 AS sum_value,
               CAST(SUM(CAST(FLOOR(value*10000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 10000 / CAST(count(*) AS DOUBLE) AS avg_value
        FROM events GROUP BY 1, 2""")),

    // Time-series subsequence similarity: top-k length-8 bucket-total
    // windows nearest the latest 'click' window, exact integer distances.
    QuerySpec(
      "ts_subseq_topk",
      (s, dir) => TimeSeries.subseqTopK(events(s, dir)),
      Some("""
        WITH tot AS (
          SELECT event_type,
                 ((epoch_ns(ts) // 1000) // 900000000) * 900000000 AS bus,
                 CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT event_type, bus,
                 list(total) OVER (PARTITION BY event_type ORDER BY bus
                   ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win
          FROM tot),
        f AS (SELECT * FROM w WHERE len(win) = 8),
        q AS (
          SELECT win AS qwin FROM f WHERE event_type = 'click'
          ORDER BY bus DESC LIMIT 1)
        SELECT event_type, make_timestamp(bus) AS win_start,
               CAST(list_sum(list_transform(range(1, 9),
                 i -> (win[i] - qwin[i]) * (win[i] - qwin[i]))) AS BIGINT)
                 AS dist2
        FROM f, q
        ORDER BY dist2, event_type, bus LIMIT 10""")),

    // Causal forward-fill gap-fill: empty buckets carry the LAST observed
    // average — the only fill a stream can compute at ingest; the batch
    // twin the streaming grid-fill is spec-pinned against.
    QuerySpec(
      "ts_gapfill_ffill",
      (s, dir) => TimeSeries.gapfillForwardFill(events(s, dir)),
      Some("""
        WITH obs AS (
          SELECT event_type,
                 ((epoch_ns(ts) // 1000) // 900000000) * 900000000 AS bus,
                 count(*) AS n,
                 CAST(SUM(CAST(FLOOR(value*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
          FROM events GROUP BY 1, 2),
        oav AS (
          SELECT event_type, bus, n,
                 CAST(sq AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE) AS av
          FROM obs),
        bounds AS (
          SELECT event_type, min(bus) AS b0, max(bus) AS b1 FROM obs GROUP BY 1),
        grid AS (
          SELECT event_type,
                 unnest(range(b0, b1 + 900000000, 900000000)) AS bus
          FROM bounds),
        j AS (
          SELECT g.event_type, g.bus, o.n, o.av
          FROM grid g LEFT JOIN oav o
            ON g.event_type = o.event_type AND g.bus = o.bus),
        w AS (
          SELECT event_type, bus, n, av,
                 last_value(av IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY bus
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
          FROM j)
        SELECT event_type, make_timestamp(bus) AS bucket,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
               pv AS value_filled,
               av IS NULL AS filled
        FROM w""")),

    // Gap-fill + linear interpolation to a fixed 15-minute grid: empty
    // buckets interpolate between neighboring observed buckets (IGNORE
    // NULLS frames); integer epoch-micros bucketing, one fixed double
    // expression tree -> bit-exact on both engines.
    QuerySpec(
      "ts_gapfill",
      (s, dir) => TimeSeries.gapfillInterpolate(events(s, dir)),
      Some("""
        WITH obs AS (
          SELECT event_type,
                 ((epoch_ns(ts) // 1000) // 900000000) * 900000000 AS bus,
                 count(*) AS n,
                 CAST(SUM(CAST(FLOOR(value*10000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
          FROM events GROUP BY 1, 2),
        oav AS (
          SELECT event_type, bus, n,
                 CAST(sq AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE) AS av
          FROM obs),
        bounds AS (
          SELECT event_type, min(bus) AS b0, max(bus) AS b1 FROM obs GROUP BY 1),
        grid AS (
          SELECT event_type,
                 unnest(range(b0, b1 + 900000000, 900000000)) AS bus
          FROM bounds),
        j AS (
          SELECT g.event_type, g.bus, o.n, o.av
          FROM grid g LEFT JOIN oav o
            ON g.event_type = o.event_type AND g.bus = o.bus),
        w AS (
          SELECT event_type, bus, n, av,
                 last_value(av IGNORE NULLS) OVER wp AS pv,
                 last_value(CASE WHEN av IS NOT NULL THEN bus END IGNORE NULLS)
                   OVER wp AS pb,
                 first_value(av IGNORE NULLS) OVER wn AS nv,
                 first_value(CASE WHEN av IS NOT NULL THEN bus END IGNORE NULLS)
                   OVER wn AS nb
          FROM j
          WINDOW wp AS (PARTITION BY event_type ORDER BY bus
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wn AS (PARTITION BY event_type ORDER BY bus
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, make_timestamp(bus) AS bucket,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
               CASE WHEN av IS NOT NULL THEN av
                    ELSE pv + (nv - pv) *
                         (CAST(bus - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
               END AS value_filled,
               av IS NULL AS interpolated
        FROM w""")),

    // Trailing 1-hour RANGE frame per user: count + exact scaled sum as of
    // every event (microsecond range bounds; ns -> us truncation as above).
    QuerySpec(
      "ts_range_frame",
      (s, dir) => TimeSeries.rangeFrameTotals(events(s, dir)),
      Some("""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_1h,
               CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w
                 AS BIGINT) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")),

    QuerySpec(
      "ts_topk_per_group",
      (s, dir) => TimeSeries.topKPerGroup(events(s, dir)),
      Some("""
        SELECT event_type, event_id, value, rn FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rn
          FROM events) WHERE rn <= 5""")),

    // Gap-based sessionization; microsecond arithmetic matches Spark's
    // ns→us truncation (epoch_ns // 1000).
    QuerySpec(
      "ts_sessionize",
      (s, dir) => TimeSeries.sessionize(events(s, dir)),
      Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
        l AS (
          SELECT user_id, event_id, us,
                 lag(us, 1) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS prev_us
          FROM e)
        SELECT user_id, event_id,
               CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS session_id
        FROM l""")),

    // Native session windows — same islands as ts_sessionize, aggregated.
    QuerySpec(
      "ts_session_window",
      (s, dir) => TimeSeries.sessionWindows(events(s, dir)),
      Some("""
        WITH e AS (
          SELECT user_id, event_id, ts, epoch_ns(ts) // 1000 AS us FROM events),
        l AS (
          SELECT user_id, event_id, ts, us,
                 lag(us, 1) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS prev_us
          FROM e),
        s AS (
          SELECT user_id, ts,
                 CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                          THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sid
          FROM l)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid""")),

    // Z-score anomalies: exact scaled-long moments, broadcast stats join.
    QuerySpec(
      "ts_anomalies",
      (s, dir) => TimeSeries.anomalies(events(s, dir)),
      Some("""
        WITH q AS (
          SELECT event_type, CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS qv
          FROM events),
        st AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(qv) AS BIGINT) AS s,
                 CAST(SUM(qv*qv) AS BIGINT) AS ss
          FROM q GROUP BY 1),
        m AS (
          SELECT event_type,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
                 (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) -
                  (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) *
                    (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0 AS variance
          FROM st)
        SELECT e.event_id, e.event_type, e.value, m.mean
        FROM events e JOIN m ON e.event_type = m.event_type
        WHERE ABS(e.value - m.mean) > 3.0 * sqrt(m.variance)""")),

    // Robust anomalies: median/MAD thresholds (50% breakdown point where
    // the z-score's mean/sigma mask themselves) — both percentiles are
    // DISCRETE (rank-picked stored doubles), so the thresholds are
    // bit-identical cross-engine; histogram-aggregated, never a raw-table
    // window.
    QuerySpec(
      "ts_anomalies_mad",
      (s, dir) => TimeSeries.anomaliesMad(events(s, dir)),
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM events),
        med AS (SELECT event_type, value AS med FROM r WHERE rn = CEIL(n * 0.5)),
        a AS (
          SELECT e.event_id, e.event_type, e.value, m.med,
                 ABS(e.value - m.med) AS adev
          FROM events e JOIN med m USING (event_type)),
        r2 AS (
          SELECT event_type, adev,
                 row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM a),
        mad AS (SELECT event_type, adev AS mad FROM r2 WHERE rn = CEIL(n * 0.5))
        SELECT a.event_id, a.event_type, a.value, a.med, mad.mad
        FROM a JOIN mad USING (event_type)
        WHERE a.adev > 3.0 * 1.4826 * mad.mad""")),

    // CUSUM change-point screen: top-k |running deviation sum| per key in
    // the mean-free integer form n*cum(q) - i*sum(q) — exact BIGINT, no
    // division. Spark runs it banded (bandedLag precedent); the oracle is
    // the naive single window — two routes, one result.
    QuerySpec(
      "ts_cusum_changepoints",
      (s, dir) => TimeSeries.cusumTopDrift(events(s, dir)),
      Some("""
        WITH q AS (
          SELECT event_type, event_id, ts,
                 CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS qv
          FROM events),
        tot AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(qv) AS BIGINT) AS s
          FROM q GROUP BY 1),
        run AS (
          SELECT event_type, event_id,
                 CAST(SUM(qv) OVER w AS BIGINT) AS rq,
                 CAST(COUNT(*) OVER w AS BIGINT) AS rc
          FROM q WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        d AS (
          SELECT r.event_type, r.event_id,
                 CAST(t.n * r.rq - r.rc * t.s AS BIGINT) AS drift
          FROM run r JOIN tot t USING (event_type))
        SELECT event_type, event_id, drift, rn FROM (
          SELECT event_type, event_id, drift,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ABS(drift) DESC, event_id) AS rn
          FROM d)
        WHERE rn <= 20""")),

    // Banded lag: identical results to q15's single window over the
    // 5-value event_type key, decomposed over (key, time band) so the raw
    // table never sorts through 5 reducers (the scale-safe form).
    QuerySpec(
      "q15_window_lag_banded",
      (s, dir) => TimeSeries.bandedLag(events(s, dir)),
      Some("""
        SELECT event_id, event_type, value, prev_value,
               FLOOR((value - prev_value) * 10000 + 0.5) / 10000 AS delta
        FROM (
          SELECT event_id, event_type, value,
                 LAG(value, 1) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS prev_value
          FROM events)""")),

    // Order-dependent sequential reduction: final EWMA per user. Both
    // engines run the SAME two-level banded fold (per-band affine maps in
    // (ts, event_id) order, then composition in band order) so the IEEE op
    // sequence — and therefore the bits — match; the banding is what keeps
    // Spark's per-key state bounded on a hot key.
    QuerySpec(
      "ts_ewma",
      (s, dir) => TimeSeries.ewma(events(s, dir)),
      Some("""
        WITH pb AS (
          SELECT user_id,
                 CAST(FLOOR((epoch_ns(ts) // 1000) / 86400000000.0) AS BIGINT) AS band,
                 list(value ORDER BY ts, event_id) AS vals
          FROM events GROUP BY 1, 2),
        pb2 AS (
          SELECT user_id, band, len(vals) AS m,
                 list_reduce(vals, (acc, x) -> 0.2 * x + 0.8 * acc) AS e,
                 list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                   list_transform(vals, x -> CAST(0.8 AS DOUBLE))),
                   (a, x) -> a * x) AS a,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                   (b, x) -> 0.8 * b + 0.2 * x) AS b
          FROM pb),
        pu AS (
          SELECT user_id, CAST(SUM(m) AS BIGINT) AS n_events,
                 list(struct_pack(e := e, a := a, b := b) ORDER BY band) AS bands
          FROM pb2 GROUP BY user_id)
        SELECT user_id, n_events,
               struct_extract(list_reduce(bands, (acc, t) ->
                 struct_pack(e := t.a * acc.e + t.b, a := t.a, b := t.b)),
                 'e') AS ewma
        FROM pu""")),

    // As-of join: each purchase matched to the user's most recent prior-or-
    // equal click. One shuffle (union + keyed window), not a nested loop.
    QuerySpec(
      "ts_asof_join",
      (s, dir) => {
        val ev = events(s, dir)
        Joins.asofJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "click"))
      },
      Some("""
        WITH l AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        r0 AS (
          SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'),
        r AS (
          SELECT user_id, ts, max(event_id) AS r_eid,
                 arg_max(value, event_id) AS r_val
          FROM r0 GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id, l.ts,
               r.r_eid AS asof_event_id, r.r_val AS asof_value
        FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""")),

    // Bounded range join: clicks within the 10 minutes before each error,
    // banded into bucket equi-joins (no nested loop).
    QuerySpec(
      "ts_range_join",
      (s, dir) => {
        val ev = events(s, dir)
        Joins.rangeJoinCount(
          ev.filter(col("event_type") === "error"),
          ev.filter(col("event_type") === "click"))
      },
      Some("""
        WITH l AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        r AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT l.event_id, l.user_id,
               CAST(COALESCE(SUM(CASE WHEN r.ts >= l.ts - INTERVAL '10 minutes'
                                       AND r.ts < l.ts THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS n_in_window
        FROM l LEFT JOIN r ON l.user_id = r.user_id
        GROUP BY l.event_id, l.user_id""")),

    // Salted fact-fact join: identical results to the plain equi-join (the
    // oracle IS the plain join), with hot keys spread over 8 reducers —
    // the planned-ahead form of AQE's skew-join handling.
    QuerySpec(
      "q22_join_salted",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        Joins.saltedJoin(li, "l_orderkey", "l_partkey", o, "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(RelationalQueries.dsum(col("l_extendedprice"), 2).as("sum_price"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
      },
      Some("""
        SELECT o_orderpriority,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e2 AS sum_price,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""")),

    // Skew-AWARE salting: hot keys detected by a count pre-pass (threshold
    // 3 makes roughly the larger half of orders "hot" on this data, so
    // both the salted and unsalted paths carry real traffic); replication
    // is proportional to skew. Oracle = the plain join, proving identity.
    QuerySpec(
      "q22_join_salted_hot",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        Joins.saltedJoinSkewAware(li, "l_orderkey", "l_partkey", o, "o_orderkey",
          hotThreshold = 3L)
          .groupBy(col("o_orderpriority"))
          .agg(RelationalQueries.dsum(col("l_extendedprice"), 2).as("sum_price"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n"))
      },
      Some("""
        SELECT o_orderpriority,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1e2 AS sum_price,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""")),

    // AQE skew join (r14): the same skew problem handed to the ENGINE —
    // adaptive skew-join splits the oversized probe partition at runtime
    // (PlanSpec pins OptimizeSkewedJoin firing); oracle = the plain
    // join, so mitigation is provably result-invisible. Completes the
    // manual-vs-adaptive pair with q22_join_salted_hot; SURVEY §8.16's
    // measured note records which wins at which skew.
    QuerySpec(
      "q36_join_skew_aqe",
      (s, dir) => Joins.skewAqeJoin(s,
        Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders")),
      Some("""
        SELECT o.o_orderpriority,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 1e2 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1e2 AS sum_price,
               COUNT(*) AS n
        FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_orderkey END
                       AS k, l_extendedprice
              FROM lineitem) l
        JOIN (SELECT o_orderkey AS k, o_orderpriority FROM orders
              WHERE o_orderkey % 3 <> 0
              UNION ALL SELECT CAST(0 AS BIGINT), 'HOT') o USING (k)
        GROUP BY 1""")),

    // Runtime bloom-filter injection (r14): the engine plants a
    // bloom_filter_agg over the selective dim's keys and pushes
    // might_contain into the FACT scan's filter — pre-shuffle row
    // dropping, the injected form of the pipeline's explicit bloom
    // fronts. PlanSpec pins both plan halves; oracle = the plain join.
    QuerySpec(
      "q37_join_bloom_runtime",
      (s, dir) => Joins.bloomRuntimeJoin(s,
        Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "orders")),
      Some("""
        SELECT l_returnflag,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1e2 AS sum_price,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1""")),

    // ---- sketches (approximate: rows-only check + hash-checked exact twin) -
    QuerySpec(
      "sketch_distinct_users",
      (s, dir) => Sketches.distinctUsers(events(s, dir)),
      None),

    // Exact twin: the exact counts as their own aggregation, hash-checked
    // by the oracle so only the approx query stays rows-only. Kept OUT of
    // the sketch aggregate — combining them forces the dual-path distinct
    // Expand (see Sketches.distinctUsers).
    QuerySpec(
      "sketch_distinct_users_exact",
      (s, dir) => Sketches.distinctUsersExact(events(s, dir)),
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type""")),

    // Exact heavy hitters (the count-min stand-in): top-5 users per type.
    QuerySpec(
      "sketch_frequent_items",
      (s, dir) => Sketches.frequentItems(events(s, dir)),
      Some("""
        SELECT event_type, user_id, cnt, rn FROM (
          SELECT event_type, user_id, cnt,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cnt DESC, user_id) AS rn
          FROM (SELECT event_type, user_id, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2))
        WHERE rn <= 5""")),

    QuerySpec(
      "sketch_value_quantiles",
      (s, dir) => Sketches.valueQuantiles(events(s, dir)),
      None),

    // Exact twin of the quantile sketch: the scale-safe histogram
    // percentile (no full-table window — see operators.Percentiles),
    // hash-checked against the oracle's row_number formulation.
    QuerySpec(
      "sketch_value_quantiles_exact",
      (s, dir) => Percentiles.percentileDisc(
        events(s, dir), "event_type", "value", Seq(0.5, 0.95, 0.99)),
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM events)
        SELECT event_type, q, rn, n, value AS pct_value
        FROM r CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q) qs
        WHERE rn = CEIL(n * q)""")),

    // The sketches' accuracy contracts as hash-checked queries: the sketch
    // VALUES are engine-specific (can never match a DuckDB oracle), but
    // "the error respects the published bound" is a boolean the oracle can
    // produce from the exact side alone — all-true rows. A sketch drifting
    // out of bound flips a boolean and the driver's hash check goes red,
    // so the artifact now carries the accuracy witness, not just the spec.
    QuerySpec(
      "sketch_distinct_users_bound",
      (s, dir) => Sketches.distinctUsersBound(events(s, dir)),
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_bound
        FROM events GROUP BY event_type""")),

    QuerySpec(
      "sketch_value_quantiles_bound",
      (s, dir) => Sketches.valueQuantilesBound(events(s, dir)),
      Some("""
        SELECT event_type, q, COUNT(*) AS n_events, TRUE AS within_bound
        FROM events CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q) qs
        GROUP BY event_type, q""")),

    // ---- multimodal --------------------------------------------------------
    // Binary payload features: pure projection, blob never shuffles.
    QuerySpec(
      "mm_binary_features",
      (s, dir) => Multimodal.binaryFeatures(docs(s, dir)),
      Some("""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_md5,
               sha256(text) AS content_sha256,
               substring(hex(encode(text)), 1, 16) AS header_hex
        FROM documents""")),

    // Frame sampling: blob split into fixed 64-byte frames, every 4th kept.
    // The oracle computes each frame's length arithmetically (LEAST(64,
    // n_bytes - i·64)) — equal to slicing because frames tile the blob.
    // (Both sides assume non-empty payloads; a 0-byte blob would emit one
    // empty frame on the Spark side and none here — the corpus has none.)
    QuerySpec(
      "mm_frame_sample",
      (s, dir) => Multimodal.frameSample(docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
        f AS (
          SELECT doc_id, n_bytes,
                 unnest(range(0, CAST(FLOOR((n_bytes - 1) / 64.0) AS BIGINT) + 1)) AS idx
          FROM b)
        SELECT doc_id, idx AS frame_idx,
               LEAST(64, n_bytes - idx * 64) AS frame_bytes
        FROM f WHERE idx % 4 = 0""")),

    // Video-container near-dup: sampled-frame fingerprint sets compared
    // by integer containment — the frame-posting-index design video
    // dedup uses (trims / re-containered copies keep sampled frames
    // bit-identical). Fourth near-dup modality; blocks on EXACT frame
    // identity through the DF-capped inverted-index shape of n-gram
    // dedup (hot frames — branded intro cards — are blocked out, which
    // bounds every posting list). 25 real pairs at sf0.01.
    QuerySpec(
      "mm_video_near_dup",
      (s, dir) => Multimodal.videoNearDupPairs(docs(s, dir)),
      Some("""
        WITH d AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        fr AS (
          SELECT doc_id,
                 ('0x' || substring(md5(
                    substring(hx, CAST(idx*128 + 1 AS BIGINT), 128)),
                    1, 15))::BIGINT AS fp
          FROM (SELECT doc_id, hx,
                       unnest(range(0,
                         CAST(FLOOR((n - 1) / 64.0) AS BIGINT) + 1)) AS idx
                FROM d)
          WHERE idx % 4 = 0),
        u AS (SELECT DISTINCT doc_id, fp FROM fr),
        cnt AS (SELECT doc_id, COUNT(*) AS nf FROM u GROUP BY 1),
        hot AS (SELECT fp FROM u GROUP BY fp HAVING COUNT(*) > 64),
        uf AS (SELECT doc_id, fp FROM u
               WHERE fp NOT IN (SELECT fp FROM hot)),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 COUNT(*) AS shared_frames
          FROM uf a JOIN uf b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, p.shared_frames,
               ca.nf AS nf_a, cb.nf AS nf_b,
               (10000 * p.shared_frames) // LEAST(ca.nf, cb.nf)
                 AS containment_bp
        FROM pairs p
        JOIN cnt ca ON p.doc_a = ca.doc_id
        JOIN cnt cb ON p.doc_b = cb.doc_id
        WHERE (10000 * p.shared_frames) // LEAST(ca.nf, cb.nf) >= 5000""")),

    // Fixed-offset binary header decode: big-endian u32 fields + magic tag
    // read straight out of the blob bytes — the SQL-expressible half of a
    // format sniffer. Pure projection; DuckDB reads the same offsets out of
    // the hex encoding (it has no blob substring).
    QuerySpec(
      "mm_header_decode",
      (s, dir) => Multimodal.headerDecode(docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n_bytes
          FROM documents)
        SELECT doc_id,
               CASE WHEN n_bytes >= 4
                    THEN ('0x' || substring(hx, 1, 8))::BIGINT END AS width,
               CASE WHEN n_bytes >= 8
                    THEN ('0x' || substring(hx, 9, 8))::BIGINT END AS height,
               CASE WHEN n_bytes >= 9
                    THEN ('0x' || substring(hx, 17, 2))::BIGINT END AS bit_depth,
               CASE WHEN n_bytes >= 2
                    THEN substring(hx, 1, 4) END AS magic_hex
        FROM b""")),

    // Pixel stats through the REAL codec path: synthesize a valid binary
    // P6 PPM per doc (SQL binary plumbing), parse it with the hand-rolled
    // netpbm decoder, and aggregate ACTUAL decoded pixels. The oracle
    // derives the same stats arithmetically from the document bytes
    // (pixel plane = text bytes zero-padded to 8×h×3), so a parser that
    // misreads the header, drops padding, or misaligns channels fails the
    // hash — the decode is verified, not stubbed.
    QuerySpec(
      "mm_pixel_stats",
      (s, dir) => Multimodal.pixelStats(s, docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        d AS (
          SELECT doc_id, hx, n,
                 greatest(1, CAST(ceil(n / 24.0) AS BIGINT)) AS h
          FROM b),
        idx AS (SELECT doc_id, hx, unnest(range(0, n)) AS i FROM d),
        vals AS (
          SELECT doc_id, i,
                 ('0x' || substring(hx, CAST(2*i + 1 AS INT), 2))::BIGINT AS v
          FROM idx),
        sums AS (
          SELECT doc_id,
                 SUM(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS sr,
                 SUM(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS sg,
                 SUM(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS sb
          FROM vals GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(8 AS BIGINT) AS width,
               d.h AS height,
               8 * d.h AS n_px,
               CAST(COALESCE(s.sr, 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(s.sg, 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(s.sb, 0) AS BIGINT) AS sum_b,
               (299 * COALESCE(s.sr, 0) + 587 * COALESCE(s.sg, 0)
                  + 114 * COALESCE(s.sb, 0)) / (1000.0 * 8 * d.h) AS mean_luma
        FROM d LEFT JOIN sums s ON d.doc_id = s.doc_id""")),

    // Stats of the RESIZED pixel plane: decode -> 2x2 floor-mean box
    // filter -> channel sums. The oracle recomputes every block's
    // floor-mean from the document bytes (full padded plane, so counts
    // come out of the group), hash-verifying the filter geometry itself —
    // including the odd-height 1x2 edge blocks.
    QuerySpec(
      "mm_resize_stats",
      (s, dir) => Multimodal.resizeStats(s, docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        d AS (
          SELECT doc_id, hx, n,
                 greatest(1, CAST(ceil(n / 24.0) AS BIGINT)) AS h
          FROM b),
        idx AS (SELECT doc_id, hx, n, h, unnest(range(0, h * 24)) AS i FROM d),
        vals AS (
          SELECT doc_id, h, i,
                 CASE WHEN i < n
                      THEN ('0x' || substring(hx, CAST(2*i + 1 AS INT), 2))::BIGINT
                      ELSE 0 END AS v
          FROM idx),
        blocks AS (
          SELECT doc_id, h,
                 (i // 24) // 2 AS oy, ((i % 24) // 3) // 2 AS ox, i % 3 AS c,
                 SUM(v) AS s, COUNT(*) AS cnt
          FROM vals GROUP BY 1, 2, 3, 4, 5),
        sums AS (
          SELECT doc_id, h,
                 SUM(CASE WHEN c = 0 THEN s // cnt ELSE 0 END) AS sr,
                 SUM(CASE WHEN c = 1 THEN s // cnt ELSE 0 END) AS sg,
                 SUM(CASE WHEN c = 2 THEN s // cnt ELSE 0 END) AS sb
          FROM blocks GROUP BY 1, 2)
        SELECT doc_id,
               CAST(4 AS BIGINT) AS width,
               (h + 1) // 2 AS height,
               4 * ((h + 1) // 2) AS n_px,
               CAST(sr AS BIGINT) AS sum_r,
               CAST(sg AS BIGINT) AS sum_g,
               CAST(sb AS BIGINT) AS sum_b,
               (299 * sr + 587 * sg + 114 * sb)
                 / (1000.0 * 4 * ((h + 1) // 2)) AS mean_luma
        FROM sums""")),

    // Audio features: blob as signed 16-bit LE PCM -> exact integer
    // energy / zero-crossings / peak in the codec's mapPartitions slot.
    // The oracle re-derives samples (incl. sign extension) from the hex
    // encoding and replays the adjacent-sample crossing rule via lag().
    QuerySpec(
      "mm_audio_features",
      (s, dir) => Multimodal.audioFeatures(s, docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        s AS (
          SELECT doc_id, i,
                 ('0x' || substring(hx, CAST(4*i + 1 AS INT), 2))::BIGINT
                   + 256 * ('0x' || substring(hx, CAST(4*i + 3 AS INT), 2))::BIGINT
                   AS raw
          FROM (SELECT doc_id, hx, unnest(range(0, n // 2)) AS i FROM b)),
        v AS (
          SELECT doc_id, i,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
          FROM s),
        f AS (
          SELECT doc_id, v,
                 lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
          FROM v)
        SELECT b.doc_id,
               CAST(b.n // 2 AS BIGINT) AS n_samples,
               CAST(COALESCE(SUM(v*v), 0) AS BIGINT) AS energy,
               CAST(COALESCE(SUM(CASE WHEN (pv < 0 AND v > 0)
                      OR (pv > 0 AND v < 0) THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_zero_cross,
               CAST(COALESCE(MAX(abs(v)), 0) AS BIGINT) AS peak
        FROM b LEFT JOIN f ON b.doc_id = f.doc_id
        GROUP BY b.doc_id, b.n""")),

    // Perceptual image near-dup: aHash over the DECODED pixel plane (8x8
    // grid, cross-multiplied integer mean compares), pairs within Hamming
    // 7 via the 64-bit pigeonhole probe join. The oracle re-derives the
    // hash arithmetically from the document bytes (padded plane -> integer
    // luma -> grid cells -> two 32-bit halves) and brute-forces all pairs,
    // so grid geometry, empty-cell bits, and the blocker's recall are all
    // hash-verified.
    QuerySpec(
      "mm_phash_pairs",
      (s, dir) => Multimodal.phashPairs(s, docs(s, dir)),
      Some(s"""
        WITH $phashHashesCte
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.lo, b.lo))
                  + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7""")),

    // Audio near-dup pairs: 64-bit energy-descent envelope fingerprint
    // (Chromaprint's band-difference bits reduced to one band) + the
    // shared pigeonhole hamming blocker. Oracle re-derives PCM samples,
    // frame energies, and the bit packing (lo/hi halves) arithmetically.
    QuerySpec(
      "mm_audio_hash_pairs",
      (s, dir) => Multimodal.audioHashPairs(s, docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        s AS (
          SELECT doc_id, i, ns,
                 ('0x' || substring(hx, CAST(4*i + 1 AS INT), 2))::BIGINT
                   + 256 * ('0x' || substring(hx, CAST(4*i + 3 AS INT), 2))::BIGINT
                   AS raw
          FROM (SELECT doc_id, hx, n // 2 AS ns,
                       unnest(range(0, n // 2)) AS i FROM b)),
        v AS (
          SELECT doc_id, i, ns,
                 CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
          FROM s),
        fe AS (
          SELECT doc_id, i * 65 // ns AS f, SUM(v * v) AS e
          FROM v GROUP BY 1, 2),
        grid AS (
          SELECT b.doc_id, g.f, COALESCE(fe.e, 0) AS e
          FROM b CROSS JOIN generate_series(0, 64) g(f)
          LEFT JOIN fe ON fe.doc_id = b.doc_id AND fe.f = g.f),
        bits AS (
          SELECT doc_id, f AS j,
                 CASE WHEN e > lead(e) OVER (PARTITION BY doc_id ORDER BY f)
                      THEN 1 ELSE 0 END AS bit
          FROM grid),
        hashes AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN j < 32 AND bit = 1
                      THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS BIGINT) AS lo,
                 CAST(SUM(CASE WHEN j >= 32 AND j < 64 AND bit = 1
                      THEN CAST(2 ** (j - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS hi
          FROM bits GROUP BY 1)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.lo, b.lo))
                  + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7""")),

    // Cross-modal governance, image→text: the image-near-dup pairs
    // annotated with text-fingerprint equality — same_text=false is the
    // "same image, different caption" cell neither single-modality dedup
    // sees. Pair-sized joins against the thin (doc_id, fp) projection.
    QuerySpec(
      "mm_crossmodal_image_dups",
      (s, dir) => Multimodal.crossModalImageDups(s, docs(s, dir)),
      Some(s"""
        WITH $phashHashesCte,
        prs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
          FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7),
        fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents)
        SELECT p.doc_a, p.doc_b, p.hamming, fa.fp = fb.fp AS same_text
        FROM prs p
        JOIN fp fa ON fa.doc_id = p.doc_a
        JOIN fp fb ON fb.doc_id = p.doc_b""")),

    // Cross-modal governance, text→image: near-dup caption pairs (the
    // MinHash candidate graph) annotated with their images' aHash
    // hamming + img_dup verdict — the "recycled caption, divergent
    // image" cell. Composes the two already-verified pair machineries.
    QuerySpec(
      "mm_crossmodal_text_dups",
      (s, dir) => Multimodal.crossModalTextDups(s, docs(s, dir)),
      Some(s"""
        WITH $minhashCte,
        bk AS (
          SELECT doc_id, j // 2 AS band,
                 string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY minhash) AS bucket_key
          FROM mh GROUP BY doc_id, j // 2),
        prs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.bucket_key = b.bucket_key
           AND a.doc_id < b.doc_id),
        $phashHashesCte
        SELECT p.doc_a, p.doc_b,
               CAST(bit_count(xor(ha.lo, hb.lo))
                  + bit_count(xor(ha.hi, hb.hi)) AS BIGINT) AS hamming,
               (bit_count(xor(ha.lo, hb.lo))
                  + bit_count(xor(ha.hi, hb.hi))) <= 7 AS img_dup
        FROM prs p
        JOIN hashes ha ON ha.doc_id = p.doc_a
        JOIN hashes hb ON hb.doc_id = p.doc_b""")),

    // Image near-dup clusters: connected components over the phash pair
    // graph — the keep-one decision, completing decode -> stats -> pairs
    // -> clusters. Same recursive-reach oracle as dedup_clusters over
    // the arithmetically re-derived hashes.
    QuerySpec(
      "mm_phash_clusters",
      (s, dir) => Multimodal.phashClusters(s, docs(s, dir)),
      benchmark = false, // iterative: wall time = propagation rounds, not throughput
      oracle = Some(s"""
        WITH RECURSIVE
        $phashHashesCte,
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 7),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(src, node) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src)
        SELECT src AS doc_id, min(node) AS cluster
        FROM reach GROUP BY src""")),

    // ---- curation pipeline (batch twin of streaming DocPipeline.curate) ----
    // Flagship §2-B pipeline end-to-end in one DataFrame: fused one-scan
    // enrichment -> exact dedup on the content fingerprint (min-doc_id
    // keeper, ONE hash agg on fp) -> static quality gate. Same expressions
    // and same stage order as the streaming pipeline, so a batch backfill
    // and the stream agree row-for-row.
    QuerySpec(
      "doc_curation",
      (s, dir) => {
        TextAnalysis.enrich(docs(s, dir))
          .groupBy(col("fp"))
          .agg(org.apache.spark.sql.functions.min_by(
            org.apache.spark.sql.functions.struct(
              col("doc_id"), col("lang"), col("lang_pred"), col("n_tokens"),
              col("n_chars"), col("quality_score")),
            col("doc_id")).as("r"))
          .filter(col("r.quality_score").isNotNull &&
            !org.apache.spark.sql.functions.isnan(col("r.quality_score")) &&
            col("r.quality_score") >= 0.3)
          .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
            col("r.lang_pred").as("lang_pred"), col("r.n_tokens").as("n_tokens"),
            col("r.n_chars").as("n_chars"),
            col("r.quality_score").as("quality_score"), col("fp"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, text, lang,
                 string_split_regex(lower(trim(text)), '\s+') AS toks
          FROM documents),
        e AS (
          SELECT doc_id, lang,
                 len(toks) AS n_tokens,
                 length(text) AS n_chars,
                 CAST(0.4 AS DOUBLE) *
                   (CASE WHEN len(toks) > 0 THEN
                     CAST(len(list_filter(toks, w -> w IN
                       ('the','a','and','of','to','in','is','it','on','for'))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) END)
                 + CAST(0.3 AS DOUBLE) *
                   (CASE WHEN length(text) > 0 THEN
                     CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE) END)
                 + CAST(0.3 AS DOUBLE) *
                   (CAST(least(len(toks), 100) AS DOUBLE) / CAST(100.0 AS DOUBLE))
                   AS quality_score,
                 CASE WHEN greatest(
                        len(list_filter(toks, w -> w IN
                          ('the','a','and','of','to','in','is','it','on','for'))),
                        len(list_filter(toks, w -> w IN
                          ('der','die','das','und','ist','nicht','ein','zu','mit','ich'))),
                        len(list_filter(toks, w -> w IN
                          ('le','la','les','et','est','un','une','dans','pour','que')))) = 0
                      THEN 'und'
                      WHEN len(list_filter(toks, w -> w IN
                          ('the','a','and','of','to','in','is','it','on','for'))) >=
                        len(list_filter(toks, w -> w IN
                          ('der','die','das','und','ist','nicht','ein','zu','mit','ich')))
                       AND len(list_filter(toks, w -> w IN
                          ('the','a','and','of','to','in','is','it','on','for'))) >=
                        len(list_filter(toks, w -> w IN
                          ('le','la','les','et','est','un','une','dans','pour','que')))
                      THEN 'en'
                      WHEN len(list_filter(toks, w -> w IN
                          ('der','die','das','und','ist','nicht','ein','zu','mit','ich'))) >=
                        len(list_filter(toks, w -> w IN
                          ('le','la','les','et','est','un','une','dans','pour','que')))
                      THEN 'de'
                      ELSE 'fr' END AS lang_pred,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM t),
        d AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM e)
        SELECT doc_id, lang, lang_pred, n_tokens, n_chars, quality_score, fp
        FROM d
        WHERE rn = 1 AND quality_score IS NOT NULL
          AND NOT isnan(quality_score) AND quality_score >= 0.3""")),

    // ---- corpus assembly (round 6) -----------------------------------------
    // Intra-document repetition gates: top-token fraction + duplicate-bigram
    // fraction, both scan-side (linear sorted-run fold, no per-doc explode).
    QuerySpec(
      "text_repetition",
      (s, dir) => TextAnalysis.repetitionStats(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        x AS (SELECT doc_id, unnest(t) AS w FROM toks),
        tc AS (SELECT doc_id, w, COUNT(*) AS c FROM x GROUP BY 1, 2),
        tt AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_token_count
               FROM tc GROUP BY 1),
        bg AS (
          SELECT doc_id, len(t) AS n_tokens,
                 CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                      ELSE list_transform(range(1, len(t)),
                             i -> concat(t[i], ' ', t[i+1])) END AS bgs
          FROM toks)
        SELECT b.doc_id,
               CAST(b.n_tokens AS BIGINT) AS n_tokens,
               tt.top_token_count,
               CAST(len(bgs) AS BIGINT) AS n_bigrams,
               CAST(len(bgs) - len(list_distinct(bgs)) AS BIGINT) AS n_dup_bigrams,
               CASE WHEN b.n_tokens > 0
                    THEN CAST(tt.top_token_count AS DOUBLE) /
                         CAST(b.n_tokens AS DOUBLE) END AS top_token_ratio,
               CASE WHEN len(bgs) > 0
                    THEN CAST(len(bgs) - len(list_distinct(bgs)) AS DOUBLE) /
                         CAST(len(bgs) AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_ratio
        FROM bg b JOIN tt ON b.doc_id = tt.doc_id""")),

    // Gopher rule-based quality filter: 4 published heuristics as exact
    // cross-multiplied integer comparisons (no division) over one
    // (doc, token) count pipeline.
    QuerySpec(
      "text_gopher_rules",
      (s, dir) => TextAnalysis.gopherRules(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        x AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY 1, 2),
        d AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(SUM(c * len(tok)) AS BIGINT) AS sum_len,
                 CAST(MAX(c) AS BIGINT) AS max_cnt,
                 CAST(SUM(CASE WHEN tok IN ('the','be','to','of','and',
                   'that','have','with','a','in') THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_stop_distinct
          FROM tc GROUP BY 1)
        SELECT doc_id, n_tokens, sum_len, max_cnt, n_stop_distinct,
               (n_tokens >= 30 AND n_tokens <= 100000) AS r_wordcount,
               (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
                 AS r_meanlen,
               (n_stop_distinct >= 2) AS r_stopwords,
               (5 * max_cnt <= n_tokens) AS r_maxfreq,
               ((n_tokens >= 30 AND n_tokens <= 100000)
                 AND (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
                 AND (n_stop_distinct >= 2)
                 AND (5 * max_cnt <= n_tokens)) AS pass
        FROM d""")),

    // Model-based quality classifier (the DCLM/FineWeb-edu stage after
    // rule gates): gopher verdicts as weak labels, hashed-unigram
    // features, add-one-smoothed rate-contrast weights — all exact
    // integer counts + one IEEE division per weight, so the trained
    // model AND every score hash-match the fully-unrolled oracle.
    QuerySpec(
      "text_quality_model",
      (s, dir) => TextAnalysis.qualityModelScore(docs(s, dir)),
      benchmark = false, // re-trains per run (train+score conflated);
      // text_quality_model_persisted is the benchmarked representative —
      // it prices what production actually repeats: artifact-load + the
      // zero-shuffle scoring fold
      oracle = qualityModelOracle),

    // The persisted round trip of the same scorer: weights written as
    // the (b, w) parquet model artifact, then scoring runs against the
    // LOADED table. SAME oracle — the hash-match proves train -> write
    // -> load -> score loses nothing. Trains + writes ONCE per process
    // (the dedup_incremental_persisted pre-written-artifact discipline),
    // so bench reps 2..n price pure load + scan-side scoring — the
    // production amortized shape (a model trains once and scores every
    // ingest batch).
    QuerySpec(
      "text_quality_model_persisted",
      (s, dir) => {
        val d = docs(s, dir)
        val path = scratchPath("qmodel", dir)
        if (!new java.io.File(path).exists())
          TextAnalysis.writeQualityModel(d, path)
        TextAnalysis.qualityModelScorePersisted(d, path)
      },
      oracle = qualityModelOracle),

    // The classifier-eval artifact: model_pass vs the gopher weak label
    // as a 4-cell confusion matrix of exact counts.
    QuerySpec(
      "text_quality_model_eval",
      (s, dir) => TextAnalysis.qualityModelEval(docs(s, dir)),
      benchmark = false, // re-trains the model (the already-priced
      // text_quality_model pipeline) to tally agreement
      oracle = Some(s"""
        $qualityModelCtes,
        scored AS (
          SELECT d.doc_id,
                 (CAST(FLOOR(CAST(sc.raw AS DOUBLE) /
                    CAST(d.n_tokens AS DOUBLE)) AS BIGINT) > 0) AS model_pass
          FROM d JOIN sc ON d.doc_id = sc.doc_id)
        SELECT lab.pass, scored.model_pass, CAST(COUNT(*) AS BIGINT) AS n
        FROM lab JOIN scored ON lab.doc_id = scored.doc_id
        GROUP BY 1, 2""")),

    // The CALIBRATED model gate: cut the score at the weak-label base
    // rate (accept the npos top-scoring docs; ties share a fate via the
    // rank-convention cut) instead of score>0, which the out-of-sample
    // eval (SURVEY §8.12) proved is recall-only. One scan computes
    // label + score together; the cut comes from the tiny score
    // histogram.
    QuerySpec(
      "text_quality_gate_calibrated",
      (s, dir) => TextAnalysis.qualityModelCalibrated(docs(s, dir)),
      benchmark = false, // re-trains the weight table per run (the
      // text_quality_model precedent); scoring itself is the already
      // benchmarked zero-shuffle fold + one metadata histogram
      oracle = Some(s"""
        $qualityCalibratedCtes
        SELECT s.doc_id, s.pass, s.score, c.cut, s.score > c.cut AS cal_pass
        FROM scored s CROSS JOIN cutv c""")),

    // The calibrated gate's confusion matrix vs the weak label — the
    // operating-point eval: BOTH error cells populated (false-accepts
    // traded for false-rejects) at lower total error than score>0;
    // TextAnalysisSpec pins both properties.
    QuerySpec(
      "text_quality_gate_calibrated_eval",
      (s, dir) => TextAnalysis.qualityModelCalibratedEval(docs(s, dir)),
      benchmark = false, // same re-trained pipeline, 4-row roll-up
      oracle = Some(s"""
        $qualityCalibratedCtes,
        g AS (SELECT s.pass, s.score > c.cut AS cal_pass
              FROM scored s CROSS JOIN cutv c)
        SELECT pass, cal_pass, CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY 1, 2""")),

    // Per-source governance stats: volume, exact-dup ratio, language
    // spread — one scan, |sources|-row aggregate.
    QuerySpec(
      "doc_source_stats",
      (s, dir) => TextAnalysis.sourceStats(docs(s, dir)),
      Some(s"""
        WITH f AS (
          SELECT source, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
                   AS BIGINT) AS n_toks,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE) AS dup_ratio
        FROM f GROUP BY 1""")),

    // The corpus yield funnel: doc/token counts at raw -> exact-dedup ->
    // gopher-gate, from ONE scan (tokens + fingerprint + verdict
    // together), unpivoted to one row per stage.
    QuerySpec(
      "doc_yield_funnel",
      (s, dir) => TextAnalysis.yieldFunnel(docs(s, dir)),
      Some("""
        WITH t0 AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS t,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents),
        x AS (SELECT doc_id, unnest(t) AS tok FROM t0),
        tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY 1, 2),
        d AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(SUM(c * len(tok)) AS BIGINT) AS sum_len,
                 CAST(MAX(c) AS BIGINT) AS max_cnt,
                 CAST(SUM(CASE WHEN tok IN ('the','be','to','of','and',
                   'that','have','with','a','in') THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_stop_distinct
          FROM tc GROUP BY 1),
        lab AS (
          SELECT doc_id,
                 ((n_tokens >= 30 AND n_tokens <= 100000)
                   AND (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
                   AND (n_stop_distinct >= 2)
                   AND (5 * max_cnt <= n_tokens)) AS pass
          FROM d),
        k AS (
          SELECT doc_id,
                 doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keeper
          FROM t0),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS raw_docs,
                 CAST(SUM(d.n_tokens) AS BIGINT) AS raw_tokens,
                 CAST(SUM(CASE WHEN k.keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS dedup_docs,
                 CAST(SUM(CASE WHEN k.keeper THEN d.n_tokens ELSE 0 END)
                   AS BIGINT) AS dedup_tokens,
                 CAST(SUM(CASE WHEN k.keeper AND lab.pass THEN 1 ELSE 0 END)
                   AS BIGINT) AS gated_docs,
                 CAST(SUM(CASE WHEN k.keeper AND lab.pass THEN d.n_tokens
                   ELSE 0 END) AS BIGINT) AS gated_tokens
          FROM d JOIN lab USING (doc_id) JOIN k USING (doc_id))
        SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
               raw_docs AS n_docs, raw_tokens AS n_tokens FROM agg
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'dedup', dedup_docs, dedup_tokens FROM agg
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'gated', gated_docs, gated_tokens FROM agg""")),

    // The funnel with the CALIBRATED MODEL stage appended — the complete
    // curation report: raw -> exact-dedup -> gopher -> calibrated model
    // gate. One labeled+scored+fingerprinted checkpoint feeds the cut,
    // the keeper window, and all eight conditional sums.
    QuerySpec(
      "doc_yield_funnel_model",
      (s, dir) => TextAnalysis.yieldFunnelModel(docs(s, dir)),
      benchmark = false, // re-trains the weight table per run (the
      // text_quality_model precedent); the 3-stage funnel remains the
      // benchmarked representative of the funnel scan shape
      oracle = Some(s"""
        $qualityCalibratedCtes,
        fpt AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents),
        kp AS (
          SELECT doc_id,
                 doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keeper
          FROM fpt),
        ag AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS raw_docs,
                 CAST(SUM(d.n_tokens) AS BIGINT) AS raw_tokens,
                 CAST(SUM(CASE WHEN kp.keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS dedup_docs,
                 CAST(SUM(CASE WHEN kp.keeper THEN d.n_tokens ELSE 0 END)
                   AS BIGINT) AS dedup_tokens,
                 CAST(SUM(CASE WHEN kp.keeper AND s.pass THEN 1 ELSE 0 END)
                   AS BIGINT) AS gated_docs,
                 CAST(SUM(CASE WHEN kp.keeper AND s.pass THEN d.n_tokens
                   ELSE 0 END) AS BIGINT) AS gated_tokens,
                 CAST(SUM(CASE WHEN kp.keeper AND s.pass AND s.score > c.cut
                   THEN 1 ELSE 0 END) AS BIGINT) AS model_docs,
                 CAST(SUM(CASE WHEN kp.keeper AND s.pass AND s.score > c.cut
                   THEN d.n_tokens ELSE 0 END) AS BIGINT) AS model_tokens
          FROM d JOIN scored s ON d.doc_id = s.doc_id
          JOIN kp ON kp.doc_id = d.doc_id
          CROSS JOIN cutv c)
        SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
               raw_docs AS n_docs, raw_tokens AS n_tokens FROM ag
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'dedup', dedup_docs, dedup_tokens FROM ag
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'gated', gated_docs, gated_tokens FROM ag
        UNION ALL
        SELECT CAST(4 AS BIGINT), 'model', model_docs, model_tokens FROM ag""")),

    // Per-source over-represented tokens: cross-multiplied integer rate
    // contrast (no division), WindowGroupLimit top-k per source.
    QuerySpec(
      "doc_source_divergence",
      (s, dir) => TextAnalysis.sourceDivergence(docs(s, dir)),
      Some("""
        WITH x AS (
          SELECT source,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        st AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
          FROM x GROUP BY 1, 2),
        bys AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
                FROM st GROUP BY 1),
        byt AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t
                FROM st GROUP BY 1),
        tot AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n_corpus FROM st),
        r AS (
          SELECT st.source, st.tok, st.c_st, byt.c_t,
                 st.c_st * tot.n_corpus - byt.c_t * bys.n_s AS contrast
          FROM st JOIN bys USING (source) JOIN byt USING (tok)
          CROSS JOIN tot)
        SELECT source, tok, c_st, c_t, contrast, rn FROM (
          SELECT source, tok, c_st, c_t, contrast,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY contrast DESC, tok) AS rn
          FROM r WHERE contrast > 0) WHERE rn <= 5""")),

    // Unicode-NFC canonicalization + the unicode-safe fingerprint: Java's
    // Normalizer and DuckDB's nfc_normalize both implement UAX#15 NFC, so
    // the normalized bytes (and their md5) hash-match cross-engine. The
    // harness corpus is ASCII (NFC is identity there); FunctionsSpec
    // carries the composed/decomposed unicode evidence.
    QuerySpec(
      "text_normalize_nfc",
      (s, dir) => TextAnalysis.normalizeNfc(docs(s, dir)),
      Some("""
        SELECT doc_id, nfc_normalize(text) AS norm_text,
               md5(regexp_replace(lower(trim(nfc_normalize(text))),
                 '\s+', ' ', 'g')) AS fp_nfc
        FROM documents""")),

    // The tokenization SEAM's cross-engine evidence: script-aware
    // segmentation (Han/kana/Thai space out per codepoint, then the
    // identical lower+trim+split) replayed by DuckDB on the multiscript
    // fixture. The harness corpus is ASCII — there the seam is a pinned
    // no-op — so the fixture is where the segmented form is proven.
    QuerySpec(
      "text_tokenize_multiscript",
      (s, dir) => TextAnalysis.tokensExploded(multiscriptDocs(s)),
      benchmark = false, // 6-row fixture literal — nothing to price
      oracle = Some(s"""
        WITH $multiscriptFixtureSql,
        t AS (SELECT doc_id, $segSplitSql AS tk FROM fx)
        SELECT doc_id,
               CAST(unnest(range(0, len(tk))) AS BIGINT) AS pos,
               unnest(tk) AS tok
        FROM t""")),

    // The seam's downstream payoff: n-gram near-dup detection WORKS on
    // unsegmented scripts — the ZH near-dup pair (3,4) surfaces from
    // per-character shingles (pre-seam each zh/ja/th doc was ONE token:
    // no shingles, invisible to every n-gram operator). Same pipeline +
    // thresholds as dedup_ngram_jaccard.
    QuerySpec(
      "dedup_ngram_jaccard_multiscript",
      (s, dir) => Dedup.ngramJaccardPairs(multiscriptDocs(s)),
      benchmark = false, // 6-row fixture literal — nothing to price
      oracle = Some(s"""
        WITH $multiscriptFixtureSql,
        toks AS (SELECT doc_id, $segSplitSql AS t FROM fx),
        sh AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingle
          FROM toks WHERE len(t) >= 3),
        d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        hotsh AS (SELECT shingle FROM d GROUP BY shingle HAVING count(*) > 100),
        dc AS (SELECT doc_id, shingle FROM d
               WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        cm AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM dc a JOIN dc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) /
                 CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        FROM cm
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) /
                CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.05""")),

    // PII / denylist scrub: counts + redaction in ONE text pass, pure
    // projection. Patterns restricted to the Java-regex/RE2-identical
    // subset so the oracle runs the same strings.
    QuerySpec(
      "text_pii_scrub",
      (s, dir) => TextAnalysis.scrub(docs(s, dir)),
      Some(s"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.emailPattern}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.ipv4Pattern}')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.denylistPattern}')) AS BIGINT) AS n_denylist,
               regexp_replace(text, '${TextAnalysis.denylistPattern}',
                 '[MASKED]', 'g') AS redacted
        FROM documents""")),

    // The curated-docs -> model-ready-sequences hop as ONE oracle query:
    // denylist redaction then fixed-overlap chunking (the exact
    // DocPipeline.sequences stage that runs batch AND streaming). The
    // oracle tokenizes the REDACTED text, so the scrub->chunk ordering
    // is hash-verified — masking after chunking would shift tokens and
    // mismatch.
    QuerySpec(
      "doc_sequences",
      (s, dir) => graft.streaming.DocPipeline.sequences(docs(s, dir)),
      Some(s"""
        WITH red AS (
          SELECT doc_id,
                 regexp_replace(text, '${TextAnalysis.denylistPattern}',
                   '[MASKED]', 'g') AS rtext
          FROM documents),
        toks AS (
          SELECT doc_id, string_split_regex(lower(trim(rtext)), '\\s+') AS t
          FROM red),
        nc AS (
          SELECT doc_id, t,
                 greatest(1, (len(t) - 16 + 47) // 48) AS n_chunks
          FROM toks),
        ch AS (
          SELECT doc_id, t, unnest(range(0, n_chunks)) AS chunk_id FROM nc)
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(list_slice(t, chunk_id*48 + 1, chunk_id*48 + 64))
                 AS BIGINT) AS n_chunk_tokens,
               array_to_string(list_slice(t, chunk_id*48 + 1, chunk_id*48 + 64),
                 ' ') AS chunk_text
        FROM ch""")),

    // BPE-style pair counting: corpus top-k adjacent token pairs via one
    // hash agg + TakeOrderedAndProject (never a full sort shuffle).
    QuerySpec(
      "vocab_bigram_topk",
      (s, dir) => TextAnalysis.vocabBigrams(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        bg AS (
          SELECT unnest(list_transform(range(1, len(t)),
                   i -> concat(t[i], ' ', t[i+1]))) AS bigram
          FROM toks WHERE len(t) >= 2)
        SELECT bigram, COUNT(*) AS n FROM bg
        GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""")),

    // Iterative BPE: 3 merge rounds, each "count adjacent pairs, merge the
    // argmax greedily" — the loop vocab_bigram_topk is one step of.
    // Driver-looped (only argmax rows reach the driver), oracle-unrolled,
    // bench-excluded — the Lloyd-IVF pattern for iterative operators.
    QuerySpec(
      "vocab_bpe_merges",
      (s, dir) => TextAnalysis.bpeMerges(docs(s, dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${bpeRoundCte(1)},
        ${bpeRoundCte(2)},
        ${bpeRoundCte(3)}
        SELECT CAST(1 AS BIGINT) AS merge_round, a || ' ' || b AS bigram, n FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT) AS merge_round, a || ' ' || b AS bigram, n FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT) AS merge_round, a || ' ' || b AS bigram, n FROM b3""")),

    // BPE apply: re-tokenize the corpus with the learned merge table (the
    // artifact a tokenizer ships). Learning is the same driver loop as
    // vocab_bpe_merges (hence bench-excluded); the APPLY itself is one
    // scan-side fold per rule, zero shuffle. Oracle = the unrolled rounds'
    // final token table: applying rules 1..3 in order must reproduce the
    // learner's round-by-round corpus token for token.
    QuerySpec(
      "tokenize_bpe",
      (s, dir) => TextAnalysis.tokenizeBpe(docs(s, dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${bpeRoundCte(1)},
        ${bpeRoundCte(2)},
        ${bpeRoundCte(3)}
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok FROM t4""")),

    // The BPE TRAINER's artifact leg (r14): 8 fixed merge rounds, the
    // merge table persisted as the parquet artifact a tokenizer ships,
    // loaded back, and returned — the oracle unrolls the identical 8
    // rounds (CTEs materialized — the 3^k inline hazard), so the hash
    // proves train + write + read lossless end-to-end.
    QuerySpec(
      "vocab_bpe_train",
      (s, dir) => TextAnalysis.bpeTrainPersisted(
        s, docs(s, dir), scratchPath("bpe", dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${(1 to 8).map(bpeRoundCteM).mkString(",\n")}
        ${(1 to 8).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_round, a AS lhs, b AS rhs, n FROM b$i")
          .mkString("\nUNION ALL\n")}""")),

    // The trained vocabulary's coverage, computed FROM THE LOADED
    // artifact (not the in-process learner): apply the 8 rules in merge
    // order with the scan-side fold, report total final tokens, merged
    // units, and the integer-bp share — the consuming leg that would
    // flip red on a lossy artifact.
    QuerySpec(
      "vocab_bpe_coverage_trained",
      (s, dir) => TextAnalysis.bpeCoverageTrained(
        s, docs(s, dir), scratchPath("bpe", dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${(1 to 8).map(bpeRoundCteM).mkString(",\n")}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN tok LIKE '% %' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_merged,
               (10000 * CAST(SUM(CASE WHEN tok LIKE '% %' THEN 1 ELSE 0 END)
                 AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS merged_bp
        FROM t9""")),

    // BATCHED BPE trainer (r15): per corpus pass, count pairs once and
    // select the top-4 pairwise non-interfering merges (defer chain
    // cases: a candidate whose left equals a selected right or vice
    // versa), then rewrite the whole batch in one pass — 2 corpus passes
    // for the 8 merges instead of 8, the scaling move a 32k-vocab
    // trainer needs (~8k passes instead of ~64k jobs). The oracle is the
    // SAME sequential 8-round unroll as vocab_bpe_train: on this corpus
    // batching selects the identical table (PackingSpec carries the
    // interference fixtures — one-pass coincidence and forced deferral),
    // so one hash match proves batched-selection ≡ 1-merge-per-pass AND
    // the artifact round trip.
    QuerySpec(
      "vocab_bpe_train_batched",
      (s, dir) => TextAnalysis.bpeTrainBatchedPersisted(
        s, docs(s, dir), scratchPath("bpeb", dir)),
      benchmark = false,
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${(1 to 8).map(bpeRoundCteM).mkString(",\n")}
        ${(1 to 8).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_round, a AS lhs, b AS rhs, n FROM b$i")
          .mkString("\nUNION ALL\n")}""")),

    // REALISTIC-VOCAB trainer gauge (r17): k=64 merges in batches of 8
    // with the incremental pair-count algebra — the measurement the r16
    // verdict asked for instead of extrapolating from k=8/batch=4. The
    // oracle unrolls the SAME 64 sequential rounds (materialized CTEs)
    // and carries the deterministic pass count (k/batchSize — batches
    // fill on this corpus), so ONE hash pins batched-selection ≡
    // sequential at 64 rounds, the artifact round trip, AND passes == 8.
    QuerySpec(
      "vocab_bpe_train_k64",
      (s, dir) => TextAnalysis.bpeTrainK64(
        s, docs(s, dir), scratchPath("bpek64", dir)),
      benchmark = false, // driver-looped trainer (wall time = pass count);
      // the delta-vs-recount wall-time A/B is recorded in SURVEY §8.20
      oracle = Some(s"""
        WITH $toksCte,
        t1 AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos,
                      unnest(t) AS tok
               FROM toks),
        ${(1 to 64).map(bpeRoundCteM).mkString(",\n")}
        ${(1 to 64).map(i =>
          s"SELECT CAST($i AS BIGINT) AS merge_round, a AS lhs, b AS rhs, n, " +
            s"CAST(8 AS BIGINT) AS passes FROM b$i")
          .mkString("\nUNION ALL\n")}""")),

    // Context-window chunking: 64-token chunks at stride 48 (overlap 16),
    // scan-side transform + posexplode, zero shuffle.
    QuerySpec(
      "chunk_fixed_overlap",
      (s, dir) => TextAnalysis.chunkDocuments(docs(s, dir)),
      Some(s"""
        WITH $toksCte,
        nc AS (
          SELECT doc_id, t,
                 greatest(1, (len(t) - 16 + 47) // 48) AS n_chunks
          FROM toks),
        ch AS (
          SELECT doc_id, t, unnest(range(0, n_chunks)) AS chunk_id FROM nc)
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(list_slice(t, chunk_id*48 + 1, chunk_id*48 + 64))
                 AS BIGINT) AS n_chunk_tokens,
               array_to_string(list_slice(t, chunk_id*48 + 1, chunk_id*48 + 64),
                 ' ') AS chunk_text
        FROM ch""")),

    // Token-budget sequence packing: per-language running token offsets ->
    // shard ids, banded two-pass decomposition (lang alone is
    // low-cardinality; see Packing.packTokenShards).
    QuerySpec(
      "pack_token_shards",
      (s, dir) => Packing.packTokenShards(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM t)
        SELECT doc_id, lang, n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS tok_offset,
               CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard_id
        FROM c""")),

    // Per-(doc, shard) spans — the loader contract: where in each shard
    // every doc's tokens sit and whether the doc continues into the
    // next shard (attention-boundary metadata of concatenation packing).
    // One row per touched shard; rows = docs + boundary crossings.
    QuerySpec(
      "pack_shard_spans",
      (s, dir) => Packing.packShardSpans(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM t),
        o AS (
          SELECT doc_id, lang, n_tokens, cum - n_tokens AS tok_off FROM c),
        sp AS (
          SELECT doc_id, lang, n_tokens, tok_off,
                 unnest(range(tok_off // 4096,
                              (tok_off + n_tokens - 1) // 4096 + 1)) AS shard_id
          FROM o)
        SELECT doc_id, lang, CAST(shard_id AS BIGINT) AS shard_id,
               CAST(GREATEST(tok_off, shard_id * 4096)
                 - shard_id * 4096 AS BIGINT) AS start_in_shard,
               CAST(LEAST(tok_off + n_tokens, (shard_id + 1) * 4096)
                 - shard_id * 4096 AS BIGINT) AS end_in_shard,
               (tok_off + n_tokens > (shard_id + 1) * 4096) AS continues
        FROM sp""")),

    // Per-shard packing diagnostics: docs/tokens/offset-span/fill per
    // (lang, shard) over the packing output — the batch shape report.
    QuerySpec(
      "pack_shard_stats",
      (s, dir) => Packing.packShardStats(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM t),
        p AS (
          SELECT doc_id, lang, n_tokens,
                 CAST(cum - n_tokens AS BIGINT) AS tok_offset,
                 CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard_id
          FROM c)
        SELECT lang, shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
               CAST(MIN(tok_offset) AS BIGINT) AS first_offset,
               CAST(MAX(tok_offset + n_tokens) AS BIGINT) AS end_offset,
               CAST(SUM(n_tokens) AS DOUBLE) / 4096.0 AS fill
        FROM p GROUP BY 1, 2""")),

    // Capped domain-mixture weights: weight = min(domain_tokens, cap) /
    // total over (lang, source) domains — exact-integer numerators and
    // denominators, one IEEE division each.
    QuerySpec(
      "mix_capped_weights",
      (s, dir) => Packing.mixCappedWeights(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT lang, source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        d AS (
          SELECT lang, source, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS dom_tokens
          FROM t GROUP BY 1, 2),
        c AS (SELECT *, least(dom_tokens, 400) AS capped_tokens FROM d),
        tot AS (SELECT CAST(SUM(capped_tokens) AS BIGINT) AS total_capped FROM c)
        SELECT lang, source, n_docs, dom_tokens, capped_tokens,
               CAST(capped_tokens AS DOUBLE) / CAST(total_capped AS DOUBLE)
                 AS weight,
               (CAST(capped_tokens AS DOUBLE) * CAST(1000000 AS DOUBLE)) /
                 (CAST(total_capped AS DOUBLE) * CAST(dom_tokens AS DOUBLE))
                 AS rep_factor
        FROM c CROSS JOIN tot""")),

    // Temperature-scaled mixture weights (alpha = 1/2): weight_i =
    // sqrt(tokens_i) / sum_j sqrt(tokens_j) — sqrt is correctly rounded on
    // both engines (a general pow is not), floor-scaled to exact longs.
    QuerySpec(
      "mix_temperature",
      (s, dir) => Packing.mixTemperature(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT lang, source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        d AS (
          SELECT lang, source, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS dom_tokens
          FROM t GROUP BY 1, 2),
        c AS (SELECT *,
                CAST(FLOOR(1000.0 * sqrt(CAST(dom_tokens AS DOUBLE)))
                  AS BIGINT) AS s_alpha
              FROM d),
        tot AS (SELECT CAST(SUM(s_alpha) AS BIGINT) AS total_alpha FROM c)
        SELECT lang, source, n_docs, dom_tokens, s_alpha,
               CAST(s_alpha AS DOUBLE) / CAST(total_alpha AS DOUBLE) AS weight,
               ((CAST(s_alpha AS DOUBLE) / CAST(total_alpha AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) / CAST(dom_tokens AS DOUBLE)
                 AS rep_factor
        FROM c CROSS JOIN tot""")),

    // Materialized mixture: per-doc copy counts from the temperature
    // weights — floor(rep) + one more for the deterministic frac(rep)
    // md5-bucket fraction. Broadcast weights, zero corpus shuffle.
    QuerySpec(
      "mix_apply_sampling",
      (s, dir) => Packing.mixApplySampling(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT lang, source,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens
          FROM documents),
        d AS (
          SELECT lang, source, CAST(SUM(n_tokens) AS BIGINT) AS dom_tokens
          FROM t GROUP BY 1, 2),
        c AS (SELECT *,
                CAST(FLOOR(1000.0 * sqrt(CAST(dom_tokens AS DOUBLE)))
                  AS BIGINT) AS s_alpha
              FROM d),
        tot AS (SELECT CAST(SUM(s_alpha) AS BIGINT) AS total_alpha FROM c),
        w AS (
          SELECT lang, source,
                 ((CAST(s_alpha AS DOUBLE) / CAST(total_alpha AS DOUBLE))
                   * CAST(1000000 AS DOUBLE)) / CAST(dom_tokens AS DOUBLE)
                   AS rep_factor
          FROM c CROSS JOIN tot)
        SELECT doc_id, docs.lang, docs.source,
               CAST(FLOOR(rep_factor) AS BIGINT) +
                 (CASE WHEN
                    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#mix'),
                       1, 8))::BIGINT <
                    CAST(FLOOR((rep_factor - FLOOR(rep_factor)) * 4294967296.0)
                      AS BIGINT)
                  THEN 1 ELSE 0 END) AS n_copies
        FROM documents docs JOIN w
          ON docs.lang = w.lang AND docs.source = w.source""")),

    // Cluster-balanced sampling: IVF cell assignment (same first-16
    // coarse quantizer as sim_ann_ivf, shared CTE) -> sqrt(cell size)
    // temperature weights -> per-vector copy counts via the md5-bucket
    // scheme — the embedding-space twin of the domain mixture.
    QuerySpec(
      "mix_cluster_balanced",
      (s, dir) => Packing.mixClusterBalanced(emb(s, dir)),
      Some(s"""
        WITH $vecNormCte,
        $ivfCellCte,
        cl AS (
          SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                 CAST(FLOOR(1000.0 * sqrt(CAST(COUNT(*) AS DOUBLE)))
                   AS BIGINT) AS s_alpha
          FROM cell GROUP BY cell),
        tot AS (SELECT CAST(SUM(s_alpha) AS BIGINT) AS total_alpha FROM cl),
        wts AS (
          SELECT cell, n_vecs,
                 ((CAST(s_alpha AS DOUBLE) / CAST(total_alpha AS DOUBLE))
                   * CAST(100000 AS DOUBLE)) / CAST(n_vecs AS DOUBLE)
                   AS rep_factor
          FROM cl CROSS JOIN tot)
        SELECT c.vec_id, c.cell, w.n_vecs,
               CAST(FLOOR(rep_factor) AS BIGINT) +
                 (CASE WHEN
                    ('0x' || substring(md5(CAST(c.vec_id AS VARCHAR) || '#cmix'),
                       1, 8))::BIGINT <
                    CAST(FLOOR((rep_factor - FLOOR(rep_factor)) * 4294967296.0)
                      AS BIGINT)
                  THEN 1 ELSE 0 END) AS n_copies
        FROM cell c JOIN wts w ON c.cell = w.cell""")),

    // Deterministic train/holdout split: md5(doc_id) bucket mod 100, top
    // 5 buckets are holdout. Pure scan-side projection — zero exchanges.
    QuerySpec(
      "split_train_holdout",
      (s, dir) => Packing.splitTrainHoldout(docs(s, dir)),
      Some("""
        WITH b AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                   AS BIGINT) AS n_tokens,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
          FROM documents)
        SELECT doc_id, lang, n_tokens, CAST(bucket AS BIGINT) AS bucket,
               CASE WHEN bucket < 95 THEN 'train' ELSE 'holdout' END AS split
        FROM b""")),

    // Deterministic global shuffle: shard = md5(doc_id#seed) prefix mod 8
    // scan-side, position = rank by (key, doc_id) within the shard — the
    // epoch-stable training permutation, one corpus-sized exchange total.
    QuerySpec(
      "shuffle_global_order",
      (s, dir) => Packing.shuffleOrder(docs(s, dir)),
      Some("""
        WITH k AS (
          SELECT doc_id,
                 md5(CAST(doc_id AS VARCHAR) || '#42') AS skey
          FROM documents),
        s AS (
          SELECT doc_id, skey,
                 ('0x' || substring(skey, 1, 8))::BIGINT % 8 AS shard
          FROM k)
        SELECT doc_id, CAST(shard AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                 AS BIGINT) AS pos
        FROM s""")),

    // Ordered conversion funnel: first view -> first click strictly after
    // -> first purchase strictly after; single-row stage counts. Staged
    // conditional aggs + user-keyed joins, one timestamp of state per user.
    QuerySpec(
      "ts_funnel_steps",
      (s, dir) => TimeSeries.funnelSteps(events(s, dir)),
      Some("""
        WITH e AS (
          SELECT user_id, event_type, ts FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        t1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1),
        t2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        t3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        SELECT (SELECT COUNT(*) FROM t1) AS n_view,
               (SELECT COUNT(*) FROM t2) AS n_click_after_view,
               (SELECT COUNT(*) FROM t3) AS n_purchase_after_click""")),

    // Conversion-window funnel, per-user stages: the funnel anchors at the
    // first view; click/purchase stages count only inside (t1, t1 + 1 day].
    // The window is what makes the streaming twin (funnelStream) final-izable.
    QuerySpec(
      "ts_funnel_users",
      (s, dir) => TimeSeries.funnelUserStages(events(s, dir)),
      Some("""
        WITH e AS (
          SELECT user_id, event_type, ts FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        t1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM e
          WHERE event_type = 'view' GROUP BY 1),
        t2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts > t1.t1
            AND e.ts <= t1.t1 + INTERVAL 86400 SECOND
          GROUP BY 1),
        t3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM e JOIN t1 ON e.user_id = t1.user_id
               JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            AND e.ts <= t1.t1 + INTERVAL 86400 SECOND
          GROUP BY 1)
        SELECT t1.user_id, t1.t1, t2.t2, t3.t3
        FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
             LEFT JOIN t3 ON t1.user_id = t3.user_id""")),

    // Weekly retention cohorts: first-event week per user; retained =
    // any event in cohort week + 7 days.
    QuerySpec(
      "ts_retention_cohorts",
      (s, dir) => TimeSeries.retentionCohorts(events(s, dir)),
      Some("""
        WITH f AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
          FROM events GROUP BY 1),
        w AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        r AS (
          SELECT f.cohort_week, COUNT(*) AS n_retained
          FROM f JOIN w ON f.user_id = w.user_id
           AND w.w = f.cohort_week + INTERVAL 7 DAY
          GROUP BY 1),
        u AS (
          SELECT cohort_week, COUNT(*) AS n_users FROM f GROUP BY 1)
        SELECT u.cohort_week, u.n_users,
               COALESCE(r.n_retained, 0) AS n_retained,
               CAST(COALESCE(r.n_retained, 0) AS DOUBLE) /
                 CAST(u.n_users AS DOUBLE) AS retention
        FROM u LEFT JOIN r ON u.cohort_week = r.cohort_week""")),

    // Trailing 7-day distinct active users: (day, user) distinct ->
    // constant 7-day contribution fan-out -> distinct -> per-day count.
    QuerySpec(
      "ts_rolling_distinct_users",
      (s, dir) => TimeSeries.rollingDistinctUsers(events(s, dir)),
      Some("""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        days AS (SELECT DISTINCT d FROM du),
        contrib AS (
          SELECT DISTINCT du.user_id, du.d + CAST(g.i AS INTEGER) AS day
          FROM du CROSS JOIN generate_series(0, 6) g(i))
        SELECT c.day, COUNT(*) AS n_users_7d
        FROM contrib c JOIN days ON c.day = days.d
        GROUP BY 1""")),

    // Deterministic K-per-group sample: smallest-md5-coin rank per lang,
    // WindowGroupLimit pre-prunes map-side (low-cardinality group key is
    // safe because only <= K rows per map task reach the exchange).
    QuerySpec(
      "sample_per_group",
      (s, dir) => TextAnalysis.samplePerGroup(docs(s, dir)),
      Some("""
        SELECT doc_id, lang, rnk FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5('s0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
          FROM documents)
        WHERE rnk <= 20""")),

    // ---- storage layout (r12) ----------------------------------------
    // Bucketed co-located join: both facts written bucketed on the join
    // key (the shuffle paid ONCE at write time), joined + per-order
    // aggregated with zero exchanges; only the bounded final histogram
    // re-aggregates. The oracle answers from the raw tables — bucketing
    // is pure execution layout.
    QuerySpec(
      "io_bucketed_join",
      (s, dir) => StorageLayout.bucketedJoinHistogram(
        s, Tables.load(s, dir, "orders"), Tables.load(s, dir, "lineitem"),
        scratchPath("bucketed", dir)),
      Some("""
        WITH per AS (
          SELECT o_orderkey, COUNT(*) AS n_items
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1)
        SELECT n_items, COUNT(*) AS n_orders FROM per GROUP BY 1""")),

    // Z-order data-skipping gauge: same rows, same bucket count, two
    // layouts (Morton-interleaved vs single-column sort); zone maps per
    // bucket price a 10%x10% two-dimensional box predicate. Pure
    // deterministic arithmetic, so the oracle hash-matches the admitted
    // bucket counts, the rows each layout forces a scan to read, and the
    // skipped-bytes bp — the multi-dimensional-clustering payoff as a
    // verified number instead of a claim.
    QuerySpec(
      "io_zorder_gauge",
      (s, dir) => StorageLayout.zorderSkippingGauge(
        Tables.load(s, dir, "lineitem")),
      Some(s"""
        WITH $zorderCtes
        , zz AS (
          SELECT zbucket AS bucket, min(qa) AS mna, max(qa) AS mxa,
                 min(qb) AS mnb, max(qb) AS mxb, COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN qa BETWEEN 16384 AND 22937
                           AND qb BETWEEN 16384 AND 22937
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
          FROM bkt GROUP BY 1),
        zl AS (
          SELECT lbucket AS bucket, min(qa) AS mna, max(qa) AS mxa,
                 min(qb) AS mnb, max(qb) AS mxb, COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN qa BETWEEN 16384 AND 22937
                           AND qb BETWEEN 16384 AND 22937
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
          FROM bkt GROUP BY 1),
        roll AS (
          SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
                 CAST(SUM(CASE WHEN mxa >= 16384 AND mna <= 22937
                           AND mxb >= 16384 AND mnb <= 22937
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
                 CAST(SUM(CASE WHEN mxa >= 16384 AND mna <= 22937
                           AND mxb >= 16384 AND mnb <= 22937
                          THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(SUM(n_sel) AS BIGINT) AS rows_selected,
                 CAST(SUM(n_rows) AS BIGINT) AS rows_total
          FROM zz
          UNION ALL
          SELECT 'linear', COUNT(*),
                 CAST(SUM(CASE WHEN mxa >= 16384 AND mna <= 22937
                           AND mxb >= 16384 AND mnb <= 22937
                          THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN mxa >= 16384 AND mna <= 22937
                           AND mxb >= 16384 AND mnb <= 22937
                          THEN n_rows ELSE 0 END) AS BIGINT),
                 CAST(SUM(n_sel) AS BIGINT),
                 CAST(SUM(n_rows) AS BIGINT)
          FROM zl)
        SELECT layout, n_buckets, n_admitted, rows_scanned, rows_selected,
               rows_total,
               (rows_total - rows_scanned) * 10000 // rows_total AS skip_bp
        FROM roll""")),

    // The physical Z-order leg: table written one directory per Z-cell,
    // zone map rebuilt from the written data names the admitted cells,
    // scan prunes to those directories with the box range pushed into
    // parquet (PlanSpec pins both). Zone maps have no false negatives
    // and the exact predicate rejects admitted extras, so the result
    // hash-equals the plain-filter oracle — the layout only changes
    // which bytes are read.
    QuerySpec(
      "io_zorder_lookup",
      (s, dir) => StorageLayout.zorderLookup(
        s, Tables.load(s, dir, "lineitem"), scratchPath("zorder", dir)),
      Some(s"""
        WITH $zorderCtes
        SELECT (qa % 2 = 0) AS qa_even, COUNT(*) AS n_rows,
               CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        FROM q
        WHERE qa BETWEEN 16384 AND 22937 AND qb BETWEEN 16384 AND 22937
        GROUP BY 1""")),

    // Partition-pruned round trip: corpus written partitioned by lang,
    // read back with a partition predicate that prunes directories
    // (PlanSpec pins PartitionFilters, not a data filter).
    QuerySpec(
      "io_partitioned_roundtrip",
      (s, dir) => StorageLayout.partitionedRoundtrip(
        s, docs(s, dir), scratchPath("bylang", dir)),
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents WHERE lang = 'en' GROUP BY 1""")),

    // JSONL interchange round trip: write → schema-on-read → per-source
    // manifest of the re-read frame, hash-matched against the manifest
    // computed straight off parquet — the bit_xor checksum makes any
    // text altered by the JSON escape cycle a hash mismatch, so this
    // pins CONTENT fidelity of the interchange format, not row counts.
    QuerySpec(
      "io_jsonl_roundtrip",
      (s, dir) => StorageLayout.jsonlRoundtrip(
        s, docs(s, dir), scratchPath("jsonl", dir)),
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents GROUP BY source""")),

    // CSV interchange round trip of the fully TYPED orders table:
    // unlike the JSONL twin this exercises the numeric/temporal text
    // cycle — double price, NTZ timestamp at fixed microsecond width —
    // and the bit_xor term covers EVERY column of every row, so a value
    // perturbed anywhere in the write/parse cycle hash-mismatches the
    // oracle computed straight off parquet.
    QuerySpec(
      "io_csv_roundtrip",
      (s, dir) => StorageLayout.csvRoundtrip(
        s, Tables.load(s, dir, "orders"), scratchPath("ordcsv", dir)),
      Some(s"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               $ordersFpXorSql
        FROM orders GROUP BY 1""")),

    // ORC round trip with a PUSHED key-range predicate: types survive
    // natively (no text cycle); the point is that scan machinery —
    // pruning, pushdown, vectorized decode — carries to the second
    // columnar format with identical results (PlanSpec pins the ORC
    // scan's PushedFilters).
    QuerySpec(
      "io_orc_roundtrip",
      (s, dir) => StorageLayout.orcRoundtrip(
        s, Tables.load(s, dir, "orders"), scratchPath("ordorc", dir)),
      Some(s"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               $ordersFpXorSql
        FROM orders WHERE o_orderkey <= 40000 GROUP BY 1""")),

    // Codec round trip: the same typed table through zstd parquet (the
    // archive codec a 100 TB store actually runs) — the full-width
    // fingerprint manifest proves the codec invisible to every value.
    QuerySpec(
      "io_parquet_zstd_roundtrip",
      (s, dir) => StorageLayout.parquetZstdRoundtrip(
        s, Tables.load(s, dir, "orders"), scratchPath("ordzstd", dir)),
      Some(s"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               $ordersFpXorSql,
               'zstd' AS codec
        FROM orders GROUP BY 1""")),

    // Malformed-record quarantine: a feed where every o_orderkey%97==0
    // line carries an unparseable price is read PERMISSIVE — bad lines
    // route to the corrupt-record column (one bad row costs one row,
    // never a failed scan), clean rows parse undamaged. The oracle
    // recomputes the same split from parquet + the corruption rule.
    QuerySpec(
      "io_csv_badrecords",
      (s, dir) => StorageLayout.csvBadRecords(
        s, Tables.load(s, dir, "orders"), scratchPath("ordbad", dir)),
      Some("""
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN '_corrupt'
                    ELSE o_orderstatus END AS status,
               COUNT(*) AS n_rows,
               CAST(COALESCE(SUM(CASE WHEN o_orderkey % 97 = 0 THEN NULL
                 ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
                 AS sum_price
        FROM orders GROUP BY 1""")),

    // ---- CDC maintenance (r13) ---------------------------------------
    // Copy-on-write MERGE of a derived insert/update/delete delta into
    // the lang-partitioned snapshot: only the two dirty partitions are
    // read (PartitionFilters pinned) and rewritten (staged write +
    // directory swap); the per-lang manifest of the final snapshot
    // hash-matches the oracle's from-scratch merge, fp_xor making any
    // content drift — including in the untouched partitions — a red
    // hash.
    QuerySpec(
      "io_cdc_upsert",
      (s, dir) => Cdc.cowUpsert(s, docs(s, dir), scratchPath("cdc", dir)),
      setup = Some((s, dir) =>
        Cdc.cowUpsertStore(s, docs(s, dir), scratchPath("cdc", dir))),
      oracle = Some("WITH " + cdcFinalCte + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY lang""")),

    // Incremental view maintenance of the release manifest under the
    // SAME delta: yesterday's persisted manifest + the delta's signed
    // effects (deletes retract, updates retract-old + add-new, inserts
    // add; xor self-inverts) — zero snapshot rescans. The oracle is a
    // full recompute over the merged corpus, so the hash match IS the
    // IVM proof; with io_cdc_upsert it cross-checks the physical merge
    // against the algebraic one on the same corpus state.
    QuerySpec(
      "gov_manifest_ivm",
      (s, dir) => Cdc.manifestIvm(s, docs(s, dir), scratchPath("ivm", dir)),
      Some("WITH " + cdcFinalCte + """
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY source""")),

    // Point lookup through per-partition bloom indexes: the blooms
    // (KB-scale driver artifacts) name the candidate partitions, the
    // scan prunes to those directories with the id list pushed down.
    // Blooms have no false negatives and the exact IN-filter rejects
    // false-positive admits, so the result equals the plain semi-join
    // the oracle runs — the index only changes which bytes are read.
    QuerySpec(
      "io_bloom_lookup",
      (s, dir) => StorageLayout.bloomLookup(
        s, docs(s, dir), scratchPath("bloomidx", dir)),
      Some("""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang = 'de' AND doc_id % 10 = 3""")),

    // Merge-on-read: the SAME day-1 delta as io_cdc_upsert, but ingested
    // as an op-tagged log (zero snapshot bytes rewritten) and resolved
    // at read time — tombstone anti-join broadcast, latest images
    // unioned in. Manifested per (lang, source) so the hash proves the
    // read-side merge lands on the identical corpus state the COW path
    // rewrote physically: one delta, both cost placements, one truth.
    QuerySpec(
      "io_cdc_mor",
      (s, dir) => Cdc.morManifest(s, docs(s, dir), scratchPath("mor", dir)),
      setup = Some((s, dir) =>
        Cdc.morStore(s, docs(s, dir), scratchPath("mor", dir))),
      oracle = Some("WITH " + cdcFinalCte + """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY lang, source"""),
      benchmark = true),

    // The full MOR lifecycle: day-1 log, day-2 log DERIVED FROM the
    // day-1-resolved view (feeds reflect current state), then compaction
    // folds both into the base (staged partition rewrite, log dropped)
    // and the manifest reads merge-free. The oracle chains two from-
    // scratch merges, so one hash match proves append × latest-day-wins
    // resolution × compaction compose to the sequential merge semantics.
    QuerySpec(
      "io_cdc_log_compact",
      (s, dir) => Cdc.morCompacted(s, docs(s, dir), scratchPath("morc", dir)),
      setup = Some((s, dir) =>
        Cdc.morCompactedStore(s, docs(s, dir), scratchPath("morc", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2 GROUP BY lang, source"""),
      benchmark = true),

    // Manifest-backed versioning (time travel): v0 is the snapshot;
    // each commit writes ONLY the dirty partitions' new files plus a
    // manifest that carries the clean partitions' file entries VERBATIM
    // from the parent manifest — zero data copied, the same physical
    // files shared by every version that didn't touch them (CdcSpec
    // pins path identity). With all three versions live, each as-of
    // read is manifested per lang; the oracle recomputes every
    // version's corpus state from scratch (documents / day-1 merge /
    // chained day-2 merge), so one hash proves both directions of the
    // versioning contract: commits land exactly the sequential merge
    // states, AND no commit disturbs a prior version's read.
    QuerySpec(
      "io_cdc_time_travel",
      (s, dir) => Cdc.timeTravelManifest(s, docs(s, dir), scratchPath("tt", dir)),
      setup = Some((s, dir) =>
        Cdc.timeTravelStore(s, docs(s, dir), scratchPath("tt", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """
        SELECT 0 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 1 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY lang
        UNION ALL
        SELECT 2 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2 GROUP BY lang"""),
      benchmark = true),

    // Streamed ingestion with an at-least-once duplicate: the day-1 op
    // log arrives as 3 micro-batches, each committed as one version by
    // the foreachBatch sink; batch 1 is then DELIVERED AGAIN (the
    // checkpoint-replay duplicate) and must change nothing -- a commit
    // is a pure function of (parent version, batch), so the replay
    // rewrites its slot instead of re-applying ops (a re-APPLY would
    // duplicate the batch's insert keys and flip n_docs + fp_xor; the
    // spec exhibits it). Final state equals the one-shot day-1 merge;
    // n_versions pins 3 versions from 4 deliveries.
    QuerySpec(
      "io_cdc_stream_ingest",
      (s, dir) => Cdc.streamIngestManifest(
        s, docs(s, dir), scratchPath("sing", dir)),
      setup = Some((s, dir) =>
        Cdc.streamIngestStore(s, docs(s, dir), scratchPath("sing", dir))),
      oracle = Some("WITH " + cdcFinalCte + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor,
               CAST(3 AS INTEGER) AS n_versions
        FROM cdc_final GROUP BY lang"""),
      benchmark = true),

    // Retention + vacuum: the back half of the versioning lifecycle —
    // v0/v1 expired, every data file no surviving manifest references
    // physically deleted (refcount over manifest ROWS, not directories:
    // the clean-partition files v2 shares with the expired v0 survive
    // the sweep, v0's superseded dirty files and the whole intermediate
    // d1 generation go — CdcSpec pins both directions). The manifest is
    // computed AFTER the sweep from what physically remains, so the
    // hash proves vacuum deleted nothing the live version references.
    QuerySpec(
      "io_cdc_vacuum",
      (s, dir) => Cdc.vacuumedManifest(s, docs(s, dir), scratchPath("vac", dir)),
      setup = Some((s, dir) =>
        Cdc.vacuumedStore(s, docs(s, dir), scratchPath("vac", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2 GROUP BY lang"""),
      benchmark = true),

    // Schema evolution: gen-1 files lack the n_toks column gen-2 files
    // carry; ONE mergeSchema read unions both generations NULL-filling
    // the old files — the add-a-column contract without rewriting
    // history (the 100 TB point: backfill costs a footer-schema union,
    // not a corpus rewrite). count(n_toks) vs count(*) separates the
    // physical column from the NULL backfill; the oracle recomputes the
    // same split from the unsplit table, so the hash pins the merged-
    // schema NULL-fill semantics end to end.
    QuerySpec(
      "io_schema_evolution",
      (s, dir) => StorageLayout.schemaEvolution(
        s, docs(s, dir), scratchPath("schevo", dir)),
      Some("""
        WITH t AS (
          SELECT lang,
                 CASE WHEN doc_id % 2 = 1
                      THEN CAST(len(string_split_regex(
                             lower(trim(text)), '\s+')) AS BIGINT)
                 END AS n_toks
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs, COUNT(n_toks) AS n_with_toks,
               CAST(SUM(COALESCE(n_toks, 0)) AS BIGINT) AS sum_toks
        FROM t GROUP BY lang"""),
      benchmark = true),

    // Right-to-be-forgotten purge: ~1% of doc ids removed from EVERY
    // live version — the one legitimate history rewrite. One pass over
    // the distinct manifest-named file set tags affected files; only
    // those are rewritten (originals physically deleted — the bytes
    // must be GONE, not unreferenced) and a shared file is rewritten
    // ONCE, so versions stay consistent and the untouched files' zero-
    // copy sharing survives (CdcSpec pins path identity). The oracle
    // recomputes each version WITH the purge filter, so one hash proves
    // exactly the requested rows vanished from all of history and
    // nothing else moved.
    QuerySpec(
      "io_cdc_rtbf",
      (s, dir) => Cdc.rtbfManifest(s, docs(s, dir), scratchPath("rtbf", dir)),
      setup = Some((s, dir) =>
        Cdc.rtbfStore(s, docs(s, dir), scratchPath("rtbf", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """
        SELECT 0 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents WHERE doc_id % 101 <> 7 GROUP BY lang
        UNION ALL
        SELECT 1 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final WHERE doc_id % 101 <> 7 GROUP BY lang
        UNION ALL
        SELECT 2 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2 WHERE doc_id % 101 <> 7 GROUP BY lang"""),
      benchmark = true),

    // Incremental consumption: the change feed between two versions,
    // computed from the MANIFEST diff — only files exactly one version
    // references are opened; the clean partitions both manifests share
    // verbatim are never read (the reason the engine's scope and the
    // oracle's dirty-lang filter agree). A downstream consumer pays
    // |changed files|, not a corpus scan; the pruning costs one driver
    // pass over two metadata-sized manifests.
    QuerySpec(
      "io_cdc_incremental",
      (s, dir) => Cdc.incrementalManifest(
        s, docs(s, dir), scratchPath("incr", dir)),
      setup = Some((s, dir) =>
        Cdc.incrementalStore(s, docs(s, dir), scratchPath("incr", dir))),
      oracle = Some("WITH " + cdcFinalCte + """,
        o AS (SELECT doc_id, lang, text FROM documents
              WHERE lang IN ('de', 'fr')),
        n AS (SELECT doc_id, lang, text FROM cdc_final
              WHERE lang IN ('de', 'fr')),
        j AS (SELECT COALESCE(o.lang, n.lang) AS lang,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'deleted'
                          WHEN o.text <> n.text THEN 'changed'
                          ELSE 'same' END AS status
              FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        SELECT lang, status, COUNT(*) AS n_docs
        FROM j GROUP BY lang, status"""),
      benchmark = true),

    // Write-audit-publish: the day-1 merge staged on a branch manifest
    // (durable, auditable, invisible to version readers), gated by an
    // audit over the STAGED as-of read (no parent language may vanish),
    // then published by ONE metadata rename into the version namespace.
    // The oracle is the from-scratch merge, so the hash proves the
    // staged-then-renamed commit is byte-identical to a direct one —
    // the gate added safety, not drift. CdcSpec drives the abort path:
    // a feed that empties both dirty languages is rejected, main's
    // chain untouched, the branch gone.
    QuerySpec(
      "io_cdc_wap",
      (s, dir) => Cdc.wapManifest(s, docs(s, dir), scratchPath("wap", dir)),
      setup = Some((s, dir) =>
        Cdc.wapStore(s, docs(s, dir), scratchPath("wap", dir))),
      oracle = Some("WITH " + cdcFinalCte + """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY lang, source"""),
      benchmark = true),

    // ---- zone-mapped CDC reads (file-level data skipping) -------------
    // The v2 store committed ZONED: rows sorted by (lang, doc_id), files
    // rolled every 128 records, manifests carrying per-file min/max
    // doc_id + n_chars zone maps. A band predicate (middle [25%, 40%] of
    // the id range, computed from the corpus so it scales with SF)
    // admits only the files whose zone overlaps; the exact predicate
    // re-applies on top. Shares its oracle SQL with the unskipped twin
    // below — the hash match IS the proof file skipping changed nothing
    // (zone maps have no false negatives). At 100 TB this is opening
    // ~15% of a partition's files instead of all of them.
    QuerySpec(
      "io_cdc_zonemap_read",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 2,
        Seq("doc_id"), skip = true),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        band AS (SELECT (max(doc_id) * 25) // 100 AS lo,
                        (max(doc_id) * 40) // 100 AS hi FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, band WHERE doc_id BETWEEN lo AND hi
        GROUP BY lang"""),
      benchmark = true),

    // The unskipped twin: full v2 file list, same exact predicate, SAME
    // oracle SQL — the baseline the zone-mapped read must hash-equal.
    QuerySpec(
      "io_cdc_zonemap_full",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 2,
        Seq("doc_id"), skip = false),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        band AS (SELECT (max(doc_id) * 25) // 100 AS lo,
                        (max(doc_id) * 40) // 100 AS hi FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, band WHERE doc_id BETWEEN lo AND hi
        GROUP BY lang"""),
      benchmark = true),

    // The skipping gauge: per lang, files admitted vs total and the rows
    // those files force the scan to read vs the partition's total —
    // pure manifest arithmetic (O(files) rows, the corpus is never
    // read). The zoned layout's file boundaries are deterministic
    // (file k of a lang = its k-th sorted run of ≤128 rows), so the
    // oracle RECOMPUTES every file's zone map from the v2 corpus state
    // + the chunking rule — a hash match pins the physical layout, the
    // manifest stats, and the admit arithmetic all at once.
    QuerySpec(
      "io_cdc_zonemap_gauge",
      (s, dir) => Cdc.layoutGauge(s, docs(s, dir), scratchPath("zone", dir),
        Cdc.zedLayouts.take(1), Seq("doc_id")).drop("layout"),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        band AS (SELECT (max(doc_id) * 25) // 100 AS lo,
                        (max(doc_id) * 40) // 100 AS hi FROM documents),
        st AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        f AS (SELECT lang, chunk, min(doc_id) AS mn, max(doc_id) AS mx,
                     COUNT(*) AS n
              FROM st GROUP BY lang, chunk)
        SELECT lang, COUNT(*) AS files_total,
               CAST(SUM(CASE WHEN mx >= lo AND mn <= hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_admitted,
               CAST(SUM(CASE WHEN mx >= lo AND mn <= hi
                             THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(n) AS BIGINT) AS rows_total,
               CAST((SUM(n) - SUM(CASE WHEN mx >= lo AND mn <= hi
                                       THEN n ELSE 0 END)) * 10000
                    // SUM(n) AS BIGINT) AS skip_bp
        FROM f, band GROUP BY lang"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // OPTIMIZE as a commit: v2's 128-row zoned files bin-packed into v3's
    // 512-row files — state bit-identical (rewrite-only), old version
    // keeps its files (snapshot isolation), vacuum reclaims them on
    // expiry. Output carries the per-lang state checksum AND the
    // before/after file counts; both chunkings are deterministic, so the
    // oracle recomputes the counts from the corpus state — one hash pins
    // "no row moved" and "the compaction ratio is exactly ceil(n/128) ->
    // ceil(n/512)".
    QuerySpec(
      "io_cdc_optimize",
      (s, dir) => Cdc.optimizeManifest(s, docs(s, dir), scratchPath("zone", dir)),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 3)),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        st AS (
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                 bit_xor(('0x' || substring(
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                   1, 15))::BIGINT) AS fp_xor
          FROM cdc_final2 GROUP BY lang)
        SELECT lang, n_docs, sum_chars, fp_xor,
               (n_docs + 127) // 128 AS files_before,
               (n_docs + 511) // 512 AS files_after
        FROM st"""),
      benchmark = true),

    // SORT-KEY EVOLUTION: v4 rewrites v3's state sorted by
    // (lang, n_chars, doc_id) — a rewrite-only commit like OPTIMIZE.
    // The skipped read admits files by the fresh min/max n_chars zone
    // maps (useless under the doc_id layout, tight under this one),
    // exact predicate re-applied; shares the _full twin's oracle — the
    // hash match is the no-false-negatives proof on the evolved key.
    QuerySpec(
      "io_cdc_resort_read",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 4,
        Seq("n_chars"), skip = true),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 4)),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        nb AS (SELECT (max(n_chars) * 25) // 100 AS nlo,
                      (max(n_chars) * 40) // 100 AS nhi FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, nb
        WHERE n_chars BETWEEN nlo AND nhi GROUP BY lang"""),
      benchmark = true),

    // The unskipped twin: full v4 file list, same exact predicate, same
    // oracle SQL.
    QuerySpec(
      "io_cdc_resort_full",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 4,
        Seq("n_chars"), skip = false),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 4)),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        nb AS (SELECT (max(n_chars) * 25) // 100 AS nlo,
                      (max(n_chars) * 40) // 100 AS nhi FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, nb
        WHERE n_chars BETWEEN nlo AND nhi GROUP BY lang"""),
      benchmark = true),

    // The payoff gauge: the SAME n_chars band priced against both
    // layouts' zone maps at the SAME 128-row roll (v2 by doc_id, v4 by
    // n_chars) — which predicates skip is a LAYOUT property. Both
    // chunkings deterministic (total sort orders), so the oracle
    // recomputes every file's zone map from state + the roll rule.
    QuerySpec(
      "io_cdc_resort_gauge",
      (s, dir) => Cdc.layoutGauge(s, docs(s, dir), scratchPath("zone", dir),
        Cdc.zedLayouts.take(2), Seq("n_chars")),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 4)),
      oracle = Some("WITH " + cdcFinal2Cte + """,
        nb AS (SELECT (max(n_chars) * 25) // 100 AS nlo,
                      (max(n_chars) * 40) // 100 AS nhi FROM documents),
        r3 AS (SELECT lang, n_chars,
                      (row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        f3 AS (SELECT lang, chunk, min(n_chars) AS mn, max(n_chars) AS mx,
                      COUNT(*) AS n
               FROM r3 GROUP BY lang, chunk),
        r4 AS (SELECT lang, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        f4 AS (SELECT lang, chunk, min(n_chars) AS mn, max(n_chars) AS mx,
                      COUNT(*) AS n
               FROM r4 GROUP BY lang, chunk),
        g AS (
          SELECT 'by_doc_id' AS layout, lang, mn, mx, n FROM f3
          UNION ALL
          SELECT 'by_n_chars' AS layout, lang, mn, mx, n FROM f4)
        SELECT layout, lang, COUNT(*) AS files_total,
               CAST(SUM(CASE WHEN mx >= nlo AND mn <= nhi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_admitted,
               CAST(SUM(CASE WHEN mx >= nlo AND mn <= nhi
                             THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(n) AS BIGINT) AS rows_total,
               CAST((SUM(n) - SUM(CASE WHEN mx >= nlo AND mn <= nhi
                                       THEN n ELSE 0 END)) * 10000
                    // SUM(n) AS BIGINT) AS skip_bp
        FROM g, nb GROUP BY layout, lang"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // OPTIMIZE ZORDER as a commit: v5 rewrites v4's state clustered by
    // the Morton interleave of (doc_id, n_chars). A 2-D box predicate
    // then prunes on BOTH stat pairs; exact conjunction re-applied;
    // shares the _full twin's oracle — the hash match is the
    // no-false-negatives proof on the multi-dimensional key.
    QuerySpec(
      "io_cdc_zorder_read",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 5,
        Seq("doc_id", "n_chars"), skip = true),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 5)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, dband, nband
        WHERE doc_id BETWEEN dlo AND dhi
          AND n_chars BETWEEN nlo AND nhi GROUP BY lang"""),
      benchmark = true),

    QuerySpec(
      "io_cdc_zorder_full",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 5,
        Seq("doc_id", "n_chars"), skip = false),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 5)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, dband, nband
        WHERE doc_id BETWEEN dlo AND dhi
          AND n_chars BETWEEN nlo AND nhi GROUP BY lang"""),
      benchmark = true),

    // The layout-DECISION gauge: the SAME 2-D box priced against all
    // THREE layouts' zone maps at the same 128-row roll. The measured
    // result on this store is that Z-order LOSES to both 1-D sorts —
    // insert-key spacing (+1M/+2M/+3M) squashes the base ids into <1%
    // of the min-max-quantized range, and 41 files cannot resolve a
    // 16x16 cell grid — which is the point: the gauge says which
    // regime a store is in before anyone pays for the rewrite (the
    // dense-id 256-file CdcSpec fixture pins the crossover where
    // Z-order wins). Oracle replays quantization, Morton ladder,
    // chunking, and admit arithmetic in SQL.
    QuerySpec(
      "io_cdc_zorder_gauge",
      (s, dir) => Cdc.layoutGauge(s, docs(s, dir), scratchPath("zone", dir),
        Cdc.zedLayouts.take(3), Seq("doc_id", "n_chars")),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 5)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + """,
        r2 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        r4 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)
                       - 1) // 128 AS chunk
               FROM cdc_final2),
        r5 AS (SELECT lang, doc_id, n_chars,
                      (row_number() OVER (PARTITION BY lang
                                          ORDER BY zbucket, doc_id)
                       - 1) // 128 AS chunk
               FROM zk),
        g AS (
          SELECT 'by_doc_id' AS layout, lang, chunk,
                 min(doc_id) AS mnd, max(doc_id) AS mxd,
                 min(n_chars) AS mnc, max(n_chars) AS mxc, COUNT(*) AS n
          FROM r2 GROUP BY 2, 3
          UNION ALL
          SELECT 'by_n_chars' AS layout, lang, chunk,
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 COUNT(*)
          FROM r4 GROUP BY 2, 3
          UNION ALL
          SELECT 'zorder' AS layout, lang, chunk,
                 min(doc_id), max(doc_id), min(n_chars), max(n_chars),
                 COUNT(*)
          FROM r5 GROUP BY 2, 3)
        SELECT layout, lang, COUNT(*) AS files_total,
               CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                              AND mxc >= nlo AND mnc <= nhi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_admitted,
               CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                              AND mxc >= nlo AND mnc <= nhi
                             THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(n) AS BIGINT) AS rows_total,
               CAST((SUM(n) - SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                        AND mxc >= nlo AND mnc <= nhi
                                       THEN n ELSE 0 END)) * 10000
                    // SUM(n) AS BIGINT) AS skip_bp
        FROM g, dband, nband GROUP BY layout, lang"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // EQUI-DEPTH Z-ORDER (r16): the quantizer option the min-max gauge's
    // measured lesson pointed at — rank-quantized dimensions are uniform
    // by construction, immune to the +1M/+2M/+3M insert-key skew that
    // squashed the min-max curve's doc_id bits. v6 rewrites v5's state
    // clustered by the rank-Morton key; the skipped 2-D box read shares
    // the state-only oracle with the v5 twins (hash match = the
    // no-false-negatives proof on the rank-quantized layout).
    QuerySpec(
      "io_cdc_zorder_ed_read",
      (s, dir) => Cdc.bandRead(s, docs(s, dir), scratchPath("zone", dir), 6,
        Seq("doc_id", "n_chars"), skip = true),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + """
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final2, dband, nband
        WHERE doc_id BETWEEN dlo AND dhi
          AND n_chars BETWEEN nlo AND nhi GROUP BY lang"""),
      benchmark = true),

    // The decision gauge with the equi-depth arm: the SAME 2-D box
    // priced against all FOUR layouts' zone maps — where rank
    // quantization moves the min-max crossover on this store's skewed id
    // space. Oracle replays BOTH quantizers (min-max bounds vs rank
    // windows), the Morton ladders, the chunkings, and the admit
    // arithmetic in SQL.
    QuerySpec(
      "io_cdc_zorder_ed_gauge",
      (s, dir) => Cdc.layoutGauge(s, docs(s, dir), scratchPath("zone", dir),
        Cdc.zedLayouts, Seq("doc_id", "n_chars")),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """
        SELECT layout, lang, COUNT(*) AS files_total,
               CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                              AND mxc >= nlo AND mnc <= nhi
                             THEN 1 ELSE 0 END) AS BIGINT) AS files_admitted,
               CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                              AND mxc >= nlo AND mnc <= nhi
                             THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(n) AS BIGINT) AS rows_total,
               CAST((SUM(n) - SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                        AND mxc >= nlo AND mnc <= nhi
                                       THEN n ELSE 0 END)) * 10000
                    // SUM(n) AS BIGINT) AS skip_bp
        FROM g, dband, nband GROUP BY layout, lang"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // LAYOUT ADVISOR (r17): the 4-layout gauge turned into a DECISION —
    // rank the layouts by the rows the workload's band predicates force
    // each one's zone maps to scan, derived from MANIFESTS ALONE (the
    // corpus is never read; at 10⁷ files this is a metadata aggregate).
    // The oracle recomputes every layout's chunk table from state + the
    // roll rule and replays the ranking, so the hash pins the DECISION
    // itself: on this store's skewed id space the 1-D doc_id sort must
    // rank first (the measured r16 lesson), with equi-depth Z ahead of
    // min-max Z.
    QuerySpec(
      "io_cdc_layout_advise",
      (s, dir) => Cdc.layoutAdvice(s, docs(s, dir), scratchPath("zone", dir)),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                AND mxc >= nlo AND mnc <= nhi
                               THEN 1 ELSE 0 END) AS BIGINT) AS files_admitted,
                 CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                AND mxc >= nlo AND mnc <= nhi
                               THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total
          FROM g, dband, nband GROUP BY layout)
        SELECT layout, files_total, files_admitted, rows_scanned, rows_total,
               CAST(row_number() OVER (ORDER BY rows_scanned, layout)
                 AS BIGINT) AS rank
        FROM adv"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // The advisor under a MIXED workload (r17): one band query per
    // dimension — the textbook Z-order case, where a 1-D sort serves its
    // own dimension and scans ~everything for the other. Whether the
    // curve wins HERE is a property of this store's file-count
    // resolution; the oracle replays the two-query bill and the argmin,
    // so the hash pins the true per-workload decision (and that it
    // DIFFERS from the single-box workload's when the store says so).
    QuerySpec(
      "io_cdc_layout_advise_mixed",
      (s, dir) => Cdc.layoutAdviceMixed(
        s, docs(s, dir), scratchPath("zone", dir)),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(SUM((CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN 1 ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN 1 ELSE 0 END)) AS BIGINT)
                   AS files_admitted,
                 CAST(SUM((CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN n ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN n ELSE 0 END)) AS BIGINT)
                   AS rows_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total
          FROM g, dband, nband GROUP BY layout)
        SELECT layout, files_total, files_admitted, rows_scanned, rows_total,
               CAST(row_number() OVER (ORDER BY rows_scanned, layout)
                 AS BIGINT) AS rank
        FROM adv"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // LOGGED-WORKLOAD ADVISOR (r18): the same mixed two-query workload,
    // but the advisor never sees a hand-authored band list — the two
    // reads are issued against v6 with the workload-log sink attached,
    // and the advisor is fed from the captured log alone. SAME oracle as
    // io_cdc_layout_advise_mixed: the hash-match proves capture → replay
    // reconstructs the exact workload (bands, grouping into
    // conjunctions, and the decision).
    QuerySpec(
      "io_cdc_layout_advise_logged",
      (s, dir) => Cdc.layoutAdviceLogged(
        s, docs(s, dir), scratchPath("zone", dir)),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(SUM((CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN 1 ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN 1 ELSE 0 END)) AS BIGINT)
                   AS files_admitted,
                 CAST(SUM((CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN n ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN n ELSE 0 END)) AS BIGINT)
                   AS rows_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total
          FROM g, dband, nband GROUP BY layout)
        SELECT layout, files_total, files_admitted, rows_scanned, rows_total,
               CAST(row_number() OVER (ORDER BY rows_scanned, layout)
                 AS BIGINT) AS rank
        FROM adv"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // FREQUENCY-WEIGHTED logged advisor (r18): the same two band shapes,
    // but the doc_id band is ISSUED three times for every n_chars band
    // and the advisor prices each logged qid at its observed replay
    // count (the duplicate log rows a set-semantics advisor collapses
    // ARE the traffic). The pin is the DECISION FLIPPING with the
    // frequency alone — at sf0.1 the 1:1 mix picks the equi-depth Z
    // layout while 3:1 drags the bill to the 1-D doc_id sort (bands and
    // store identical in both queries); at sf0.01 the 6-file resolution
    // floor ties all four either way, same as the mixed pin — honest
    // and hashed. The oracle inlines the 3× multiplier into the replay.
    QuerySpec(
      "io_cdc_layout_advise_weighted",
      (s, dir) => Cdc.layoutAdviceLogged(
        s, docs(s, dir), scratchPath("zone", dir), docIdReps = 3),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(COUNT(*) AS BIGINT) AS files_total,
                 CAST(SUM(3 * (CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN 1 ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN 1 ELSE 0 END)) AS BIGINT)
                   AS files_admitted,
                 CAST(SUM(3 * (CASE WHEN mxd >= dlo AND mnd <= dhi
                                THEN n ELSE 0 END)
                        + (CASE WHEN mxc >= nlo AND mnc <= nhi
                                THEN n ELSE 0 END)) AS BIGINT)
                   AS rows_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total
          FROM g, dband, nband GROUP BY layout)
        SELECT layout, files_total, files_admitted, rows_scanned, rows_total,
               CAST(row_number() OVER (ORDER BY rows_scanned, layout)
                 AS BIGINT) AS rank
        FROM adv"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // AUTO-OPTIMIZE (r17): apply the advisor's winner as a rewrite-only
    // v7 commit (the choice itself costs manifest metadata; the rewrite
    // is the same one-time commit OPTIMIZE already prices). Output = the
    // per-lang state checksum of v7 plus the chosen layout label; the
    // oracle recomputes the state (version-invariant) AND replays the
    // argmin over the four recomputed chunk tables — one hash proves the
    // advisor picked the predicted winner, the commit applied exactly
    // that layout, and no row moved.
    QuerySpec(
      "io_cdc_optimize_auto",
      (s, dir) => Cdc.optimizeAutoRead(s, docs(s, dir), scratchPath("zone", dir)),
      setup = Some((s, dir) =>
        Cdc.optimizeAutoStore(s, docs(s, dir), scratchPath("zone", dir))),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                AND mxc >= nlo AND mnc <= nhi
                               THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
          FROM g, dband, nband GROUP BY layout),
        win AS (SELECT layout FROM adv ORDER BY rows_scanned, layout LIMIT 1),
        st AS (
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                 bit_xor(('0x' || substring(
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                   1, 15))::BIGINT) AS fp_xor
          FROM cdc_final2 GROUP BY lang)
        SELECT st.lang, st.n_docs, st.sum_chars, st.fp_xor, win.layout
        FROM st, win"""),
      benchmark = true),

    // COST-GATED auto-OPTIMIZE, the "keep" branch (r18): with the
    // single-box workload and ONE expected replay, a rewrite can never
    // pay — the per-replay saving is strictly bounded by the current
    // layout's scan bill, itself at most the store's row count, which is
    // exactly the rewrite's cost — so the gate must answer "keep" from
    // the manifests alone and write NOTHING. The oracle replays the
    // whole decision (winner argmin, saving, rewrite cost, the gate
    // inequality), so the hash pins the decision row itself; CdcSpec
    // pins the other branch (a replay count that amortizes → the commit
    // lands, content identical to the ungated auto-OPTIMIZE) and that
    // "keep" leaves no new version behind.
    QuerySpec(
      "io_cdc_optimize_auto_keep",
      (s, dir) => Cdc.optimizeGateDecision(
        Cdc.layoutAdvice(s, docs(s, dir), scratchPath("zone", dir)),
        current = "zorder_ed", nReplays = 1L),
      setup = Some((s, dir) =>
        Cdc.zonedStore(s, docs(s, dir), scratchPath("zone", dir), 6)),
      oracle = Some("WITH " + cdcFinal2Cte + "," + zcdcBands + "," +
        zcdcCtes + "," + zcdcEdCtes + "," + zcdcLayoutChunksCtes + """,
        adv AS (
          SELECT layout,
                 CAST(SUM(CASE WHEN mxd >= dlo AND mnd <= dhi
                                AND mxc >= nlo AND mnc <= nhi
                               THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(SUM(n) AS BIGINT) AS rows_total
          FROM g, dband, nband GROUP BY layout),
        win AS (
          SELECT layout AS winner, rows_scanned AS win_rows, rows_total
          FROM adv ORDER BY rows_scanned, layout LIMIT 1),
        cur AS (
          SELECT rows_scanned AS cur_rows FROM adv
          WHERE layout = 'zorder_ed')
        SELECT win.winner,
               CAST(cur.cur_rows - win.win_rows AS BIGINT) AS saving_rows,
               CAST(win.rows_total AS BIGINT) AS rewrite_rows,
               CASE WHEN win.winner = 'zorder_ed' THEN 'keep'
                    WHEN (cur.cur_rows - win.win_rows) * 1 > win.rows_total
                      THEN 'rewrite'
                    ELSE 'keep' END AS action,
               CAST(1 AS BIGINT) AS n_replays
        FROM win, cur"""),
      benchmark = false), // metadata-only arithmetic, not engine throughput

    // ---- fuzzy entity resolution (r12) -------------------------------
    // Engine side blocks candidate pairs with SymSpell ≤2-deletion
    // neighborhoods over the DISTINCT entity table (never all-pairs, and
    // the only corpus-sized job is the distinct aggregation); the oracle
    // brute-forces the tiny distinct-name cross join — different
    // algorithm, same answer, which is exactly what the blocking
    // completeness proof claims.
    QuerySpec(
      "er_fuzzy_name_pairs",
      (s, dir) => EntityResolution.fuzzyPairs(part(s, dir), "p_name", "p_partkey"),
      Some("""
        WITH n AS (
          SELECT p_name AS name, min(p_partkey) AS ent_id, count(*) AS support
          FROM part GROUP BY 1)
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
               a.support AS support_a, b.support AS support_b
        FROM n a JOIN n b
          ON a.name < b.name AND levenshtein(a.name, b.name) <= 2""")),

    // Pair graph -> entity clusters: same min-label CC core as the
    // near-dup text clusters, on entity ids (min source key per name).
    QuerySpec(
      "er_entity_clusters",
      (s, dir) => EntityResolution.entityClusters(part(s, dir), "p_name", "p_partkey"),
      benchmark = false, // iterative CC: wall time = propagation rounds
      oracle = Some(s"""
        WITH RECURSIVE
        $erGraphCte
        SELECT n.name, n.ent_id, min(r.node) AS cluster
        FROM n JOIN reach r ON r.src = n.ent_id
        GROUP BY n.name, n.ent_id""")),

    // The resolution applied: canonical surviving entity (the min-id
    // member's name), raw-variant count, and corpus rows re-keyed to it.
    QuerySpec(
      "er_canonical_support",
      (s, dir) => EntityResolution.canonicalSupport(part(s, dir), "p_name", "p_partkey"),
      benchmark = false, // same CC core as er_entity_clusters
      oracle = Some(s"""
        WITH RECURSIVE
        $erGraphCte,
        lab AS (
          SELECT n.name, n.ent_id, n.support, min(r.node) AS cluster
          FROM n JOIN reach r ON r.src = n.ent_id
          GROUP BY n.name, n.ent_id, n.support)
        SELECT c.name AS canonical,
               count(*) AS n_variants,
               CAST(sum(l.support) AS BIGINT) AS total_rows
        FROM lab l JOIN lab c ON c.ent_id = l.cluster
        GROUP BY 1""")),

    // The resolution applied to a FACT table: lineitem revenue re-keyed
    // to canonical entities via the broadcast (p_partkey -> canonical)
    // lookup — the entity work is all on the bounded distinct-name
    // table, the corpus-sized side touches only one broadcast join.
    QuerySpec(
      "er_canonical_revenue",
      (s, dir) => {
        val m = EntityResolution.canonicalKeys(part(s, dir), "p_name", "p_partkey")
        Tables.load(s, dir, "lineitem")
          .join(org.apache.spark.sql.functions.broadcast(
            m.withColumnRenamed("key", "l_partkey")), Seq("l_partkey"))
          .groupBy(col("canonical"))
          .agg(
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_items"),
            org.apache.spark.sql.functions.sum(
              col("l_extendedprice").cast("decimal(18,2)"))
              .cast("double").as("revenue"))
      },
      benchmark = false, // same iterative CC core as er_entity_clusters
      oracle = Some(s"""
        WITH RECURSIVE
        $erGraphCte,
        lab AS (
          SELECT n.name, n.ent_id, min(r.node) AS cluster
          FROM n JOIN reach r ON r.src = n.ent_id
          GROUP BY n.name, n.ent_id),
        canon AS (
          SELECT cluster, name AS canonical FROM lab WHERE ent_id = cluster),
        m AS (
          SELECT p.p_partkey, c.canonical
          FROM part p
          JOIN lab ON lab.name = p.p_name
          JOIN canon c ON c.cluster = lab.cluster)
        SELECT m.canonical, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM lineitem li JOIN m ON m.p_partkey = li.l_partkey
        GROUP BY 1""")),

    // The ER lifecycle's artifact leg: the canonical (key → name) map is
    // entity-sized metadata a pipeline resolves ONCE and every fact
    // re-key replays — persist it to parquet, reload, re-key. SAME
    // oracle as er_canonical_revenue: the hash-match proves the map's
    // write → load round trip is lossless (the writeIvfCells /
    // incremental-dedup artifact discipline applied to ER).
    QuerySpec(
      "er_canonical_persisted",
      (s, dir) => {
        val path = scratchPath("er_map", dir)
        EntityResolution.writeCanonicalMap(
          part(s, dir), "p_name", "p_partkey", path)
        EntityResolution.rekeyRevenue(
          Tables.load(s, dir, "lineitem"), s, path)
      },
      benchmark = false, // same iterative CC core, plus the write leg
      oracle = Some(s"""
        WITH RECURSIVE
        $erGraphCte,
        lab AS (
          SELECT n.name, n.ent_id, min(r.node) AS cluster
          FROM n JOIN reach r ON r.src = n.ent_id
          GROUP BY n.name, n.ent_id),
        canon AS (
          SELECT cluster, name AS canonical FROM lab WHERE ent_id = cluster),
        m AS (
          SELECT p.p_partkey, c.canonical
          FROM part p
          JOIN lab ON lab.name = p.p_name
          JOIN canon c ON c.cluster = lab.cluster)
        SELECT m.canonical, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM lineitem li JOIN m ON m.p_partkey = li.l_partkey
        GROUP BY 1""")),

    // ---- release governance (r12) ------------------------------------
    // Corpus snapshot diff: two deterministic snapshots derived from the
    // documents table (base drops the %10==3 slice = later additions,
    // current drops %10==7 = removals, %10==5 re-crawled with drifted
    // text = changes), diffed on the canonical content fingerprint via
    // one full-outer id join. The release-to-release report a corpus
    // pipeline publishes.
    QuerySpec(
      "gov_snapshot_diff",
      (s, dir) => {
        val d = docs(s, dir)
        val base = d.where(col("doc_id") % 10 =!= 3)
        val cur = d.where(col("doc_id") % 10 =!= 7)
          .withColumn("text",
            org.apache.spark.sql.functions.when(col("doc_id") % 10 === 5,
              org.apache.spark.sql.functions.concat(col("text"),
                org.apache.spark.sql.functions.lit(" recrawl edit")))
              .otherwise(col("text")))
        Governance.snapshotDiff(base, cur)
      },
      Some("""
        WITH b AS (
          SELECT doc_id, source,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          FROM documents WHERE doc_id % 10 <> 3),
        c AS (
          SELECT doc_id, source,
                 md5(regexp_replace(lower(trim(
                   CASE WHEN doc_id % 10 = 5 THEN text || ' recrawl edit'
                        ELSE text END)), '\s+', ' ', 'g')) AS fp
          FROM documents WHERE doc_id % 10 <> 7)
        SELECT coalesce(c.source, b.source) AS source,
               CASE WHEN b.fp IS NULL THEN 'added'
                    WHEN c.fp IS NULL THEN 'removed'
                    WHEN b.fp <> c.fp THEN 'changed'
                    ELSE 'unchanged' END AS status,
               count(*) AS n_docs
        FROM b FULL OUTER JOIN c ON b.doc_id = c.doc_id
        GROUP BY 1, 2""")),

    // Distribution drift between the same two snapshots: n_chars
    // histogram contrast (integer cross-multiplication, no logs) — did
    // the corpus SHAPE move, not just its membership.
    QuerySpec(
      "gov_snapshot_drift_hist",
      (s, dir) => {
        val d = docs(s, dir)
        Governance.snapshotDriftHist(
          d.where(col("doc_id") % 10 =!= 3),
          d.where(col("doc_id") % 10 =!= 7), "n_chars")
      },
      Some("""
        WITH u AS (
          SELECT n_chars // 50 AS bucket, 1 AS inb, 0 AS inc
          FROM documents WHERE doc_id % 10 <> 3
          UNION ALL
          SELECT n_chars // 50, 0, 1
          FROM documents WHERE doc_id % 10 <> 7),
        h AS (
          SELECT bucket, CAST(SUM(inb) AS BIGINT) AS n_base,
                 CAST(SUM(inc) AS BIGINT) AS n_cur
          FROM u GROUP BY 1),
        t AS (
          SELECT CAST(SUM(n_base) AS BIGINT) AS bt,
                 CAST(SUM(n_cur) AS BIGINT) AS ct
          FROM h)
        SELECT bucket, n_base, n_cur,
               n_cur * bt - n_base * ct AS drift_contrast
        FROM h, t""")),

    // Join-key skew profile: exact top-15 heavy keys with integer
    // basis-point shares — the report that routes a key to the salted
    // join (q22_join_salted_hot) or plain AQE.
    QuerySpec(
      "gov_key_skew",
      (s, dir) => Governance.keySkew(
        Tables.load(s, dir, "lineitem"), "l_partkey", 15),
      Some("""
        WITH k AS (SELECT l_partkey AS key, count(*) AS cnt
                   FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows FROM k),
        r AS (SELECT key, cnt,
                     row_number() OVER (ORDER BY cnt DESC, key) AS rnk
              FROM k)
        SELECT key, cnt, rnk, cnt * 10000 // total_rows AS share_bp
        FROM r, t WHERE rnk <= 15""")),

    // Referential-integrity report over the star schema's FK edges —
    // the pre-publish gate; this corpus is clean, so every orphan cell
    // is an asserted zero (violation detection is spec-pinned on a
    // fixture).
    QuerySpec(
      "gov_fk_orphans",
      (s, dir) => {
        def t(n: String) = Tables.load(s, dir, n)
        Governance.fkOrphans(Seq(
          ("lineitem.orderkey->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
          ("lineitem.partkey->part", t("lineitem"), "l_partkey", t("part"), "p_partkey"),
          ("lineitem.suppkey->supplier", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"),
          ("orders.custkey->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
          ("customer.nationkey->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
          ("supplier.nationkey->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
          ("nation.regionkey->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
          ("events.user_id->customer", t("events"), "user_id", t("customer"), "c_custkey")))
      },
      Some(Seq(
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
        .map { case (fk, c, ck, p, pk) =>
          s"""SELECT '$fk' AS fk, count(*) AS n_rows,
                 CAST(sum(CASE WHEN h.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
              FROM $c LEFT JOIN (SELECT DISTINCT $pk AS k FROM $p) h
                ON $c.$ck = h.k"""
        }.mkString(" UNION ALL "))),

    // One-scan column profiler over lineitem: null/distinct/min/max per
    // column, numerics rendered through DECIMAL and timestamps through
    // DATE so the text form is engine-stable. Oracle is generated from
    // the same column list so the two sides can never profile
    // different columns.
    QuerySpec(
      "gov_profile_columns",
      (s, dir) => Governance.profileColumns(
        Tables.load(s, dir, "lineitem"), profiledCols.map(_._1)),
      Some(profiledCols.map { case (c, renderSql) =>
        s"""SELECT '$c' AS col_name,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               ${renderSql(s"min($c)")} AS min_str,
               ${renderSql(s"max($c)")} AS max_str
            FROM lineitem"""
      }.mkString(" UNION ALL "))),

    // Release manifest: per-source totals + an order-free bit_xor
    // content checksum over the canonical fingerprints' high 60 bits —
    // the one-scan integrity tripwire a release ships (snapshotDiff is
    // the authority when it fires).
    QuerySpec(
      "gov_release_manifest",
      (s, dir) => Governance.releaseManifest(docs(s, dir)),
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents GROUP BY source""")),

    // The 100 TB profiler default: distinct counts via HLL so ALL
    // columns profile in ONE full-width scan + one single-row agg
    // (the exact profiler pays one pruned scan per column). Estimates
    // are engine-specific → rows-only, the sketch-estimator
    // discipline; the bound twin below is the hash-checked witness.
    QuerySpec(
      "gov_profile_columns_approx",
      (s, dir) => Governance.profileColumnsApprox(
        Tables.load(s, dir, "lineitem"), profiledCols.map(_._1)),
      None),

    // Accuracy contract: per column the EXACT distinct count plus an
    // integer cross-multiplied boolean — the estimate within 1500 bp.
    // The oracle emits the exact side and TRUE; HLL drifting out of
    // bound flips a boolean and the round's hash check goes red.
    QuerySpec(
      "gov_profile_columns_approx_bound",
      (s, dir) => Governance.profileColumnsApproxBound(
        Tables.load(s, dir, "lineitem"), profiledCols.map(_._1)),
      benchmark = false, // re-runs both profilers, each priced elsewhere
      oracle = Some(profiledCols.map { case (c, _) =>
        s"""SELECT '$c' AS col_name,
               count(DISTINCT $c) AS n_distinct,
               TRUE AS within_bound
            FROM lineitem"""
      }.mkString(" UNION ALL "))),

    // Optimistic concurrency on the versioned store: A and B stage from
    // the same parent; A commits clean as v1, B's commit detects the
    // interleaved v1 from manifest metadata alone, proves its write set
    // disjoint, REBASES onto v1 and publishes as v2 with one rename; a
    // third writer overlapping A's write set is rejected and the chain
    // stays put. The oracle recomputes v1 (A's merge) and v2 (A's merge
    // + B's merge of the partitions B read at v0) from scratch — the v2
    // hash is the rebase theorem (concurrent-then-rebase ≡ serial
    // A-then-B), v0/v1 hashing clean proves neither the rebase nor the
    // rejected attempt disturbed history.
    QuerySpec(
      "io_cdc_concurrent",
      (s, dir) => Cdc.concurrentManifest(
        s, docs(s, dir), scratchPath("conc", dir)),
      setup = Some((s, dir) =>
        Cdc.concurrentStore(s, docs(s, dir), scratchPath("conc", dir))),
      oracle = Some("WITH " + cdcFinalCte + """,
        cdc_conc AS (
          SELECT doc_id, text, lang, source, n_chars FROM cdc_final
           WHERE lang <> 'es'
          UNION ALL
          SELECT doc_id, text, lang, source, n_chars FROM documents
           WHERE lang = 'es' AND doc_id % 23 <> 0 AND doc_id % 3 <> 0
          UNION ALL
          SELECT doc_id, 'cdcb ' || text, lang, source,
                 length('cdcb ' || text)
            FROM documents
           WHERE lang = 'es' AND doc_id % 3 = 0 AND doc_id % 23 <> 0
          UNION ALL
          SELECT doc_id + 3000000, 'insb ' || text, lang, source,
                 length('insb ' || text)
            FROM documents WHERE lang = 'es' AND doc_id % 29 = 0)
        SELECT 0 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 1 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_final GROUP BY lang
        UNION ALL
        SELECT 2 AS version, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM cdc_conc GROUP BY lang""")),

    // SCD Type-2 dimension build: orders become per-customer profile-
    // change events (priority = "current tier"); same-day events
    // collapse via max_by over the unique order key, no-op updates are
    // suppressed, survivors are effective-dated (eff_to NULL = current
    // version). One shuffle on the customer key carries all three
    // window steps.
    QuerySpec(
      "dim_scd2_build",
      (s, dir) => Dimensions.scd2Dim(Tables.load(s, dir, "orders")),
      Some("WITH " + scd2VerCte + """
        SELECT custkey, version_no, tier, eff_from, eff_to FROM ver""")),

    // SCD Type-2 temporal fact join: every lineitem priced under the
    // dimension version in force AT ITS SHIP DATE (equi hash join on
    // custkey, date range as residual — PlanSpec pins no nested-loop
    // product). Every fact matches exactly one version: intervals tile
    // [first event, ∞) and shipdate >= the customer's first event day.
    QuerySpec(
      "dim_scd2_asof",
      (s, dir) => Dimensions.scd2FactJoin(
        Tables.load(s, dir, "orders"), Tables.load(s, dir, "lineitem")),
      Some("WITH " + scd2VerCte + """
        SELECT tier, CAST(year(l_shipdate) AS INT) AS yr,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount))
                 * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN ver ON o_custkey = custkey AND eff_from <= l_shipdate
                AND (eff_to IS NULL OR l_shipdate < eff_to)
        GROUP BY 1, 2""")),

    // Point-in-time dimension snapshot: the version of every customer
    // in force on 1996-06-01 — intervals tile, so exactly one row per
    // customer whose history had started by the as-of date.
    QuerySpec(
      "dim_scd2_snapshot",
      (s, dir) => Dimensions.scd2Snapshot(
        Tables.load(s, dir, "orders"), "1996-06-01"),
      Some("WITH " + scd2VerCte + """
        SELECT custkey, version_no, tier, eff_from, eff_to FROM ver
        WHERE eff_from <= DATE '1996-06-01'
          AND (eff_to IS NULL OR DATE '1996-06-01' < eff_to)""")),

    // Incremental SCD2 maintenance round trip: build the dimension over
    // the pre-1998 feed, PERSIST it, merge the 1998 delta incrementally
    // (affected keys' open versions seed recomputed tails — the lag
    // suppression works across the old/new boundary; untouched keys
    // carry verbatim through a broadcast anti-join). The oracle is the
    // from-scratch build over the FULL feed: the hash match is the
    // merge theorem (incremental ≡ rebuild). The base write is priced
    // inside the query, like the other persisted-artifact round trips.
    QuerySpec(
      "dim_scd2_merge",
      (s, dir) => Dimensions.scd2MergeRoundTrip(
        s, Tables.load(s, dir, "orders"), scratchPath("scd2dim", dir)),
      Some("WITH " + scd2VerCte + """
        SELECT custkey, version_no, tier, eff_from, eff_to FROM ver""")),

    // Declarative expectations gate: 11 constraints across three tables
    // (not-null / accepted-values / range / ordering / unique /
    // referential), each table's whole battery priced at ONE scan of
    // conditional aggregates. Two constraints FAIL by design (orders
    // also takes status 'P'; discount reaches 0.10 against an 8%
    // policy bound) — the report proves the gate's failure path, not
    // just its pass path.
    QuerySpec(
      "gov_expectations",
      (s, dir) => Governance.expectationSuite(
        Tables.load(s, dir, "orders"), Tables.load(s, dir, "lineitem"),
        docs(s, dir)),
      Some("""
        WITH raw AS (
          SELECT 'orders' AS tab, 'o_custkey_not_null' AS check_name,
                 'not_null' AS kind,
                 CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
                   AS violations
          FROM orders
          UNION ALL
          SELECT 'orders', 'o_orderstatus_in_o_f', 'accepted_values',
                 COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F'))
          FROM orders
          UNION ALL
          SELECT 'orders', 'o_totalprice_positive', 'range',
                 COUNT(*) FILTER (WHERE NOT (o_totalprice > 0.0))
          FROM orders
          UNION ALL
          SELECT 'orders', 'o_orderkey_unique', 'unique',
                 COUNT(*) - COUNT(DISTINCT o_orderkey)
          FROM orders
          UNION ALL
          SELECT 'lineitem', 'l_quantity_1_to_50', 'range',
                 COUNT(*) FILTER (WHERE l_quantity NOT BETWEEN 1.0 AND 50.0)
          FROM lineitem
          UNION ALL
          SELECT 'lineitem', 'l_discount_max_8pct', 'range',
                 COUNT(*) FILTER (WHERE l_discount NOT BETWEEN 0.0 AND 0.08)
          FROM lineitem
          UNION ALL
          SELECT 'lineitem', 'l_ship_after_order_epoch', 'ordering',
                 COUNT(*) FILTER (WHERE l_shipdate < TIMESTAMP '1992-01-01')
          FROM lineitem
          UNION ALL
          SELECT 'documents', 'text_not_null', 'not_null',
                 COUNT(*) FILTER (WHERE text IS NULL)
          FROM documents
          UNION ALL
          SELECT 'documents', 'lang_accepted', 'accepted_values',
                 COUNT(*) FILTER
                   (WHERE lang NOT IN ('en', 'de', 'es', 'fr', 'zh'))
          FROM documents
          UNION ALL
          SELECT 'documents', 'doc_id_unique', 'unique',
                 COUNT(*) - COUNT(DISTINCT doc_id)
          FROM documents
          UNION ALL
          SELECT 'lineitem', 'l_orderkey_in_orders', 'referential',
                 COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
          FROM lineitem)
        SELECT tab, check_name, kind, violations,
               violations = 0 AS passed
        FROM raw""")),

    // Graph analytics: 3 rounds of INTEGER-scaled PageRank (millionths,
    // DIV division — order- and engine-independent, so a fixed-round
    // run hash-matches exactly; float PageRank never could) over the
    // co-supplier graph (suppliers sharing an order; pair explosion
    // bounded by lines-per-order). Each round is one edge-sized
    // map-side-combinable agg; the rank table stays node-sized. The
    // oracle unrolls the identical three rounds.
    QuerySpec(
      "graph_pagerank_cosupplier",
      (s, dir) => Graphs.coSupplierPageRank(Tables.load(s, dir, "lineitem")),
      Some("""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        e AS (SELECT src, dst FROM up
              UNION ALL SELECT dst AS src, src AS dst FROM up),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
        ed AS (SELECT e.src, e.dst, deg.deg
               FROM e JOIN deg ON e.src = deg.node),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg),
        r1 AS (SELECT ed.dst AS node, 150000 +
                 (85 * CAST(SUM(r.pr // ed.deg) AS BIGINT)) // 100 AS pr
               FROM ed JOIN r0 r ON ed.src = r.node GROUP BY 1),
        r2 AS (SELECT ed.dst AS node, 150000 +
                 (85 * CAST(SUM(r.pr // ed.deg) AS BIGINT)) // 100 AS pr
               FROM ed JOIN r1 r ON ed.src = r.node GROUP BY 1),
        r3 AS (SELECT ed.dst AS node, 150000 +
                 (85 * CAST(SUM(r.pr // ed.deg) AS BIGINT)) // 100 AS pr
               FROM ed JOIN r2 r ON ed.src = r.node GROUP BY 1)
        SELECT deg.node, deg.deg, r3.pr
        FROM deg JOIN r3 ON deg.node = r3.node""")),

    // Triangle census via degree-ordered orientation: every undirected
    // edge directed toward its (deg, id)-larger endpoint, wedges
    // enumerated only at each triangle's degree-minimal corner (the
    // O(m^1.5) arboricity bound that survives celebrity-node skew),
    // closing edges verified by one equi-join. Runs on the part
    // co-occurrence graph, which stays SPARSE at every scale — the
    // co-supplier projection approaches completeness (any two of the
    // few suppliers co-occur somewhere), and on a near-complete graph
    // triangle work is inherent, not a plan defect. The oracle
    // brute-forces triangles by id order — different algorithm, same
    // rows; the clustering coefficient is integer basis points (DIV),
    // so the hash match is exact.
    QuerySpec(
      "graph_triangles",
      (s, dir) => Graphs.coPartTriangles(Tables.load(s, dir, "lineitem")),
      Some("""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        e AS (SELECT src, dst FROM up
              UNION ALL SELECT dst AS src, src AS dst FROM up),
        deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
        tri AS (
          SELECT a.src AS x, a.dst AS y, b.dst AS z
          FROM up a
          JOIN up b ON b.src = a.dst
          JOIN up c ON c.src = a.src AND c.dst = b.dst),
        corners AS (
          SELECT x AS node FROM tri
          UNION ALL SELECT y AS node FROM tri
          UNION ALL SELECT z AS node FROM tri),
        pn AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY 1)
        SELECT deg.node, deg.deg,
               COALESCE(pn.triangles, 0) AS triangles,
               CASE WHEN deg.deg > 1
                    THEN (10000 * 2 * COALESCE(pn.triangles, 0))
                         // (deg.deg * (deg.deg - 1))
                    ELSE 0 END AS cc_bp
        FROM deg LEFT JOIN pn ON deg.node = pn.node""")),

    // Fixed-round frontier BFS: exact hop distance (capped at 3) from
    // one brand's parts over the part co-occurrence graph — affinity
    // neighborhood layers (the dense co-supplier graph saturates in one
    // hop; the sparse part graph has real layers). Each round joins
    // only the newest frontier against the edge list and min-merges —
    // K rounds = K bounded shuffles, job count known at plan time. The
    // oracle unrolls reachable sets and takes set differences per hop.
    QuerySpec(
      "graph_bfs_hops",
      (s, dir) => Graphs.coPartBfs(
        Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "part")),
      Some("""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        e AS (SELECT src, dst FROM up
              UNION ALL SELECT dst AS src, src AS dst FROM up),
        n0 AS (SELECT p_partkey AS node FROM part
               WHERE p_brand = 'Brand#11'),
        n1 AS (SELECT node FROM n0
               UNION SELECT e.dst FROM e JOIN n0 ON e.src = n0.node),
        n2 AS (SELECT node FROM n1
               UNION SELECT e.dst FROM e JOIN n1 ON e.src = n1.node),
        n3 AS (SELECT node FROM n2
               UNION SELECT e.dst FROM e JOIN n2 ON e.src = n2.node)
        SELECT node, 0 AS dist FROM n0
        UNION ALL SELECT node, 1 AS dist FROM
          (SELECT node FROM n1 EXCEPT SELECT node FROM n0) t1
        UNION ALL SELECT node, 2 AS dist FROM
          (SELECT node FROM n2 EXCEPT SELECT node FROM n1) t2
        UNION ALL SELECT node, 3 AS dist FROM
          (SELECT node FROM n3 EXCEPT SELECT node FROM n2) t3""")),

    // DOULION sampled triangle count: deterministic md5 edge coin at
    // p=1/4, triangles of the sampled subgraph scaled by 4³ — the
    // estimate itself is engine-replayable, so it hash-matches (the
    // sketch-twin discipline applied to graphs). The census you run
    // FIRST at 100 TB: 1/4 of the edges, ~1/64 of the intersection work.
    QuerySpec(
      "graph_triangles_sampled",
      (s, dir) => Graphs.triangleCountSampled(
        Graphs.coPartEdges(Tables.load(s, dir, "lineitem"))),
      Some("""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        sup AS (
          SELECT src, dst FROM up
          WHERE ('0x' || substring(md5(src::VARCHAR || '_' || dst::VARCHAR),
                   1, 8))::BIGINT % 4 = 0),
        stri AS (
          SELECT a.src FROM sup a
          JOIN sup b ON b.src = a.dst
          JOIN sup c ON c.src = a.src AND c.dst = b.dst)
        SELECT (SELECT COUNT(*) FROM sup) AS n_sampled_edges,
               (SELECT COUNT(*) FROM stri) * 64 AS est_triangles""")),

    // The estimator's accuracy contract: exact census total beside the
    // estimate, integer-bp error, bound verdict — estimator drift flips
    // the hash red (measured 144 bp at sf0.01 / 12 bp at sf0.1).
    QuerySpec(
      "graph_triangles_sampled_bound",
      (s, dir) => Graphs.triangleSampledBound(
        Graphs.coPartEdges(Tables.load(s, dir, "lineitem"))),
      Some("""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        tri AS (
          SELECT a.src FROM up a
          JOIN up b ON b.src = a.dst
          JOIN up c ON c.src = a.src AND c.dst = b.dst),
        sup AS (
          SELECT src, dst FROM up
          WHERE ('0x' || substring(md5(src::VARCHAR || '_' || dst::VARCHAR),
                   1, 8))::BIGINT % 4 = 0),
        stri AS (
          SELECT a.src FROM sup a
          JOIN sup b ON b.src = a.dst
          JOIN sup c ON c.src = a.src AND c.dst = b.dst),
        x AS (SELECT (SELECT COUNT(*) FROM tri) AS exact_triangles,
                     (SELECT COUNT(*) FROM stri) * 64 AS est_triangles)
        SELECT exact_triangles, est_triangles,
               (10000 * abs(est_triangles - exact_triangles))
                 // exact_triangles AS err_bp,
               (10000 * abs(est_triangles - exact_triangles))
                 // exact_triangles <= 2000 AS within_bound
        FROM x""",
      ),
      benchmark = false),

    // Peak session concurrency per day: sweep-line over session
    // [start, end]-inclusive intervals, candidates evaluated at the
    // GROUP level per distinct timestamp (prefix-before + starts-at-ts)
    // so no intra-tie ordering exists to diverge between engines. The
    // engine decomposes the global running sum two-level (day-partitioned
    // window + days-sized carry through the single-partition window,
    // broadcast back); the oracle runs the textbook single global
    // window — different decomposition, identical arithmetic.
    QuerySpec(
      "ts_max_concurrent",
      (s, dir) => TimeSeries.maxConcurrentSessions(events(s, dir)),
      Some("""
        WITH e AS (
          SELECT user_id, event_id, ts, epoch_ns(ts) // 1000 AS us
          FROM events),
        l AS (
          SELECT user_id, ts, us,
                 lag(us, 1) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS prev_us,
                 event_id
          FROM e),
        se AS (
          SELECT user_id, ts,
                 SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
          FROM l),
        s AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
              FROM se GROUP BY 1, 2),
        d AS (SELECT st AS ts, 1 AS nst, 0 AS nen FROM s
              UNION ALL SELECT en AS ts, 0 AS nst, 1 AS nen FROM s),
        p AS (SELECT ts, CAST(SUM(nst) AS BIGINT) AS ns,
                     CAST(SUM(nen) AS BIGINT) AS ne
              FROM d GROUP BY 1),
        r AS (SELECT ts, ns, ne,
                     SUM(ns - ne) OVER (ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
              FROM p)
        SELECT CAST(ts AS DATE) AS day,
               CAST(MAX(run - (ns - ne) + ns) AS BIGINT) AS max_concurrent
        FROM r GROUP BY 1""")),

    // ---- frequent-itemset mining -------------------------------------
    // Association rules over order→part baskets: pair support,
    // directional confidence, lift — all integer bp. Pair explosion is
    // bounded per basket; item supports broadcast onto the pair table.
    QuerySpec(
      "mine_assoc_rules",
      (s, dir) => Mining.assocRules(
        Mining.partBaskets(Tables.load(s, dir, "lineitem"))),
      Some("""
        WITH op AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
        n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM op),
        sup AS (SELECT item, COUNT(*) AS n FROM op GROUP BY 1),
        pr AS (
          SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
          FROM op a JOIN op b ON a.ok = b.ok AND a.item < b.item
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT item_a, item_b, sa.n AS n_a, sb.n AS n_b, n_ab, n_baskets,
               (10000 * n_ab) // n_baskets AS support_bp,
               (10000 * n_ab) // sa.n AS conf_ab_bp,
               (10000 * n_ab) // sb.n AS conf_ba_bp,
               (10000 * n_ab * n_baskets) // (sa.n * sb.n) AS lift_bp
        FROM pr
        JOIN sup sa ON pr.item_a = sa.item
        JOIN sup sb ON pr.item_b = sb.item
        CROSS JOIN n""")),

    // Level-3 Apriori at the BRAND rollup (scale-stable density; the
    // part projection's triples vanish as the item universe grows —
    // measured: 12 itemsets at sf0.01, zero at sf0.1), min support as a
    // scale-free bp fraction. Baskets are pruned to items in ANY
    // frequent pair BEFORE the 3-way explosion; the prune is provably
    // lossless (support monotonicity), so the unpruned oracle counts
    // the same rows.
    QuerySpec(
      "mine_freq_triples",
      (s, dir) => Mining.frequentTriples(Mining.brandBaskets(
        Tables.load(s, dir, "lineitem"), part(s, dir))),
      Some("""
        WITH ob AS (
          SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM ob)
        SELECT a.item AS item_a, b.item AS item_b, c.item AS item_c,
               COUNT(*) AS n_abc,
               n_baskets,
               (10000 * COUNT(*)) // n_baskets AS support_bp
        FROM ob a
        JOIN ob b ON a.ok = b.ok AND a.item < b.item
        JOIN ob c ON a.ok = c.ok AND b.item < c.item
        CROSS JOIN n
        GROUP BY 1, 2, 3, 5
        HAVING (10000 * COUNT(*)) // n_baskets >= 30""")),

    // ---- privacy governance: k-anonymity ------------------------------
    // Equivalence-class histogram at the finest quasi-identifier level
    // (nation, segment, balance-thousand-bucket) with the class-size<k
    // risk verdict — the pre-release re-identification exposure report.
    QuerySpec(
      "gov_k_anonymity",
      (s, dir) => Governance.kAnonymityHistogram(
        Tables.load(s, dir, "customer")),
      Some("""
        WITH q AS (
          SELECT c_nationkey AS nation, c_mktsegment AS seg,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
          FROM customer),
        cl AS (
          SELECT nation, seg, bal_kb, COUNT(*) AS class_size
          FROM q GROUP BY 1, 2, 3)
        SELECT class_size, COUNT(*) AS n_classes,
               CAST(SUM(class_size) AS BIGINT) AS n_records,
               class_size < 5 AS risky
        FROM cl GROUP BY 1""")),

    // The generalization ladder: risk at every ROLLUP level of the QI
    // set in ONE corpus scan (Expand ×4). gid 0 = finest, 7 = fully
    // generalized; walking up provably shrinks n_risky_records.
    QuerySpec(
      "gov_k_anon_ladder",
      (s, dir) => Governance.kAnonymityLadder(
        Tables.load(s, dir, "customer")),
      Some("""
        WITH q AS (
          SELECT c_nationkey AS nation, c_mktsegment AS seg,
                 CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
          FROM customer),
        cl AS (
          SELECT nation, seg, bal_kb,
                 CAST(GROUPING_ID(nation, seg, bal_kb) AS BIGINT) AS gid,
                 COUNT(*) AS n
          FROM q GROUP BY ROLLUP(nation, seg, bal_kb))
        SELECT gid, COUNT(*) AS n_classes,
               CAST(SUM(n) AS BIGINT) AS n_records,
               CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_risky_classes,
               CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                 AS n_risky_records,
               (10000 * CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT))
                 // CAST(SUM(n) AS BIGINT) AS risk_bp
        FROM cl GROUP BY 1""")),

    // k-core of the part co-occurrence graph: 6 fixed peel rounds at
    // k=80 (measured converged at BOTH harness scale factors — a real
    // multi-round cascade: sf0.01 1903→1857, sf0.1 19154→18863). The
    // oracle unrolls the identical rounds, so even a mid-cascade state
    // would hash-match; iterative multi-job → benchmark=false.
    QuerySpec(
      "graph_kcore",
      (s, dir) => Graphs.coPartKCore(Tables.load(s, dir, "lineitem")),
      benchmark = false,
      oracle = Some(kcoreOracleSql(k = 80, rounds = 6))),

    // CBO-statistics gauge: MCV + uniform-remainder join-size estimate
    // vs the naive uniform model vs the true self-join size Σ c², all
    // in one row with integer-bp errors (measured: MCV 86 bp vs
    // uniform 156 bp at sf0.01 — the histogram pays for itself).
    QuerySpec(
      "gov_join_estimate",
      (s, dir) => Governance.joinCardinalityEstimate(
        events(s, dir), "user_id"),
      Some("""
        WITH c AS (SELECT user_id AS k, COUNT(*) AS n
                   FROM events GROUP BY 1),
        m AS (SELECT k, n FROM c ORDER BY n DESC, k LIMIT 20),
        s AS (SELECT
          (SELECT COUNT(*) FROM c) AS ndv,
          (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS total_rows,
          (SELECT CAST(SUM(n * n) AS BIGINT) FROM c) AS actual_rows,
          (SELECT CAST(SUM(n * n) AS BIGINT) FROM m) AS mcv_sq,
          (SELECT CAST(SUM(n) AS BIGINT) FROM m) AS mcv_tot)
        SELECT ndv, total_rows, actual_rows,
               (total_rows * total_rows) // ndv AS est_uniform,
               mcv_sq + CASE WHEN ndv > 20 THEN
                 ((total_rows - mcv_tot) * (total_rows - mcv_tot))
                 // (ndv - 20) ELSE 0 END AS est_mcv,
               (10000 * abs((total_rows * total_rows) // ndv - actual_rows))
                 // actual_rows AS err_uniform_bp,
               (10000 * abs(mcv_sq + CASE WHEN ndv > 20 THEN
                   ((total_rows - mcv_tot) *
                   (total_rows - mcv_tot)) // (ndv - 20) ELSE 0 END
                   - actual_rows))
                 // actual_rows AS err_mcv_bp
        FROM s""")),

    // Range-selectivity gauge: equi-depth histogram vs min-max uniform
    // vs truth on the right-skewed events.value (measured: 17 bp vs
    // 8320 bp at sf0.01 — the histogram is what makes range plans
    // believable). All integer: grid quantization, ceil-rank boundaries,
    // bp overlap fractions.
    QuerySpec(
      "gov_range_estimate",
      (s, dir) => Governance.rangeSelectivityEstimate(
        events(s, dir), "value", loQ = 1000L, hiQ = 6000L),
      Some("""
        WITH v AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT)
                     AS v FROM events),
        s AS (SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM v),
        g AS (SELECT ((v - mn) * 65536) // (mx - mn + 1) AS qx FROM v, s),
        h AS (SELECT qx, COUNT(*) AS cnt FROM g GROUP BY 1),
        c AS (SELECT qx, cnt, SUM(cnt) OVER (ORDER BY qx) AS cum FROM h),
        b AS (SELECT t.k AS k, c.qx AS bk
              FROM range(1, 21) t(k), c, s
              WHERE c.cum >= (t.k * s.n + 19) // 20
                AND c.cum - c.cnt < (t.k * s.n + 19) // 20),
        bb AS (SELECT k, bk + 1 AS ck FROM b
               UNION ALL SELECT 0 AS k, 0 AS ck),
        w AS (SELECT k, ck, lag(ck) OVER (ORDER BY k) AS cprev FROM bb),
        contrib AS (
          SELECT k,
            ((k * n + 19) // 20) - (((k - 1) * n + 19) // 20) AS d,
            CASE WHEN ck - cprev > 0
                 THEN (10000 * GREATEST(0, LEAST(6000, ck)
                        - GREATEST(1000, cprev))) // (ck - cprev)
                 ELSE CASE WHEN cprev - 1 >= 1000 AND cprev - 1 < 6000
                           THEN 10000 ELSE 0 END
            END AS frac_bp
          FROM w, s WHERE k >= 1),
        est AS (SELECT CAST(SUM(d * frac_bp) // 10000 AS BIGINT)
                  AS est_hist FROM contrib),
        am AS (SELECT
          (SELECT COUNT(*) FROM g WHERE qx >= 1000 AND qx < 6000)
            AS actual_rows,
          (SELECT n FROM s) AS n)
        SELECT n, actual_rows, est_hist,
               CAST((n * ((10000 * 5000) // 65536)) // 10000 AS BIGINT)
                 AS est_minmax,
               CASE WHEN actual_rows > 0
                    THEN (10000 * abs(est_hist - actual_rows)) // actual_rows
                    ELSE 10000 * est_hist END
                 AS err_hist_bp,
               CASE WHEN actual_rows > 0
                    THEN (10000 * abs(CAST((n * ((10000 * 5000) // 65536))
                      // 10000 AS BIGINT) - actual_rows)) // actual_rows
                    ELSE 10000 * CAST((n * ((10000 * 5000) // 65536))
                      // 10000 AS BIGINT) END
                 AS err_minmax_bp
        FROM am, est""")),

    // The equi-depth histogram ARTIFACT itself: per bucket its grid
    // span, rank-model depth, EXACT in-span row count, and the
    // model-vs-actual error bp — the per-column stats table a format
    // persists, with its own faithfulness measured in the same row.
    QuerySpec(
      "gov_histogram",
      (s, dir) => Governance.equiDepthHistogram(events(s, dir), "value"),
      Some("""
        WITH v AS (SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT)
                     AS v FROM events),
        s AS (SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM v),
        g AS (SELECT ((v - mn) * 65536) // (mx - mn + 1) AS qx FROM v, s),
        h AS (SELECT qx, COUNT(*) AS cnt FROM g GROUP BY 1),
        c AS (SELECT qx, cnt, SUM(cnt) OVER (ORDER BY qx) AS cum FROM h),
        b AS (SELECT t.k AS k, c.qx AS bk
              FROM range(1, 21) t(k), c, s
              WHERE c.cum >= (t.k * s.n + 19) // 20
                AND c.cum - c.cnt < (t.k * s.n + 19) // 20),
        bb AS (SELECT k, bk + 1 AS ck FROM b
               UNION ALL SELECT 0 AS k, 0 AS ck),
        w AS (SELECT k, ck, lag(ck) OVER (ORDER BY k) AS cprev FROM bb),
        d AS (SELECT CAST(k AS INTEGER) AS k, cprev AS lo, ck AS hi,
                     ((k * n + 19) // 20) - (((k - 1) * n + 19) // 20)
                       AS model_rows
              FROM w, s WHERE k >= 1),
        m AS (SELECT d.k AS k, COUNT(*) AS n_match
              FROM d JOIN g ON g.qx >= d.lo AND g.qx < d.hi
              GROUP BY 1)
        SELECT d.k, d.lo, d.hi, d.model_rows,
               COALESCE(m.n_match, 0) AS actual_rows,
               CASE WHEN COALESCE(m.n_match, 0) > 0
                    THEN (10000 * abs(d.model_rows - m.n_match)) // m.n_match
                    ELSE 10000 * d.model_rows END AS err_bp
        FROM d LEFT JOIN m ON d.k = m.k""")),

    // Deletion vectors: day-1 deletes land as (partition, pos) METADATA
    // (|deletes| tiny rows, zero data files rewritten); the resolved
    // read anti-joins on POSITION only — the row key never participates
    // (CdcSpec pins the duplicate-key case tombstones get wrong; the DV
    // side always broadcasts, base rows never shuffle).
    QuerySpec(
      "io_cdc_deletion_vectors",
      (s, dir) => Cdc.dvManifest(s, docs(s, dir), scratchPath("dv", dir)),
      setup = Some((s, dir) =>
        Cdc.dvStore(s, docs(s, dir), scratchPath("dv", dir))),
      oracle = Some("""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents
        WHERE NOT (lang IN ('de', 'fr') AND doc_id % 11 = 0)
        GROUP BY 1, 2""")),

    // Partition-spec evolution: gen-1 partitionBy(lang), gen-2
    // partitionBy(lang, source), NO history rewrite; a (lang, source)
    // query prunes each generation by its own spec (PlanSpec pins the
    // two scan shapes). The per-generation manifest vs the unsplit
    // oracle proves mixed-spec pruning loses/dupes nothing.
    QuerySpec(
      "io_partition_evolution",
      (s, dir) => StorageLayout.partitionEvolution(
        s, docs(s, dir), scratchPath("pe", dir)),
      Some("""
        SELECT CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))
                      ::BIGINT % 2 = 0 THEN 'g1' ELSE 'g2' END
                 AS generation,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               bit_xor(('0x' || substring(
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
                 1, 15))::BIGINT) AS fp_xor
        FROM documents
        WHERE lang = 'en' AND source = 'src1'
        GROUP BY 1"""))
  ) ++ pcaSpecs

  /** PCA family: the projection itself is rows-only (the eigenbasis is
    * not ANSI-SQL-expressible — the sketch-estimator discipline), flanked
    * by TWO hash-matched bound twins: the harness corpus (near-random
    * geometry → captured variance barely above the k/d floor — the honest
    * number) and the planted clustered fixture (structure concentrated in
    * 8 directions → captured variance near total — the accept verdict a
    * broken eigensolve cannot fake). Same operator, both verdicts.
    */
  private def pcaSpecs: Seq[QuerySpec] = {
    // exact scaled total variance: n·Σ_i G_ii − Σ_i S_i² over the shared
    // floor-scaled-long quantization — identical integer arithmetic on
    // both engines, computed here from `src`(vec_id, embedding-ish col)
    def tvSql(src: String, vcol: String): String = s"""
        q AS (SELECT list_transform(CAST($vcol AS DOUBLE[]),
                x -> CAST(FLOOR(x * 10000 + 0.5) AS BIGINT)) AS q
              FROM $src),
        comp AS (SELECT unnest(q) AS qi,
                        unnest(range(1, len(q) + 1)) AS i FROM q),
        si AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS s FROM comp GROUP BY 1),
        tot AS (SELECT
          (SELECT COUNT(*) FROM q) AS n,
          (SELECT CAST(SUM(list_sum(list_transform(q, x -> x * x)))
             AS BIGINT) FROM q) AS sqq,
          (SELECT CAST(SUM(s * s) AS BIGINT) FROM si) AS ssq)
        SELECT CAST(n AS BIGINT) AS n_vectors,
               CAST(n * sqq - ssq AS BIGINT) AS total_var_scaled,
               TRUE AS captured_ok, TRUE AS orthonormal_ok
        FROM tot"""
    Seq(
      // The projection: (vec_id, pc_0..pc_7) in quantized 1e4 units.
      QuerySpec(
        "emb_pca_project",
        (s, dir) => Pca.pcaProject(emb(s, dir), k = 8),
        None),
      // The Gram/moment pipeline hash-matched, computed split-then-
      // merged (md5-coin halves, algebraic sum) against the oracle's
      // whole-corpus self-join — the hash IS the moment-mergeability
      // (IVM) proof, and it pins the corpus-sized half of PCA exactly.
      QuerySpec(
        "emb_pca_moments_merged",
        (s, dir) => Pca.momentsMerged(emb(s, dir)),
        Some("""
          WITH qt AS (
            SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              x -> CAST(FLOOR(x * 10000 + 0.5) AS BIGINT)) AS q
            FROM embeddings),
          comp AS (
            SELECT vec_id, unnest(q) AS qi,
                   unnest(range(1, len(q) + 1)) AS i
            FROM qt)
          SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j,
                 CAST(SUM(a.qi * b.qi) AS BIGINT) AS g,
                 COUNT(*) AS n_pairs,
                 CAST(SUM(CASE WHEN a.i = b.i THEN a.qi ELSE 0 END)
                   AS BIGINT) AS s_diag
          FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2""")),

      // Honest-floor contract on the near-random corpus: top-8 of 64
      // must capture at least the mathematical k/d floor (a broken
      // solve lands below; a non-orthonormal basis inflates past 10000).
      QuerySpec(
        "emb_pca_bound",
        (s, dir) => Pca.pcaBound(emb(s, dir), k = 8, minCapturedBp = 1250L),
        benchmark = false, // re-runs the already-priced projection
        oracle = Some("WITH " + tvSql("embeddings", "embedding"))),
      // Accept verdict on the planted clustered fixture: 8 tight
      // clusters in 16 dims → the top-8 basis captures nearly all
      // variance. Oracle recomputes total variance from the same
      // generated VALUES (no parquet).
      QuerySpec(
        "emb_pca_planted_bound",
        (s, _) => Pca.pcaBound(PlantedFixture.embDf(s), k = 8,
          minCapturedBp = 9000L),
        benchmark = false,
        oracle = Some(s"""
          WITH ${PlantedFixture.vSql},
          ${tvSql("v", "v")}""")))
  }

  /** Unrolled k-core peel oracle (the Lloyd-round / BPE-round CTE-chain
    * discipline): e0 = symmetric part co-occurrence edges, round i keeps
    * nodes of degree ≥ k and filters both edge endpoints. Every e_i is
    * referenced THREE times by round i+1 (degree agg + both endpoint
    * joins), so each round CTE is AS MATERIALIZED — without it DuckDB
    * inlines the chain 3^rounds-fold (measured: the sf0.1 run spilled
    * past 79 GB of temp and died; materialized it is seconds).
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s""",
        k$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
                GROUP BY 1 HAVING COUNT(*) >= $k),
        e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                JOIN k$i a ON e.src = a.node
                JOIN k$i b ON e.dst = b.node)"""
    }.mkString
    s"""
        WITH su AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem),
        up AS (
          SELECT DISTINCT a.s AS src, b.s AS dst
          FROM su a JOIN su b ON a.ok = b.ok AND a.s < b.s),
        e0 AS MATERIALIZED (SELECT src, dst FROM up
               UNION ALL SELECT dst AS src, src AS dst FROM up)$roundCtes
        SELECT src AS node, COUNT(*) AS core_deg FROM e$rounds GROUP BY 1"""
  }
}
