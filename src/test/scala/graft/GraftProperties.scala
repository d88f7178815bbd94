package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, EntityResolution, Governance, Packing, Percentiles, StorageLayout, Windows}

/** Property-based equivalence checks (ScalaCheck, fixed initial seed so
  * runs are reproducible): each property pits an engine operator against
  * a direct JVM brute force over randomized inputs — the generalization
  * of the suites' hand-built fixtures. Sizes are kept small because
  * every case is a real Spark job; the value is the INPUT VARIETY, not
  * volume (the oracle sweeps already cover volume).
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withInitialSeed(Seed(42L)).withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- connected components == union-find --------------------------------
  private def unionFind(nodes: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-label canonicalization: root chosen as min by construction above
    nodes.map(n => n -> find(n)).toMap
  }

  private val edgeGraphGen: Gen[(Set[Long], Seq[(Long, Long)])] = for {
    n <- Gen.choose(2, 18)
    m <- Gen.choose(1, 28)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1) if a != b
    } yield (math.min(a, b), math.max(a, b)))
  } yield (edges.flatMap(e => Seq(e._1, e._2)).toSet, edges)

  property("connectedComponents == union-find min-label") =
    forAll(edgeGraphGen) { case (nodes, edges) =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val (labels, _) = Dedup.connectedComponents(pairs)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == unionFind(nodes, edges)
    }

  // ---- SymSpell blocking == brute levenshtein, any tau --------------------
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private val namesGen: Gen[(Seq[String], Int)] = for {
    n <- Gen.choose(4, 22)
    tau <- Gen.choose(1, 3)
    names <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 7)
      cs <- Gen.listOfN(len, Gen.choose('a', 'c'))
    } yield cs.mkString)
  } yield (names.distinct, tau)

  property("fuzzyPairs == brute levenshtein <= tau, tau in 1..3") =
    forAll(namesGen) { case (names, tau) =>
      val df = names.zipWithIndex.map { case (s, i) => ((i + 1).toLong, s) }
        .toDF("p_partkey", "p_name")
      val got = EntityResolution.fuzzyPairs(df, "p_name", "p_partkey", maxDist = tau)
        .select("name_a", "name_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val sorted = names.sorted
      val brute = (for {
        a <- sorted; b <- sorted if a < b && lev(a, b) <= tau
      } yield (a, b)).toSet
      got == brute
    }

  // ---- histogram percentile == sorted-index brute -------------------------
  private val groupedValsGen: Gen[Map[String, Seq[Int]]] = for {
    ks <- Gen.choose(1, 3)
    m <- Gen.mapOfN(ks, for {
      k <- Gen.oneOf("a", "b", "c")
      n <- Gen.choose(1, 25)
      vs <- Gen.listOfN(n, Gen.choose(-50, 50))
    } yield k -> vs)
  } yield m

  property("percentileDisc == ceil(n*q)-th sorted value") =
    forAll(groupedValsGen) { grouped =>
      val qs = Seq(0.5, 0.95, 0.99)
      val rows = grouped.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v.toDouble)) }
      val df = rows.toDF("event_type", "value")
      val got = Percentiles.percentileDisc(df, "event_type", "value", qs)
        .select("event_type", "q", "pct_value").collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val brute = (for {
        (k, vs) <- grouped.toSeq; q <- qs
      } yield {
        val s = vs.map(_.toDouble).sorted
        (k, q) -> s(math.ceil(s.length * q).toInt - 1)
      }).toMap
      got == brute
    }

  // ---- banded token packing: offsets are exact prefix sums, any bandWidth -
  private val packDocsGen: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      lang <- Gen.oneOf("en", "de")
      w <- Gen.choose(1, 12)
    } yield (lang, Seq.fill(w)("tok").mkString(" ")))
  } yield rows.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }

  property("packTokenShards: exact per-lang prefix sums, invariant to bandWidth") =
    forAll(packDocsGen) { rows =>
      val df = rows.toDF("doc_id", "lang", "text")
      def run(bw: Long) = Packing.packTokenShards(df, budgetTokens = 16L, bandWidth = bw)
        .select("doc_id", "lang", "n_tokens", "tok_offset", "shard_id").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val got = run(64L)
      // the banded two-pass decomposition must be a pure implementation
      // detail: a tiny band width gives identical output
      val gotNarrow = run(3L)
      val brute = rows.groupBy(_._2).flatMap { case (_, ds) =>
        val inOrder = ds.sortBy(_._1)
        val toks = inOrder.map(_._3.split("\\s+").length.toLong)
        val offsets = toks.scanLeft(0L)(_ + _).init
        inOrder.zip(toks.zip(offsets)).map { case ((id, l, _), (n, off)) =>
          id -> ((l, n, off, off / 16L))
        }
      }
      got == brute && gotNarrow == brute
    }

  // ---- two-level sliding min == direct sliding min ------------------------
  private val ticksGen: Gen[Seq[(String, Int, Int)]] = for {
    n <- Gen.choose(1, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("x", "y")
      sec <- Gen.choose(0, 3600)
      v <- Gen.choose(-100, 100)
    } yield (k, sec, v))
  } yield rows

  // ---- pigeonhole hamming blocking: complete at ANY threshold <= bound ----
  private val fpsGen: Gen[(Int, Int, Seq[(Long, Long)])] = for {
    nBits <- Gen.oneOf(32, 48, 64)
    maxHam <- Gen.choose(0, 2 * (nBits / 16) - 1)
    n <- Gen.choose(5, 40)
    seeds <- Gen.listOfN(n, Gen.long)
    flips <- Gen.listOfN(n, Gen.choose(0, nBits - 1))
  } yield {
    val mask = if (nBits == 64) -1L else (1L << nBits) - 1
    val fps = seeds.zipWithIndex.map { case (s, i) =>
      // every third fingerprint is a 1-bit perturbation of its
      // predecessor so near pairs exist at every threshold
      val v = if (i % 3 == 0 && i > 0) (seeds(i - 1) ^ (1L << flips(i))) & mask
              else s & mask
      i.toLong -> v
    }
    (nBits, maxHam, fps)
  }

  property("hammingProbePairs == brute pairs for any threshold <= pigeonhole bound") =
    forAll(fpsGen) { case (nBits, maxHam, fps) =>
      val got = Dedup.hammingProbePairs(
          fps.toDF("doc_id", "fp"), "fp", nBits, maxHam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        (a, fa) <- fps; (b, fb) <- fps if a < b
        d = java.lang.Long.bitCount(fa ^ fb) if d <= maxHam
      } yield (a, b, d.toLong)).toSet
      got == brute
    }

  // ---- key skew profile: counts, dense rank order, floor basis points -----
  private val skewKeysGen: Gen[(Seq[Long], Int)] = for {
    n <- Gen.choose(1, 60)
    topK <- Gen.choose(1, 6)
    keys <- Gen.listOfN(n, Gen.choose(0L, 7L))
  } yield (keys, topK)

  property("keySkew == brute top-k with (count desc, key asc) rank and floor bp") =
    forAll(skewKeysGen) { case (keys, topK) =>
      val df = keys.map(k => (k, "pad")).toDF("k", "pad")
      val got = Governance.keySkew(df, "k", topK).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      val total = keys.size.toLong
      val brute = keys.groupBy(identity).map { case (k, xs) => (k, xs.size.toLong) }
        .toSeq.sortBy { case (k, c) => (-c, k) }.take(topK).zipWithIndex
        .map { case ((k, c), i) => (k, c, i + 1, c * 10000L / total) }.toSet
      got == brute
    }

  // ---- snapshot diff: per-(source, status) counts vs brute ----------------
  private val snapshotsGen: Gen[(Seq[(Long, String, String)], Seq[(Long, String, String)])] =
    for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 30L)
        src <- Gen.oneOf("s1", "s2")
        txt <- Gen.oneOf("alpha", "beta", "Alpha  ", "gamma delta", "x")
      } yield (id, txt, src))
      curMods <- Gen.listOfN(n, Gen.choose(0, 3))
      extra <- Gen.listOfN(5, for {
        id <- Gen.choose(31L, 40L)
        src <- Gen.oneOf("s1", "s2")
        txt <- Gen.oneOf("nu", "xi")
      } yield (id, txt, src))
    } yield {
      val base = rows.groupBy(_._1).map(_._2.head).toSeq
      val cur = base.zip(curMods).flatMap {
        case ((id, txt, src), 0) => Some((id, txt, src))            // unchanged
        case ((id, txt, src), 1) => Some((id, txt + " CHANGED", src)) // changed
        case ((id, txt, src), 2) => Some((id, txt.toUpperCase + "  ", src)) // fp-unchanged
        case (_, _) => None                                          // removed
      } ++ extra.groupBy(_._1).map(_._2.head)                        // added
      (base, cur)
    }

  property("snapshotDiff == brute per-(source, status) counts on canonical fp") =
    forAll(snapshotsGen) { case (base, cur) =>
      def fp(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
      val got = Governance.snapshotDiff(
          base.toDF("doc_id", "text", "source"), cur.toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val b = base.map(r => r._1 -> ((fp(r._2), r._3))).toMap
      val c = cur.map(r => r._1 -> ((fp(r._2), r._3))).toMap
      val brute = (b.keySet ++ c.keySet).toSeq.map { id =>
        (b.get(id), c.get(id)) match {
          case (None, Some((_, src)))         => (src, "added")
          case (Some((_, src)), None)         => (src, "removed")
          case (Some((fb, _)), Some((fc, src))) =>
            (src, if (fb != fc) "changed" else "unchanged")
          case _ => throw new IllegalStateException
        }
      }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
      got == brute
    }

  // ---- release manifest: xor checksum == brute fold -----------------------
  private val manifestDocsGen: Gen[Seq[(Long, String, String, Long)]] = for {
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, for {
      src <- Gen.oneOf("s1", "s2", "s3")
      words <- Gen.choose(1, 5)
      ws <- Gen.listOfN(words, Gen.oneOf("alpha", "Beta", "GAMMA", "d", "e  f"))
      nc <- Gen.choose(0L, 99L)
    } yield (src, ws.mkString(" "), nc))
  } yield rows.zipWithIndex.map { case ((s, t, c), i) => (i.toLong, t, s, c) }

  property("releaseManifest == brute per-source count/sum/xor fold") =
    forAll(manifestDocsGen) { rows =>
      def term(t: String): Long = {
        val canon = t.trim.toLowerCase.replaceAll("\\s+", " ")
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(canon.getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.take(8).map("%02x".format(_)).mkString.take(15), 16)
      }
      val got = Governance.releaseManifest(
          rows.toDF("doc_id", "text", "source", "n_chars"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val brute = rows.groupBy(_._3).map { case (src, ds) =>
        src -> ((ds.size.toLong, ds.map(_._4).sum,
          ds.map(d => term(d._2)).foldLeft(0L)(_ ^ _)))
      }
      got == brute
    }

  // ---- partitioned compaction: one file per partition, multiset preserved -
  private val compactGen: Gen[Seq[Seq[(Long, Long)]]] = for {
    batches <- Gen.choose(2, 4)
    rows <- Gen.listOfN(batches, Gen.nonEmptyListOf(for {
      part <- Gen.choose(0L, 3L)
      v <- Gen.choose(0L, 50L)
    } yield (part, v)))
  } yield rows.map(_.zipWithIndex.map { case ((p, v), i) => (p, v + i) })

  property("compactPartitioned: one file per partition dir, row multiset unchanged") =
    forAll(compactGen) { batches =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_cmp").toString
      val path = s"$dir/t"
      batches.zipWithIndex.foreach { case (b, i) =>
        b.toDF("part", "v").write.mode(if (i == 0) "overwrite" else "append")
          .partitionBy("part").parquet(path)
      }
      // the partition column reads back type-inferred from the directory
      // names (IntegerType) — normalize through Number
      def rowsOf = spark.read.parquet(path).collect()
        .map(r => (r.getAs[Number]("part").longValue(),
          r.getAs[Number]("v").longValue()))
        .groupBy(identity).map { case (k, xs) => k -> xs.size }
      val before = rowsOf
      graft.operators.StorageLayout.compactPartitioned(
        spark, path, "part", Seq("v"))
      val after = rowsOf
      val oneFilePer = new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("part="))
        .forall(d => d.listFiles().count(_.getName.endsWith(".parquet")) == 1)
      after == before && oneFilePer
    }

  property("slidingMinTwoLevel == slidingMin (10 min over, 5 min every)") =
    forAll(ticksGen) { rows =>
      val base = 1704067200L // 2024-01-01T00:00:00Z, a multiple of 300s
      val df = rows.map { case (k, sec, v) =>
        (k, new java.sql.Timestamp((base + sec) * 1000L), v.toDouble)
      }.toDF("event_type", "ts", "value")
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getTimestamp(2).getTime, r.getDouble(1))).toSet
      val direct = norm(Windows.slidingMin(df))
      val twoLevel = norm(Windows.slidingMinTwoLevel(df))
      // brute: row at t belongs to every 300s-aligned window start ws with
      // ws <= t < ws + 600 (epoch-aligned, Spark's default)
      val brute = rows.flatMap { case (k, sec, v) =>
        val t = base + sec
        val k0 = (t - 600) / 300 + 1
        (k0 to t / 300).map(w => (k, w * 300) -> v.toDouble)
      }.groupBy(_._1).map { case ((k, ws), vs) =>
        (k, (ws + 600) * 1000L, vs.map(_._2).min)
      }.toSet
      direct == brute && twoLevel == brute
    }

  // ---- k-core peel == brute fixpoint --------------------------------------
  property("kCore(n rounds) == brute peel fixpoint on n nodes") =
    forAll(edgeGraphGen) { case (nodes, edges) =>
      val und = edges.distinct
      val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
      val k = 2
      var es = und.toSet
      var changed = true
      while (changed) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        changed = next != es
        es = next
      }
      val brute = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // n rounds always reach the fixpoint on n nodes (each non-final
      // round removes at least one node)
      val got = graft.operators.Graphs.kCore(sym, k, rounds = nodes.size)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == brute
    }

  // ---- association rules == brute basket algebra ---------------------------
  private val basketsGen: Gen[Seq[(Long, Long)]] = for {
    nb <- Gen.choose(2, 10)
    rows <- Gen.listOfN(nb * 3, for {
      ok <- Gen.choose(1L, nb.toLong)
      item <- Gen.choose(1L, 6L)
    } yield (ok, item))
  } yield rows

  property("assocRules == brute support/confidence/lift in integer bp") =
    forAll(basketsGen) { rows =>
      val distinctRows = rows.distinct
      val df = distinctRows.toDF("ok", "item").localCheckpoint()
      val got = graft.operators.Mining.assocRules(df, minPairCount = 1L)
        .collect().map(r =>
          (r.getAs[Long]("item_a"), r.getAs[Long]("item_b")) ->
            ((r.getAs[Long]("n_ab"), r.getAs[Long]("support_bp"),
              r.getAs[Long]("conf_ab_bp"), r.getAs[Long]("conf_ba_bp"),
              r.getAs[Long]("lift_bp")))).toMap
      val baskets = distinctRows.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val nb = baskets.size.toLong
      val sup = distinctRows.map(_._2).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val brute = (for {
        items <- Seq(baskets.values.toSeq)
        pair <- items.flatMap(_.subsets(2)).map(_.toSeq.sorted)
          .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      } yield {
        val (a, b, nab) = (pair._1.head, pair._1(1), pair._2)
        (a, b) -> ((nab, 10000L * nab / nb, 10000L * nab / sup(a),
          10000L * nab / sup(b), 10000L * nab * nb / (sup(a) * sup(b))))
      }).toMap
      got == brute
    }

  // ---- format fingerprint: any single-column perturbation flips it --------
  // The generalization of StorageLayoutSpec's hand-built tripwire: the
  // interchange round trips lean entirely on the full-width row
  // fingerprint to catch a value perturbed by a text/codec cycle, so the
  // fingerprint must (a) agree on identical rows and (b) flip under a
  // MINIMAL change to any one column — one key digit, one cent, one
  // microsecond, one status letter.
  private val ordersRowGen = for {
    key <- Gen.choose(0L, 1000000000L)
    cust <- Gen.choose(0L, 100000L)
    status <- Gen.oneOf("F", "O", "P")
    cents <- Gen.choose(100L, 99999999L)
    micros <- Gen.choose(0L, 4102444800000000L) // epoch .. year 2100
    prio <- Gen.oneOf("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    which <- Gen.choose(0, 5)
  } yield (key, cust, status, cents, micros, prio, which)

  property("orders row fingerprint: equal rows agree, any minimal single-column perturbation flips") =
    forAll(ordersRowGen) { case (key, cust, status, cents, micros, prio, which) =>
      def ts(us: Long) = java.sql.Timestamp.from(
        java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
      def row(k: Long, c: Long, s: String, ce: Long, us: Long, p: String) =
        (k, c, s, ce / 100.0, ts(us), p)
      val base = row(key, cust, status, cents, micros, prio)
      val pert = which match {
        case 0 => row(key + 1, cust, status, cents, micros, prio)
        case 1 => row(key, cust + 1, status, cents, micros, prio)
        case 2 => row(key, cust, if (status == "F") "O" else "F",
          cents, micros, prio)
        case 3 => row(key, cust, status, cents + 1, micros, prio)
        case 4 => row(key, cust, status, cents, micros + 1, prio)
        case _ => row(key, cust, status, cents, micros,
          if (prio == "5-LOW") "2-HIGH" else "5-LOW")
      }
      val df = Seq(base, pert, base).toDF("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      val fps = df.select(StorageLayout.ordersRowFp.as("fp"))
        .collect().map(_.getString(0))
      fps(0) == fps(2) && fps(0) != fps(1)
    }

  // ---- TickJsonFormat == format("json") on producer-shaped lines ---------
  private val tickFieldsGen: Gen[Seq[(String, String)]] = {
    def quoted(g: Gen[String]) = g.map(v => s""""$v"""")
    val utc = Gen.frequency(
      8 -> quoted(Gen.choose(0L, 4102444800000L).map { ms =>
        val t = java.time.LocalDateTime.ofEpochSecond(ms / 1000, (ms % 1000).toInt * 1000000,
          java.time.ZoneOffset.UTC)
        t.format(java.time.format.DateTimeFormatter.ofPattern(graft.streaming.Tick.TsFormatSql))
      }),
      1 -> Gen.const("null"),
      1 -> Gen.const("\"2024-01-01T00:00:00.000\""))
    val price = Gen.frequency(
      6 -> Gen.choose(0, 999999).map(c => f"${c / 100}.${c % 100}%02d"),
      2 -> Gen.choose(-100000, 100000).map(_.toString),
      1 -> Gen.choose(-9999, 9999).map(m => s"${m}e-3"),
      1 -> Gen.choose(1, 999).map(m => s"${m / 100.0}E+2"),
      1 -> Gen.oneOf("-0", "-0.0", "0", "null"))
    val ticker = Gen.frequency(8 -> quoted(Gen.oneOf(graft.streaming.Tick.tickers)),
      1 -> Gen.const("null"))
    val extra = for {
      k <- Gen.oneOf("type", "source", "name", "sector", "industry", "seq", "ok")
      v <- Gen.oneOf(quoted(Gen.alphaStr.map(_.take(8))), Gen.choose(-50, 50).map(_.toString),
        Gen.oneOf("true", "false", "null"))
    } yield k -> v
    for {
      u <- utc; p <- price; t <- ticker
      keep <- Gen.listOfN(3, Gen.frequency(9 -> true, 1 -> false))
      extras <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, extra))
      order <- Gen.choose(0L, Long.MaxValue)
    } yield {
      val required = Seq("utc" -> u, "price" -> p, "ticker" -> t).zip(keep).collect {
        case (kv, true) => kv
      }
      new scala.util.Random(order).shuffle(required ++ extras.distinctBy(_._1))
    }
  }

  private val tickLinesGen: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 40)
    lines <- Gen.listOfN(n, for {
      fields <- tickFieldsGen
      sp <- Gen.oneOf("", " ", "\t", "  ")
    } yield fields.map { case (k, v) => s""""$k"$sp:$sp$v""" }
      .mkString(s"{$sp", s"$sp,$sp", s"$sp}"))
  } yield lines

  property("TickJsonFormat == format(json) on producer-shaped lines") =
    forAll(tickLinesGen) { lines =>
      val dir = java.nio.file.Files.createTempDirectory("tick_prop")
      java.nio.file.Files.write(dir.resolve("t.json"), lines.mkString("\n").getBytes("UTF-8"))
      def cells(format: String) = {
        val r = spark.read.schema(graft.streaming.Tick.schema)
          .option("timestampFormat", graft.streaming.Tick.TsFormatSql)
        val df = if (format == "json") r.json(dir.toString) else r.format(format).load(dir.toString)
        df.collect().map(_.toSeq.map {
          case t: java.sql.Timestamp => t.toInstant.toString
          case v => String.valueOf(v)
        }.mkString("|")).sorted.toSeq
      }
      cells(classOf[graft.streaming.TickJsonFormat].getName) == cells("json")
    }
}
